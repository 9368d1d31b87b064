package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Parity for the [[graft.functions.ShinglesKernel]],
  * [[graft.functions.RunStatsKernel]] and [[graft.functions.SumLenKernel]]
  * codegen kernels against the HOF column programs they replaced (the
  * lambda bodies ran interpreted per element): corpus data plus the edge classes each program had —
  * short arrays, empty strings, null elements, null arrays, and the
  * run-stats fold's empty-string initial accumulator quirk.
  */
class TextKernelSpec extends SparkSpec {

  // the original column programs, verbatim
  private def shinglesRef(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  private def sumLenRef(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  private def runStatsRef(bg: Column): Column =
    aggregate(
      array_sort(bg),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("d")),
      (s, x) => {
        val same = x === s.getField("prev")
        val run = when(same, s.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(s.getField("best"), run).as("best"),
          (s.getField("d") + when(same, lit(0L)).otherwise(lit(1L))).as("d"))
      },
      s => struct(s.getField("best").as("best"), s.getField("d").as("d")))

  private def edges = {
    import spark.implicits._
    Seq(
      Seq("a", "b", "c", "a", "b", "a b", "東京", ""),
      Seq("x", "x", "x"),
      Seq("only"),
      Seq("", ""),
      Seq.empty[String]
    ).toDF("t")
      .unionByName(Seq(Tuple1(Option.empty[Seq[String]])).toDF("t"))
      .unionByName(spark.sql(
        "SELECT array('x', CAST(NULL AS STRING), 'y', 'x') AS t"))
  }

  test("shingles kernel == transform/array_join program (corpus + edges)") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    for (n <- Seq(2, 3); df <- Seq(corpus, edges)) {
      val diff = df.select(TextFunctions.shingles($"t", n).as("k"),
          shinglesRef($"t", n).as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"n=$n mismatch rows: $diff")
    }
  }

  test("sum_len kernel == aggregate fold (corpus + edges)") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    for (df <- Seq(corpus, edges)) {
      val diff = df.select(TextFunctions.sumLen($"t").as("k"),
          sumLenRef($"t").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  private def bigramsRef(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => struct(element_at(toks, i).as("w1"),
        element_at(toks, i + 1).as("w2")))

  test("bigrams kernel == transform/element_at program (corpus + edges)") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    // the column program needs the size >= 2 guard (sequence descends);
    // the kernel owns the guard, so compare on guarded rows only
    for (df <- Seq(corpus, edges)) {
      val diff = df.filter(size($"t") >= 2)
        .select(TextFunctions.bigrams($"t").as("k"), bigramsRef($"t").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
    // short / empty arrays yield the empty array from the kernel
    assert(edges.filter(size($"t") < 2 && $"t".isNotNull)
      .select(TextFunctions.bigrams($"t").as("k"))
      .collect().forall(_.getSeq[Any](0).isEmpty))
  }

  test("set kernels == filter-HOF programs (corpus + edges)") {
    import spark.implicits._
    import graft.operators.Curation
    val stops = graft.operators.Classifier.LabelStops
    val gstops = Curation.GopherStops
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    for (df <- Seq(corpus, edges)) {
      val diff = df.select(
          TextFunctions.setHits($"t", gstops).as("k1"),
          size(filter(typedLit(gstops),
            s => array_contains($"t", s))).cast("long").as("r1"),
          TextFunctions.countIn($"t", stops).as("k2"),
          size(filter($"t",
            w => array_contains(array(stops.map(lit): _*), w)))
            .cast("long").as("r2"),
          TextFunctions.countAlpha($"t").as("k3"),
          size(filter($"t", x => x.rlike("[a-zA-Z]"))).cast("long").as("r3"),
          TextFunctions.filterLowerAlpha($"t").as("k4"),
          filter($"t", w => w.rlike("^[a-z]+$")).as("r4"))
        .filter(not($"k1" <=> $"r1") || not($"k2" <=> $"r2") ||
          not($"k3" <=> $"r3") || not($"k4" <=> $"r4"))
        .count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("sum_sorted kernel == aggregate(array_sort) fold") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(transform(TextFunctions.wsTokens(lower($"text")),
        t => length(t).cast("double") / 3.0).as("xs"))
    val edge = Seq(
      Seq(1.5, -2.25, 0.0, -0.0, 1e300, -1e300, 3.7),
      Seq(0.1),
      Seq.empty[Double]
    ).toDF("xs")
      .unionByName(Seq(Tuple1(Option.empty[Seq[Double]])).toDF("xs"))
      .unionByName(spark.sql(
        "SELECT array(1.0D, CAST(NULL AS DOUBLE), 2.0D) AS xs"))
    for (df <- Seq(corpus, edge)) {
      val diff = df.select(TextFunctions.sumSorted($"xs").as("k"),
          aggregate(array_sort($"xs"), lit(0.0), (a, x) => a + x).as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("run_stats kernel == sorted-run aggregate fold (corpus + edges)") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.shingles(
        TextFunctions.wsTokens(lower($"text")), 2).as("t"))
    for (df <- Seq(corpus, edges)) {
      val diff = df.select(TextFunctions.runStats($"t").as("k"),
          runStatsRef($"t").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  // the staged withPplScore column program, verbatim (pre-kernel)
  private def pplStagedRef(df: org.apache.spark.sql.DataFrame,
                           toksCol: String): org.apache.spark.sql.DataFrame = {
    val (s, b, cs) = ("__ppl_s", "__ppl_b", "__ppl_c")
    val emptyI = array().cast("array<int>")
    df.withColumn(s, array_sort(col(toksCol)))
      .withColumn(b, filter(
        when(size(col(s)) > 0, sequence(lit(1), size(col(s))))
          .otherwise(emptyI),
        i => (i === 1) ||
          (element_at(col(s), i) =!=
            element_at(col(s), greatest(i - 1, lit(1))))))
      .withColumn(cs, array_sort(
        when(size(col(b)) > 0, transform(sequence(lit(1), size(col(b))),
          j => (coalesce(try_element_at(col(b), j + 1), size(col(s)) + 1)
            - element_at(col(b), j)).cast("double")))
          .otherwise(array().cast("array<double>"))))
      .withColumn("r",
        when(size(col(s)) > 0,
          round(exp(log(size(col(s)).cast("double"))
            - aggregate(col(cs), lit(0.0), (a, c) => a + c * log(c))
              / size(col(s)).cast("double")), 4))
          .otherwise(lit(1.0)))
      .drop(s, b, cs)
  }

  test("ppl_score kernel == staged sorted-run program (corpus + edges)") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    // edges minus the null-element row: a null token is unreachable for
    // the wsTokens inputs, and the staged `=!=` boundary rule there is
    // replicated by the kernel but not worth a null-bearing fixture
    for (df <- Seq(corpus, edges)) {
      val diff = pplStagedRef(df, "t")
        .withColumn("k", TextFunctions.pplScore($"t"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("c4_kept_lines kernel == split+filter keepLine program") {
    import spark.implicits._
    val corpus = Tables(spark, sf0001, "documents").select($"text")
    val crafted = Seq(
      "Good line stays here.",            // plain keep
      "One two three!",                   // minimal word count
      "Too short.",                       // < 3 words
      "no terminal punctuation here",     // no [.!?] end
      "He said \"stop that now.\"",       // quoted terminal
      "ends in question mark?",           // ?
      "ends quoted bang!\"",              // !"
      "contains lorem IPSUM sadly here.", // blocklist via lower
      "JavaScript is required here.",     // blocklist via lower
      "code block { x } not prose.",      // brace
      "\ttab lead word count line.",      // tab survives space-only trim
      " spaced   out    words   here. ",  // multi-space runs
      "trailing return stays.\r",         // $ before final \r
      "東京 への 旅 です。",                // unicode, no ASCII punct
      "", " ", "  .", "a."
    ).mkString("\n")
    val docs = Seq(
      crafted, crafted + "\n", "\n\n", "", "single good line wins.",
      "{", "lorem ipsum"
    ).toDF("text")
      .unionByName(Seq(Tuple1(Option.empty[String])).toDF("text"))
      .unionByName(corpus)
    for (minWords <- Seq(1, 3)) {
      val lines = split($"text", "\n")
      val kept = filter(lines, l => graft.operators.Clean.keepLine(l, minWords))
      val diff = docs.select(
          TextFunctions.keptLines($"text", minWords).as("k"),
          struct(size(lines).as("n_lines"), kept.as("kept")).as("r"))
        .filter(not($"k.n_lines" <=> $"r.n_lines") ||
          not($"k.kept" <=> $"r.kept")).count()
      assert(diff == 0, s"minWords=$minWords mismatch rows: $diff")
    }
  }

  test("fp_fold kernel == rolling polynomial aggregate fold") {
    import spark.implicits._
    val p = graft.operators.TextAnalysis.FpP
    def ref(hs: Column): Column =
      aggregate(hs, lit(0L), (acc, h) => (acc * 31L + (h % p)) % p)
    val corpus = Tables(spark, sf0001, "documents")
      .select(graft.functions.HashFunctions.hash56Map(
        TextFunctions.wsTokens(lower($"text"))).as("h"))
    val crafted = Seq(
      Seq(0L, 1L, p, p - 1, 123456789012345L),
      Seq.empty[Long]
    ).toDF("h")
      .unionByName(Seq(Tuple1(Option.empty[Seq[Long]])).toDF("h"))
      .unionByName(spark.sql(
        "SELECT array(7, CAST(NULL AS BIGINT), 9) AS h"))
    for (df <- Seq(corpus, crafted)) {
      val diff = df.select(TextFunctions.fpFold($"h").as("k"), ref($"h").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("line_stats kernel == per-line trim/bullet/ellipsis HOFs") {
    import spark.implicits._
    val bullets = Seq("-", "*", "•", "‣", "▪")
    val corpus = Tables(spark, sf0001, "documents").select($"text")
    val crafted = Seq(
      "- bullet line\n* star\n• dot bullet\nplain\n\n   \nends dots...\nends uni…",
      "‣ tri\n▪ sq\n  - spaced bullet\n\ttab-lead - not first char",
      "...\n…\n-\nonly…", "", "\n\n\n", "no newline one liner"
    ).toDF("text")
      .unionByName(Seq(Tuple1(Option.empty[String])).toDF("text"))
      .unionByName(corpus)
    val lines = filter(transform(split($"text", "\n"), l => trim(l)),
      l => l =!= "")
    val ref = struct(
      size(lines).as("n_lines"),
      size(filter(lines, l => substring(l, 1, 1).isin(bullets: _*)))
        .as("bullets"),
      size(filter(lines, l => endswith(l, lit("...")) || endswith(l, lit("…"))))
        .as("ells"))
    val diff = crafted.select(
        TextFunctions.lineStats($"text", bullets).as("k"), ref.as("r"))
      .filter(not($"k.n_lines" <=> $"r.n_lines") ||
        not($"k.bullets" <=> $"r.bullets") ||
        not($"k.ells" <=> $"r.ells")).count()
    assert(diff == 0, s"mismatch rows: $diff")
  }

  test("scrub_join kernel == array_except + gather + array_join") {
    import spark.implicits._
    def ref(toks: Column, cov: Column): Column = {
      val keptPos = array_except(
        when(size(toks) > 0, sequence(lit(0), size(toks) - 1))
          .otherwise(array().cast("array<int>")),
        coalesce(cov, array().cast("array<int>")))
      array_join(transform(keptPos, p => element_at(toks, p + 1)), " ")
    }
    val crafted = Seq(
      (Seq("a", "b", "c", "d"), Some(Seq(1, 2))),
      (Seq("a", "b", "c", "d"), Some(Seq.empty[Int])),
      (Seq("a", "b"), Some(Seq(0, 1))),          // everything covered
      (Seq("x", "東京", "z"), Some(Seq(7, -1))), // out-of-range ignored
      (Seq.empty[String], Some(Seq(0))),
      (Seq("solo"), None)                        // null cov
    ).toDF("toks", "cov")
      .unionByName(spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) toks, " +
        "array(0) cov"))
    val corpus = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens($"text").as("toks"),
        when($"doc_id" % 3 === 0, array(lit(0), lit(2), lit(5)))
          .otherwise(lit(null).cast("array<int>")).as("cov"))
    for (df <- Seq(crafted, corpus)) {
      val diff = df.select(
          TextFunctions.scrubJoin($"toks", $"cov").as("k"),
          ref($"toks", $"cov").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("join_sorted_lines kernel == array_sort + getField + array_join") {
    import spark.implicits._
    def ref(arr: Column): Column =
      array_join(transform(array_sort(arr), s => s.getField("line")), "\n")
    val crafted = Seq(
      Seq((2, "third"), (0, "first"), (1, "second")),
      Seq((5, "z"), (5, "a")),          // pos tie -> line order
      Seq((0, "")),                     // empty line survives the join
      Seq.empty[(Int, String)]
    ).toDF("a")
      .unionByName(Seq(Tuple1(Option.empty[Seq[(Int, String)]])).toDF("a"))
      .unionByName(spark.sql(
        "SELECT array(struct(1 AS _1, CAST(NULL AS STRING) AS _2), " +
          "struct(0 AS _1, 'x' AS _2), CAST(NULL AS STRUCT<_1:INT,_2:STRING>)) a"))
    val shaped = crafted.select(transform($"a",
      s => struct(s.getField("_1").as("pos"), s.getField("_2").as("line")))
      .as("a"))
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "line")))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"pos", $"line")).as("a"))
    for (df <- Seq(shaped, corpus)) {
      val diff = df.select(TextFunctions.joinSortedLines($"a").as("k"),
          ref($"a").as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mismatch rows: $diff")
    }
  }

  test("dot_i64 kernel == aggregate(zip_with) fold incl. length edges") {
    import spark.implicits._
    val w = Seq(3L, -2L, 1000000007L, 5L)
    def ref(arr: Column): Column =
      aggregate(zip_with(arr, array(w.map(lit): _*), _ * _),
        lit(0L), _ + _)
    val crafted = Seq(
      Seq(1L, 2L, 3L, 4L),            // equal length
      Seq(1L, 2L),                    // shorter -> null (zip padding)
      Seq(1L, 2L, 3L, 4L, 5L, 6L),    // longer -> null
      Seq.empty[Long]                 // empty -> null
    ).toDF("a")
      .unionByName(Seq(Tuple1(Option.empty[Seq[Long]])).toDF("a"))
      .unionByName(spark.sql(
        "SELECT array(1, CAST(NULL AS BIGINT), 3, 4) AS a"))
    val diff = crafted.select(
        graft.functions.VectorFunctions.dotI64($"a", w).as("k"),
        ref($"a").as("r"))
      .filter(not($"k" <=> $"r")).count()
    assert(diff == 0, s"mismatch rows: $diff")
  }
}
