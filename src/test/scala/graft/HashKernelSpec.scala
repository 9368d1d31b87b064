package graft

import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** Parity for the [[graft.functions.Hash56MapKernel]] codegen kernel against
  * the interpreted `transform(arr, x -> hash56(x) [% m])` program it
  * replaced: byte-identical on real corpus tokens, non-ASCII input,
  * empty strings, null elements, empty arrays and null arrays, with
  * and without the mod fold.
  */
class HashKernelSpec extends SparkSpec {

  private def transformForm(c: org.apache.spark.sql.Column,
                            mod: Option[Long]) = mod match {
    case Some(m) => transform(c, x => TextFunctions.hash56(x) % m)
    case None    => transform(c, x => TextFunctions.hash56(x))
  }

  test("hash56_map == transform(hash56) on corpus tokens, both mods") {
    import spark.implicits._
    val toks = Tables(spark, sf0001, "documents")
      .select(TextFunctions.wsTokens(lower($"text")).as("t"))
    for (mod <- Seq(None, Some(TextFunctions.P31), Some(64L))) {
      val diff = toks.select(
          HashFunctions.hash56Map($"t", mod).as("k"),
          transformForm($"t", mod).as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"mod=$mod: $mod mismatch rows = $diff")
    }
  }

  test("hash56_map edge cases: non-ASCII, empty string, nulls") {
    import spark.implicits._
    val df = Seq(
      Seq("naïve", "東京", "", "a", "ＡＢ"),
      Seq.empty[String]
    ).toDF("t")
      .unionByName(Seq(Tuple1(Option.empty[Seq[String]])).toDF("t"))
      .unionByName(spark.sql("SELECT array('x', CAST(NULL AS STRING), 'y') AS t"))
    val rows = df.select(
        HashFunctions.hash56Map($"t", Some(TextFunctions.P31)).as("k"),
        transformForm($"t", Some(TextFunctions.P31)).as("r"))
      .collect()
    rows.foreach { r => assert(r.get(0) == r.get(1), s"mismatch: $r") }
    // null array stays null, empty stays empty
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  private def bandTransformForm(sig: org.apache.spark.sql.Column,
                                bands: Int, rows: Int) =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(array_join(slice(sig, b * rows + 1, lit(rows)), "_")))

  test("band_keys == transform(md5(array_join(slice))) on corpus signatures") {
    import graft.operators.Dedup
    import spark.implicits._
    val sigs = Dedup.minhashSignatures(
      Tables(spark, sf0001, "documents")
        .select($"doc_id", TextFunctions.tokenize($"text").as("toks")),
      "doc_id", "toks", k = 16)
    for ((bands, rows) <- Seq((8, 2), (4, 4), (16, 1), (5, 4))) {
      // 5*4 > k=16: the last band's slice runs past the signature end
      val diff = sigs.select(
          HashFunctions.bandKeys($"sig", bands, rows).as("k"),
          bandTransformForm($"sig", bands, rows).as("r"))
        .filter(not($"k" <=> $"r")).count()
      assert(diff == 0, s"bands=$bands rows=$rows: mismatch rows = $diff")
    }
  }

  test("band_keys edge cases: short/empty/null signature arrays") {
    import spark.implicits._
    val df = Seq(
      Seq(1L, 2L, 3L),          // shorter than bands*rows
      Seq.empty[Long],          // every band = md5("")
      Seq(Long.MaxValue, Long.MinValue, -1L, 0L)
    ).toDF("sig")
      .unionByName(Seq(Tuple1(Option.empty[Seq[Long]])).toDF("sig"))
    val rows = df.select(
        HashFunctions.bandKeys($"sig", 4, 2).as("k"),
        bandTransformForm($"sig", 4, 2).as("r"))
      .collect()
    rows.foreach { r =>
      // kernel is null-intolerant; the transform yields an array of
      // nulls for a null sig — Dedup.banded's coalesce arm covers that
      if (!r.isNullAt(0)) assert(r.get(0) == r.get(1), s"mismatch: $r")
      else assert(r.getSeq[String](1).forall(_ == null))
    }
  }

  test("bloom_might_contain == the ScalaUDF probe it replaced") {
    import spark.implicits._
    val evalHs = Tables(spark, sf0001, "documents").limit(50)
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokenize($"text"), 3)).as("sh"))
      .select(TextFunctions.hash56($"sh").as("sh_h")).distinct()
    val bloom = evalHs.stat.bloomFilter("sh_h",
      math.max(evalHs.count(), 1L), 1e-6)
    val bc = spark.sparkContext.broadcast(bloom)
    val udfProbe = udf((h: Long) => bc.value.mightContainLong(h))
    val probes = Tables(spark, sf0001, "documents")
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokenize($"text"), 3)).as("sh"))
      .select(TextFunctions.hash56($"sh").as("sh_h"))
    val diff = probes.select(
        HashFunctions.bloomMightContain($"sh_h", bc).as("k"),
        udfProbe($"sh_h").as("r"))
      .filter(not($"k" <=> $"r")).count()
    assert(diff == 0, s"mismatch rows = $diff")
    // the eval set itself must all probe true (no false negatives)
    val misses = evalHs.filter(
      not(HashFunctions.bloomMightContain($"sh_h", bc))).count()
    assert(misses == 0)
  }

  test("hash56 kernel == conv(substring(md5)) on corpus text and edges") {
    import spark.implicits._
    val convForm = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 14), 16, 10).cast("long")
    val corpus = Tables(spark, sf0001, "documents").select($"text".as("s"))
      .unionByName(Seq("", "naïve", "東京", "ＡＢ", "a" * 10000).toDF("s"))
      .unionByName(Seq(Tuple1(Option.empty[String])).toDF("s"))
    val diff = corpus.select(
        TextFunctions.hash56($"s").as("k"), convForm($"s").as("r"))
      .filter(not($"k" <=> $"r")).count()
    assert(diff == 0, s"mismatch rows = $diff")
    // JVM twin stays aligned too
    val got = Seq("spark", "", "東京").toDF("s")
      .select(TextFunctions.hash56($"s")).as[Long].collect().toSeq
    assert(got == Seq("spark", "", "東京").map(TextFunctions.hash56Jvm))
  }

  test("hash56_map matches the JVM twin") {
    import spark.implicits._
    val words = Seq("spark", "join", "naïve", "東京", "")
    val got = Seq(Tuple1(words)).toDF("t")
      .select(HashFunctions.hash56Map($"t").as("k"))
      .as[Seq[Long]].head()
    assert(got == words.map(TextFunctions.hash56Jvm))
  }
}
