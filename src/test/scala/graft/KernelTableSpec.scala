package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions._

/** The kernel table [[graft.functions.Kernels]] row by row.
  *
  *  - Interpreted ≡ generated: every row evaluated through
  *    `StaticInvoke.eval` (no codegen at all) and through whole-stage
  *    generated code returns identical rows on the same input — null,
  *    empty and typical cells, read back from Parquet so the optimizer
  *    cannot fold the kernel into a local relation. Output nullability
  *    is the inputs' unless the row is `returnNullable`.
  *  - Reference constants stay out of the source: every row that takes
  *    a codebook, LUT, centroid table or word list generates the same
  *    whole-stage source for two different values, so one compiled
  *    class serves every call.
  */
class KernelTableSpec extends SparkSpec {

  private lazy val input: DataFrame = {
    val schema = StructType.fromDDL(
      "id int, vec array<double>, vec2 array<double>, mat array<array<double>>, " +
      "mat2 array<array<double>>, packed binary, longs array<bigint>, text string, " +
      "toks array<string>, ints array<int>, lines array<struct<pos:int,line:string>>")
    val rows = Seq(
      Row(0, null, null, null, null, null, null, null, null, null, null),
      Row(1, Seq(), Seq(), Seq(), Seq(), Array[Byte](), Seq(), "", Seq(), Seq(), Seq()),
      Row(2, Seq(0.5, -1.25, 2.0, 0.0), Seq(1.0, 2.0, -0.5, 4.0),
        Seq(Seq(1.0, 0.0), Seq(0.5, -0.5)), Seq(Seq(0.25, 2.0), Seq(-1.0, 1.0)),
        MaxSim.packF32(Array(Array(0.25, 2.0), Array(-1.0, 1.0)), 2),
        Seq(1L, 2L, 3L),
        "The quick brown fox jumps.\n- mail a@b.co or 555-123-4567\n* ip 10.0.0.1 here\n",
        Seq("the", "quick", "brown", "fox", "the", "quick"), Seq(0, 1),
        Seq(Row(2, "beta"), Row(1, "alpha"))),
      Row(3, Seq(3.0, null, -1.0, 0.25, 9.0), Seq(-2.0, 0.5),
        Seq(Seq(0.25, 2.0, 7.0)), Seq(Seq(1.0), Seq()),
        MaxSim.packF32(Array(Array(1.0, -3.0)), 2),
        Seq(5L, null, 6L), "Der schnelle braune Fuchs. Café ﬁne",
        Seq("der", "Fuchs", "x1", "und", "die"), Seq(1, 0),
        Seq(Row(1, "only"))),
      // a null token: the poisoning edge of the returnNullable rows
      Row(4, null, null, null, null, null, null, null,
        Seq("the", null, "fox"), null, null))
    val dir = java.nio.file.Files.createTempDirectory("graft_kernel_table").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The input's schema with every column non-nullable (for analysis
    * only: output nullability is a plan property). */
  private lazy val nonNullInput: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(input.schema.map(_.copy(nullable = false))))

  private val words = Words(Seq("the", "fox", "und"))

  /** (input columns, plan constants) per row of the table. */
  private val cases: Map[String, (Seq[String], Seq[Any])] = Map(
    "dot_product" -> (Seq("vec", "vec2"), Nil),
    "cosine_sim" -> (Seq("vec", "vec2"), Nil),
    "maxsim" -> (Seq("mat", "mat2"), Nil),
    "pack_f32" -> (Seq("mat"), Seq(2)),
    "maxsim_f32" -> (Seq("mat", "packed"), Seq(2)),
    "reshape_rows" -> (Seq("vec"), Seq(3, 2)),
    "hyperplane_buckets" -> (Seq("vec"), Seq(2, 3)),
    "ivf_assign" -> (Seq("vec"),
      Seq(Centroids(Seq(7L, 9L), Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))))),
    "dot_i64" -> (Seq("longs"), Seq(Longs(Seq(1L, -2L, 3L)))),
    "feature_hash_embed" -> (Seq("longs"), Seq(8)),
    "pq_encode" -> (Seq("vec"), Seq(Array(0.0, 0.0, 1.0, -1.0, 2.0, 0.0, -1.0, 3.0), 2, 2, 2)),
    "pq_adc" -> (Seq("ints"), Seq(Array(0.5, -1.0, 2.0, 0.25), 2)),
    "quantize_i8" -> (Seq("vec"), Nil),
    "minhash_sig" -> (Seq("longs"), Seq(4)),
    "simhash" -> (Seq("longs"), Seq(16)),
    "hash56" -> (Seq("text"), Nil),
    "hash56_map" -> (Seq("toks"), Seq(1000L)),
    "band_keys" -> (Seq("longs"), Seq(2, 2)),
    "fp_fold" -> (Seq("longs"), Nil),
    "bm25_tokenize" -> (Seq("text"), Nil),
    "porter_stem" -> (Seq("text"), Nil),
    "ws_tokens" -> (Seq("text"), Nil),
    "lang_id" -> (Seq("toks"), Nil),
    "nfc_normalize" -> (Seq("text"), Nil),
    "shingles_k" -> (Seq("toks"), Seq(2)),
    "bigrams" -> (Seq("toks"), Nil),
    "run_stats" -> (Seq("toks"), Nil),
    "sum_sorted" -> (Seq("vec"), Nil),
    "sum_len" -> (Seq("toks"), Nil),
    "count_alpha" -> (Seq("toks"), Nil),
    "set_hits" -> (Seq("toks"), Seq(words)),
    "count_in" -> (Seq("toks"), Seq(words)),
    "filter_lower_alpha" -> (Seq("toks"), Nil),
    "ppl_score" -> (Seq("toks"), Nil),
    "c4_kept_lines" -> (Seq("text"), Seq(2)),
    "line_stats" -> (Seq("text"), Seq(Words(Seq("-", "*")))),
    "scrub_join" -> (Seq("toks", "ints"), Nil),
    "join_sorted_lines" -> (Seq("lines"), Nil),
    "pii_scrub" -> (Seq("text"), Nil),
    "pii_redact" -> (Seq("text"), Nil),
    "pii_has" -> (Seq("text"), Nil))

  private def call(k: Kernel, consts: Seq[Any] = Nil): Column = {
    val (cols, default) = cases(k.name)
    k(cols.map(col) ++ (if (consts.nonEmpty) consts else default): _*)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try body finally kv.foreach { case (key, _) => spark.conf.unset(key) }
  }

  test("every table row: interpreted ≡ generated code, rows and nullability") {
    assert(cases.keySet == Kernels.all.map(_.name).toSet)
    assert(Kernels.all.map(_.name).distinct.size == Kernels.all.size)
    for (k <- Kernels.all) {
      val df = input.select(col("id"), call(k).as("out"))
      def run(codegen: Boolean): (Seq[Row], String) = withConf(
          "spark.sql.codegen.wholeStage" -> codegen.toString,
          "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
          "spark.sql.codegen.fallback" -> "false") {
        val q = df.select("*")
        (q.collect().sortBy(_.getInt(0)).toSeq, q.queryExecution.executedPlan.toString)
      }
      val (interpreted, iPlan) = run(codegen = false)
      val (generated, gPlan) = run(codegen = true)
      assert(!iPlan.contains("*("), s"${k.name}: interpreted run was codegen'd: $iPlan")
      assert("\\*\\(\\d+\\) Project".r.findFirstIn(gPlan).isDefined,
        s"${k.name}: kernel left whole-stage codegen: $gPlan")
      assert(interpreted == generated, s"${k.name}: $interpreted != $generated")
      assert(interpreted.size == 5 && interpreted.head.isNullAt(1), s"${k.name}: $interpreted")

      assert(df.schema("out").nullable, k.name)
      val strict = nonNullInput.select(call(k).as("out")).schema("out").nullable
      assert(strict == k.returnNullable, s"${k.name}: nullable $strict on non-null input")
    }
  }

  test("reference constants stay out of the generated source") {
    def source(k: Kernel, consts: Seq[Any]): String = {
      val code = codegenStringSeq(input.select(call(k, consts).as("out"))
        .queryExecution.executedPlan).map(_._2)
      assert(code.size == 1, s"${k.name}: ${code.size} whole-stage subtrees")
      code.head
    }
    val pairs = Seq(
      Kernels.pqAdc -> (Seq(Array(0.5, -1.0, 2.0, 0.25), 2), Seq(Array(9.0, 8.0, 7.0, 6.0), 2)),
      Kernels.pqEncode -> (
        Seq(Array(0.0, 0.0, 1.0, -1.0, 2.0, 0.0, -1.0, 3.0), 2, 2, 2),
        Seq(Array(5.0, 5.0, 1.0, 1.0, 0.0, 2.0, 4.0, 3.0), 2, 2, 2)),
      Kernels.ivfAssign -> (
        Seq(Centroids(Seq(7L, 9L), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))),
        Seq(Centroids(Seq(1L, 2L, 3L), Seq(Seq(0.5), Seq(-0.5), Seq(2.0))))),
      Kernels.dotI64 -> (Seq(Longs(Seq(1L, 2L))), Seq(Longs(Seq(-4L, 0L, 9L)))),
      Kernels.setHits -> (Seq(words), Seq(Words(Seq("quick", "brown")))),
      Kernels.countIn -> (Seq(words), Seq(Words(Seq("der")))),
      Kernels.lineStats -> (Seq(Words(Seq("-", "*"))), Seq(Words(Seq("•")))))
    for ((k, (a, b)) <- pairs) {
      assert(a != b)
      assert(source(k, a) == source(k, b), s"${k.name}: constant inlined into the source")
    }
    // every row whose constants are not plain ints is covered above
    val refRows = cases.collect {
      case (name, (_, consts)) if consts.exists {
        case _: Int | _: Long => false
        case _ => true
      } => name
    }.toSet
    assert(refRows == pairs.map(_._1.name).toSet)
  }
}
