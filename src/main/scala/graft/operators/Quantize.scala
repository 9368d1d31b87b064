package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Int8 scalar quantization for embedding columns — the standard 4×
  * storage/scan-bandwidth reduction for vector search at corpus scale
  * (cf. faiss's SQ8 / Qdrant's scalar quantization, which the
  * reference's HNSW config could enable but does not; builder-mandated
  * scale extension).
  *
  * Per-vector max-abs scaling: `scale = max(|v_i|)`, `q_i =
  * floor(v_i / scale · 127 + 0.5)`. The quantized codes are
  * integer-valued and |q_i| ≤ 127, so a 64-dim dot product stays ≤
  * 127²·64 ≈ 10⁶ — exactly representable in double arithmetic, which
  * keeps the whole path a plain codegen'd column program with a
  * byte-identical DuckDB twin (floor(x+0.5) rounds identically in both
  * engines; banker's-rounding `round` would not). Scores rescale by
  * `scale_a · scale_b / 127²`.
  *
  * Storage note: codes are integer-valued doubles in flight; a store
  * persists them as `array<tinyint>` (cast on write, cast back on
  * read) for the 4× win — the arithmetic is unchanged either way.
  */
object Quantize {

  /** (id, codes, scale) for a vector column. Zero vectors quantize to
    * all-zero codes with scale 0.
    *
    * One quantize_i8 kernel pass per row ([[graft.functions
    * .QuantizeI8Kernel]]): the former two-transform program (staged
    * scale column + codes lambda) still evaluated its lambdas
    * interpreted per element, 2·dim per row. Same max-abs /
    * floor(x/scale·127 + 0.5) arithmetic and null edges; parity
    * pinned in QuantizeSpec. */
  def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.quantizeI8(col(vecCol)).as("__q"))
      .select(col("id"), col("__q.codes").as("codes"),
        col("__q.scale").as("scale"))

  /** Approximate dot product from two quantized pairs. */
  def dotI8(codesA: Column, scaleA: Column,
            codesB: Column, scaleB: Column): Column =
    // codegen dot kernel — the former `aggregate(zip_with(...))` pair
    // evaluated two interpreted lambdas per component per row. Code
    // arrays share one quantizer dim by construction; on that equal-
    // length domain the kernel is value-identical (the fold's
    // null-padding edge on UNEQUAL lengths became min-length — pinned
    // in QuantizeSpec).
    graft.functions.VectorFunctions.dot(codesA, codesB) *
      scaleA * scaleB / lit(16129.0)

  /** Driver twin of [[dotI8]]: the kernel's dot, then the two scales
    * and the 127² divide in the column form's order, so it is equal to
    * it bit for bit. */
  def dotI8Jvm(codesA: Array[Double], scaleA: Double,
               codesB: Array[Double], scaleB: Double): Double =
    graft.functions.VectorFunctions.dotJvm(codesA, codesB) * scaleA * scaleB / 16129.0

  /** JVM twin of [[quantized]] for a driver-side query vector —
    * identical rule (max-abs scale, floor(x/scale·127 + 0.5)), so a
    * query quantized here scores against store codes with exactly the
    * arithmetic the in-flight column program would use. */
  def quantizeJvm(v: Array[Double]): (Array[Double], Double) = {
    var scale = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > scale) scale = a; i += 1 }
    val codes =
      if (scale > 0) v.map(x => math.floor(x / scale * 127 + 0.5))
      else new Array[Double](v.length)
    (codes, scale)
  }

  /** Quantized brute-force top-k: embeddings quantized once (the
    * store-side representation), the query quantized driver-free on
    * the same path, scores via the integer dot + rescale. */
  def topKQuantized(emb: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int): DataFrame = {
    val qz = quantized(emb, idCol, vecCol)
    val q = qz.filter(col("id") === queryId)
      .select(col("codes").as("qcodes"), col("scale").as("qscale"))
    qz.crossJoin(broadcast(q))
      .select(col("id"),
        round(dotI8(col("codes"), col("scale"),
          col("qcodes"), col("qscale")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss
    * via the database-friendly sign matrix of Achlioptas 2001): project
    * a d-dim embedding onto `outDim` pseudo-random ±1 hyperplanes and
    * rescale by 1/√outDim, preserving pairwise distances to within
    * O(√(ln n / outDim)) — the cheap embedding-compression step before
    * storage or coarse clustering when even int8 at full d is too wide.
    *
    * The projection matrix is never materialized: sign s(i,j) comes
    * from the SAME multiplicative-hash family as the LSH hyperplanes
    * ([[graft.functions.VectorFunctions.hyperplaneBuckets]]), computed
    * inline per element — deterministic across engines, partitionings,
    * and reruns. The fold over vector elements runs left-to-right in
    * both engines (Spark `aggregate` HOF / DuckDB `list_dot_product`),
    * so 6-rounded components are engine-stable (the q24 dot-score
    * precedent). Row-local, zero shuffle, linear in corpus bytes.
    *
    * Output: one (id, dim_j, val) row per projected component —
    * long-form so downstream stores can re-pack at whatever width
    * they want. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, dim: Int = 64): DataFrame = {
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    // The ±1 sign of component (j, i) depends only on the indices, so
    // the outDim sign vectors are driver-precomputed LITERALS and each
    // output component is one codegen dot-kernel call — the former
    // zip_with+aggregate lambda chain evaluated interpreted per element
    // (guide §4: prefer codegen expressions in the hot path; measured
    // 2.0 → 0.6 s at sf0.1). Bit-identical: ±1.0 multiplication is an
    // exact sign flip and the kernel sums in the same ascending order.
    // `dim` bounds the sign vectors; shorter vectors use exactly their
    // own length (the kernel stops at min length, matching the former
    // per-row zip), longer input needs a larger `dim`.
    val signs: Seq[Seq[Double]] = (0 until outDim).map { j =>
      (0 until dim).map { i =>
        val bit = (((j + 1) * 2654435761L + (i + 1) * 40503L) >> 13) & 1L
        (bit * 2 - 1).toDouble
      }
    }
    // Fail LOUDLY on vectors longer than `dim` instead of silently
    // projecting only the first `dim` components (the kernel stops at
    // min length — correct for SHORTER vectors, wrong-by-default for
    // longer ones; the old zip_with form adapted to each row's length).
    val guarded = when(size(col("__v")) <= dim, col("__v"))
      .otherwise(raise_error(concat(
        lit("randomProject: input vector has "),
        size(col("__v")).cast("string"),
        lit(s" components but dim=$dim sign vectors — pass a larger dim")))
        .cast("array<double>"))
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("__v"))
      .select(col("id"), guarded.as("__v"))
      .select(col("id"),
        posexplode(array(signs.map(s =>
          round(graft.functions.VectorFunctions.dot(col("__v"), typedLit(s))
            * inv, 6)): _*)).as(Seq("__pos", "val")))
      .select(col("id"), col("__pos").cast("long").as("dim_j"), col("val"))
  }

  // ---- gate --------------------------------------------------------------

  /** q83: int8-quantized kNN against the vec_id=0 query over the
    * embeddings table — pins the quantization rule, the exact integer
    * dot, and the rescale arithmetic. */
  def quantizedKnn(spark: SparkSession, dir: String): DataFrame =
    topKQuantized(Tables(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 20)

  /** q85: the same kNN arithmetic, but END-TO-END through the persisted
    * tinyint store — save → load → score touches only the `codes`/
    * `scale` columns read back from parquet (never the raw embedding),
    * so the gate pins the cast-to-tinyint round-trip, not just the
    * in-flight quantization q83 covers. */
  def quantizedStoreKnn(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDirs.create("graft_q85_quant")
    graft.sources.TableStore.saveQuantized(
      Tables(spark, dir, "embeddings"), "vec_id", "embedding", tmp)
    val store = graft.sources.TableStore.loadQuantized(spark, tmp)
    val q = store.filter(col("id") === 0)
      .select(col("codes").as("qcodes"), col("scale").as("qscale"))
    store.crossJoin(broadcast(q))
      .select(col("id"),
        round(dotI8(col("codes"), col("scale"),
          col("qcodes"), col("qscale")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(20)
  }

  private val quantOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
      |q AS (SELECT vec_id, sc, list_transform(v, x ->
      |    CASE WHEN sc > 0 THEN floor(x / sc * 127 + 0.5) ELSE 0.0 END) AS qv FROM s),
      |qq AS (SELECT sc AS qsc, qv AS qqv FROM q WHERE vec_id = 0),
      |d AS (SELECT q.vec_id,
      |    round(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> q.qv[i] * qq.qqv[i])) * q.sc * qq.qsc / 16129.0, 6) AS score
      |  FROM q, qq)
      |SELECT vec_id AS id, score FROM d
      |ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** q98: 64→16 random projection of the embeddings table, long-form.
    * outDim 16 makes the 1/√outDim rescale exactly 0.25 — the literal
    * both engines multiply by (a division would differ in ulps). */
  def randomProjectGate(spark: SparkSession, dir: String): DataFrame =
    randomProject(Tables(spark, dir, "embeddings"), "vec_id", "embedding", 16)
      .select(col("id").as("vec_id"), col("dim_j"), col("val"))
      .orderBy(col("vec_id"), col("dim_j"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_quantized_knn" -> (quantizedKnn _),
    "q85_quantized_store" -> (quantizedStoreKnn _),
    "q98_random_project" -> (randomProjectGate _))

  val oracle: Map[String, String] = Map(
    // same ±1 hash family as the LSH hyperplanes; list_dot_product's
    // left-to-right fold matches the Spark aggregate's order
    "q98_random_project" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT vec_id, list_transform(range(16), j ->
        |  round(list_dot_product(emb, list_transform(range(64), i ->
        |    CAST(((((j+1)*2654435761 + (i+1)*40503) >> 13) & 1)*2 - 1 AS DOUBLE))) * 0.25, 6)) AS proj FROM e)
        |SELECT vec_id, dim_j, val FROM (
        |  SELECT vec_id, unnest(list_transform(proj, (x, i) ->
        |    {'dim_j': CAST(i - 1 AS BIGINT), 'val': x}), recursive := true) FROM p) u
        |ORDER BY vec_id, dim_j""".stripMargin,
    "q83_quantized_knn" -> quantOracle,
    // identical arithmetic to q83 BY DESIGN: the persisted tinyint
    // round-trip must be lossless, so the store-path result equals the
    // in-flight result — the oracle pins that equivalence
    "q85_quantized_store" -> quantOracle)
}
