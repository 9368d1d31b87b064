package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Pq, PqFunctions, VectorFunctions}

/** Product-quantized ANN retrieval (IVF-PQ with exact refine) — the
  * canonical 100 TB vector-index layout (faiss `IVFx,PQy`; Jégou et
  * al. 2011), composing three gated primitives:
  *
  *  1. coarse IVF partitioning ([[AnnKnn.ivfIndex]]) → the probe set
  *     is a STATIC cid filter, so a cid-partitioned store opens only
  *     nProbe directories;
  *  2. PQ codes ([[graft.functions.PqEncode]]) inside each list →
  *     m bytes per vector instead of 8·d (64× at d=64/m=8): the
  *     probed scan reads codes, never raw floats;
  *  3. asymmetric-distance scoring ([[graft.functions.PqAdcScore]])
  *     with a driver-built per-query lookup table → candidates rank
  *     with m table reads per row; the top `refine·k` then rescore
  *     EXACTLY against raw vectors fetched by id (a broadcast
  *     semi-join touching `refine·k` rows of the float store).
  *
  * The reference's serving index (Qdrant HNSW,
  * `src/storage/vector_store.py:136-146`) keeps raw float vectors
  * resident; this layout is what replaces it when the corpus stops
  * fitting: codes in the hot path, floats only for the final k·refine
  * candidates. Every stage is deterministic (sampled codebooks,
  * round-6 tie stabilization, ties → smaller pid / asc id), so the
  * whole pipeline — coarse assignment, codes, ADC ranking, refine —
  * replays in DuckDB (gates q90/q91).
  */
object PqKnn {

  /** Flat per-subspace codebook ([[Pq]] layout: `((j·k+p)·sub)+i`). */
  final case class Codebook(m: Int, sub: Int, k: Int, flat: Array[Double])

  /** Gate configuration: 64-dim embeddings → 8 subspaces × 8 dims,
    * 16 centroids per subspace (4-bit codes at toy scale; production
    * uses k=256 for byte codes — same layout, same plan). */
  val M = 8
  val K = 16
  val Step = 29

  /** Deterministic sampled codebook: centroid p of every subspace is
    * the corresponding subvector of the (p+1)-th corpus vector with
    * `id % step == 0` (id order) — k driver rows, the reproducible
    * stand-in for per-subspace k-means that the oracle can recompute
    * (the [[AnnKnn.ivfCentroids]] stance; [[refinedCodebook]] is the
    * trained production upgrade, spec-verified rather than gated). */
  def sampledCodebook(data: DataFrame, idCol: String, vecCol: String,
                      m: Int = M, k: Int = K, step: Int = Step): Codebook =
    codebookFrom(data.filter(col(idCol) % step === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq, m)

  /** Codebook from k explicit sample vectors (entry p of every
    * subspace = subvector of sample p). */
  def codebookFrom(rows: Seq[Seq[Double]], m: Int = M): Codebook = {
    require(rows.nonEmpty, "codebook sample is empty")
    val kEff = rows.length
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val flat = new Array[Double](m * kEff * sub)
    for (p <- 0 until kEff; j <- 0 until m; i <- 0 until sub)
      flat((j * kEff + p) * sub + i) = rows(p)(j * sub + i)
    Codebook(m, sub, kEff, flat)
  }

  /** Deterministic k-sample of corpus vectors for ANY id type (the
    * service's chunk ids are strings, so [[AnnKnn.ivfCentroids]]'
    * numeric `% step` rule doesn't apply): order by (xxhash64(id), id)
    * and take k — one TakeOrdered pass, reproducible across runs. */
  def hashSampledRows(data: DataFrame, idCol: String, vecCol: String,
                      k: Int): Seq[Seq[Double]] =
    data.orderBy(xxhash64(col(idCol).cast("string")), col(idCol).cast("string"))
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq

  /** A coarse-centroid table (cid, cvec) from driver rows, dense cids
    * 0..n-1 in row order. The serving store passes the first [[K]] rows
    * of its 256-row [[hashSampledRows]] sample: the (xxhash64(id), id)
    * order is total, so they are exactly the rows a K-row sample takes,
    * and one sample pass serves both centroids and codebook. */
  def centroidsFrom(spark: SparkSession, rows: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("cid", "cvec")
  }

  /** Lloyd-refined per-subspace codebook: start from [[sampledCodebook]]
    * and run `iters` k-means rounds per subspace — assignment via the
    * gated encode kernel (round-6, ties → smaller pid), per-(j,pid)
    * means in exactly-associative DECIMAL (the [[AnnKnn.kmeansCentroids]]
    * determinism stance), empty cells keep their previous centroid.
    * One corpus pass per round: encode is row-local; the only shuffle
    * is the (j,pid,dim)-keyed partial-aggregated mean. */
  def refinedCodebook(data: DataFrame, idCol: String, vecCol: String,
                      m: Int = M, k: Int = K, step: Int = Step,
                      iters: Int = 2): Codebook =
    refineCodebook(data, vecCol, sampledCodebook(data, idCol, vecCol, m, k, step),
      iters)

  /** Lloyd rounds from an EXPLICIT starting codebook — the shared core
    * of [[refinedCodebook]] and the serving store's production-shape
    * codebook (hash-sampled k=256 init, string ids). */
  def refineCodebook(data: DataFrame, vecCol: String, cb0: Codebook,
                     iters: Int): Codebook = {
    var cb = cb0
    val vecs = data.select(col(vecCol).cast("array<double>").as("vec"))
    for (_ <- 1 to iters) {
      val cbLocal = cb
      val means = vecs
        .withColumn("codes", PqFunctions.pqEncode(col("vec"), cbLocal.flat,
          cbLocal.m, cbLocal.sub, cbLocal.k))
        .select(posexplode(col("codes")).as(Seq("j", "pid")), col("vec"))
        .select(col("j"), col("pid"), posexplode(
          slice(col("vec"), col("j") * lit(cbLocal.sub) + lit(1), lit(cbLocal.sub)))
          .as(Seq("i", "x")))
        .groupBy(col("j"), col("pid"), col("i"))
        .agg((sum(col("x").cast("decimal(30,15)")) / count(lit(1)))
          .cast("double").as("mx"))
        .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      val flat = cbLocal.flat.clone()
      for (((j, p, i), mx) <- means)
        flat((j * cbLocal.k + p) * cbLocal.sub + i) = mx
      cb = cbLocal.copy(flat = flat)
    }
    cb
  }

  /** (id, codes) for a vector column — row-local, zero shuffle; the
    * ingest-side pass that runs fused in the scan stage. */
  def encoded(data: DataFrame, idCol: String, vecCol: String,
              cb: Codebook): DataFrame =
    data.select(col(idCol).as("id"),
      PqFunctions.pqEncode(col(vecCol), cb.flat, cb.m, cb.sub, cb.k).as("codes"))

  /** Driver-side query vector fetch (one row by id). */
  def queryVec(data: DataFrame, idCol: String, vecCol: String,
               id: Long): Array[Double] =
    data.filter(col(idCol) === id)
      .select(col(vecCol).cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** ADC scores over a codes frame: per-query lut built driver-side
    * (m·k dots), scores are m table reads per row, round-6. */
  def adcScores(codes: DataFrame, query: Array[Double], cb: Codebook): DataFrame = {
    val lut = Pq.lutJvm(query, cb.flat, cb.m, cb.sub, cb.k)
    codes.select(col("id"),
      round(PqFunctions.pqAdc(col("codes"), lut, cb.k), 6).as("score"))
  }

  /** Brute ADC top-k (no coarse partitioning) — the compressed-domain
    * analogue of [[DenseKnn.topK]]; deterministic (score desc, id). */
  def adcTopK(codes: DataFrame, query: Array[Double], cb: Codebook,
              k: Int): DataFrame =
    adcScores(codes, query, cb)
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** Exact refine: rescore an ADC candidate list against raw vectors
    * fetched BY ID — the candidate ids broadcast into a semi-join, so
    * the float store contributes `|cands|` rows, not a scan. */
  def refineTopK(cands: DataFrame, raw: DataFrame, query: Array[Double],
                 k: Int): DataFrame =
    raw.join(broadcast(cands.select(col("id"))), Seq("id"))
      .select(col("id"),
        round(VectorFunctions.dot(col("vec"), typedLit(query.toSeq)), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** IVF-PQ index: coarse-assign each vector ([[AnnKnn.ivfIndex]]
    * rule — round-6 max dot, ties → larger cid), then PQ-encode.
    * Output (cid, id, codes) persists partitioned by cid
    * ([[graft.sources.TableStore.savePq]]). */
  def ivfPqIndex(data: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame, cb: Codebook): DataFrame =
    AnnKnn.ivfIndex(data, idCol, vecCol, centroids)
      .select(col("cid"), col("id"),
        PqFunctions.pqEncode(col("vec"), cb.flat, cb.m, cb.sub, cb.k).as("codes"))

  /** IVF-PQ top-k with exact refine: static cid probes (partition
    * pruning on a cid-partitioned store) → ADC-rank the probed codes →
    * exact-rescore the top `k·refine` against the raw store → top-k.
    * `raw` is a (id, vec) frame ([[graft.sources.TableStore.loadVectors]]);
    * only `k·refine` of its rows are read, by broadcast id join. */
  def ivfPqTopK(codesIndex: DataFrame, centroids: DataFrame, raw: DataFrame,
                query: Array[Double], cb: Codebook, k: Int,
                nProbe: Int = 4, refine: Int = 3): DataFrame = {
    val probes = AnnKnn.ivfProbesJvm(centroids, query, nProbe)
    val cand = codesIndex.filter(col("cid").isin(probes: _*))
      .select(col("id"), col("codes"))
    refineTopK(adcTopK(cand, query, cb, k * refine), raw, query, k)
  }

  // ---- gates -------------------------------------------------------------

  private val Limit = 20

  /** q90: brute ADC top-20 for the vec_id=0 query over the embeddings
    * table — pins the sampled codebook rule, the L2 encode argmin
    * (round-6, ties → smaller pid), the lut arithmetic, and the
    * j-ascending ADC summation. */
  def pqAdcGate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cb = sampledCodebook(e, "vec_id", "embedding")
    adcTopK(encoded(e, "vec_id", "embedding", cb),
      queryVec(e, "vec_id", "embedding", 0L), cb, Limit)
  }

  /** q91: the full IVF-PQ read path END-TO-END through the persisted
    * store — sampled coarse centroids (q55's rule), PQ codes written
    * partitioned by cid and read back as tinyint, 4 probed lists,
    * ADC top-60, exact refine to top-20 against the float store. The
    * oracle replays every stage, so the gate pins coarse assignment,
    * the store round-trip, ADC ranking, the refine cut, and the final
    * exact scores. */
  def ivfPqGate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cents = AnnKnn.ivfCentroids(e, "vec_id", "embedding", 19)
    val cb = sampledCodebook(e, "vec_id", "embedding")
    val tmp = TmpDirs.create("graft_q91_ivfpq")
    graft.sources.TableStore.savePq(
      ivfPqIndex(e, "vec_id", "embedding", cents, cb), cb, tmp)
    graft.sources.TableStore.saveVectors(e, "vec_id", "embedding", tmp)
    val (store, cbLoaded) = graft.sources.TableStore.loadPq(spark, tmp)
    ivfPqTopK(store, cents, graft.sources.TableStore.loadVectors(spark, tmp),
      queryVec(e, "vec_id", "embedding", 0L), cbLoaded, Limit,
      nProbe = 4, refine = 3)
  }

  // ---- oracle SQL --------------------------------------------------------

  /** Shared CTE block: codebook (sampled rule), per-(vector, subspace)
    * code argmin, per-query lut — the SQL twins of
    * [[sampledCodebook]] / [[graft.functions.PqEncode]] /
    * [[Pq.lutJvm]]. Yields `codes(vec_id, cs)` (m-element pid list)
    * and `lut(L)` (flat m·k list, j-major). */
  private def pqCtes: String = {
    val sub = 8 // 64-dim embeddings / M subspaces
    val idx = s"CAST(r.j*$sub + i + 1 AS BIGINT)"
    s"""cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS pid, v AS cv
       |  FROM (SELECT vec_id, v FROM e WHERE vec_id % $Step = 0 ORDER BY vec_id LIMIT $K) smp),
       |d2 AS (SELECT e.vec_id, r.j, cb.pid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (e.v[$idx] - cb.cv[$idx]) * (e.v[$idx] - cb.cv[$idx]))), 6) AS dist
       |  FROM e, range($M) r(j), cb),
       |codes AS (SELECT vec_id, list(pid ORDER BY j) AS cs FROM (
       |    SELECT vec_id, j, pid,
       |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, pid) AS rn
       |    FROM d2) w WHERE rn = 1 GROUP BY vec_id),
       |lut AS (SELECT list(ip ORDER BY j, pid) AS L FROM (
       |    SELECT r.j, cb.pid, list_sum(list_transform(range($sub), i ->
       |      qv.v[$idx] * cb.cv[$idx])) AS ip
       |    FROM cb, range($M) r(j), qv) t)""".stripMargin
  }

  /** ADC score expression over `codes.cs` + `lut.L` (j-ascending sum,
    * the [[Pq.adc]] order). */
  private def adcSql: String =
    s"round(list_sum(list_transform(range($M), j -> " +
      s"lut.L[CAST(j*$K + c.cs[CAST(j + 1 AS BIGINT)] + 1 AS BIGINT)])), 6)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_pq_adc" -> (pqAdcGate _),
    "q91_ivfpq_knn" -> (ivfPqGate _))

  val oracle: Map[String, String] = Map(
    "q90_pq_adc" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |$pqCtes,
         |s AS (SELECT c.vec_id, $adcSql AS score FROM codes c, lut)
         |SELECT vec_id AS id, score FROM s
         |ORDER BY score DESC, id LIMIT $Limit""".stripMargin,
    "q91_ivfpq_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 19 = 0
         |  ORDER BY vec_id LIMIT 128),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_dot_product(e.v, c.cv), 6) DESC, c.cid DESC) AS rn
         |  FROM e, c) t WHERE rn = 1),
         |probes AS (SELECT cid FROM c, qv
         |  ORDER BY round(list_dot_product(cv, qv.v), 6) DESC, cid LIMIT 4),
         |$pqCtes,
         |adc AS (SELECT c.vec_id, $adcSql AS ascore
         |  FROM codes c JOIN asg USING (vec_id) JOIN probes USING (cid) CROSS JOIN lut),
         |top AS (SELECT vec_id FROM adc ORDER BY ascore DESC, vec_id LIMIT ${Limit * 3})
         |SELECT t.vec_id AS id,
         |  round(list_dot_product(e.v, (SELECT v FROM qv)), 6) AS score
         |FROM top t JOIN e USING (vec_id)
         |ORDER BY score DESC, id LIMIT $Limit""".stripMargin)
}
