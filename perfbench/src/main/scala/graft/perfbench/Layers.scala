package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{FeatureHashEmbedder, HashFunctions, TextFunctions}
import graft.ingest.Pipeline
import graft.model.{Filters, TenantContext}
import graft.operators._
import graft.retrieval.HybridSearch
import graft.serve.QueryService
import graft.sources.{SegmentedStore, TableStore}
import graft.streaming.CurationStream

/** Calls into each layer's public functions, wrapped in spans. The
  * engine is not instrumented: every span is taken around a call the
  * benchmark makes, so the per-layer breakdown of a request comes from
  * replaying its parts through the same public functions the service
  * composes. */
final class Layers(spark: SparkSession, tr: Tracer, work: String) {
  import spark.implicits._
  import Layers._

  private val embedder = FeatureHashEmbedder()

  def parseSearch(resp: String): SearchResp = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val j = parse(resp)
    j \ "status" match {
      case JInt(s) => SearchResp(Nil, Nil, Some(s"$s: ${(j \ "detail").values}"))
      case _ =>
        val rs = (j \ "results").children
        SearchResp(rs.map(r => (r \ "id").values.toString),
          rs.map(r => (r \ "score") match {
            case JDouble(d) => d
            case JInt(i) => i.toDouble
            case _ => Double.NaN
          }), None)
    }
  }

  def search(svc: QueryService, req: SearchReq): String =
    tr.span("serve.search", "mode" -> req.mode) { svc.handle(req.json) }

  /** Replay one search's parts: the store views, the retrieval plan and
    * its execution, each operator leg alone, and the fusion. */
  def replaySearch(root: String, req: SearchReq): Unit = {
    val ctx = TenantContext(req.org)
    val (b, dense) = tr.span("sources.view", "mode" -> req.mode) {
      val m = SegmentedStore.readManifest(root).get
      val b = SegmentedStore.loadView(spark, root, m)
      (b, denseMode(root, m, b, ctx, req.mode))
    }
    val filters: Map[String, Filters.Pred] =
      if (req.filtered) Map("access_level" -> Filters.Eq("internal")) else Map.empty
    val cfg = HybridSearch.Config(limit = 10, embedder = embedder,
      dense = dense)
    val df = tr.span("retrieval.plan") {
      if (req.enhanced)
        HybridSearch.enhancedSearch(b.chunks, req.query, ctx, filters, cfg, Some(b.bm25Index))
      else HybridSearch.search(b.chunks, req.query, ctx, filters, cfg, index = Some(b.bm25Index))
    }
    val n = tr.span("retrieval.exec") { df.collect().length }
    tr.event("retrieval.results", "n" -> n.toString)

    val toks = TextFunctions.tokenizeJvm(req.query)
    val fetch = cfg.limit * cfg.fetchMultiplier
    val bm = tr.span("operators.bm25_leg") {
      BM25.searchFromIndex(b.bm25Index, toks, fetch).collect()
    }
    val scoped = Filters.tenantScope(b.chunks, ctx).filter(col("level") === "paragraph")
    val qvec = embedder.embedQuery(toks)
    val (leg, cands) = denseLeg(scoped, dense, qvec, fetch)
    val dn = tr.span("operators.dense_leg", "mode" -> req.mode) { leg.collect() }
    // the leg's top 10 and, for an index mode, the exact leg's top 10 on
    // the same query (unspanned), for the mode's recall against exact
    def top10(rows: Array[Row]) = rows.map(r => (r.getString(0), r.getAs[Number]("score").doubleValue))
      .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1).mkString(",")
    val query = s"${req.org}|${req.query}"
    tr.event("operators.dense_top10", "mode" -> req.mode, "query" -> query, "ids" -> top10(dn))
    if (req.mode != "exact") {
      val exact = denseLeg(scoped, HybridSearch.DenseMode.Exact, qvec, fetch)._1.collect()
      tr.event("operators.dense_top10", "mode" -> "exact", "query" -> query, "ids" -> top10(exact))
    }
    cands.foreach { c =>
      val nc = c.count()
      tr.event("operators.dense_candidates", "mode" -> req.mode,
        "candidates" -> nc.toString, "results" -> dn.length.toString)
    }
    def ranked(rows: Array[Row]): DataFrame =
      rows.zipWithIndex.map { case (r, i) => (r.getString(0), i + 1) }.toSeq.toDF("id", "rank")
    val (bmDf, dnDf) = (ranked(bm), ranked(dn))
    tr.span("operators.fusion") {
      Fusion.fuseTopK(Seq(bmDf -> 0.3, dnDf -> 0.5), cfg.limit).collect()
    }
  }

  /** The dense index a search in `mode` reads, built the way the
    * service builds it from the store's sidecar views. */
  private def denseMode(root: String, m: SegmentedStore.Manifest,
                        b: Pipeline.IndexBundle, ctx: TenantContext,
                        mode: String): HybridSearch.DenseMode = mode match {
    case "exact" => HybridSearch.DenseMode.Exact
    case "ann" =>
      val s = SegmentedStore.annView(spark, root, m).get
      HybridSearch.DenseMode.AnnLsh(s.filter(col("organization_id") === ctx.organizationId),
        tables = m.lshTables, bits = m.lshBits)
    case "quantized" =>
      HybridSearch.DenseMode.Quantized(SegmentedStore.quantizedView(spark, root, m).get)
    case "ivfpq" =>
      val (codes, cents, cb) = SegmentedStore.pqView(spark, root, m).get
      HybridSearch.DenseMode.IvfPq(codes, cents, cb,
        b.chunks.filter(col("embedding").isNotNull)
          .select(col("id"), col("embedding").cast("array<double>").as("vec")))
    case "hnsw" =>
      HybridSearch.DenseMode.Hnsw(SegmentedStore.hnswView(spark, root, m).get
        .filter(col("organization_id") === ctx.organizationId))
  }

  /** The dense leg's top-fetch frame and, for the candidate-generating
    * modes, the candidate frame it cuts from. */
  private def denseLeg(scoped: DataFrame, mode: HybridSearch.DenseMode,
                       qvec: Array[Double], fetch: Int): (DataFrame, Option[DataFrame]) = {
    def scopeIds(c: DataFrame) = c.join(scoped.select(col("id")), Seq("id"), "left_semi")
    mode match {
      case HybridSearch.DenseMode.Exact =>
        (DenseKnn.topK(scoped, "id", "embedding", Seq(Tuple1(qvec)).toDF("qvec"), "qvec", fetch), None)
      case HybridSearch.DenseMode.AnnLsh(store, tables, bits, extra) =>
        val c = scopeIds(AnnKnn.storeCandidates(store, qvec, tables, bits, extra))
        (AnnKnn.rescoreTopK(c, qvec, fetch), Some(c))
      case HybridSearch.DenseMode.Quantized(store) =>
        val (qc, qs) = Quantize.quantizeJvm(qvec)
        (scopeIds(store).select(col("id"),
          round(Quantize.dotI8(col("codes"), col("scale"), typedLit(qc.toSeq), lit(qs)), 6).as("score"))
          .orderBy(col("score").desc, col("id")).limit(fetch), None)
      case HybridSearch.DenseMode.Hnsw(index, ef) =>
        val c = scopeIds(Hnsw.servingCandidates(index, qvec, math.max(ef, fetch)))
        (c.orderBy(col("score").desc, col("id")).limit(fetch), Some(c))
      case HybridSearch.DenseMode.IvfPq(codes, cents, cb, raw, nProbe, refine) =>
        val probes = AnnKnn.ivfProbesJvm(cents, qvec, nProbe)
        val c = scopeIds(codes.filter(col("cid").isin(probes: _*)).select(col("id"), col("codes")))
        (PqKnn.refineTopK(PqKnn.adcTopK(c, qvec, cb, fetch * refine), raw, qvec, fetch), Some(c))
      case other => sys.error(s"unsupported dense mode $other")
    }
  }

  /** `QueryService.ingestBatch` of (filename, text, organization_id)
    * rows holding `bytes` of text, and the files it adds to the store. */
  def ingestBatch(svc: QueryService, docs: DataFrame, bytes: Long): Long = {
    val files0 = if (tr.enabled) Disk.filesUnder(svc.storeRoot) else 0L
    val n = tr.span("serve.ingest_batch", "bytes" -> bytes.toString) { svc.ingestBatch(docs) }
    if (tr.enabled)
      tr.event("sources.files_written", "n" -> (Disk.filesUnder(svc.storeRoot) - files0).toString)
    n
  }

  /** Replay an ingest's two steps alone: `Pipeline.ingest` over the
    * (doc_id, text, org) rows, materialized, and a full-snapshot save
    * of its output. */
  def replayPipeline(df: DataFrame, docs: Int): Unit = {
    val bundle = tr.span("ingest.pipeline") {
      val b = Pipeline.ingest(df, embedder, orgCol = Some("org"))
      val n = b.chunks.count(); b.postings.count()
      tr.event("ingest.chunks", "n" -> n.toString, "docs" -> docs.toString)
      b
    }
    tr.span("sources.table_save") {
      TableStore.save(bundle, s"$work/replay_save_${tr.req}")
    }
    bundle.chunks.unpersist()
  }

  /** Each stage `TrainingPipeline.curate` composes, materialized alone
    * over the same input, plus a projection-only pass of the text and
    * hash kernels and the embedder. */
  def curateStages(corpus: DataFrame, eval: DataFrame): Unit = {
    def stage(name: String)(df: => DataFrame): Unit =
      tr.span("operators.curate_stage", "stage" -> name) {
        df.write.format("noop").mode("overwrite").save()
      }
    stage("exact_dedup")(Dedup.exactGroups(corpus, "id", "text"))
    stage("line_clean")(Clean.lineClean(corpus, "id", "text", 3))
    stage("line_dedup")(Clean.dedupRepeatedLines(corpus, "id", "text"))
    val toks = corpus.select(col("id"), col("stratum"), TextFunctions.tokenize(col("text")).as("toks"))
    tr.span("operators.curate_stage", "stage" -> "near_dedup") {
      val sigs = Dedup.minhashSignatures(toks, "id", "toks", 16)
      val cands = Dedup.lshCandidates(sigs, 4, 4).cache()
      val nc = cands.count()
      val (pairs, release) = Dedup.jaccardVerifyStaged(cands, toks, "id", "toks")
      val nv = pairs.filter(col("jaccard") >= 0.8).count()
      release(); cands.unpersist()
      tr.event("operators.lsh", "candidates" -> nc.toString, "verified" -> nv.toString)
    }
    stage("decontam")(Curation.contamination(toks,
      eval.select(TextFunctions.tokenize(col("text")).as("toks")), "id", "toks", 8))
    stage("sample_pack")(Curation.packSequences(
      Curation.stratifiedSample(toks, "id", "stratum", Map.empty, 1.0, "s42")
        .select(col("id"), size(col("toks")).cast("long").as("n_tokens")),
      "id", "n_tokens", 512L))
    tr.span("functions.kernel_pass") {
      val t = corpus.select(col("id"), TextFunctions.tokenize(col("text")).as("toks"))
      val sh = t.select(col("id"), col("toks"),
        HashFunctions.hash56Map(TextFunctions.shingles(col("toks"), 3)).as("h"))
      val sig = sh.select(col("id"), col("toks"), HashFunctions.minhashSig(col("h"), 16).as("sig"))
      embedder.embedFrame(sig.select(col("id"), col("toks"),
          HashFunctions.bandKeys(col("sig"), 4, 4).as("bands")), "toks", "emb")
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Micro-batches through the streaming curation core, the state
    * append and an LSM compaction of the state, each spanned. */
  def stream(batches: Seq[Seq[(Long, String)]], stateDir: String): Unit = {
    batches.foreach { b =>
      tr.span("streaming.batch", "docs" -> b.size.toString) {
        val df = b.toDF("id", "text")
        val out = tr.span("streaming.curate") {
          CurationStream.curateSurvivorsDeferred(df, stateDir)
        }
        tr.span("streaming.commit") { out.commit() }
        out.release()
        tr.event("streaming.survivors", "n" -> out.n.toString, "docs" -> b.size.toString)
      }
    }
    tr.span("streaming.compact") { CurationStream.compactState(spark, stateDir) }
    tr.event("streaming.state", "files" -> Disk.filesUnder(stateDir).toString)
  }
}

object Layers {
  val Modes = Seq("exact", "ann", "quantized", "ivfpq", "hnsw")

  final case class SearchReq(org: String, query: String, mode: String,
                             filtered: Boolean, enhanced: Boolean) {
    def json: String = {
      val f = if (filtered) ""","filters":{"access_level":"internal"}""" else ""
      val e = if (enhanced) ""","enhanced":true""" else ""
      s"""{"op":"search","organization_id":"$org","query":"$query","limit":10,""" +
        s""""dense_mode":"$mode"$f$e}"""
    }
  }

  /** Parsed search response: ids and scores, or the error detail. */
  final case class SearchResp(ids: Seq[String], scores: Seq[Double], error: Option[String])
}
