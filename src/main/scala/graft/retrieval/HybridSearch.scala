package graft.retrieval

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.functions.{EmbedFunctions, Embedder, FeatureHashEmbedder, TextFunctions, VectorFunctions}
import graft.model.{Filters, TenantContext}
import graft.operators.{AnnKnn, BM25, DenseKnn, Fusion, Hnsw, HnswServing, PqKnn, Quantize}
import graft.sources.{SegmentedStore, TableStore}

/** Hybrid retrieval façade (V5, reference
  * `src/retrieval/hybrid_search.py:219-430`): tenant scope → per-method
  * retrieval (BM25 / dense / optional ColPali page propagation) with
  * over-fetch limit×3 → weighted RRF (k=60) → final cut → detail join.
  * Weight resolution: custom > query-analyzer dynamic > defaults
  * {bm25 .3, dense .5, colpali .2} (`hybrid_search.py:184-217`).
  *
  * The enhanced path (§3.3, `enhanced_hybrid_search.py:236-367`) adds
  * query classification, acronym expansion, precision fallback (+0.5
  * boosted BM25 for "Table 3"-style terms, merged first-writer-wins J8)
  * and keyword/filterless fallbacks V10.
  */
object HybridSearch {

  val DefaultWeights: Map[String, Double] =
    Map("bm25" -> 0.3, "dense" -> 0.5, "colpali" -> 0.2)

  /** Dense-branch index selection — the serving equivalent of the
    * reference's HNSW-behind-a-filtered-query architecture
    * (`vector_store.py:230-273`). Every non-exact mode scopes its
    * candidates with a semi-join on the tenant/filter-scoped chunk ids
    * BEFORE the top-k cut, so tenancy/filters hold identically in all
    * modes; only the candidate-generation physics changes:
    *  - [[DenseMode.Exact]]: brute-force codegen dot over the scoped
    *    chunks' raw embedding column (the oracle baseline; a
    *    full-corpus scan per query).
    *  - [[DenseMode.AnnLsh]]: static-pruned (tbl, bucket) probes of a
    *    [[graft.sources.TableStore.saveAnn]] store — reads only the
    *    probed buckets.
    *  - [[DenseMode.AnnIvf]]: static cid probes of the in-memory
    *    [[graft.operators.AnnKnn.ivfIndex]] posting table (one row per
    *    vector, keyed by its nearest coarse centroid).
    *  - [[DenseMode.Quantized]]: exact scan over the int8 store
    *    ([[graft.sources.TableStore.saveQuantized]]) — reads tinyint
    *    codes + one scale instead of the float64 embedding column
    *    (4× less scan bandwidth), never touching raw embeddings. */
  sealed trait DenseMode
  object DenseMode {
    case object Exact extends DenseMode
    final case class AnnLsh(
        store: DataFrame,
        tables: Int = AnnKnn.DefaultTables,
        bits: Int = AnnKnn.DefaultBits,
        extraProbes: Int = 2) extends DenseMode
    final case class AnnIvf(
        index: DataFrame,
        centroids: DataFrame,
        nProbe: Int = 4) extends DenseMode
    final case class Quantized(store: DataFrame) extends DenseMode
    /** IVF-PQ with exact refine ([[graft.operators.PqKnn.ivfPqTopK]]):
      * cid-pruned probes → ADC over m-byte codes → exact rescore of
      * the top fetch·refine candidates against the float sidecar
      * `raw` (id, vec). The serving shape when raw vectors stop
      * fitting the hot tier. */
    final case class IvfPq(
        codes: DataFrame,
        centroids: DataFrame,
        cb: graft.operators.PqKnn.Codebook,
        raw: DataFrame,
        nProbe: Int = 4,
        refine: Int = 3) extends DenseMode
    /** Graph ANN over the serving HNSW sidecar
      * ([[graft.operators.Hnsw.servingCandidates]]): per-shard beam
      * search, id translation inside the shard row, scope semi-join on
      * the candidates, global top-fetch. Pre-filter the Dataset on
      * organization_id for the partition-pruned tenant scan. */
    final case class Hnsw(
        index: Dataset[HnswServing],
        ef: Int = graft.operators.Hnsw.DefaultEfSearch) extends DenseMode
  }

  case class Config(
      limit: Int = 10,
      fetchMultiplier: Int = 3, // `hybrid_search.py:256`
      rrfK: Int = Fusion.RrfK,
      // pluggable dense-model seam (I9); must match the ingest-time
      // embedder or dense scores are meaningless
      embedder: Embedder = FeatureHashEmbedder(),
      weights: Option[Map[String, Double]] = None,
      // F7 (`master_pipeline.py:572,706`): paragraph chunks are the
      // primary retrieval unit; None searches all levels
      levelFilter: Option[String] = Some("paragraph"),
      // dense index selection; non-exact stores must be built over the
      // SAME ids/embeddings as the chunk table being searched
      dense: DenseMode = DenseMode.Exact,
      // J2 detail (text + per-method score/rank). Off, a search yields
      // (id, rrf_score) only: the lazy plan drops its detail joins
      // (Spark does not eliminate an unused left join, so callers that
      // project (id, rrf_score), like the merge-only gates, turn it
      // off) and the request path skips its text read
      detail: Boolean = true)

  /** The rows of the tenant scope a leg reads: the request filters
    * (`filtered`) and the configured chunk level (`level`) apply or
    * not. The base search reads [[Searched]], the enhanced path's BM25
    * lookups [[Keyword]] and its filterless retry [[Expanded]]. */
  private[retrieval] final case class Scope(level: Boolean, filtered: Boolean)
  private[retrieval] val Searched = Scope(level = true, filtered = true)
  private[retrieval] val Keyword = Scope(level = false, filtered = true)
  private[retrieval] val Expanded = Scope(level = true, filtered = false)

  /** A retrieval leg before it is evaluated: its top `k` (id, score)
    * rows over `scope`, ordered by score descending then id. */
  private[retrieval] sealed trait LegQuery { def scope: Scope }
  private[retrieval] final case class Bm25Query(tokens: Seq[String], k: Int, scope: Scope)
      extends LegQuery
  private[retrieval] final case class DenseQuery(qvec: Array[Double], k: Int, scope: Scope)
      extends LegQuery
  private[retrieval] final case class ColpaliQuery(pages: DataFrame, tokens: Seq[String],
                                                   k: Int, scope: Scope) extends LegQuery

  /** One retrieval leg of a request and its RRF weight. */
  private final case class Leg(name: String, weight: Double, query: LegQuery)

  /** The legs both forms of hybrid search fuse: weight resolution, the
    * BM25 leg, the dense leg under `cfg.dense`, and the ColPali leg
    * when `pages` are given, each over `scope`. A method with weight 0
    * (or BM25 without query tokens) has no leg. */
  private def plan(query: String, cfg: Config, scope: Scope,
                   pages: Option[DataFrame]): Seq[Leg] = {
    val analysis = QueryAnalyzer.analyze(query)
    val weights = cfg.weights.getOrElse {
      // dynamic weights only when the analyzer suggests non-text
      if (analysis.modality == QueryAnalyzer.Text) DefaultWeights
      else analysis.weights
    }
    def w(method: String): Double = weights.getOrElse(method, 0.0)
    val fetch = cfg.limit * cfg.fetchMultiplier
    val qTokens = TextFunctions.tokenizeJvm(query)
    Seq(
      // BM25 branch (positive-scores semantics, `bm25_store.py:235`)
      Option.when(qTokens.nonEmpty && w("bm25") > 0)(
        Leg("bm25", w("bm25"), Bm25Query(qTokens, fetch, scope))),
      // dense branch: deterministic feature-hash query embedding (I9),
      // candidate generation per cfg.dense
      Option.when(w("dense") > 0)(
        Leg("dense", w("dense"), DenseQuery(cfg.embedder.embedQuery(qTokens), fetch, scope))),
      // ColPali branch (J3/J4): page-level MaxSim propagated to chunks
      pages.filter(_ => w("colpali") > 0).map(pg =>
        Leg("colpali", w("colpali"), ColpaliQuery(pg, qTokens, fetch, scope)))
    ).flatten
  }

  /** A leg's evaluated row: its score (None where Spark has NULL) and
    * its 1-based rank by score descending, then id. */
  private[retrieval] final case class LegRow(id: Any, score: Option[Double], rank: Int)

  /** (id, score) rows ranked as [[search]]'s window ranks them. */
  private[retrieval] def ranked(rows: Seq[(Any, Option[Double])]): Seq[LegRow] =
    rows.sortWith(Fusion.compareScoreDescId(_, _) < 0)
      .zipWithIndex.map { case ((id, sc), i) => LegRow(id, sc, i + 1) }

  /** How a request's legs are evaluated: as Spark frames collected
    * concurrently ([[SparkLegs]]), or on the driver from one wave of
    * tenant-slice reads ([[SliceSearch]]). */
  private[retrieval] trait Legs {
    /** Each query's rows, ranked. */
    def rows(queries: Seq[LegQuery]): Seq[Seq[LegRow]]
    /** The text of `ids` within the [[Searched]] scope. */
    def text(ids: Seq[Any]): Map[Any, Option[String]]
  }

  /** The Spark evaluation of legs over `chunks`: each leg a frame —
    * the BM25 leg scored from `index` when given — collected
    * concurrently, settle-all ([[SegmentedStore.awaitAllValues]]): no
    * leg job outlives the call, and a leg's failure reaches the caller
    * unchanged. */
  private final class SparkLegs(chunks: DataFrame, ctx: TenantContext,
                                filters: Map[String, Filters.Pred], cfg: Config,
                                index: Option[BM25.Index]) extends Legs {
    def scoped(s: Scope): DataFrame = {
      val sc = Filters.tenantScope(chunks, ctx)
        .filter(Filters.compile(if (s.filtered) filters else Map.empty))
      cfg.levelFilter match {
        case Some(lv) if s.level && chunks.columns.contains("level") =>
          sc.filter(col("level") === lv)
        case _ => sc
      }
    }

    def frame(q: LegQuery): DataFrame = q match {
      case Bm25Query(tokens, k, s) => scopedBm25(scoped(s), tokens, k, index)
      case DenseQuery(qvec, k, s) => denseTopK(scoped(s), qvec, k, cfg)
      case ColpaliQuery(pages, tokens, k, s) => colpaliPropagate(scoped(s), pages, tokens, cfg, k)
    }

    def rows(queries: Seq[LegQuery]): Seq[Seq[LegRow]] =
      SegmentedStore.awaitAllValues(queries.map(q => () => frame(q).collect()))
        .map(rs => ranked(rs.toSeq.map(r => (r.get(0),
          if (r.isNullAt(1)) None else Some(r.getAs[Number](1).doubleValue())))))

    def text(ids: Seq[Any]): Map[Any, Option[String]] =
      scoped(Searched).filter(TableStore.isInStrings("id", ids.map(_.toString)))
        .select(col("id"), col("text")).collect()
        .map(r => r.get(0) -> Option(r.getString(1))).toMap
  }

  /** The legs of a request: with an `index`, from one wave of
    * tenant-slice reads when the slice fits [[SliceSearch]]'s bounds;
    * else Spark's. */
  private def evaluator(chunks: DataFrame, ctx: TenantContext,
                        filters: Map[String, Filters.Pred], cfg: Config,
                        index: Option[BM25.Index],
                        queries: Seq[LegQuery], withText: Boolean): Legs =
    index.flatMap(SliceSearch.read(chunks, ctx, filters, cfg, _, queries, withText))
      .getOrElse(new SparkLegs(chunks, ctx, filters, cfg, index))

  /** Chunk-table hybrid search as one lazy plan. `chunks` needs
    * columns: id, text, organization_id (+ tenant columns), embedding.
    * Returns the fused top-k with per-method detail (J2): (id,
    * rrf_score, text, bm25_score, bm25_rank, dense_score, dense_rank).
    * [[searchHits]] answers the same request from the same legs on the
    * driver. With a prebuilt `index` the BM25 leg scores from the
    * persisted postings/idf (global corpus stats + post-scoring filter,
    * the reference's F1 semantics, `bm25_store.py:190-244`) — the query
    * touches only its own terms' posting lists. */
  def search(chunks: DataFrame, query: String, ctx: TenantContext,
             filters: Map[String, Filters.Pred] = Map.empty,
             cfg: Config = Config(),
             pages: Option[DataFrame] = None,
             index: Option[BM25.Index] = None): DataFrame = {
    val legs = new SparkLegs(chunks, ctx, filters, cfg, index)
    val scoped = legs.scoped(Searched)
    val legList = plan(query, cfg, Searched, pages)

    // per-method ranked lists: rank assigned by ONE window over the
    // already-cut top-fetch rows (ids unique ⇒ identical to the
    // rank-then-self-join formulation, but the corpus-scoring subtree
    // under the limit is planned once, not twice per use)
    def withRank(scoredTopK: DataFrame): DataFrame =
      scoredTopK.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))

    val built = legList.map(l => (withRank(legs.frame(l.query)), l.weight, l.name))
    if (built.isEmpty)
      // keep the normal output schema so downstream selects (e.g.
      // enhancedSearch's id/rrf_score projection) still resolve
      return scoped.select(col("id"), lit(0.0).as("rrf_score"), col("text"))
        .limit(0)

    val fused = Fusion.fuseTopK(built.map(m => (m._1, m._2)), cfg.limit, cfg.rrfK)
    if (!cfg.detail)
      return fused.orderBy(col("rrf_score").desc, col("id"))

    // detail join (J2, `hybrid_search.py:409-430`): attach text +
    // per-method score/rank; all right sides are top-k lists → broadcast
    val withDetail = built.foldLeft(fused) { case (acc, (ranked, _, name)) =>
      acc.join(
        broadcast(ranked.select(col("id"),
          col("score").as(s"${name}_score"), col("rank").as(s"${name}_rank"))),
        Seq("id"), "left")
    }
    // text lookup: semi-filter the (corpus-sized) scoped table down to
    // the fused top-k ids first, THEN broadcast the ≤k-row result —
    // never broadcast the corpus side
    val detailText = scoped.select(col("id"), col("text"))
      .join(broadcast(fused.select(col("id"))), Seq("id"), "left_semi")
    withDetail
      .join(broadcast(detailText), Seq("id"), "left")
      .orderBy(col("rrf_score").desc, col("id"))
  }

  /** One fused result of [[searchHits]]: `detail` maps each method
    * whose leg holds the id to (score, rank) — [[search]]'s
    * `<method>_score` / `<method>_rank` columns. */
  final case class Hit(id: Any, rrfScore: Double, text: Option[String],
                       detail: Map[String, (Option[Double], Int)])

  private def fuseLegs(legList: Seq[Leg], rows: Seq[Seq[LegRow]],
                       limit: Int, rrfK: Int): Seq[(Any, Double)] =
    Fusion.fuseTopKLocal(
      legList.zip(rows).map { case (l, rs) => (rs.map(r => (r.id, r.rank)), l.weight) },
      limit, rrfK)

  /** The request path of [[search]]: the same legs, fused on the
    * driver ([[Fusion.fuseTopKLocal]]), each method's score and rank
    * taken from its leg. Equal to `search(...).collect()` row for row.
    *
    * With an `index`, a tenant slice within
    * [[SliceSearch]]'s bounds is answered from one concurrent wave of
    * narrow reads, every leg, the fusion and the text computed on the
    * driver. Otherwise — or when the slice overflows a bound — each
    * leg is collected (≤ limit × fetchMultiplier rows) concurrently
    * and the text of the fused ids read with one `id IN (…)` filter
    * over the scope: a few small jobs in one wave plus the text read,
    * where the lazy plan runs a chain of dependent AQE stages and,
    * across dense modes, more generated code than Spark's codegen
    * cache holds. */
  def searchHits(chunks: DataFrame, query: String, ctx: TenantContext,
                 filters: Map[String, Filters.Pred] = Map.empty,
                 cfg: Config = Config(),
                 pages: Option[DataFrame] = None,
                 index: Option[BM25.Index] = None): Seq[Hit] = {
    val legList = plan(query, cfg, Searched, pages)
    if (legList.isEmpty) return Nil
    val legs = evaluator(chunks, ctx, filters, cfg, index,
      legList.map(_.query), withText = cfg.detail)
    val rows = legs.rows(legList.map(_.query))
    val fused = fuseLegs(legList, rows, cfg.limit, cfg.rrfK)
    val text: Map[Any, Option[String]] =
      if (!cfg.detail || fused.isEmpty) Map.empty else legs.text(fused.map(_._1))
    val byId = legList.zip(rows).map { case (l, rs) =>
      l.name -> rs.map(r => r.id -> (r.score, r.rank)).toMap }
    fused.map { case (id, sc) =>
      Hit(id, sc, text.get(id).flatten,
        if (cfg.detail) byId.flatMap { case (m, d) => d.get(id).map(m -> _) }.toMap
        else Map.empty)
    }
  }

  /** The dense branch's (id, score) top-fetch under cfg.dense. Every
    * mode scopes on the tenant/filter-scoped ids BEFORE its top-k cut
    * (filter-pushed candidate generation, `vector_store.py:230-273`) —
    * a post-cut filter would return fewer than k results whenever the
    * global top-k strays outside the tenant. */
  private def denseTopK(scoped: DataFrame, qvec: Array[Double], fetch: Int,
                        cfg: Config): DataFrame = {
    def scopeIds(cand: DataFrame): DataFrame =
      cand.join(scoped.select(col("id")), Seq("id"), "left_semi")
    cfg.dense match {
      case DenseMode.Exact =>
        val spark = scoped.sparkSession
        import spark.implicits._
        val qdf = Seq(Tuple1(qvec)).toDF("qvec")
        DenseKnn.topK(scoped, "id", "embedding", qdf, "qvec", fetch)
      case DenseMode.AnnLsh(store, tables, bits, extraProbes) =>
        AnnKnn.rescoreTopK(
          scopeIds(AnnKnn.storeCandidates(store, qvec, tables, bits, extraProbes)),
          qvec, fetch)
      case DenseMode.AnnIvf(index, centroids, nProbe) =>
        AnnKnn.rescoreTopK(
          scopeIds(AnnKnn.ivfStoreCandidates(index,
            AnnKnn.ivfProbesJvm(centroids, qvec, nProbe))),
          qvec, fetch)
      case DenseMode.Quantized(store) =>
        val (qcodes, qscale) = Quantize.quantizeJvm(qvec)
        scopeIds(store)
          .select(col("id"),
            round(Quantize.dotI8(col("codes"), col("scale"),
              typedLit(qcodes.toSeq), lit(qscale)), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(fetch)
      case DenseMode.Hnsw(index, ef) =>
        // beam wide enough to survive the scope cut (same over-fetch
        // stance as the LSH candidate path); ≤ shards·ef candidate
        // rows, so the semi-join and sort are tiny
        scopeIds(Hnsw.servingCandidates(index, qvec, math.max(ef, fetch)))
          .orderBy(col("score").desc, col("id"))
          .limit(fetch)
      case DenseMode.IvfPq(codes, centroids, cb, raw, nProbe, refine) =>
        // compressed-domain candidates from the probed (cid-pruned)
        // lists, tenant/filter scope applied BEFORE the ADC cut so
        // scoping never starves the k; exact refine by broadcast id
        // join against the float sidecar
        val probes = AnnKnn.ivfProbesJvm(centroids, qvec, nProbe)
        PqKnn.refineTopK(
          PqKnn.adcTopK(
            scopeIds(codes.filter(col("cid").isin(probes: _*))
              .select(col("id"), col("codes"))),
            qvec, cb, fetch * refine),
          raw, qvec, fetch)
    }
  }

  /** J3/J4 (`hybrid_search.py:307-394`): MaxSim-score pages against the
    * query's patch matrix, propagate to chunks on (document_id,
    * page_number); chunks with no scored page fall back to max doc page
    * score × 0.8 on document_id. `pages` needs (document_id,
    * page_number) plus EITHER a `packed` f32 blob column (the
    * [[graft.sources.TableStore.savePages]] store layout — measured
    * 2.3× faster than nested array<array<double>> at the real ColPali
    * shape, where per-element parquet decode costs ~20× the MaxSim
    * math) or a nested `patches` column, packed on the fly so the
    * scoring kernel is the packed one either way. Chunks need (id,
    * document_id, page_number). `dim` is the per-patch width (16 — the
    * query-side embedQuery width). */
  def colpaliPropagate(chunks: DataFrame, pages: DataFrame,
                       qTokens: Seq[String], cfg: Config,
                       fetch: Int, dim: Int = 16): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    // query patch matrix: one row per token (deterministic stand-in for
    // the ColPali query embedder, I10)
    val qpatches = qTokens.take(32)
      .map(t => EmbedFunctions.embedQuery(Seq(t), dim).toSeq)
    val qdf = Seq(Tuple1(qpatches)).toDF("qpatches")

    val packed =
      if (pages.columns.contains("packed")) pages
      else pages.withColumn("packed",
        VectorFunctions.packF32(col("patches"), dim))
    val pageScores = packed.crossJoin(broadcast(qdf))
      .select(col("document_id"), col("page_number"),
        round(VectorFunctions.maxsimF32(col("qpatches"), col("packed"), dim), 6)
          .as("pscore"))

    val direct = chunks
      .join(pageScores, Seq("document_id", "page_number"))
      .select(col("id"), col("pscore").as("score"))

    // fallback: best page score per document × 0.8 (`:367-394`)
    val docBest = pageScores.groupBy("document_id")
      .agg((max(col("pscore")) * 0.8).as("fallback_score"))
    val fallback = chunks
      .join(direct.select(col("id")), Seq("id"), "left_anti")
      .join(broadcast(docBest), Seq("document_id"))
      .select(col("id"), col("fallback_score").as("score"))

    direct.unionByName(fallback)
      .select(col("id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(fetch)
  }

  /** Enhanced search (§3.3): classification + acronym expansion +
    * precision fallback merged first-writer-wins (J8,
    * `enhanced_hybrid_search.py:475-496`) + executed V10 failure
    * fallbacks (`enhanced_hybrid_search.py:436-473`).
    *
    * V10 semantics: failure signals are computed on the (precision-
    * merged) base result; when confidence < 0.5 the recommended
    * retries run and merge in front of the base, first-writer-wins:
    *  - `try_keyword_search` → pure BM25 retry (original query, same
    *    filters, k=5; scores pass through as final scores, reference
    *    `:447-461`)
    *  - `expand_search` → filterless re-search at k=5 (`:463-470`).
    *    The reference drops ALL filters including tenancy; tenant
    *    isolation is this engine's hard invariant
    *    (`tenant_schema.py:1-14`), so ctx is retained and only the
    *    user filters are dropped.
    *  - `no_results_fallback` (empty base): the reference computes
    *    this recommendation but `_apply_fallbacks` never acts on it —
    *    the self-correcting loop's one dead branch. Completed here as
    *    both retries, which is the only way any fallback can execute
    *    at all: non-empty results floor confidence at 0.7
    *    (deductions cap at 0.2+0.1, `:157-193`), so conf < 0.5 ⟺
    *    empty base.
    *
    * Runs on the request path of [[searchHits]]: the base search's
    * legs (limit×2, detail off) and the precision lookup are evaluated
    * together, and the fusion, the precision merge, the failure
    * signals and the retry merge are driver code over at most 2·limit
    * rows. With Spark's legs, each evaluation is one concurrent wave,
    * so a retry (empty base only) is one more; a tenant slice (with an
    * `index`, as in [[searchHits]]) is read once for the base, the
    * lookups and the retries alike. The result is a local DataFrame (id,
    * rrf_score, query_type) — no cached base, no stats job, no window
    * merge. */
  def enhancedSearch(chunks: DataFrame, query: String, ctx: TenantContext,
                     filters: Map[String, Filters.Pred] = Map.empty,
                     cfg: Config = Config(),
                     index: Option[BM25.Index] = None): DataFrame = {
    val queryType = QueryAnalyzer.classify(query)
    val rows = enhancedHits(chunks, query, ctx, filters, cfg, index)
      .map { case (id, sc) => Row(id, sc, queryType) }
    val schema = StructType(Seq(chunks.schema("id").copy(nullable = true),
      StructField("rrf_score", DoubleType), StructField("query_type", StringType)))
    chunks.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** [[enhancedSearch]]'s ranked (id, rrf_score) rows, without the
    * constant query_type column. */
  def enhancedHits(chunks: DataFrame, query: String, ctx: TenantContext,
                   filters: Map[String, Filters.Pred] = Map.empty,
                   cfg: Config = Config(),
                   index: Option[BM25.Index] = None): Seq[(Any, Double)] = {
    val (expanded, _) = Acronyms.expandQuery(query)
    // base search at limit×2 (`enhanced_hybrid_search.py:277`), its
    // (id, rrf_score) only
    val baseLimit = cfg.limit * 2
    val base = plan(expanded, cfg.copy(limit = baseLimit), Searched, None)
    // V9: BM25-only lookups for the reference terms, +0.5 boost
    val precision = (QueryAnalyzer.detectPrecision(query) match {
      case (true, Some(ptype), Some(ref)) =>
        Some(QueryAnalyzer.precisionSearchTerms(ptype, ref)
          .flatMap(TextFunctions.tokenizeJvm).distinct).filter(_.nonEmpty)
      case _ => None
    }).map(Bm25Query(_, 5, Keyword))
    // the V10 retries, planned up front so a slice read covers them:
    // a pure BM25 retry and a filterless re-search, both at k=5
    val keyword = Bm25Query(TextFunctions.tokenizeJvm(query), 5, Keyword)
    val expand = plan(query, cfg.copy(limit = 5), Expanded, None)
    val legs = evaluator(chunks, ctx, filters, cfg, index,
      base.map(_.query) ++ precision ++ (keyword +: expand.map(_.query)), withText = false)

    val collected = legs.rows(base.map(_.query) ++ precision)
    val baseRows = fuseLegs(base, collected, baseLimit, cfg.rrfK)
    val merged = precision match {
      case Some(_) =>
        val prec = collected.last.map(r => (r.id, r.score.get + 0.5))
        mergeFirstWriterWinsLocal(Seq(prec, baseRows))
      case None => baseRows
    }

    // V10 steps 6-7: failure analysis on the merged base, then retries.
    // The source count feeds only `expand_search`, which acts below
    // confidence 0.5, and non-empty results floor confidence at 0.7 —
    // so no document-id read is made for it
    val signals = analyzeFailure(merged.map(_._2), nSources = 0)
    val afterFallback =
      if (signals.confidence >= 0.5) merged
      else {
        val recs = signals.recommendations.toSet
        val noResults = recs.contains("no_results_fallback")
        val kwQuery = Option.when(recs.contains("try_keyword_search") || noResults)(keyword)
        val exLegs = Option.when(recs.contains("expand_search") || noResults)(expand)
        val retryRows = legs.rows(kwQuery.toSeq ++ exLegs.toSeq.flatMap(_.map(_.query)))
        val kw = kwQuery.map(_ => retryRows.head.map(r => (r.id, r.score.get)))
        val ex = exLegs.map(e => fuseLegs(e, retryRows.drop(kw.size), 5, cfg.rrfK))
        // retry order, then the base
        mergeFirstWriterWinsLocal(kw.toSeq ++ ex.toSeq :+ merged)
      }

    Fusion.sortScoreDescId(afterFallback).take(cfg.limit)
  }

  /** J5 graph augmentation (`document_graph.py:542-602`): BFS ≤2 hops
    * from the top-5 result documents over the relationship edges,
    * append up to maxAugmented unseen documents ranked by mean path
    * confidence. `results` needs (id, document_id, rrf_score);
    * `edges` needs (src, dst, confidence). Augmented rows carry
    * is_augmented=true and the path score as their score. */
  def augmentWithGraph(results: DataFrame, edges: DataFrame,
                       maxAugmented: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val top5Docs = results.orderBy(col("rrf_score").desc, col("id")).limit(5)
      .select(col("document_id").as("node")).distinct()
    val seenDocs = results.select(col("document_id").as("node")).distinct()
    val candidates = graft.operators.GraphOps
      .relatedWeighted(edges, top5Docs, maxDepth = 2)
      .join(seenDocs, Seq("node"), "left_anti")
      .orderBy(col("path_score").desc, col("node"))
      .limit(maxAugmented)
      .select(
        col("node").cast("string").as("id"),
        col("node").cast("string").as("document_id"),
        col("path_score").as("rrf_score"),
        lit(true).as("is_augmented"))
    results.withColumn("is_augmented", lit(false)).unionByName(candidates)
  }

  /** V13 visual-element search (`vector_store.py:695-780`,
    * `hybrid_search.py:474-573`): MaxSim over the cropped-element
    * collection with an element_type filter; called with limit/2 by the
    * hybrid path (T8) and auto-triggered when the analyzer's
    * visual_score ≥ 0.3 (`query_analyzer.py:51-53`). `elements` needs
    * (id, document_id, element_type) plus a `packed` f32 blob (the
    * [[graft.sources.TableStore.savePages]] element-store layout) or a
    * nested `patches` column, packed on the fly — the packed kernel is
    * the scoring path either way (the measured-2.3× serving layout). */
  def visualElementSearch(elements: DataFrame, query: String,
                          limit: Int,
                          elementTypes: Seq[String] = Nil,
                          cfg: Config = Config(),
                          dim: Int = 16): DataFrame = {
    val spark = elements.sparkSession
    import spark.implicits._
    val qTokens = TextFunctions.tokenizeJvm(query)
    val qpatches = qTokens.take(32)
      .map(t => EmbedFunctions.embedQuery(Seq(t), dim).toSeq)
    val qdf = Seq(Tuple1(qpatches)).toDF("qpatches")
    val filtered =
      if (elementTypes.nonEmpty) elements.filter(col("element_type").isin(elementTypes: _*))
      else elements
    val packed =
      if (filtered.columns.contains("packed")) filtered
      else filtered.withColumn("packed",
        VectorFunctions.packF32(col("patches"), dim))
    packed.crossJoin(broadcast(qdf))
      .select(col("id"), col("document_id"), col("element_type"),
        round(VectorFunctions.maxsimF32(col("qpatches"), col("packed"), dim), 6)
          .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(limit)
  }

  /** Search-analytics record (§3.3 step 10, `search_queries` shape
    * `init.sql:583-616`): appended to the analytics log table. */
  case class SearchAnalytics(
      query: String,
      query_type: String,
      detected_domain: String,
      retrieval_methods: Seq[String],
      total_results: Long,
      graph_augmented_count: Long,
      fallback_triggered: Boolean,
      processing_time_ms: Double,
      expansions: Seq[String])

  /** The one indexed-BM25 read shape every branch shares (base search,
    * precision lookup, keyword retry): score from the persisted index
    * (global corpus stats, reference F1 semantics), tenant/filter
    * semi-join, round, deterministic top-k; without an index, the
    * build-and-score oracle baseline over the scoped corpus. */
  private def scopedBm25(scoped: DataFrame, tokens: Seq[String], k: Int,
                         index: Option[BM25.Index]): DataFrame = index match {
    case Some(idx) =>
      BM25.scoreFromIndex(idx, tokens)
        .join(scoped.select(col("id")), Seq("id"), "left_semi")
        .select(col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("id")).limit(k)
    case None => BM25.search(scoped, "id", "text", tokens, k)
  }

  /** J8: priority ∪ base with first-writer-wins dedup by id. */
  def mergeFirstWriterWins(priority: DataFrame, base: DataFrame): DataFrame = {
    val tagged = priority.withColumn("__prio", lit(0))
      .unionByName(base.withColumn("__prio", lit(1)))
    val w = Window.partitionBy(col("id")).orderBy(col("__prio"), col("rrf_score").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prio", "__rn")
  }

  /** J8 over N collected (id, rrf_score) lists on the driver: earlier
    * lists win by id, and within a list the higher score — the row
    * [[mergeFirstWriterWins]]'s window keeps. Unordered output. */
  private def mergeFirstWriterWinsLocal(lists: Seq[Seq[(Any, Double)]]): Seq[(Any, Double)] = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    lists.flatMap(Fusion.sortScoreDescId(_)).filter(r => seen.add(r._1))
  }

  /** V10 failure signals (`enhanced_hybrid_search.py:144-197`) computed
    * on the (tiny) result set: avg score, variance, distinct sources,
    * confidence. Driver-side decision record. */
  case class FailureSignals(
      lowScores: Boolean, highVariance: Boolean, singleSource: Boolean,
      confidence: Double, recommendations: Seq[String])

  def analyzeFailure(scores: Seq[Double], nSources: Int,
                     expectedMinScore: Double = 0.3): FailureSignals = {
    if (scores.isEmpty)
      return FailureSignals(lowScores = false, highVariance = false,
        singleSource = false, confidence = 0.0, Seq("no_results_fallback"))
    val avg = scores.sum / scores.size
    val variance =
      if (scores.size > 1) scores.map(s => (s - avg) * (s - avg)).sum / scores.size
      else 0.0
    analyzeFailureStats(scores.size, avg, variance, nSources, expectedMinScore)
  }

  /** Same signals from pre-aggregated stats: the one count / avg /
    * var_pop / countDistinct row a distributed result set yields. */
  def analyzeFailureStats(n: Long, avg: Double, variance: Double,
                          nSources: Int,
                          expectedMinScore: Double = 0.3): FailureSignals = {
    if (n == 0)
      return FailureSignals(lowScores = false, highVariance = false,
        singleSource = false, confidence = 0.0, Seq("no_results_fallback"))
    var confidence = 1.0
    val recs = Seq.newBuilder[String]
    val low = avg < expectedMinScore
    if (low) { confidence -= 0.2; recs += "try_keyword_search" }
    val highVar = n > 1 && variance > 0.1
    if (highVar) confidence -= 0.1
    val single = nSources == 1
    if (single) recs += "expand_search"
    FailureSignals(low, highVar, single, math.max(0.0, confidence), recs.result())
  }
}
