package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}

/** Retrieval core query pack (SURVEY §2.8: V1-V5, A1-A3, J1, W1, T1-T4)
  * over the `documents` / `embeddings` testdata, each with a DuckDB
  * oracle twin. doc_id ≡ vec_id links the two tables (FIXTURES.md §A).
  */
object RetrievalPack {

  /** The fixed demo query for BM25-family checks (terms present in the
    * synthetic corpus vocabulary). */
  val QueryTokens = Seq("spark", "join", "filter")
  val FetchLimit = 60 // reference over-fetch: limit*3 with limit=20
  val Limit = 20

  private def docs(spark: SparkSession, dir: String) = Tables(spark, dir, "documents")
  private def emb(spark: SparkSession, dir: String) = Tables(spark, dir, "embeddings")

  /** V3 tokenizer, exploded with positions. */
  def tokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", posexplode(TextFunctions.tokenize($"text")).as(Seq("pos", "token")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"token")
      .orderBy($"doc_id", $"pos")
  }

  /** A1 corpus statistics: per-term df and total tf. */
  def termStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val post = BM25.postings(BM25.corpus(docs(spark, dir), "doc_id", "text"))
    post.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"))
      .orderBy($"term")
  }

  /** A2/V4 full BM25 score set (positive only, F8). */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BM25.score(docs(spark, dir), "doc_id", "text", QueryTokens,
      positiveOnly = false)
      .select($"id".as("doc_id"), round($"score", 4).as("score"))
      .orderBy($"doc_id")
  }

  /** T1 top-k BM25 search with deterministic ranks. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"score".desc, $"id")
    BM25.search(docs(spark, dir), "doc_id", "text", QueryTokens, Limit,
      positiveOnly = false)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"id".as("doc_id"), $"score", $"rank")
      .orderBy($"rank")
  }

  /** V1 exact dense kNN against the vec_id=0 query vector. */
  def denseKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding")
    DenseKnn.topK(e, "vec_id", "embedding", q, "embedding", Limit)
      .select($"id".as("vec_id"), $"score")
      .orderBy($"score".desc, $"vec_id")
  }

  /** F9 score-threshold filter over the dense scores. */
  def denseThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding")
    DenseKnn.scoreAll(e, "vec_id", "embedding", q, "embedding")
      .select($"id".as("vec_id"), round($"score", 6).as("score"))
      .filter($"score" >= 0.2)
      .orderBy($"vec_id")
  }

  /** J1/A3 hybrid RRF fusion of BM25 + dense ranked lists. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bmRanked = Fusion.rank(
      BM25.search(docs(spark, dir), "doc_id", "text", QueryTokens, FetchLimit,
        positiveOnly = false))
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding")
    val dnRanked = Fusion.rank(
      DenseKnn.topK(e, "vec_id", "embedding", q, "embedding", FetchLimit))
    Fusion.fuseTopK(Seq((bmRanked, 0.3), (dnRanked, 0.5)), Limit)
      .select($"id".as("doc_id"), $"rrf_score")
      .orderBy($"rrf_score".desc, $"doc_id")
  }

  /** V2 MaxSim late interaction: embeddings reshaped to 8×8 patch
    * matrices, scored against the vec_id=0 patches. */
  def maxsim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // codegen reshape kernel in place of the interpreted per-patch
    // slice lambda (guide §4)
    val pat = emb(spark, dir).select($"vec_id",
      VectorFunctions.reshapeRows($"embedding", 8, 8).as("patches"))
    val q = pat.filter($"vec_id" === 0).select($"patches".as("qpatches"))
    pat.crossJoin(broadcast(q))
      .select($"vec_id",
        round(VectorFunctions.maxsim($"qpatches", $"patches"), 5).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(Limit)
  }

  /** V12 lexical rerank over the documents table. */
  def rerankDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.retrieval.Rerank.rerank(
        docs(spark, dir).select($"doc_id".as("id"), $"text"),
        "spark join filter window", Limit)
      .select($"id".as("doc_id"), $"rerank_score")
      .orderBy($"rerank_score".desc, $"doc_id")
  }

  /** I9 feature-hash embeddings, exploded per dimension (exact doubles:
    * integer bucket counts / correctly-rounded sqrt, so no rounding
    * needed for oracle parity). */
  def featureEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id",
        graft.functions.EmbedFunctions.featureHashEmbed(
          graft.functions.HashFunctions.hash56Map(
            TextFunctions.tokenize($"text")), 64).as("emb"))
      .select($"doc_id", posexplode($"emb").as(Seq("dim", "value")))
      .select($"doc_id", $"dim".cast("long").as("dim"), $"value")
      .orderBy($"doc_id", $"dim")
  }

  /** T2/W1 batch kNN: 5 query vectors × top 10, ranked per query. */
  def denseKnnBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid_src"), $"embedding")
    DenseKnn.topKBatch(e, "vec_id", "embedding", q, "qid_src", "embedding", 10)
      .select($"qid".as("query_id"), $"id".as("vec_id"),
        $"score", $"rank".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  /** S8 + A2 read path (q47): build the BM25 index ONCE, persist it as
    * parquet, reload, and score a query against the loaded index —
    * proves the persisted round-trip preserves scoring semantics and
    * that query time never re-derives the index from raw text. Query
    * tokens differ from [[QueryTokens]] so this gate exercises its own
    * posting lists. */
  val IndexedQueryTokens = Seq("dup", "window", "hash")

  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tokenize ONCE and share across the three index-table writes —
    // postings/idf/stats all derive from the same tokenized corpus, and
    // without the cache each write job re-runs the whole tokenize
    // pipeline (at cluster scale this intermediate is checkpointed)
    val c = BM25.corpus(docs(spark, dir), "doc_id", "text").cache()
    val post = BM25.postings(c)
    val st = BM25.stats(c)
    val idx = BM25.Index(post, BM25.idfTable(BM25.docFreq(post), st), st)
    // unique per process (a fixed path would race a concurrent run),
    // removed at JVM exit
    val tmp = TmpDirs.create("graft_q47_index")
    idx.postings.coalesce(4).write.mode("overwrite").parquet(s"$tmp/postings")
    idx.idf.coalesce(1).write.mode("overwrite").parquet(s"$tmp/idf")
    idx.stats.coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    c.unpersist()
    val loaded = BM25.Index(
      spark.read.parquet(s"$tmp/postings"),
      spark.read.parquet(s"$tmp/idf"),
      spark.read.parquet(s"$tmp/stats"))
    // positiveOnly=false: the synthetic corpus vocabulary is dense
    // (most terms appear in ~80% of docs), so idfs are mostly negative
    // and the score>0 cut would leave ~0 rows — the full score set is
    // the stronger round-trip check (same stance as q22)
    BM25.scoreFromIndex(loaded, IndexedQueryTokens, positiveOnly = false)
      .select($"id".as("doc_id"), round($"score", 4).as("score"))
      .orderBy($"doc_id")
  }

  /** T2 scale path (q48): LSH-bucketed ANN against the vec_id=0 query —
    * candidates from a (tbl, bucket) equi-join (never a corpus scan),
    * exact dot rescore, top-k. Same output shape as q24 so the two
    * gates document the exact-vs-approximate contract side by side. */
  def annKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding")
    AnnKnn.topK(e, "vec_id", "embedding", q, "embedding", Limit)
      .select($"id".as("vec_id"), $"score")
      .orderBy($"score".desc, $"vec_id")
  }

  /** T2 scale path, IVF variant (q55): deterministic coarse centroids
    * (every 19th vector), nearest-centroid assignment, probe the 4
    * best lists, exact rescore — the cluster-pruned alternative to
    * q48's hash buckets (the two standard ANN layouts side by side). */
  def ivfKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = AnnKnn.ivfCentroids(e, "vec_id", "embedding", 19)
    val idx = AnnKnn.ivfIndex(e, "vec_id", "embedding", cents)
    val q = e.filter($"vec_id" === 0).select($"embedding")
    AnnKnn.ivfTopK(idx, cents, q, "embedding", Limit, nProbe = 4)
      .select($"id".as("vec_id"), $"score")
      .orderBy($"score".desc, $"vec_id")
  }

  /** T2 scale path, HNSW variant (q95): per-shard navigable-small-world
    * graphs ([[Hnsw]]) persisted one row per shard, reloaded, and
    * searched at the serving beam — the graph-ANN layout closing the
    * reference's HNSW role (`src/storage/vector_store.py:136-146`,
    * m=16/ef_construct=100/hnsw_ef=128). Shard count DERIVES from the
    * corpus (~64 nodes/shard, floor 4) so the ef=128 beam covers every
    * shard exhaustively at ANY fixture scale — a fixed `shards = 4`
    * held the ≤128-node premise only up to sf0.1 (500/shard passed on
    * graph quality alone; the r15 sf1 replay caught the recall drop at
    * 5000/shard). The exact scan stays a sound oracle by construction;
    * the recall/ef knob at genuinely partial beams is pinned by
    * HnswSpec. */
  def hnswKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val nEmb = e.count()
    val shards = math.max(4L, (nEmb + 63) / 64).toInt
    val idx = Hnsw.build(e, "vec_id", "embedding", shards = shards)
    val tmp = TmpDirs.create("graft_q95_hnsw")
    idx.write.mode("overwrite").parquet(tmp)
    val loaded = spark.read.parquet(tmp).as[HnswShard]
    val qv = e.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).collect()
      .head.getSeq[Double](0).toArray
    Hnsw.topK(loaded, qv, Limit)
      .select($"id".as("vec_id"), $"score")
      .orderBy($"score".desc, $"vec_id")
  }

  /** V10 executed end-to-end (q49): enhanced search whose user filter
    * (lang = 'zz') empties the base result → confidence 0 →
    * no_results_fallback → keyword retry (still filtered ⇒ empty) +
    * filterless retry (full hybrid at k=5 inside the tenant) merged
    * first-writer-wins. The gate's expected output IS the filterless
    * retry, which proves the retry executed and its results were
    * merged — the reference's half-built self-correcting loop,
    * completed (`enhanced_hybrid_search.py:436-473`). Ids are
    * zero-padded so Spark's string tie-break equals numeric order —
    * width 13, because Spark's lpad TRUNCATES longer strings: the old
    * width 6 silently collapsed ScaleUp's 10^9-offset replica ids to
    * one string per replica at sf1 (caught by the r15 sf1 full oracle
    * replay — the q66 constant class, in a fixture this time). */
  val FallbackQuery = "spark join filter"

  def enhancedFallback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT cached: the lazy plan pushes the tenant/lang filters below
    // the embed kernel, so each subplan embeds only its scoped slice —
    // materializing the fixture would embed the whole table upfront
    val chunks = docs(spark, dir).select(
      lpad($"doc_id".cast("string"), 13, "0").as("id"),
      $"text", $"lang",
      $"source".as("organization_id"),
      lit("internal").as("access_level"),
      graft.functions.EmbedFunctions.featureHashEmbed(
        graft.functions.HashFunctions.hash56Map(
          TextFunctions.tokenize($"text")), 64).as("embedding"))
    graft.retrieval.HybridSearch.enhancedSearch(
        chunks, FallbackQuery, graft.model.TenantContext("src3"),
        filters = Map("lang" -> graft.model.Filters.Eq("zz")),
        cfg = graft.retrieval.HybridSearch.Config(limit = 5, levelFilter = None))
      .select($"id".cast("bigint").as("doc_id"),
        round($"rrf_score", 6).as("rrf_score"), $"query_type")
      .orderBy($"rrf_score".desc, $"doc_id")
  }

  /** J3/J4/W2/W3 gated end-to-end (q50): pages fixture from the
    * embeddings reshape (4 patches × 16 dims, vec_id < 100 → 25 docs ×
    * 4 pages), chunks fixture from documents (doc_id/10 → 50 docs × 5
    * page slots). Chunks on pages 0-3 of docs 0-24 propagate directly
    * (J3/W2); chunks on page 4 exercise the max-page-score ×0.8 doc
    * fallback (J4/W3); chunks of docs 25-49 have no pages and drop out. */
  def colpaliPropagateGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = emb(spark, dir).filter($"vec_id" < 100).select(
      floor($"vec_id" / 4).cast("long").as("document_id"),
      ($"vec_id" % 4).cast("int").as("page_number"),
      VectorFunctions.reshapeRows($"embedding", 4, 16).as("patches"))
    val chunks = docs(spark, dir).select(
      lpad($"doc_id".cast("string"), 13, "0").as("id"),
      floor($"doc_id" / 10).cast("long").as("document_id"),
      ($"doc_id" % 5).cast("int").as("page_number"))
    graft.retrieval.HybridSearch.colpaliPropagate(
        chunks, pages, QueryTokens,
        graft.retrieval.HybridSearch.Config(), fetch = FetchLimit)
      .select($"id".as("chunk_id"), $"score")
      .orderBy($"score".desc, $"chunk_id")
  }

  /** q84 (VERDICT r3 ask #1): the SERVING path end-to-end with the ANN
    * store wired in — chunks (tenant column + feature-hash embeddings)
    * are indexed with [[AnnKnn.index]], persisted (tbl, bucket)-
    * partitioned, re-loaded, and `HybridSearch.search` runs with
    * `DenseMode.AnnLsh`: BM25 over the tenant scope fused with dense
    * candidates from the PRUNED store probes (semi-joined to the
    * tenant scope before the top-k cut), weighted RRF. extraProbes = 0
    * so the DuckDB twin can replicate the exact probe set (q48's
    * bucket SQL) inside the full hybrid derivation; 2-bit buckets so
    * the per-tenant candidate set is dense enough (≈1/4 of the corpus
    * per table) to fill the fused top-5 at gate scale. */
  val HybridAnnBits = 2

  def hybridAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = docs(spark, dir).select(
      lpad($"doc_id".cast("string"), 13, "0").as("id"),
      $"text",
      $"source".as("organization_id"),
      lit("internal").as("access_level"),
      graft.functions.EmbedFunctions.featureHashEmbed(
        graft.functions.HashFunctions.hash56Map(
          TextFunctions.tokenize($"text")), 64).as("embedding"))
    val tmp = TmpDirs.create("graft_q84_ann")
    graft.sources.TableStore.saveAnn(
      AnnKnn.index(chunks, "id", "embedding", bits = HybridAnnBits), tmp)
    val store = graft.sources.TableStore.loadAnn(spark, tmp)
    graft.retrieval.HybridSearch.search(
        chunks, FallbackQuery, graft.model.TenantContext("src3"),
        cfg = graft.retrieval.HybridSearch.Config(limit = 5,
          dense = graft.retrieval.HybridSearch.DenseMode.AnnLsh(store,
            bits = HybridAnnBits, extraProbes = 0),
          detail = false))
      .select($"id".cast("bigint").as("doc_id"),
        round($"rrf_score", 6).as("rrf_score"))
      .orderBy($"rrf_score".desc, $"doc_id")
  }

  /** q87 (V9, VERDICT r3 ask #6): the precision fallback EXECUTED and
    * oracle-pinned — "section 42" triggers detectPrecision
    * (section_reference, `enhanced_hybrid_search.py:82-101`), the
    * precision terms run a BM25-only lookup whose scores get the +0.5
    * boost, and the boosted list merges IN FRONT of the base hybrid
    * first-writer-wins (J8, `:391-434`). doc_id % 13 docs carry an
    * injected "section 42" sentence so the precision list is nonempty
    * and outranks the base (rrf scores are ≪ 0.5). "section" avoids
    * the visual-modality keywords, keeping the base at the default
    * 0.3/0.5 weights the oracle replicates. */
  val PrecisionQuery = "spark join filter in section 42"
  private val PrecisionInjection = " section 42 appendix details."

  def precisionMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val injected = concat($"text",
      when($"doc_id" % 13 === 0, lit(PrecisionInjection)).otherwise(lit("")))
    val chunks = docs(spark, dir).select(
      lpad($"doc_id".cast("string"), 13, "0").as("id"),
      injected.as("text"),
      $"source".as("organization_id"),
      lit("internal").as("access_level"),
      graft.functions.EmbedFunctions.featureHashEmbed(
        graft.functions.HashFunctions.hash56Map(
          TextFunctions.tokenize(injected)), 64).as("embedding"))
    graft.retrieval.HybridSearch.enhancedSearch(
        chunks, PrecisionQuery, graft.model.TenantContext("src3"),
        cfg = graft.retrieval.HybridSearch.Config(limit = 5, levelFilter = None))
      .select($"id".cast("bigint").as("doc_id"),
        round($"rrf_score", 6).as("rrf_score"), $"query_type")
      .orderBy($"rrf_score".desc, $"doc_id")
  }

  /** V5 fully self-contained hybrid: BM25 + feature-hash dense over the
    * documents table only (query embedded with the same deterministic
    * kernel in-engine and in-SQL), fused with RRF. */
  def hybridFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val bmRanked = Fusion.rank(
      BM25.search(d, "doc_id", "text", QueryTokens, FetchLimit, positiveOnly = false))
    val qvec = graft.functions.EmbedFunctions.embedQuery(QueryTokens, 64)
    val qdf = Seq(Tuple1(qvec)).toDF("qvec")
    val densed = d.select($"doc_id".as("id"),
        graft.functions.EmbedFunctions.featureHashEmbed(
          graft.functions.HashFunctions.hash56Map(
            TextFunctions.tokenize($"text")), 64).as("demb"))
      .crossJoin(broadcast(qdf))
      .select($"id", round(VectorFunctions.dot($"demb", $"qvec"), 6).as("score"))
      .orderBy($"score".desc, $"id").limit(FetchLimit)
    val dnRanked = Fusion.rank(densed)
    Fusion.fuseTopK(Seq((bmRanked, 0.3), (dnRanked, 0.5)), Limit)
      .select($"id".as("doc_id"), $"rrf_score")
      .orderBy($"rrf_score".desc, $"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_tokens" -> (tokens _),
    "q21_term_stats" -> (termStats _),
    "q22_bm25_scores" -> (bm25Scores _),
    "q23_bm25_topk" -> (bm25TopK _),
    "q24_dense_knn" -> (denseKnn _),
    "q25_dense_threshold" -> (denseThreshold _),
    "q26_rrf_fusion" -> (rrfFusion _),
    "q27_maxsim" -> (maxsim _),
    "q43_rerank" -> (rerankDocs _),
    "q44_feature_embed" -> (featureEmbed _),
    "q45_dense_knn_batch" -> (denseKnnBatch _),
    "q46_hybrid_full" -> (hybridFull _),
    "q47_bm25_indexed" -> (bm25Indexed _),
    "q48_ann_knn" -> (annKnn _),
    "q55_ivf_knn" -> (ivfKnn _),
    "q95_hnsw_knn" -> (hnswKnn _),
    "q49_enhanced_fallback" -> (enhancedFallback _),
    "q50_colpali_propagate" -> (colpaliPropagateGate _),
    "q84_hybrid_ann" -> (hybridAnn _),
    "q87_precision_merge" -> (precisionMerge _),
  )

  /** CTE prefix computing feature-hash doc embeddings for `documents`:
    * yields `docemb(doc_id, emb)` — 64 signed bucket counts over token
    * hashes, L2-normalized (the SQL twin of the `feature_hash_embed` kernel). */
  private def docEmbedCtes(table: String = "documents"): String = {
    val counts = "list_transform(range(64), i -> CAST(" +
      "len(list_filter(hs, h -> h % 64 = i AND ((h >> 7) & 1) = 1)) - " +
      "len(list_filter(hs, h -> h % 64 = i AND ((h >> 7) & 1) = 0)) AS DOUBLE))"
    s"""dochs AS (SELECT doc_id, list_transform($toksSql, t -> ${TextFunctions.hash56Sql("t")}) AS hs FROM $table),
       |docct AS (SELECT doc_id, $counts AS c FROM dochs),
       |docnm AS (SELECT doc_id, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS nrm FROM docct),
       |docemb AS (SELECT doc_id, CASE WHEN nrm > 0 THEN list_transform(c, x -> x / nrm) ELSE c END AS emb FROM docnm)""".stripMargin
  }

  /** Scalar SQL for the query vector: same kernel over a literal token
    * list. */
  private def queryVecSql(tokens: Seq[String]): String = {
    val lits = tokens.mkString("['", "', '", "']")
    val counts = "list_transform(range(64), i -> CAST(" +
      "len(list_filter(qh, h -> h % 64 = i AND ((h >> 7) & 1) = 1)) - " +
      "len(list_filter(qh, h -> h % 64 = i AND ((h >> 7) & 1) = 0)) AS DOUBLE))"
    s"""qhs AS (SELECT list_transform($lits, t -> ${TextFunctions.hash56Sql("t")}) AS qh),
       |qct AS (SELECT $counts AS c FROM qhs),
       |qnm AS (SELECT c, sqrt(list_sum(list_transform(c, x -> x*x))) AS nrm FROM qct),
       |qv AS (SELECT CASE WHEN nrm > 0 THEN list_transform(c, x -> x / nrm) ELSE c END AS qvec FROM qnm)""".stripMargin
  }

  // ---- oracle SQL --------------------------------------------------------

  private val toksSql = TextFunctions.tokenizeSql("text")
  private def bmCtes = BM25.oracleCtes(QueryTokens)

  val oracle: Map[String, String] = Map(
    "q20_tokens" ->
      s"""SELECT doc_id, pos, token FROM (
         | SELECT doc_id, unnest(list_transform($toksSql, (t, i) -> {'pos': CAST(i - 1 AS BIGINT), 'token': t}), recursive := true)
         | FROM documents) u
         |ORDER BY doc_id, pos""".stripMargin,
    "q21_term_stats" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |posting AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM tok) u GROUP BY doc_id, term)
         |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
         |FROM posting GROUP BY term ORDER BY term""".stripMargin,
    "q22_bm25_scores" ->
      s"""WITH $bmCtes
         |SELECT doc_id, round(score, 4) AS score FROM bm25 ORDER BY doc_id""".stripMargin,
    "q23_bm25_topk" ->
      s"""WITH $bmCtes,
         |pos AS (SELECT doc_id, round(score, 4) AS score FROM bm25)
         |SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |FROM pos ORDER BY score DESC, doc_id LIMIT ${Limit}""".stripMargin,
    "q24_dense_knn" ->
      s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM qv)), 6) AS score
         |FROM embeddings ORDER BY score DESC, vec_id LIMIT ${Limit}""".stripMargin,
    // exhaustive-beam HNSW == exact scan at gate scale (see hnswKnn)
    "q95_hnsw_knn" ->
      s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM qv)), 6) AS score
         |FROM embeddings ORDER BY score DESC, vec_id LIMIT ${Limit}""".stripMargin,
    "q25_dense_threshold" ->
      s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT vec_id, round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM qv)), 6) AS score FROM embeddings)
         |SELECT vec_id, score FROM scored WHERE score >= 0.2 ORDER BY vec_id""".stripMargin,
    "q26_rrf_fusion" ->
      s"""WITH $bmCtes,
         |bm25r AS (SELECT doc_id, round(score, 4) AS score FROM bm25),
         |bmrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM bm25r ORDER BY score DESC, doc_id LIMIT ${FetchLimit}) t),
         |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |dscore AS (SELECT vec_id AS doc_id, round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM qv)), 6) AS score FROM embeddings),
         |drank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM dscore ORDER BY score DESC, doc_id LIMIT ${FetchLimit}) t),
         |contrib AS (
         |  SELECT doc_id, 0.3 / (60 + rank) AS c FROM bmrank
         |  UNION ALL
         |  SELECT doc_id, 0.5 / (60 + rank) AS c FROM drank)
         |SELECT doc_id, round(SUM(c), 6) AS rrf_score FROM contrib GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT ${Limit}""".stripMargin,
    "q27_maxsim" ->
      s"""WITH pat AS (SELECT vec_id, list_transform(range(8), r -> list_slice(CAST(embedding AS DOUBLE[]), r*8 + 1, r*8 + 8)) AS patches FROM embeddings),
         |qp AS (SELECT patches AS q FROM pat WHERE vec_id = 0)
         |SELECT vec_id,
         | round(list_sum(list_transform((SELECT q FROM qp), qrow -> list_max(list_transform(patches, prow -> list_dot_product(qrow, prow))))), 5) AS score
         |FROM pat ORDER BY score DESC, vec_id LIMIT ${Limit}""".stripMargin,
    "q43_rerank" ->
      s"""WITH scored AS (
         | SELECT doc_id,
         |  round(CAST(len(list_filter(list_distinct($toksSql), t -> list_contains(['spark', 'join', 'filter', 'window'], t))) AS DOUBLE) / 4, 6) AS rerank_score
         | FROM documents)
         |SELECT doc_id, rerank_score FROM scored
         |ORDER BY rerank_score DESC, doc_id LIMIT ${Limit}""".stripMargin,
    "q44_feature_embed" ->
      s"""WITH ${docEmbedCtes()}
         |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS dim, emb[u.i] AS value
         |FROM docemb, unnest(range(1, 65)) u(i)
         |ORDER BY doc_id, dim""".stripMargin,
    "q45_dense_knn_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5),
         |scored AS (
         | SELECT q.query_id, e.vec_id, round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS score
         | FROM embeddings e, q),
         |ranked AS (
         | SELECT query_id, vec_id, score,
         |   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         | FROM scored)
         |SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q46_hybrid_full" ->
      s"""WITH $bmCtes,
         |bm25r AS (SELECT doc_id, round(score, 4) AS score FROM bm25),
         |bmrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM bm25r ORDER BY score DESC, doc_id LIMIT ${FetchLimit}) t),
         |${docEmbedCtes()},
         |${queryVecSql(QueryTokens)},
         |dscore AS (SELECT doc_id, round(list_dot_product(emb, (SELECT qvec FROM qv)), 6) AS score FROM docemb),
         |drank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM dscore ORDER BY score DESC, doc_id LIMIT ${FetchLimit}) t),
         |contrib AS (
         |  SELECT doc_id, 0.3 / (60 + rank) AS c FROM bmrank
         |  UNION ALL
         |  SELECT doc_id, 0.5 / (60 + rank) AS c FROM drank)
         |SELECT doc_id, round(SUM(c), 6) AS rrf_score FROM contrib GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT ${Limit}""".stripMargin,
    // the oracle derives the index from `documents` directly — matching
    // the Spark side's write→parquet→reload→score round-trip proves the
    // persisted index preserves scoring semantics
    "q47_bm25_indexed" ->
      s"""WITH ${BM25.oracleCtes(IndexedQueryTokens)}
         |SELECT doc_id, round(score, 4) AS score FROM bm25
         |ORDER BY doc_id""".stripMargin,
    // single-token feature-hash embedding at dim 16 is a ±1 basis
    // vector at index hash56(t) % 16 with sign from bit 7 — the SQL
    // twin of EmbedFunctions.embedQuery(Seq(t), 16)
    "q50_colpali_propagate" -> {
      def tokenPatch(t: String): String = {
        val h = TextFunctions.hash56Sql(s"'$t'")
        s"""list_transform(range(16), i -> CASE WHEN ($h % 16) = i
           | THEN (CASE WHEN (($h >> 7) & 1) = 1 THEN 1.0 ELSE -1.0 END)
           | ELSE 0.0 END)""".stripMargin.replaceAll("\n\\s*", " ")
      }
      val qlist = QueryTokens.take(32).map(tokenPatch).mkString("[", ", ", "]")
      s"""WITH qp AS (SELECT $qlist AS q),
         |pat AS (SELECT CAST(floor(vec_id / 4) AS BIGINT) AS document_id,
         |  CAST(vec_id % 4 AS INT) AS page_number,
         |  list_transform(range(4), r -> list_transform(
         |    list_slice(CAST(embedding AS DOUBLE[]), r*16 + 1, r*16 + 16),
         |    x -> CAST(CAST(x AS REAL) AS DOUBLE))) AS patches
         |  FROM embeddings WHERE vec_id < 100),
         |ps AS (SELECT document_id, page_number,
         |  round(list_sum(list_transform((SELECT q FROM qp), qrow ->
         |    list_max(list_transform(patches, prow -> list_dot_product(qrow, prow))))), 6) AS pscore
         |  FROM pat),
         |ch AS (SELECT lpad(CAST(doc_id AS VARCHAR), 13, '0') AS id,
         |  CAST(floor(doc_id / 10) AS BIGINT) AS document_id,
         |  CAST(doc_id % 5 AS INT) AS page_number FROM documents),
         |direct AS (SELECT ch.id, ps.pscore AS score FROM ch JOIN ps USING (document_id, page_number)),
         |docbest AS (SELECT document_id, MAX(pscore) * 0.8 AS fscore FROM ps GROUP BY document_id),
         |fb AS (SELECT ch.id, db.fscore AS score
         |  FROM ch LEFT JOIN ps USING (document_id, page_number)
         |  JOIN docbest db ON ch.document_id = db.document_id
         |  WHERE ps.pscore IS NULL),
         |u AS (SELECT id, round(score, 6) AS score FROM (SELECT * FROM direct UNION ALL SELECT * FROM fb) t)
         |SELECT id AS chunk_id, score FROM u ORDER BY score DESC, id LIMIT ${FetchLimit}""".stripMargin
    },
    // the lang='zz' filter empties the base search, so the expected
    // output IS the executed filterless retry: a full hybrid (BM25
    // positive-only + dense, RRF 0.3/0.5) at k=5 inside tenant src3 —
    // the oracle twin computes exactly that retry
    "q49_enhanced_fallback" -> {
      val qtype = graft.retrieval.QueryAnalyzer.classify(FallbackQuery)
      s"""WITH scoped AS (SELECT doc_id, text FROM documents WHERE source = 'src3'),
         |${BM25.oracleCtes(QueryTokens, table = "scoped")},
         |bmrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, round(score, 4) AS score FROM bm25 WHERE score > 0
         |        ORDER BY round(score, 4) DESC, doc_id LIMIT 15) t),
         |${docEmbedCtes("scoped")},
         |${queryVecSql(QueryTokens)},
         |dscore AS (SELECT doc_id, round(list_dot_product(emb, (SELECT qvec FROM qv)), 6) AS score FROM docemb),
         |drank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM dscore ORDER BY score DESC, doc_id LIMIT 15) t),
         |contrib AS (
         |  SELECT doc_id, 0.3 / (60 + rank) AS c FROM bmrank
         |  UNION ALL
         |  SELECT doc_id, 0.5 / (60 + rank) AS c FROM drank),
         |fused AS (SELECT doc_id, round(SUM(c), 6) AS rrf_score FROM contrib GROUP BY doc_id
         |  ORDER BY rrf_score DESC, doc_id LIMIT 5)
         |SELECT doc_id, rrf_score, '$qtype' AS query_type FROM fused
         |ORDER BY rrf_score DESC, doc_id""".stripMargin
    },
    // the enhanced-search precision overlay: base hybrid (fetch 30,
    // fused top-10) over the injected src3 scope, plus a second BM25
    // scoring pass (q2/bm252 reusing the SAME corpus-stat CTEs) for
    // the precision terms, +0.5, merged first-writer-wins, top-5
    "q87_precision_merge" -> {
      val qtype = graft.retrieval.QueryAnalyzer.classify(PrecisionQuery)
      val baseToks = TextFunctions.tokenizeJvm(PrecisionQuery)
      val precToks = graft.retrieval.QueryAnalyzer
        .precisionSearchTerms("section_reference", "42")
        .flatMap(TextFunctions.tokenizeJvm).distinct
      val p = BM25.Params()
      val q2vals = precToks.groupBy(identity).view.mapValues(_.size).toSeq.sorted
        .map { case (t, c) => s"('$t', $c)" }.mkString(", ")
      val inj = s"CASE WHEN doc_id % 13 = 0 THEN text || '$PrecisionInjection' ELSE text END"
      s"""WITH injdocs AS (SELECT doc_id, $inj AS text, source FROM documents),
         |scoped AS (SELECT doc_id, text FROM injdocs WHERE source = 'src3'),
         |${BM25.oracleCtes(baseToks, table = "scoped")},
         |bmrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, round(score, 4) AS score FROM bm25 WHERE score > 0
         |        ORDER BY round(score, 4) DESC, doc_id LIMIT 30) t),
         |${docEmbedCtes("scoped")},
         |${queryVecSql(baseToks)},
         |dscore AS (SELECT doc_id, round(list_dot_product(emb, (SELECT qvec FROM qv)), 6) AS score FROM docemb),
         |drank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM dscore ORDER BY score DESC, doc_id LIMIT 30) t),
         |contrib AS (
         |  SELECT doc_id, 0.3 / (60 + rank) AS c FROM bmrank
         |  UNION ALL
         |  SELECT doc_id, 0.5 / (60 + rank) AS c FROM drank),
         |fused AS (SELECT doc_id, round(SUM(c), 6) AS rrf_score FROM contrib GROUP BY doc_id
         |  ORDER BY rrf_score DESC, doc_id LIMIT 10),
         |q2(term, qcount) AS (VALUES $q2vals),
         |bm252 AS (
         |  SELECT p.doc_id,
         |    SUM(i.idf * (p.tf * ${p.k1 + 1.0}) / (p.tf + ${p.k1} * (1.0 - ${p.b} + ${p.b} * p.dl / s.avgdl)) * q2.qcount) AS score
         |  FROM posting p JOIN q2 USING (term) JOIN idf i USING (term), stats s
         |  GROUP BY p.doc_id),
         |prec AS (SELECT doc_id, round(score, 4) + 0.5 AS rrf_score
         |  FROM (SELECT doc_id, round(score, 4) AS score FROM bm252 WHERE score > 0
         |        ORDER BY round(score, 4) DESC, doc_id LIMIT 5) t),
         |merged AS (
         |  SELECT doc_id, rrf_score FROM prec
         |  UNION ALL
         |  SELECT f.doc_id, f.rrf_score FROM fused f
         |  WHERE f.doc_id NOT IN (SELECT doc_id FROM prec))
         |SELECT doc_id, round(rrf_score, 6) AS rrf_score, '$qtype' AS query_type
         |FROM merged ORDER BY rrf_score DESC, doc_id LIMIT 5""".stripMargin
    },
    // the serving hybrid with the ANN store dense branch: BM25 over the
    // src3 tenant scope (positive-only, top-15) fused 0.3/0.5 with the
    // dense list whose candidates come from the corpus-wide bucket
    // probes (q48's bucket SQL), scoped to src3 BEFORE the top-15 cut
    "q84_hybrid_ann" -> {
      s"""WITH scoped AS (SELECT doc_id, text FROM documents WHERE source = 'src3'),
         |${BM25.oracleCtes(QueryTokens, table = "scoped")},
         |bmrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, round(score, 4) AS score FROM bm25 WHERE score > 0
         |        ORDER BY round(score, 4) DESC, doc_id LIMIT 15) t),
         |${docEmbedCtes()},
         |${queryVecSql(QueryTokens)},
         |sig AS (SELECT doc_id, t.tbl,
         |  ${VectorFunctions.hyperplaneBucketSql("emb", "t.tbl", 64, HybridAnnBits)} AS bucket
         |  FROM docemb, range(${AnnKnn.DefaultTables}) t(tbl)),
         |qsig AS (SELECT t.tbl,
         |  ${VectorFunctions.hyperplaneBucketSql("qvec", "t.tbl", 64, HybridAnnBits)} AS bucket
         |  FROM qv, range(${AnnKnn.DefaultTables}) t(tbl)),
         |cand AS (SELECT DISTINCT s.doc_id FROM sig s JOIN qsig q
         |  ON s.tbl = q.tbl AND s.bucket = q.bucket),
         |dscore AS (SELECT c.doc_id,
         |    round(list_dot_product(d.emb, (SELECT qvec FROM qv)), 6) AS score
         |  FROM cand c JOIN docemb d USING (doc_id) JOIN scoped USING (doc_id)),
         |drank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT * FROM dscore ORDER BY score DESC, doc_id LIMIT 15) t),
         |contrib AS (
         |  SELECT doc_id, 0.3 / (60 + rank) AS c FROM bmrank
         |  UNION ALL
         |  SELECT doc_id, 0.5 / (60 + rank) AS c FROM drank)
         |SELECT doc_id, round(SUM(c), 6) AS rrf_score FROM contrib GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 5""".stripMargin
    },
    "q48_ann_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sig AS (SELECT vec_id, e, t.tbl,
         |  ${VectorFunctions.hyperplaneBucketSql("e", "t.tbl", 64, AnnKnn.DefaultBits)} AS bucket
         |  FROM e, range(${AnnKnn.DefaultTables}) t(tbl)),
         |qsig AS (SELECT tbl, bucket FROM sig WHERE vec_id = 0),
         |cand AS (SELECT DISTINCT s.vec_id FROM sig s JOIN qsig q ON s.tbl = q.tbl AND s.bucket = q.bucket),
         |qv AS (SELECT e FROM e WHERE vec_id = 0)
         |SELECT c.vec_id, round(list_dot_product(e.e, (SELECT e FROM qv)), 6) AS score
         |FROM cand c JOIN e USING (vec_id)
         |ORDER BY score DESC, vec_id LIMIT ${Limit}""".stripMargin,
    "q55_ivf_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 19 = 0
         |  ORDER BY vec_id LIMIT 128),
         |asg AS (SELECT vec_id, v, cid FROM (
         |  SELECT e.vec_id, e.v, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_dot_product(e.v, c.cv), 6) DESC, c.cid DESC) AS rn
         |  FROM e, c) t WHERE rn = 1),
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |probes AS (SELECT cid FROM c, qv
         |  ORDER BY round(list_dot_product(cv, qv.v), 6) DESC, cid LIMIT 4)
         |SELECT a.vec_id, round(list_dot_product(a.v, (SELECT v FROM qv)), 6) AS score
         |FROM asg a JOIN probes p USING (cid)
         |ORDER BY score DESC, vec_id LIMIT ${Limit}""".stripMargin,
  )
}
