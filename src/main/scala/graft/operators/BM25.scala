package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 keyword index + scoring as derived DataFrames.
  *
  * Mirrors the reference's in-memory rank_bm25 `BM25Okapi` index
  * (`src/storage/bm25_store.py:103-244`): k1=1.5, b=0.75, and the
  * rank_bm25 idf scheme — idf(t) = ln((N − df + 0.5)/(df + 0.5)),
  * negative idfs floored to ε·avg(idf) with ε=0.25.
  *
  * Index/read split: [[buildIndex]] derives the whole index ONCE
  * (postings + idf + corpus stats — one explode + three hash
  * aggregations); [[scoreFromIndex]] is the per-query read path — a
  * `term IN (query)` pushdown filter on the postings scan followed by
  * a broadcast join of the ≤|query|-term tables, one shuffle on doc
  * id, no driver loops. The reference rebuilds its whole pickled index
  * per mutation and re-tokenizes per query (`bm25_store.py:176-188`);
  * here the index persists as Parquet (term-partitionable at cluster
  * scale) and a query touches only its own terms' posting lists.
  * Rebuild-on-write becomes partition-scoped recompute (SURVEY §4).
  */
object BM25 {

  case class Params(k1: Double = 1.5, b: Double = 0.75, epsilon: Double = 0.25)

  /** The persisted index: postings (id, dl, term, tf), idf (term, idf)
    * with the ε-floor already applied, stats (n_docs, avgdl). All three
    * are plain DataFrames — parquet-able, incrementally maintainable. */
  case class Index(postings: DataFrame, idf: DataFrame, stats: DataFrame)

  /** Tokenized corpus: (id, toks, dl). */
  def corpus(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      TextFunctions.tokenize(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))

  /** Posting list (id, dl, term, tf) — the derived index table. */
  def postings(corpus: DataFrame): DataFrame =
    corpus.select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequency. */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** Corpus stats (n_docs, avgdl) from the tokenized corpus. */
  /** Corpus stats over docs that tokenize non-empty (dl > 0). Empty
    * docs can never match a term, carry no postings, and are invisible
    * to every index mutation — excluding them here makes buildIndex,
    * upsertIndex and cascadeDelete agree on one corpus-stats contract
    * instead of drifting on stopword-only documents. */
  def stats(corpus: DataFrame): DataFrame =
    corpus.filter(col("dl") > 0).agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      // exact integer token total: lets incremental maintenance
      // ([[graft.sources.SegmentedStore]]) roll avgdl forward
      // bit-identically to a full recompute (n·avgdl in double would
      // not round-trip)
      sum(col("dl")).as("sum_dl"))

  /** (term, idf) with rank_bm25's ε-floor for negative idfs applied —
    * built once per index, not per query. */
  def idfTable(docFreq: DataFrame, stats: DataFrame, p: Params = Params()): DataFrame = {
    val idf0 = docFreq.crossJoin(broadcast(stats))
      .withColumn("idf0",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val avgIdf = idf0.agg(avg(col("idf0")).as("avg_idf"))
    idf0.crossJoin(broadcast(avgIdf))
      .select(col("term"),
        when(col("idf0") < 0, lit(p.epsilon) * col("avg_idf"))
          .otherwise(col("idf0")).as("idf"))
  }

  /** Corpus stats derived FROM a postings table: distinct (id, dl) is
    * one row per doc with dl > 0 — exactly the docs [[stats]] counts
    * (empty docs carry no postings). This is [[upsertIndex]]'s stats
    * rule, where no raw corpus exists to re-derive from. NOT used by
    * [[buildIndex]]: deriving build-time stats from postings was
    * measured a wash-to-regression at sf0.1 (q23 1.25×, q26 1.20×
    * interleaved A/B, r16) and is worse at scale — column pruning
    * drops `tf` from the stats branch's aggregate, de-canonicalizing
    * the exchange so it is NOT reused (verified: zero ReusedExchange
    * in the non-AQE plan), leaving an explode+shuffle pass where
    * [[stats]]'s map-side corpus agg pays neither. */
  def statsFromPostings(postings: DataFrame): DataFrame =
    postings.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        sum(col("dl")).as("sum_dl"))

  /** Derive the full index from raw documents (the write path). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 p: Params = Params()): Index = {
    val base = corpus(docs, idCol, textCol)
    val post = postings(base)
    val st = stats(base)
    Index(post, idfTable(docFreq(post), st, p), st)
  }

  /** The read path: score a tokenized query against a prebuilt (e.g.
    * parquet-loaded) index. Touches only the query terms' posting
    * lists — the term `InSet` filter ([[termRows]]) pushes into the postings scan, and when
    * the index carries a `term_blk` column (written by
    * [[graft.sources.TableStore.writeTerms]], files sorted by
    * (term_blk, term)) an additional block filter pushes down with it:
    * Parquet skips every row group and page whose min/max statistics
    * miss the ≤|query| blocks, so a query reads those blocks of the
    * index, never the rest. On a store written in the older `term_blk=`
    * directory layout the same filter is a partition prune. Query
    * terms are a bag (duplicates weight double, as rank_bm25's
    * get_scores iteration); positive scores only by default (reference
    * `bm25_store.py:235`). */
  def scoreFromIndex(index: Index, queryTokens: Seq[String],
                     p: Params = Params(),
                     positiveOnly: Boolean = true): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val terms = queryTokens.distinct
    val q = queryTokens.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .toDF("term", "qcount")

    termRows(index.postings, terms)
      .join(broadcast(q), "term")
      .join(broadcast(termRows(index.idf, terms).select($"term", $"idf")), "term")
      .crossJoin(broadcast(index.stats.select($"avgdl")))
      .withColumn("term_score", termScore(p))
      .groupBy($"id")
      .agg(sum($"term_score").as("score"))
      .filter(if (positiveOnly) $"score" > 0 else lit(true))
  }

  /** The rows of a term table (postings, idf, docfreq) for `terms`:
    * the term filter, plus the `term_blk` block filter when the table
    * carries that column. Both are `InSet`s, so the generated code is
    * the same for every term list. */
  def termRows(df: DataFrame, terms: Seq[String]): DataFrame = {
    val blocked =
      if (df.columns.contains("term_blk"))
        df.filter(graft.sources.TableStore.isInLongs("term_blk",
          terms.map(graft.sources.TableStore.termBlockJvm).distinct))
      else df
    blocked.filter(graft.sources.TableStore.isInStrings("term", terms))
  }

  /** A posting's BM25 term score over its (idf, tf, dl, avgdl, qcount)
    * columns — [[scoreFromIndex]]'s `term_score`. */
  def termScore(p: Params = Params()): Column =
    col("idf") * (col("tf") * lit(p.k1 + 1.0)) /
      (col("tf") + lit(p.k1) * (lit(1.0) - lit(p.b) + lit(p.b) * col("dl") / col("avgdl"))) *
      col("qcount")

  /** Driver twin of [[scoreFromIndex]]'s per-posting `term_score`: the
    * same double operations in the same order (the long `tf` and
    * `qcount` and the int `dl` widen as Spark casts them), so it is
    * equal to the column form bit for bit. */
  def termScoreJvm(idf: Double, tf: Long, dl: Int, avgdl: Double, qcount: Long,
                   p: Params = Params()): Double =
    idf * (tf * (p.k1 + 1.0)) / (tf + p.k1 * ((1.0 - p.b) + p.b * dl / avgdl)) * qcount

  /** Partition-scoped index maintenance (S8): replace or add documents
    * without rebuilding the index from the raw corpus — the reference
    * rebuilds its whole pickled index on every mutation
    * (`bm25_store.py:176-188`). Old rows for re-upserted ids anti-join
    * away, the new documents' postings append, and the idf/stats
    * refresh reads only the merged postings' per-term aggregates —
    * never the corpus text. Documents that tokenize empty are outside
    * the index AND its corpus stats by contract ([[stats]] filters
    * dl > 0), so upsert, delete and full rebuild agree exactly on every
    * input. */
  def upsertIndex(index: Index, docs: DataFrame, idCol: String,
                  textCol: String, p: Params = Params()): Index = {
    val newCorpus = corpus(docs, idCol, textCol)
    val newIds = newCorpus.select(col("id"))
    val merged = index.postings.join(newIds, Seq("id"), "left_anti")
      .unionByName(postings(newCorpus))
    val st = statsFromPostings(merged)
    Index(merged, idfTable(docFreq(merged), st, p), st)
  }

  /** Top-k over a prebuilt index (T1 read path): deterministic
    * tie-break on rounded score then id. */
  def searchFromIndex(index: Index, queryTokens: Seq[String], k: Int,
                      p: Params = Params(),
                      positiveOnly: Boolean = true): DataFrame =
    scoreFromIndex(index, queryTokens, p, positiveOnly)
      .select(col("id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** Convenience: build-then-score over raw documents (the oracle
    * baseline; per-query index derivation — use [[scoreFromIndex]]
    * with a persisted index on any hot path). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            queryTokens: Seq[String], p: Params = Params(),
            positiveOnly: Boolean = true): DataFrame =
    scoreFromIndex(buildIndex(docs, idCol, textCol, p), queryTokens, p, positiveOnly)

  /** Top-k search (T1): deterministic tie-break on rounded score then id. */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queryTokens: Seq[String], k: Int,
             p: Params = Params(),
             positiveOnly: Boolean = true): DataFrame =
    searchFromIndex(buildIndex(docs, idCol, textCol, p), queryTokens, k, p, positiveOnly)

  // ---- DuckDB oracle twin ------------------------------------------------

  /** Shared CTE prefix computing (doc_id, dl, term, tf), stats, idf for
    * the `documents` table — the SQL twin of the DataFrame pipeline. */
  def oracleCtes(queryTokens: Seq[String], p: Params = Params(),
                 table: String = "documents"): String = {
    val toks = TextFunctions.tokenizeSql("text")
    val qvals = queryTokens.groupBy(identity).view.mapValues(_.size).toSeq.sorted
      .map { case (t, c) => s"('$t', $c)" }.mkString(", ")
    s"""tok AS (SELECT doc_id, $toks AS toks FROM $table),
       |base AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM base WHERE dl > 0),
       |posting AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base) u GROUP BY doc_id, dl, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
       |idf0 AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5)) AS idf0 FROM dfreq, stats),
       |aidf AS (SELECT AVG(idf0) AS avg_idf FROM idf0),
       |idf AS (SELECT term, CASE WHEN idf0 < 0 THEN ${p.epsilon} * avg_idf ELSE idf0 END AS idf FROM idf0, aidf),
       |q(term, qcount) AS (VALUES $qvals),
       |bm25 AS (
       |  SELECT p.doc_id,
       |    SUM(i.idf * (p.tf * ${p.k1 + 1.0}) / (p.tf + ${p.k1} * (1.0 - ${p.b} + ${p.b} * p.dl / s.avgdl)) * q.qcount) AS score
       |  FROM posting p JOIN q USING (term) JOIN idf i USING (term), stats s
       |  GROUP BY p.doc_id)""".stripMargin
  }
}
