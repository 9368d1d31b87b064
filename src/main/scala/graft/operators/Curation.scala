package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}

/** Training-data curation operators beyond the dedup family: eval-set
  * decontamination, repetition-based quality signals (Gopher-style),
  * and deterministic stratified sampling.
  *
  * Scale design notes (100 TB):
  *  - decontamination joins the corpus-sized shingle stream against a
  *    BROADCAST eval-shingle set (eval sets are tiny vs the corpus) on
  *    fixed-width 8-byte hash keys — one pass over the corpus, no
  *    corpus-side shuffle except the final per-doc count of the
  *    (small) hit set;
  *  - repetition metrics are row-local higher-order-function programs
  *    — zero shuffle, embarrassingly parallel, whole-stage codegen;
  *  - sampling is a deterministic hash predicate — one scan, no
  *    shuffle, reproducible across reruns/partitionings, and the
  *    per-stratum rate lookup is a literal map (no join).
  */
object Curation {

  // ---- eval-set decontamination -----------------------------------------

  /** Flag training documents sharing any word n-gram with an eval set
    * (the standard n-gram-collision decontamination check, cf. GPT-3
    * appendix C / PaLM §7). Inputs: train(id, toks), evalDocs(toks).
    * Output: (id, n_hits, n_shingles, hit_frac) for CONTAMINATED
    * training docs only — the hit set is tiny, so downstream "drop
    * contaminated" is a broadcast anti-join. Shingles are compared as
    * [[TextFunctions.hash56]] keys: 8-byte fixed-width join keys
    * instead of ~50-byte strings, collision odds ~2^-56 per pair. */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    toksCol: String, n: Int): DataFrame = {
    val evalSh = evalDocs
      .select(explode(array_distinct(TextFunctions.shingles(col(toksCol), n))).as("sh"))
      .select(TextFunctions.hash56(col("sh")).as("sh_h"))
      .distinct()
    // ONE corpus pass: explode the distinct-shingle stream, LEFT-join
    // the broadcast eval set as a hit flag, then count rows and hits
    // in a single groupBy(id). The shingle construction is evaluated
    // exactly once per row (carrying size(arr) through the explode
    // re-inlines the array expression under projection collapse —
    // measured 3× slower; a separate sizes branch re-scans the
    // corpus), and map-side partial aggregation collapses the shuffle
    // to one row per (doc, map task) — O(docs), not O(shingles).
    val trainSh = train
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(toksCol), n))).as("sh"))
      .select(col("id"), TextFunctions.hash56(col("sh")).as("sh_h"))
    trainSh.join(broadcast(evalSh.withColumn("__hit", lit(1))), Seq("sh_h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits") / col("n_shingles"), 6).as("hit_frac"))
  }

  /** Bloom-probe decontamination — same contract and output as
    * [[contamination]], the true 100 TB shape (VERDICT r2 #7): the
    * broadcast side is a bloom filter over the eval shingle hashes
    * (~1.7 bytes/element at fpp 1e-6 vs 8-byte hashes in a hash
    * relation) and the corpus pass probes it row-locally instead of
    * running the join machinery per shingle. Probe positives are then
    * EXACTLY confirmed: only candidate docs' shingles (candidate set ≈
    * contaminated docs + fpp·shingles false positives) re-join the
    * exact eval set, so the result is byte-identical to the exact
    * variant — the bloom can only admit extra work, never wrong rows.
    * Returns the same (id, n_hits, n_shingles, hit_frac) rows. */
  def contaminationBloom(train: DataFrame, evalDocs: DataFrame, idCol: String,
                         toksCol: String, n: Int,
                         fpp: Double = 1e-6): DataFrame = {
    val spark = train.sparkSession
    // cached for the two eager consumers here (the count and the bloom
    // build) and released right after — the exact-confirm semi-join in
    // the returned lazy plan recomputes the eval lineage once when the
    // caller acts, instead of this call leaking a cached frame per
    // invocation into a long-lived session
    val evalSh = evalDocs
      .select(explode(array_distinct(TextFunctions.shingles(col(toksCol), n))).as("sh"))
      .select(TextFunctions.hash56(col("sh")).as("sh_h"))
      .distinct()
      .cache()
    // eval sets are small (≤ millions): one pass builds the bloom
    val nEval = math.max(evalSh.count(), 1L)
    val bloom = evalSh.stat.bloomFilter("sh_h", nEval, fpp)
    evalSh.unpersist(false)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    // codegen probe of the broadcast filter — the ScalaUDF form paid
    // per-row boxing on the corpus-sized pass (guide §4)
    def might(h: Column) = HashFunctions.bloomMightContain(h, bloomBc)

    // pass 1 (the only corpus-sized pass): per-doc shingle totals +
    // bloom-candidate counts, all row-local before the per-doc agg
    val trainSh = train
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(toksCol), n))).as("sh"))
      .select(col("id"), TextFunctions.hash56(col("sh")).as("sh_h"))
    val perDoc = trainSh
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(might(col("sh_h")), 1)).as("n_cand"))
      .filter(col("n_cand") > 0)

    // pass 2 (candidate-sized): exact confirm — semi-join train down to
    // candidate docs BEFORE re-exploding (the shingle generator only
    // runs over candidates), then join the exact eval set
    val candIds = perDoc.select(col("id"))
    val confirmed = train
      .select(col(idCol).as("id"), col(toksCol).as("__toks"))
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .select(col("id"),
        explode(array_distinct(TextFunctions.shingles(col("__toks"), n))).as("sh"))
      .select(col("id"), TextFunctions.hash56(col("sh")).as("sh_h"))
      .join(broadcast(evalSh), Seq("sh_h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    perDoc
      .join(confirmed, Seq("id"), "inner")
      .select(col("id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits") / col("n_shingles"), 6).as("hit_frac"))
  }

  // ---- repetition signals (Gopher-style quality filters) ----------------

  /** Per-document bigram repetition: (id, n_bigrams, dup_bigram_frac,
    * top_bigram_frac) for docs with ≥ 2 tokens. High values mark
    * boilerplate / TTS spam / degenerate text (Gopher table A1 uses
    * exactly these families of signals as training-data filters).
    * Row-local program — shuffle-free, embarrassingly parallel.
    *
    * The per-doc mode and distinct count come from ONE linear fold
    * over the SORTED bigram array (run-length scan), not from
    * `transform(array_distinct(bg), b -> size(filter(bg, _ == b)))`:
    * expressions inside HOF lambdas are re-evaluated per element (no
    * common-subexpression elimination), so the naive form recomputes
    * the whole shingle construction O(distinct) times per row —
    * measured 60× slower on this corpus. The bigram array is also
    * materialized into a column first so it is built exactly once. */
  def repetitionSignals(docs: DataFrame, idCol: String, toksCol: String): DataFrame = {
    // sorted-run fold as ONE codegen kernel call (run_stats sorts
    // internally) — the aggregate(array_sort(bg), struct(...), ...)
    // column program evaluated its lambda interpreted per element
    // (~380 evals/doc); parity incl. the empty-string initial `prev`
    // and null-element edges pinned in TextKernelSpec (guide §4)
    val folded = TextFunctions.runStats(col("bg"))
    docs.filter(size(col(toksCol)) >= 2)
      .select(col(idCol).as("id"),
        TextFunctions.shingles(col(toksCol), 2).as("bg"))
      .select(col("id"), size(col("bg")).cast("long").as("n_bigrams"), folded.as("st"))
      .select(col("id"), col("n_bigrams"),
        round(lit(1.0) - col("st.d") / col("n_bigrams").cast("double"), 6)
          .as("dup_bigram_frac"),
        round(col("st.best") / col("n_bigrams").cast("double"), 6)
          .as("top_bigram_frac"))
  }

  // ---- deterministic stratified sampling --------------------------------

  /** Deterministic per-stratum Bernoulli sample: keep a row iff
    * hash56(id:salt) mod 1e6 < rate(stratum)·1e6. Reproducible across
    * reruns, partitionings and engines (the oracle computes the same
    * predicate), unlike `DataFrame.sample`'s RNG. rates misses →
    * defaultRate. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String): DataFrame = {
    // thresholds resolve to exact integers DRIVER-side: 0.3 * 1e6 in
    // column-space double arithmetic is 299999.999…→299999, while a
    // SQL decimal literal gives 300000 — a doc hashing exactly onto
    // the boundary bucket would diverge from the oracle
    def ppm(r: Double) = lit(math.round(r * 1000000L))
    val threshold = rates.foldLeft(ppm(defaultRate)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, ppm(v)).otherwise(acc)
    }
    val bucket = TextFunctions.hash56(
      concat(col(idCol).cast("string"), lit(":" + salt))) % 1000000L
    docs.filter(bucket < threshold)
  }

  // ---- token-budget shard packing ---------------------------------------

  /** Pack documents into fixed token-budget shards per stratum: doc d
    * goes to shard floor(prefix(d) / budget) where prefix(d) is the
    * running token total of all earlier docs (by id) in its stratum —
    * the deterministic contiguous-shard assignment training pipelines
    * use to cut a corpus into ~equal-token output files.
    *
    * Distributed prefix sum, NOT one window per stratum (which would
    * put an entire stratum — possibly most of the corpus — in a single
    * task): ids are range-bucketed into groups of `groupSize`; phase 1
    * aggregates per-(stratum, group) token totals (tiny table) and
    * prefix-sums THOSE with a window; phase 2 computes the within-group
    * prefix (window over ≤ groupSize rows) and adds the group offset.
    * Both windows are bounded: one by the group count, one by
    * groupSize. Output: (id, stratum, n_tokens, shard_id). */
  def packShards(docs: DataFrame, idCol: String, stratumCol: String,
                 nTokensCol: String, budget: Long,
                 groupSize: Long = 1000000L): DataFrame =
    distributedPrefix(
        docs.select(col(idCol).as("id"), col(stratumCol).as("stratum"),
          col(nTokensCol).cast("long").as("n_tokens")),
        "id", "stratum", "n_tokens", groupSize)
      .select(col("id"), col("stratum"), col("n_tokens"),
        // integral div: long/long `/` goes through double and can
        // misbucket near boundaries once prefixes pass 2^53
        expr(s"__dp_prefix div ${budget}L").as("shard_id"))

  /** Pack the corpus into fixed-length training sequences — the
    * concat-and-chunk step before pretraining: documents are laid
    * end-to-end in id order at TOKEN granularity (same two-phase
    * distributed prefix sum as [[packShards]], constant stratum), then
    * each doc's token interval [off, off+n) is split at every `seqLen`
    * boundary it crosses. One output row per (doc, sequence) span:
    * (seq_id, id, doc_from, len, seq_from) — so a long doc spans many
    * sequences and a sequence packs many short docs, and the
    * span-generation step after the prefix is a shuffle-free
    * sequence+explode projection. Zero-token docs are dropped (they
    * occupy no span). */
  def packSequences(docs: DataFrame, idCol: String, nTokensCol: String,
                    seqLen: Long, groupSize: Long = 1000000L): DataFrame = {
    val pre = distributedPrefix(
      docs.select(col(idCol).as("id"), lit(0).as("__all"),
          col(nTokensCol).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0),
      "id", "__all", "n_tokens", groupSize)
    val off = col("__dp_prefix")
    val spanStart = greatest(off, col("seq_id") * seqLen)
    val spanEnd = least(off + col("n_tokens"), (col("seq_id") + 1) * seqLen)
    pre
      .withColumn("seq_id", explode(sequence(
        expr(s"__dp_prefix div ${seqLen}L"),
        expr(s"(__dp_prefix + n_tokens - 1) div ${seqLen}L"))))
      .select(col("seq_id"), col("id"),
        (spanStart - off).as("doc_from"),
        (spanEnd - spanStart).as("len"),
        (spanStart - col("seq_id") * seqLen).as("seq_from"))
  }

  /** Exclusive running total of `weightCol` per stratum in id order,
    * appended as `__dp_prefix` — every payload column of `df` is
    * preserved (one output row per input row), which is why callers
    * never need a re-join that would fan out on duplicate ids or drop
    * null ids. Two phases of BOUNDED windows (per-group totals
    * prefix-summed on a tiny table + within-group windows over ≤
    * groupSize rows); null strata/groups survive via null-safe join
    * keys (a plain equi-join would silently drop every null-stratum
    * row the windows kept). Rows tying on (stratum, id) receive
    * arbitrary relative order — use unique ids per stratum for a fully
    * deterministic prefix. */
  private def distributedPrefix(df: DataFrame, idCol: String,
                                stratumCol: String, weightCol: String,
                                groupSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__dp_grp", expr(s"`$idCol` div ${groupSize}L"))
    val groupTotals = base
      .groupBy(col(stratumCol).as("__dp_s"), col("__dp_grp").as("__dp_g"))
      .agg(sum(col(weightCol)).as("__dp_total"))
    val wg = Window.partitionBy("__dp_s").orderBy("__dp_g")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = groupTotals
      .select(col("__dp_s"), col("__dp_g"),
        (sum(col("__dp_total")).over(wg) - col("__dp_total")).as("__dp_offset"))
    val wl = Window.partitionBy(col(stratumCol), col("__dp_grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__dp_local", sum(col(weightCol)).over(wl) - col(weightCol))
      .join(broadcast(offsets),
        col(stratumCol) <=> col("__dp_s") && col("__dp_grp") <=> col("__dp_g"))
      .withColumn("__dp_prefix", col("__dp_offset") + col("__dp_local"))
      .drop("__dp_s", "__dp_g", "__dp_grp", "__dp_offset", "__dp_local")
  }

  // ---- leakage-free splitting ---------------------------------------------

  /** Train/eval split that cannot leak near-duplicates across the
    * boundary: the split key is the document's dedup CLUSTER id (its
    * own id when unclustered), so every member of a near-dup cluster
    * lands on the same side — splitting by raw doc id puts a document
    * in train and its near-copy in eval, silently inflating eval
    * scores. Deterministic hash split (as [[stratifiedSample]]);
    * `clusterLabels` is [[Dedup.clusters]] output (id, cluster),
    * joined left so unclustered docs need no row there. Output: docs
    * plus a `split` column ("train" / "eval"). */
  def leakageFreeSplit(docs: DataFrame, idCol: String,
                       clusterLabels: DataFrame, evalFrac: Double,
                       salt: String): DataFrame = {
    require(evalFrac >= 0 && evalFrac <= 1, "evalFrac must be in [0,1]")
    val threshold = lit(math.round(evalFrac * 1000000L))
    // internal name: docs that already carry a `cluster` column (the
    // natural upstream joined Dedup.clusters in) must not collide
    val labels = clusterLabels
      .select(col("id").as(idCol), col("cluster").as("__lfs_cluster"))
    val bucket = TextFunctions.hash56(
      concat(coalesce(col("__lfs_cluster"), col(idCol)).cast("string"),
        lit(":" + salt))) % 1000000L
    docs.join(labels, Seq(idCol), "left")
      .withColumn("split", when(bucket < threshold, "eval").otherwise("train"))
      .drop("__lfs_cluster")
  }

  // ---- weighted source interleaving -------------------------------------

  /** Deterministic proportional interleave of sources into one global
    * training order: doc with per-source rank r (1-based, by id) gets
    * virtual position (r − 0.5) / weight(source); reading in position
    * order yields each source at a rate ∝ its weight (the mixture-
    * sampling order training runs consume, but reproducible — no RNG).
    * The per-source rank comes from [[distributedPrefix]] with unit
    * weights — NOT one row_number window per source, which would
    * funnel an entire source (possibly most of the corpus) through a
    * single task; consumers sort by `mix_pos`, which range-partitions. */
  def interleaveByWeight(docs: DataFrame, idCol: String, sourceCol: String,
                         weights: Map[String, Double],
                         defaultWeight: Double,
                         groupSize: Long = 1000000L): DataFrame = {
    require(defaultWeight > 0 && weights.values.forall(_ > 0),
      "interleave weights must be positive")
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col(sourceCol) === k, lit(v)).otherwise(acc)
    }
    // the prefix sum preserves every payload column row-for-row, so no
    // re-join (which would fan out duplicate ids / drop null ids)
    distributedPrefix(docs.withColumn("__dp_one", lit(1L)),
        idCol, sourceCol, "__dp_one", groupSize)
      // rank = prefix + 1 ⇒ (rank − 0.5) = prefix + 0.5
      .withColumn("mix_pos", (col("__dp_prefix") + lit(0.5)) / w)
      .drop("__dp_one", "__dp_prefix")
  }

  // ---- dataset statistics -----------------------------------------------

  /** Exact per-stratum token-count quantiles (linear interpolation —
    * the quantile_cont definition both Spark's `percentile` and DuckDB
    * share). Exact percentiles sort every value within the group; at
    * corpus scale call [[approxTokenQuantiles]] instead (t-digest
    * sketch, mergeable, single pass) and keep this as the oracle
    * baseline. */
  def tokenQuantiles(docs: DataFrame, stratumCol: String,
                     nTokensCol: String, ps: Seq[Double]): DataFrame = {
    val q = expr(s"percentile($nTokensCol, array(${ps.mkString("D,")}D))")
    docs.groupBy(col(stratumCol).as("stratum")).agg(q.as("qs"))
      .select(col("stratum") +: ps.zipWithIndex.map { case (p, i) =>
        round(element_at(col("qs"), i + 1), 6).as(s"p${(p * 100).toInt}")
      }: _*)
  }

  /** Sketch-based quantiles for the 100 TB path: single pass,
    * mergeable partial states, no per-group sort. */
  def approxTokenQuantiles(docs: DataFrame, stratumCol: String,
                           nTokensCol: String, ps: Seq[Double],
                           accuracy: Int = 10000): DataFrame =
    docs.groupBy(col(stratumCol).as("stratum"))
      .agg(expr(s"approx_percentile($nTokensCol, array(${ps.mkString("D,")}D), $accuracy)").as("qs"))
      .select(col("stratum") +: ps.zipWithIndex.map { case (p, i) =>
        element_at(col("qs"), i + 1).as(s"p${(p * 100).toInt}")
      }: _*)

  // ---- per-source caps ----------------------------------------------------

  /** Cap each stratum (source/domain) at its n best rows — the
    * "no single domain dominates the mixture" rule every web-scale
    * pipeline applies, ordered by a quality proxy (`orderCol` desc,
    * id tiebreak). Skew-safe two-phase top-n: a bare
    * `row_number over (partition by source)` funnels an entire source
    * — possibly most of the corpus — through one task. Phase 1 ranks
    * within (stratum, hash-salt) slices and keeps each slice's local
    * top-n (any global top-n row is top-n in its slice, so recall is
    * exact); phase 2 re-ranks the ≤ salts·n survivors per stratum.
    * Both windows are bounded: one by corpus/salts ≈ even slices, one
    * by salts·n rows. Output: input columns + `rk` (1..n). */
  def capPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                    orderCol: String, n: Int, salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0 && salts > 0, "cap and salts must be positive")
    val salt = pmod(TextFunctions.hash56(col(idCol).cast("string")), lit(salts.toLong))
    val w1 = Window.partitionBy(col(stratumCol), col("__cap_salt"))
      .orderBy(col(orderCol).desc, col(idCol))
    val w2 = Window.partitionBy(col(stratumCol))
      .orderBy(col(orderCol).desc, col(idCol))
    df.withColumn("__cap_salt", salt)
      .withColumn("__cap_r", row_number().over(w1))
      .filter(col("__cap_r") <= n)
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= n)
      .drop("__cap_salt", "__cap_r")
  }

  // ---- corpus n-gram statistics -------------------------------------------

  /** Top-k most frequent word n-grams corpus-wide (count desc, ngram
    * asc tie-break — a total order, so the k boundary is deterministic
    * across engines). The classic corpus-analysis / Zipf-audit rollup:
    * explode → hash-aggregate (map-side partial combine collapses the
    * shuffle to one row per distinct ngram per task) → distributed
    * top-k (TakeOrderedAndProject — no global sort). At 100 TB the
    * distinct-ngram key space is huge but the shuffle is bounded by
    * distinct ngrams per task, not corpus positions; for a cheaper
    * sketch, pre-filter singleton ngrams with a frequency floor. */
  def topNgrams(docs: DataFrame, toksCol: String, n: Int, k: Int): DataFrame =
    docs.select(explode(TextFunctions.shingles(col(toksCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  // ---- URL / domain filtering ---------------------------------------------

  /** C4/RefinedWeb-style URL hygiene as ONE row-local projection:
    * extract the registrable host from each document's source URL,
    * then keep a row iff (a) its domain is not blocklisted, (b) no
    * blocked keyword occurs anywhere in the lowered URL, and (c) the
    * domain is not a bare IP literal (crawl-noise tell). Returns
    * (id, domain, keep) so callers can filter, audit, or aggregate
    * per-domain stats from the same frame. Zero shuffle at any corpus
    * size; a million-domain blocklist would swap the literal `isin`
    * for a broadcast anti-join on `domain` with no other change. */
  def urlDomain(url: Column): Column =
    regexp_extract(lower(url), "^(?:[a-z][a-z0-9+.-]*://)?(?:www\\.)?([^/:?#]+)", 1)

  /** The keep predicate as a bare Column, so pipelines apply it as a
    * row-local filter on the corpus scan itself (no join). */
  def urlKeep(url: Column, blockedDomains: Seq[String],
              blockedKeywords: Seq[String]): Column = {
    val lowered = lower(url)
    val domain = urlDomain(url)
    val isIp = domain.rlike("^\\d{1,3}(\\.\\d{1,3}){3}$")
    val kwHit = blockedKeywords
      .foldLeft(lit(false))((acc, k) => acc || lowered.contains(k.toLowerCase))
    !domain.isin(blockedDomains.map(_.toLowerCase): _*) &&
      !kwHit && !isIp && domain =!= ""
  }

  def urlFilter(docs: DataFrame, idCol: String, urlCol: String,
                blockedDomains: Seq[String],
                blockedKeywords: Seq[String]): DataFrame =
    docs.select(col(idCol), urlDomain(col(urlCol)).as("domain"),
      urlKeep(col(urlCol), blockedDomains, blockedKeywords).as("keep"))

  // ---- source reputation (statistics-driven source filter) ----------------

  /** Source-reputation roll-up — the statistics-driven counterpart of
    * the static [[urlFilter]] blocklist (the C4 bad-domain / RefinedWeb
    * per-domain-quality idea re-keyed to this corpus's `source`
    * column): per-source document count, mean quality score
    * ([[TextAnalysis.qualityColumns]]'s composite), and exact-duplicate
    * share, plus a keep verdict (mean ≥ `minMeanQuality` AND dup share
    * ≤ `maxDupShare`). A low-reputation source drops WHOLESALE — the
    * decision a crawl pipeline applies before any per-document work.
    *
    * Exactness across engines: the mean aggregates micro-units
    * (round(q·1e6) as BIGINT), so the per-source sums are exact
    * integers and the result is independent of float summation order;
    * dup share is pure integer arithmetic.
    *
    * Scale: one row-local quality pass, one partial-agg
    * groupBy(source) — sources ≪ documents, so the verdict table is
    * broadcast-sized and [[bySourceReputation]]'s filter-back is a
    * broadcast semi-join, never a shuffle of the corpus. */
  def sourceReputation(docs: DataFrame, textCol: String, srcCol: String,
                       minMeanQuality: Double,
                       maxDupShare: Double): DataFrame = {
    val q = TextAnalysis.qualityColumns(col(textCol))
      .toMap.apply("quality_score")
    val base = docs.select(col(srcCol).as("source"),
      md5(col(textCol)).as("__h"),
      round(q * 1e6).cast("long").as("__q6"))
    base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__q6")).as("__sq"),
        countDistinct(col("__h")).as("__nd"))
      .select(col("source"), col("n_docs"),
        round(col("__sq").cast("double") / (col("n_docs") * 1e6), 6)
          .as("mean_quality"),
        round(lit(1.0) - col("__nd").cast("double") / col("n_docs"), 6)
          .as("dup_share"))
      .withColumn("keep",
        col("mean_quality") >= minMeanQuality &&
          col("dup_share") <= maxDupShare)
  }

  /** Documents filtered by their source's reputation verdict. */
  def bySourceReputation(docs: DataFrame, textCol: String, srcCol: String,
                         minMeanQuality: Double,
                         maxDupShare: Double): DataFrame =
    docs.join(
      broadcast(sourceReputation(docs, textCol, srcCol,
          minMeanQuality, maxDupShare)
        .filter(col("keep")).select(col("source").as(srcCol))),
      Seq(srcCol), "left_semi")

  // ---- perplexity-bucket quality gate -------------------------------------

  /** CCNet-style perplexity bucketing (head / middle / tail) as a
    * row-local column program. The score is a DETERMINISTIC stand-in
    * for a KenLM document perplexity (the reference pattern ships a
    * pretrained LM; this engine is model-free — a real LM plugs in via
    * a `mapPartitions` batch scorer exactly like
    * [[graft.functions.ExternalEmbedder]]): the exponential of the
    * doc's word-unigram entropy, exp(ln N − Σ c·ln c / N) over its own
    * token histogram. Degenerate repetition → ppl near 1 (tail-low);
    * natural prose → mid; unstructured noise → high. Buckets by the
    * (t1, t2) thresholds on the ROUNDED score, so the cut is stable
    * across engines/libm ulps: head < t1 ≤ middle < t2 ≤ tail.
    * Returns (id, ppl, bucket); counts are sorted before the Σ c·ln c
    * fold so summation order (and thus the last ulp) is identical in
    * every engine. */
  def pplScore(toks: Column): Column =
    // fused codegen kernel (one pass; see PplScoreKernel) — the former
    // filter-per-distinct histogram built the same count multiset,
    // sorted it ascending and folded the same Σ c·ln c, so the rounded
    // score is bit-for-bit unchanged (parity pinned in TextKernelSpec)
    TextFunctions.pplScore(toks)

  /** Bucket label as a bare Column (pipelines filter the scan with it
    * row-locally — no join, no shuffle). NOTE: [[pplScore]]'s
    * filter-per-distinct histogram is O(distinct·n) per doc — fine for
    * short fields; for corpus text use [[withPplScore]], the staged
    * linear form (same rounded score bit-for-bit). */
  def pplBucket(toks: Column, t1: Double, t2: Double): Column = {
    val ppl = pplScore(toks)
    when(ppl < t1, "head").when(ppl < t2, "middle").otherwise("tail")
  }

  /** The scale form of the perplexity surrogate: token histogram via
    * sorted-run boundaries — O(n log n) per doc instead of
    * [[pplScore]]'s O(distinct·n) filter-per-distinct — staged as
    * intermediate COLUMNS so no HOF lambda ever references an
    * expression (attribute reads are free; re-evaluated expressions
    * are the q58/q109 trap). The count multiset and its ascending
    * fold order are identical to [[pplScore]]'s, so the rounded score
    * (and the q89 oracle) is bit-for-bit unchanged. Appends `out`;
    * `greatest(i-1, 1)` keeps element_at off index 0 under ANSI. */
  def withPplScore(df: DataFrame, toksCol: String,
                   out: String = "ppl"): DataFrame =
    // fused codegen kernel: the former staged form (sorted-run
    // boundaries → run-length transform → ascending Σ c·ln c fold)
    // still evaluated its boundary filter and count transform as
    // interpreted HOF lambdas per position; PplScoreKernel is the same
    // program in one pass, rounded score bit-for-bit unchanged (parity
    // pinned in TextKernelSpec against the staged column program)
    df.withColumn(out, TextFunctions.pplScore(col(toksCol)))

  def pplBuckets(docs: DataFrame, idCol: String, toksCol: String,
                 t1: Double, t2: Double): DataFrame =
    withPplScore(docs.select(col(idCol), col(toksCol)), toksCol)
      .select(col(idCol), col("ppl"),
        when(col("ppl") < t1, "head").when(col("ppl") < t2, "middle")
          .otherwise("tail").as("bucket"))

  // ---- mixture planning (token budget × source weights) -------------------

  /** Data-mixture planning — the per-source epochs table of a
    * pre-training run (the published LLaMA / Gopher recipe shape:
    * "CommonCrawl 0.67 epochs, Wikipedia 2.45 epochs, ..."): given
    * per-source token inventories, target mixture weights, and a
    * total token budget, compute each source's target tokens and the
    * implied epochs (>1 = upsampling, <1 = subsampling).
    *
    * One aggregation over the corpus (the per-source token totals);
    * everything else is arithmetic on the |sources|-row result.
    * `target = floor(budget·w + 0.5)` (half-up rounds identically
    * across engines), `epochs = round(target/tokens, 6)`, 0 for an
    * empty or unweighted source. */
  /** Temperature-derived mixture shares — the GPT-3 / PaLM mixing rule
    * `w_i ∝ n_i^α` over per-source token inventories: α = 1 is
    * proportional-to-size, α → 0 approaches uniform, the common
    * α = 0.5 damps big sources without drowning small ones. Feeds
    * [[mixturePlan]] when weights should be DERIVED from the corpus
    * instead of hand-picked.
    *
    * Engine exactness: α = 0.5 computes via IEEE `sqrt` (correctly
    * rounded everywhere); other α go through `pow` (last-ulp libm
    * variance, absorbed by the 6-dp rounding). The denominator folds
    * the per-source terms in ASCENDING VALUE order, so float summation
    * order is fixed across engines and partitionings (the q89/q109
    * sorted-fold convention). Per-source totals are one partial-agg
    * pass; everything after runs on the |sources|-row result. */
  def temperatureWeights(docs: DataFrame, sourceCol: String,
                         nTokensCol: String, alpha: Double): DataFrame = {
    val per = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(nTokensCol)).cast("long").as("n_tokens"))
      .withColumn("__t",
        if (alpha == 0.5) sqrt(col("n_tokens").cast("double"))
        else pow(col("n_tokens").cast("double"), alpha))
    val den = per.agg(
      TextFunctions.sumSorted(collect_list(col("__t"))).as("__den"))
    per.crossJoin(broadcast(den))
      .select(col("source"), col("n_tokens"),
        when(col("__den") > 0, round(col("__t") / col("__den"), 6))
          .otherwise(lit(0.0)).as("weight"))
  }

  def mixturePlan(docs: DataFrame, sourceCol: String, nTokensCol: String,
                  weights: Map[String, Double],
                  budgetTokens: Long): DataFrame = {
    val w = weights.foldLeft(lit(0.0)) { case (acc, (s, wt)) =>
      when(col("source") === s, wt).otherwise(acc)
    }
    docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nTokensCol)).cast("long").as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        w.as("weight"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        floor(lit(budgetTokens) * col("weight") + lit(0.5))
          .cast("long").as("target_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("target_tokens"),
        when(col("n_tokens") > 0,
          round(col("target_tokens") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("epochs"))
  }

  /** Deterministic realization of a mixture plan: each doc of source s
    * is emitted `floor(epochs_s)` times plus one more with probability
    * `frac(epochs_s)` via the [[stratifiedSample]] hash-Bernoulli —
    * reproducible replication/subsampling in one row-local pass (the
    * plan broadcasts; the explode writes exactly the budgeted volume).
    * Output: (id, source, copy), copy = 1..n_copies. */
  def realizeMixture(docs: DataFrame, idCol: String, sourceCol: String,
                     plan: DataFrame, salt: String): DataFrame = {
    val p = plan.select(col("source"), col("epochs"))
    val full = floor(col("epochs")).cast("int")
    val fracPpm = floor((col("epochs") - floor(col("epochs"))) * 1000000L
      + lit(0.5)).cast("long")
    val extra = when(
      TextFunctions.hash56(concat(col("id").cast("string"), lit(":" + salt)))
        % 1000000L < fracPpm, 1).otherwise(0)
    docs.select(col(idCol).as("id"), col(sourceCol).as("source"))
      .join(broadcast(p), Seq("source"))
      .select(col("id"), col("source"), (full + extra).as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("id"), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
  }

  // ---- semantic (embedding) decontamination -------------------------------

  /** Embedding-space eval-set decontamination — the semantic
    * complement of [[contamination]]: an n-gram check misses
    * paraphrased or reformatted benchmark leakage, so each corpus
    * vector is scored against EVERY eval vector by cosine and flagged
    * when the max meets `tau` (the near-duplicate decontamination
    * stance of Yang et al. 2023, "Rethinking Benchmark and
    * Contamination", arXiv:2311.04850 — embedding similarity as the
    * paraphrase-robust detector).
    *
    * Scale: eval sets are benchmark-sized (10³-10⁵ rows) — the eval
    * side broadcasts; scoring is one map-side pass over the corpus
    * (|eval|·d flops per row, zero corpus shuffle before the per-id
    * partial-agg max, which reduces map-side to one row per corpus
    * vector — the [[graft.operators.Dedup.semDedup]] assignment
    * shape). The argmax is max(struct) — partial-aggregable, never a
    * per-id window over the corpus.
    *
    * Output: (id, near_eval_id, max_cos, contaminated), one row per
    * corpus vector; cosines rounded to 6 (ties → smallest eval id) so
    * the verdict is engine-stable. */
  def semanticContamination(corpus: DataFrame, evalE: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val ev = evalE.select(col(idCol).as("eid"),
      col(vecCol).cast("array<double>").as("evec"))
    c.crossJoin(broadcast(ev))
      .select(col("id"), col("eid"),
        round(VectorFunctions.cosine(col("vec"), col("evec")), 6).as("s"))
      .groupBy(col("id"))
      .agg(max(struct(col("s"), (-col("eid")).as("ne"))).as("m"))
      .select(col("id"), (-col("m.ne")).as("near_eval_id"),
        col("m.s").as("max_cos"), (col("m.s") >= tau).as("contaminated"))
  }

  // ---- stupid-backoff bigram language model -------------------------------

  /** Distributed bigram language model with stupid backoff (Brants et
    * al. 2007, "Large Language Models in Machine Translation", §3) —
    * the real CCNet-shape perplexity filter that [[pplBuckets]]'s
    * row-local surrogate stands in for. Training IS two groupBy
    * counting passes (the paper's distributed estimation, verbatim);
    * scoring joins the exploded corpus bigrams against the counts:
    *
    *   p(w2|w1) = c(w1,w2) / c(w1·)      when the bigram was seen,
    *            = α·(c(w2)+1) / (N+V)    otherwise (α = 0.4; add-one
    *                                     unigram so OOV is defined)
    *
    * with c(w1·) = Σ_w2 c(w1,w2) derived FROM the (possibly pruned)
    * bigram table, so the conditional stays self-consistent under
    * `minCount` pruning. Per-position log10 p is rounded to 6 and the
    * per-doc sum folds over the SORTED contribution list (the
    * [[pplScore]] stance), so logp — and ppl = 10^(−logp/n) — is
    * bit-stable across engines.
    *
    * Scale: the model is two aggregated token-keyed tables —
    * Zipf-bounded, orders of magnitude smaller than the corpus, and
    * `minCount` pruning (standard LM practice) caps them to a
    * broadcastable size at 100 TB; scoring pays the tokenize-explode
    * shuffle every counting pass pays, plus hash joins whose build
    * sides are the count tables (1 row per key — probe-side skew is
    * the AQE class, never a row-multiplying join). Docs with < 2
    * tokens get n_scored = 0, ppl = 1. */
  def lmPerplexity(train: DataFrame, docs: DataFrame, idCol: String,
                   toksCol: String, alpha: Double = 0.4,
                   minCount: Long = 1L): DataFrame = {
    // (w1, w2) per adjacent position; the size >= 2 guard is
    // load-bearing — sequence(1, 0) would DESCEND, not come up empty
    def bigrams(df: DataFrame, keep: String*): DataFrame =
      df.filter(size(col(toksCol)) >= 2)
        .select(keep.map(col) :+
          explode(TextFunctions.bigrams(col(toksCol))).as("p"): _*)
        .select(keep.map(col) :+ col("p.w1") :+ col("p.w2"): _*)
    val bi = bigrams(train).groupBy("w1", "w2")
      .agg(count(lit(1)).as("cb")).filter(col("cb") >= minCount)
    val ctx = bi.groupBy("w1").agg(sum("cb").as("cctx"))
    val uni = train.select(explode(col(toksCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("nn"), count(lit(1)).as("vv"))
    val lp = bigrams(docs.withColumn("id", col(idCol)), "id")
      .join(bi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("id"), round(log10(
        when(col("cb").isNotNull, col("cb") / col("cctx"))
          .otherwise(lit(alpha) * (coalesce(col("cu2"), lit(0L)) + lit(1.0)) /
            (col("nn") + col("vv")))), 6).as("lp"))
    val agg = lp.groupBy("id").agg(
      count(lit(1)).as("n_scored"),
      round(TextFunctions.sumSorted(collect_list(col("lp"))), 6).as("logp"))
    docs.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("logp"), lit(0.0)).as("logp"),
        when(col("n_scored").isNotNull,
          round(pow(lit(10.0), -col("logp") / col("n_scored")), 4))
          .otherwise(lit(1.0)).as("ppl"))
  }

  // ---- DSIR-style importance resampling -----------------------------------

  /** Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169), the hashed-n-gram variant: score every
    * document by how much more likely its hashed-bigram profile is
    * under a TARGET distribution (the high-quality subset you want
    * more of) than under the RAW corpus distribution, then keep the
    * top `frac` by Gumbel-perturbed weight — the Gumbel-top-k trick
    * IS sampling-without-replacement proportional to the importance
    * weights, made deterministic here by hashing the doc id into the
    * uniform draw.
    *
    * Bigrams hash into `buckets` fixed buckets, so both distributions
    * are B-cell histograms with add-one smoothing:
    * `lr(b) = ln((tc_b+1)/(T+B)) − ln((rc_b+1)/(R+B))`, and a doc's
    * log-weight is Σ n_db·lr(b) over its buckets. Per-bucket log
    * ratios are rounded to 6 and the per-doc fold runs over the
    * SORTED contribution list (the [[pplScore]] stance), so weights
    * are bit-stable across engines.
    *
    * Scale: the bucket stats are two B-row tables (B ≈ 10⁴-10⁶ —
    * broadcast); the corpus sees one explode + one (id,bucket) count
    * — the same shuffle any tokenize-and-count pass pays; the final
    * top-n is TakeOrdered (never a global row_number window over the
    * corpus). At 100 TB, replace the exact top-n with a weight
    * threshold from [[approxTokenQuantiles]]'s t-digest over `score`
    * — the output contract (selected ≈ frac·N docs, weight-biased)
    * is unchanged.
    *
    * Input: docs(id, toks, target boolean). Output: (id, logw,
    * gumbel, score, selected), one row per input doc. */
  def importanceResample(docs: DataFrame, idCol: String, toksCol: String,
                         targetCol: String, buckets: Int = 1024,
                         frac: Double = 0.2): DataFrame =
    importanceResampleExact(docs, idCol, toksCol, targetCol, buckets, frac,
      docs.count())

  private def importanceResampleExact(docs: DataFrame, idCol: String,
                                      toksCol: String, targetCol: String,
                                      buckets: Int, frac: Double,
                                      nDocs: Long): DataFrame = {
    val scored = dsirScores(docs, idCol, toksCol, targetCol, buckets)
    // exact top-n marker: TakeOrdered on (score desc, id), then a
    // broadcast membership join — n rows, never a corpus-wide window
    val nTake = math.floor(frac * nDocs).toInt
    val sel = scored.orderBy(col("score").desc, col("id")).limit(nTake)
      .select(col("id"), lit(true).as("sel"))
    scored.join(broadcast(sel), Seq("id"), "left")
      .select(col("id"), col("logw"), col("gumbel"), col("score"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** Corpus-size threshold above which [[importanceResampleAuto]] takes
    * the approx (sketch-threshold) path: the exact marker's driver
    * TakeOrdered collects and re-broadcasts frac·N ids — a real scale
    * term once frac·N is millions of rows — while the two paths are
    * measured equal-cost already at 500k docs (118.6 vs 123.0 s, rate
    * 0.2001 vs target 0.2, by the since-removed DsirBench tool). 1M
    * docs keeps gate/spec scales bit-exact on the oracle-pinned exact
    * path with an order of magnitude of headroom before the driver
    * term matters. */
  val DsirApproxAboveDocs: Long = 1000000L

  /** Scale-routing front door for DSIR selection: exact Gumbel-top-k
    * below [[DsirApproxAboveDocs]] docs (bit-exact, oracle-gated q97),
    * the `approx_percentile` threshold path above it (one mergeable
    * sketch + a driver scalar — no frac·N driver marker). The one
    * count job that decides the route is the same count the exact path
    * needs anyway. `approxAboveDocs` overrides the switch point
    * (0 forces approx, Long.MaxValue forces exact). */
  def importanceResampleAuto(docs: DataFrame, idCol: String, toksCol: String,
                             targetCol: String, buckets: Int = 1024,
                             frac: Double = 0.2,
                             approxAboveDocs: Long = DsirApproxAboveDocs)
      : DataFrame = {
    val n = docs.count()
    if (n > approxAboveDocs)
      importanceResampleApprox(docs, idCol, toksCol, targetCol, buckets, frac)
    else
      importanceResampleExact(docs, idCol, toksCol, targetCol, buckets, frac, n)
  }

  /** The 100 TB selection path: same scores as [[importanceResample]],
    * but `selected` comes from a SCALAR score threshold — one
    * `approx_percentile` (t-digest-class quantile sketch: single pass,
    * mergeable partial states) at (1 − frac), broadcast back as a
    * literal-free cross join of one row — instead of the exact
    * TakeOrdered marker, whose n = frac·N rows is itself corpus-sized
    * at scale (collecting and re-broadcasting 20% of a 100 TB corpus'
    * ids is not a plan). Selection rate tracks `frac` within sketch
    * accuracy (spec-pinned vs the exact marker); the output contract
    * (one row per doc, weight-biased keep of ≈ frac·N) is unchanged. */
  def importanceResampleApprox(docs: DataFrame, idCol: String,
                               toksCol: String, targetCol: String,
                               buckets: Int = 1024, frac: Double = 0.2,
                               accuracy: Int = 10000): DataFrame = {
    // the scoring lineage (shingle explode + histogram joins) is the
    // dominant cost and has TWO consumers — the quantile sketch and the
    // returned selection — so it is materialized ONCE as an eager
    // localCheckpoint rather than a catalog cache: a cache entry would
    // escape the function (the returned plan depends on it) and a
    // long-lived session calling this repeatedly would accumulate
    // blocks releasable only via the global catalog.clearCache().
    // Checkpoint blocks instead are owned by the returned frame's RDD —
    // the ContextCleaner frees them as soon as the caller drops the
    // result (the scored rows are 4 narrow columns per doc, the same
    // footprint the cache held; trade-off: an executor loss fails the
    // downstream job instead of recomputing, acceptable for a
    // two-consumer scratch frame).
    val scored =
      dsirScores(docs, idCol, toksCol, targetCol, buckets).localCheckpoint()
    // the sketch reduces to ONE driver scalar (mergeable partials, no
    // corpus-sized TakeOrdered); an empty corpus has no threshold —
    // select nothing, matching the exact path's floor(frac·0) = 0
    val row = scored.agg(
      expr(s"approx_percentile(score, ${1.0 - frac}, $accuracy)")).head()
    val sel = if (row.isNullAt(0)) lit(false)
              else col("score") >= lit(row.getDouble(0))
    scored.select(col("id"), col("logw"), col("gumbel"), col("score"),
      sel.as("selected"))
  }

  /** Unpersist the checkpointed RDD under a `localCheckpoint()`ed
    * frame — the only handle that actually frees the blocks
    * (Dataset.unpersist only consults the plan cache, which a
    * checkpoint never enters). Pass the checkpointed frame itself: it
    * frees every checkpoint its plan reads. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Shared DSIR scoring: (id, logw, gumbel, score) per doc. */
  private def dsirScores(docs: DataFrame, idCol: String, toksCol: String,
                         targetCol: String, buckets: Int): DataFrame = {
    val bg = docs.select(col(idCol).as("id"), col(targetCol).as("tgt"),
        explode(TextFunctions.shingles(col(toksCol), 2)).as("sh"))
      .select(col("id"), col("tgt"),
        (TextFunctions.hash56(col("sh")) % buckets).as("b"))
    val nd = bg.groupBy(col("id"), col("b")).agg(count(lit(1)).as("n_db"))
    val rc = bg.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tc = bg.filter(col("tgt")).groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val tot = bg.agg(count(lit(1)).as("rtot"),
      coalesce(sum(when(col("tgt"), 1L).otherwise(0L)), lit(0L)).as("ttot"))
    val lr = rc.join(tc, Seq("b"), "left").crossJoin(broadcast(tot))
      .select(col("b"),
        round(log((coalesce(col("tc"), lit(0L)) + lit(1.0)) /
            (col("ttot") + lit(buckets.toDouble))) -
          log((col("rc") + lit(1.0)) / (col("rtot") + lit(buckets.toDouble))),
          6).as("lr"))
    val w = nd.join(broadcast(lr), "b")
      .select(col("id"), (col("n_db") * col("lr")).as("c"))
      .groupBy(col("id"))
      .agg(round(TextFunctions.sumSorted(collect_list(col("c"))), 6)
        .as("logw"))
    val scored = docs.select(col(idCol).as("id"))
      .join(w, Seq("id"), "left")
      .select(col("id"), coalesce(col("logw"), lit(0.0)).as("logw"))
      .withColumn("u",
        (TextFunctions.hash56(concat(lit("dsir:"), col("id").cast("string")))
          % 1000000L + lit(0.5)) / lit(1000000.0))
      .withColumn("gumbel", round(-log(-log(col("u"))), 6))
      .withColumn("score", round(col("logw") + col("gumbel"), 6))
      .drop("u")
    scored
  }

  // ---- Gopher document-quality rules --------------------------------------

  /** The 8 required stopwords of the Gopher rule set (Rae et al. 2021,
    * "Scaling Language Models", §A1.1) — a passing document must
    * contain at least [[GopherMinStopHits]] of them. */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  private val BulletChars = Seq("-", "*", "•", "‣", "▪")

  /** Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1) as
    * one row-local column program — the standard pre-training corpus
    * filter set, complementing the reference-derived quality metrics
    * ([[graft.ingest.QualityAnalyzer]]) and the repetition signals
    * ([[repetitionSignals]]):
    *
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10] chars;
    *  - symbol-to-word ratio ('#' and ellipsis) ≤ 0.1;
    *  - ≤ 90% of lines bullet-started, ≤ 30% ellipsis-ended;
    *  - ≥ 80% of words contain an alphabetic character;
    *  - ≥ 2 of the 8 required stopwords present.
    *
    * Zero shuffle, whole-stage codegen, linear in corpus bytes — the
    * plan shape that holds at 100 TB (same class as [[pplBuckets]]).
    * All ratios are rounded to 6 before the threshold comparisons so
    * the keep verdict is bit-stable across engines. Returns every doc
    * with its per-rule metrics plus the conjunctive `keep` flag;
    * "drop" pipelines filter on `keep` at the scan. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    // line_stats kernel: the non-empty-trimmed-line list and the
    // bullet-lead / ellipsis-tail counts in ONE pass (the former
    // per-line trim transform + two filter HOFs each re-ran an
    // interpreted lambda per line; parity in TextKernelSpec)
    val base = docs.select(col(idCol), col(textCol).as("text"),
      TextFunctions.wsTokens(col(textCol)).as("w"),
      TextFunctions.wsTokens(lower(col(textCol))).as("lw"),
      TextFunctions.lineStats(col(textCol), BulletChars).as("ls"))
    val nw = size(col("w"))
    val nwd = nw.cast("double")
    val nl = col("ls.n_lines").cast("double")
    def frac(cnt: Column, denom: Column): Column =
      when(denom > 0, round(cnt.cast("double") / denom, 6)).otherwise(lit(0.0))
    // occurrence counts via length deltas: '...' deltas are always a
    // multiple of 3 (non-overlapping left-to-right replace in both
    // engines), so the /3 is exact
    val nHash = length(col("text")) - length(replace(col("text"), lit("#"), lit("")))
    val nEll = ((length(col("text")) -
        length(replace(col("text"), lit("..."), lit("")))) / 3).cast("long") +
      (length(col("text")) - length(replace(col("text"), lit("…"), lit(""))))
    val meanLen = frac(TextFunctions.sumLen(col("w")), nwd)
    val bulletC = col("ls.bullets")
    val ellC = col("ls.ells")
    // count_alpha / set_hits kernels: the filter-HOF forms ran an
    // interpreted regex per token and one whole-token-array scan PER
    // stop word (O(stops × tokens)/doc); parity in TextKernelSpec
    val alphaC = TextFunctions.countAlpha(col("w"))
    val stopHits = TextFunctions.setHits(col("lw"), GopherStops)
    val m = base.select(col(idCol),
      nw.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      frac(nHash + nEll, nwd).as("symbol_ratio"),
      frac(bulletC, nl).as("bullet_frac"),
      frac(ellC, nl).as("ellipsis_frac"),
      frac(alphaC, nwd).as("alpha_frac"),
      stopHits.as("stop_hits"))
    m.withColumn("keep",
      col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_frac") <= 0.9 &&
        col("ellipsis_frac") <= 0.3 &&
        col("alpha_frac") >= 0.8 &&
        col("stop_hits") >= GopherMinStopHits)
  }

  // ---- gate queries ------------------------------------------------------

  private def docs(spark: SparkSession, dir: String) = Tables(spark, dir, "documents")

  /** Tokenized docs: (doc_id, toks) over ws-lowered tokens. */
  private def toksDf(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextFunctions.wsTokens(lower(col("text"))).as("toks"))

  /** q57: eval = doc_id % 25 == 0; train = the rest ∪ perturbed copies
    * (doc_id+1e6, last two tokens dropped) of doc_id % 5 == 0 — every
    * eval doc with ≥ n+2 tokens leaves a contaminated near-copy in the
    * training set, so the check demonstrably fires at any SF. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = toksDf(spark, dir)
    val evalDocs = base.filter($"doc_id" % 25 === 0)
    val pert = base.filter($"doc_id" % 5 === 0 && size($"toks") >= 10)
      .select(($"doc_id" + TextPack.PerturbOffset).as("doc_id"),
        slice($"toks", lit(1), greatest(size($"toks") - 2, lit(0))).as("toks"))
    val train = base.filter($"doc_id" % 25 =!= 0).unionByName(pert)
    contamination(train, evalDocs, "doc_id", "toks", 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }

  /** q72: the bloom-probe variant over the exact same q57 inputs — the
    * oracle is the same exact-join SQL, pinning that the bloom path's
    * confirm pass makes it byte-identical to the exact check. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = toksDf(spark, dir)
    val evalDocs = base.filter($"doc_id" % 25 === 0)
    val pert = base.filter($"doc_id" % 5 === 0 && size($"toks") >= 10)
      .select(($"doc_id" + TextPack.PerturbOffset).as("doc_id"),
        slice($"toks", lit(1), greatest(size($"toks") - 2, lit(0))).as("toks"))
    val train = base.filter($"doc_id" % 25 =!= 0).unionByName(pert)
    contaminationBloom(train, evalDocs, "doc_id", "toks", 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }

  /** q58: repetition signals over every document. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    repetitionSignals(toksDf(spark, dir), "doc_id", "toks")
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }

  /** q59: language-stratified deterministic sample (en .5 / es .3 /
    * zh .2 / default .1, salt s42). */
  def sample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stratifiedSample(docs(spark, dir), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 0.3, "zh" -> 0.2), 0.1, "s42")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** q60: token-budget shard packing per lang (budget 2000, groups of
    * 100 ids — small enough that sf0.001 already exercises multi-group
    * offsets). The oracle computes the same prefix with ONE window —
    * proving the two-phase distributed form is identical. */
  def shards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"lang",
      size(TextFunctions.wsTokens($"text")).as("n_tokens"))
    packShards(d, "doc_id", "lang", "n_tokens", budget = 2000L, groupSize = 100L)
      .select($"id".as("doc_id"), $"stratum".as("lang"), $"n_tokens", $"shard_id")
      .orderBy($"doc_id")
  }

  /** q82: fixed-512-token sequence packing over the whole corpus
    * (groups of 100 ids → multi-group offsets exercised at sf0.001).
    * The oracle computes the same layout with ONE cumulative window. */
  def sequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id",
      size(TextFunctions.wsTokens($"text")).as("n_tokens"))
    packSequences(d, "doc_id", "n_tokens", seqLen = 512L, groupSize = 100L)
      .select($"seq_id", $"id".as("doc_id"), $"doc_from", $"len", $"seq_from")
      .orderBy($"seq_id", $"doc_id")
  }

  /** q61: exact per-lang p50/p90 of whitespace token counts. */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"lang",
      size(TextFunctions.wsTokens($"text")).cast("long").as("n_tokens"))
    tokenQuantiles(d, "lang", "n_tokens", Seq(0.5, 0.9))
      .withColumnRenamed("stratum", "lang")
      .orderBy($"lang")
  }

  /** q62: weighted source interleave (src0 ×3, src1 ×2, src2 ×1,
    * default ×0.5) — first 200 positions of the mixture order. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    interleaveByWeight(docs(spark, dir).select($"doc_id", $"source"),
        "doc_id", "source", Map("src0" -> 3.0, "src1" -> 2.0, "src2" -> 1.0), 0.5)
      .select($"doc_id", $"source", round($"mix_pos", 6).as("mix_pos"))
      .orderBy($"mix_pos", $"doc_id")
      .limit(200)
  }

  /** q64: cap every source at its 40 longest documents (n_chars desc,
    * doc_id tiebreak) — the two-phase salted form; the oracle is the
    * single window it must agree with exactly. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    capPerStratum(docs(spark, dir).select($"doc_id", $"source", $"n_chars"),
        "doc_id", "source", "n_chars", n = 40)
      .select($"doc_id", $"source", $"n_chars", $"rk")
      .orderBy($"source", $"rk")
  }

  /** q65: top-100 corpus trigrams over ws-lowered tokens. */
  def topTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topNgrams(toksDf(spark, dir), "toks", n = 3, k = 100)
      .select($"ngram", $"cnt")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_decontaminate" -> (decontaminate _),
    "q72_decontaminate_bloom" -> (decontaminateBloom _),
    "q58_repetition" -> (repetition _),
    "q59_stratified_sample" -> (sample _),
    "q60_token_shards" -> (shards _),
    "q61_token_quantiles" -> (quantiles _),
    "q62_source_mix" -> (sourceMix _),
    "q64_source_cap" -> (sourceCap _),
    "q65_top_ngrams" -> (topTrigrams _),
    "q82_pack_sequences" -> (sequences _),
    "q88_url_filter" -> (urlFilterGate _),
    "q110_source_reputation" -> (sourceReputationGate _),
    "q89_ppl_bucket" -> (pplBucketGate _),
    "q94_gopher_rules" -> (gopherGate _),
    "q97_dsir_resample" -> (dsirGate _),
    "q100_lm_ppl" -> (lmPplGate _),
    "q101_semantic_decontam" -> (semDecontamGate _),
    "q104_mixture_plan" -> (mixturePlanGate _),
    "q105_mixture_realize" -> (mixtureRealizeGate _),
    "q111_temperature_mix" -> (temperatureMixGate _),
  )

  /** q111: α=0.5 temperature shares over the real source inventories,
    * composed into target tokens under the q104 budget. */
  def temperatureMixGate(spark: SparkSession, dir: String): DataFrame =
    temperatureWeights(
        docs(spark, dir).select(col("source"),
          size(TextFunctions.wsTokens(col("text"))).cast("long").as("n")),
        "source", "n", alpha = 0.5)
      .select(col("source"), col("n_tokens"), col("weight"),
        floor(lit(MixBudget) * col("weight") + lit(0.5))
          .cast("long").as("target_tokens"))
      .orderBy(col("source"))

  /** Gate mixture: six weighted sources (the rest get weight 0 and
    * drop at realization) against a 100k-token budget — small enough
    * that some sources subsample while others upsample past one
    * epoch, so both paths execute at every SF. */
  val MixWeights: Map[String, Double] =
    Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.15, "src3" -> 0.15,
      "src4" -> 0.1, "src5" -> 0.1)
  val MixBudget = 100000L

  private def mixPlanDf(spark: SparkSession, dir: String): DataFrame =
    mixturePlan(
      docs(spark, dir).select(col("source"),
        size(TextFunctions.wsTokens(col("text"))).cast("long").as("n")),
      "source", "n", MixWeights, MixBudget)

  /** q104: the per-source epochs plan. */
  def mixturePlanGate(spark: SparkSession, dir: String): DataFrame =
    mixPlanDf(spark, dir).orderBy(col("source"))

  /** q105: the realized mixture — per-doc copy rows under the q104
    * plan (hash-Bernoulli fractional epoch, salt m42). */
  def mixtureRealizeGate(spark: SparkSession, dir: String): DataFrame =
    realizeMixture(docs(spark, dir), "doc_id", "source",
        mixPlanDf(spark, dir), "m42")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("copy"))

  /** q101: semantic decontamination — the eval set is a deterministic
    * ±0.001 per-element perturbation of every 23rd corpus vector among
    * the first 500 ids (a "paraphrase" the n-gram check cannot see),
    * so its near-copies in the corpus must flag at τ = 0.99 while
    * unrelated high-dim vectors stay far below. The id bound keeps the
    * eval FIXED-size as the corpus scales — the production shape
    * (benchmarks don't grow with the crawl), and what keeps the
    * corpus×eval scoring pass linear in the corpus at any SF. */
  def semDecontamGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val ev = e.filter($"vec_id" % 23 === 0 && $"vec_id" < 500)
      .select($"vec_id", transform($"vec",
        (x, i) => x + lit(0.001) * ((i % 3) - lit(1))).as("vec"))
    semanticContamination(e, ev, "vec_id", "vec", tau = 0.99)
      .select($"id".as("vec_id"), $"near_eval_id", $"max_cos", $"contaminated")
      .orderBy($"vec_id")
  }

  /** q100: stupid-backoff bigram LM trained on the corpus itself,
    * scoring every document — the self-perplexity form of the CCNet
    * filter (a held-out or reference LM plugs in as `train`). */
  def lmPplGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = toksDf(spark, dir)
    lmPerplexity(t, t, "doc_id", "toks")
      .select($"id".as("doc_id"), $"n_scored", $"logp", $"ppl")
      .orderBy($"doc_id")
  }

  /** q97: DSIR importance resampling with English docs as the target
    * distribution (the corpus mixes languages, so the bigram-profile
    * contrast is real), top 20% kept. */
  def dsirGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    importanceResample(
        graft.Tables(spark, dir, "documents").select($"doc_id",
          TextFunctions.wsTokens(lower($"text")).as("toks"),
          ($"lang" === "en").as("tgt")),
        "doc_id", "toks", "tgt", buckets = 1024, frac = 0.2)
      .select($"id".as("doc_id"), $"logw", $"gumbel", $"score", $"selected")
      .orderBy($"doc_id")
  }

  /** q94: the Gopher rule set over the raw corpus — every rule metric
    * plus the conjunctive keep verdict, per document. */
  def gopherGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gopherRules(docs(spark, dir).select($"doc_id", $"text"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q88: deterministic URL fixture — domain cycles by doc_id % 5 (two
    * blocklisted), doc_id % 13 hosts become bare IP literals, doc_id %
    * 11 paths carry a blocked keyword — through the URL filter. */
  def urlFilterGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val domain = when($"doc_id" % 5 === 0, "example.com")
      .when($"doc_id" % 5 === 1, "spam-casino.biz")
      .when($"doc_id" % 5 === 2, "news.site.org")
      .when($"doc_id" % 5 === 3, "tracker.adserver.net")
      .otherwise("blog.example.io")
    val host = when($"doc_id" % 13 === 0, lit("93.184.216.34")).otherwise(domain)
    val path = when($"doc_id" % 11 === 0, lit("/casino-bonus/")).otherwise(lit("/article/"))
    val url = concat(lit("https://www."), host, path, $"doc_id".cast("string"))
    urlFilter(
        graft.Tables(spark, dir, "documents").select($"doc_id", url.as("url")),
        "doc_id", "url",
        blockedDomains = Seq("spam-casino.biz", "tracker.adserver.net"),
        blockedKeywords = Seq("casino"))
      .orderBy($"doc_id")
  }

  /** q110: source-reputation stats over documents plus an injected
    * duplicate-heavy source (the synthetic corpus has no exact dups),
    * so BOTH verdict clauses execute at every SF: `srcdup` fails on
    * dup share, the weakest real sources fail on mean quality, the
    * rest keep. */
  def sourceReputationGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"text", $"source")
    val injected = docs(spark, dir).filter($"doc_id" % 50 === 0)
      .select($"text", lit("srcdup").as("source"))
    sourceReputation(
        d.unionByName(injected).unionByName(injected),
        "text", "source", minMeanQuality = 0.635, maxDupShare = 0.2)
      .orderBy($"source")
  }

  /** q89: perplexity-surrogate buckets over the raw corpus. */
  def pplBucketGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pplBuckets(
        graft.Tables(spark, dir, "documents").select($"doc_id",
          TextFunctions.wsTokens(lower($"text")).as("toks")),
        "doc_id", "toks", t1 = PplT1, t2 = PplT2)
      .orderBy($"doc_id")
  }

  /** Gate thresholds, shared with the oracle SQL. */
  val PplT1 = 18.0
  val PplT2 = 24.0

  // ---- oracle SQL --------------------------------------------------------

  private val wsLowerSql = TextFunctions.wsTokensSql("lower(text)")
  private val wsSql = TextFunctions.wsTokensSql("text")

  /** Shared by q57 (exact) and q72 (bloom + exact confirm) — the bloom
    * path must be byte-identical to the exact-join semantics. */
  private val decontOracle: String = {
    val sh8 = TextFunctions.shinglesSql("toks", 8)
    s"""WITH base AS (SELECT doc_id, $wsLowerSql AS toks FROM documents),
       |train AS (
       |  SELECT doc_id, toks FROM base WHERE doc_id % 25 <> 0
       |  UNION ALL
       |  SELECT doc_id + ${TextPack.PerturbOffset}, list_slice(toks, 1, greatest(len(toks) - 2, 0))
       |  FROM base WHERE doc_id % 5 = 0 AND len(toks) >= 10),
       |ev AS (SELECT DISTINCT ${TextFunctions.hash56Sql("sh")} AS sh_h
       |  FROM (SELECT unnest(list_distinct($sh8)) AS sh FROM base WHERE doc_id % 25 = 0)),
       |tr AS (SELECT doc_id, ${TextFunctions.hash56Sql("sh")} AS sh_h
       |  FROM (SELECT doc_id, unnest(list_distinct($sh8)) AS sh FROM train)),
       |sz AS (SELECT doc_id, CAST(len(list_distinct($sh8)) AS BIGINT) AS n_shingles FROM train),
       |hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM tr JOIN ev USING (sh_h) GROUP BY doc_id)
       |SELECT h.doc_id, h.n_hits, s.n_shingles,
       |  round(CAST(h.n_hits AS DOUBLE) / s.n_shingles, 6) AS hit_frac
       |FROM hits h JOIN sz s USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Shared q104/q105 plan CTEs (weights + budget mirror the gate). */
  private val mixPlanCte: String = {
    val wCase = MixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ")
    s"""t AS (SELECT source, CAST(len($wsSql) AS BIGINT) AS n FROM documents),
       |a AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY source),
       |w AS (SELECT source, n_docs, n_tokens,
       |  CASE source $wCase ELSE 0.0 END AS weight FROM a),
       |pl AS (SELECT source, n_docs, n_tokens, weight,
       |    CAST(floor($MixBudget * weight + 0.5) AS BIGINT) AS target_tokens,
       |    CASE WHEN n_tokens > 0
       |      THEN round(CAST(floor($MixBudget * weight + 0.5) AS DOUBLE) / n_tokens, 6)
       |      ELSE 0.0 END AS epochs
       |  FROM w)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q111_temperature_mix" ->
      s"""WITH per AS (SELECT source,
         |    CAST(SUM(len($wsSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |den AS (SELECT list_sum(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE))))) AS d FROM per)
         |SELECT source, n_tokens,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / den.d, 6) AS weight,
         |  CAST(floor($MixBudget * round(sqrt(CAST(n_tokens AS DOUBLE)) / den.d, 6) + 0.5) AS BIGINT) AS target_tokens
         |FROM per CROSS JOIN den ORDER BY source""".stripMargin,
    "q104_mixture_plan" ->
      s"""WITH $mixPlanCte
         |SELECT source, n_docs, n_tokens, weight, target_tokens, epochs
         |FROM pl ORDER BY source""".stripMargin,
    "q105_mixture_realize" ->
      s"""WITH $mixPlanCte,
         |r AS (SELECT d.doc_id, d.source,
         |    CAST(floor(pl.epochs) AS INT)
         |    + (CASE WHEN ${TextFunctions.hash56Sql("(d.doc_id::VARCHAR || ':m42')")} % 1000000
         |        < CAST(floor((pl.epochs - floor(pl.epochs)) * 1000000 + 0.5) AS BIGINT)
         |      THEN 1 ELSE 0 END) AS n_copies
         |  FROM documents d JOIN pl ON pl.source = d.source)
         |SELECT doc_id, source, CAST(u.c AS INT) AS copy
         |FROM r, unnest(range(1, n_copies + 1)) AS u(c)
         |WHERE n_copies > 0
         |ORDER BY doc_id, copy""".stripMargin,
    // same perturbed eval set, same rounded cosines, same min-id
    // tie-break on the argmax
    "q101_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |ev AS (SELECT vec_id AS eid, list_transform(range(len(emb)),
        |    i -> emb[CAST(i AS INT) + 1] + 0.001 * ((i % 3) - 1)) AS evec
        |  FROM e WHERE vec_id % 23 = 0 AND vec_id < 500),
        |sc AS (SELECT e.vec_id, ev.eid,
        |  round(list_cosine_similarity(e.emb, ev.evec), 6) AS s
        |  FROM e CROSS JOIN ev),
        |mx AS (SELECT vec_id, eid AS near_eval_id, s AS max_cos FROM (
        |  SELECT vec_id, eid, s,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, eid ASC) AS rn
        |  FROM sc) t WHERE rn = 1)
        |SELECT vec_id, near_eval_id, max_cos, max_cos >= 0.99 AS contaminated
        |FROM mx ORDER BY vec_id""".stripMargin,
    // stupid-backoff replay: same counts, same add-one backoff, same
    // rounded-log10 sorted-fold sums
    "q100_lm_ppl" ->
      s"""WITH t AS (SELECT doc_id, $wsLowerSql AS toks FROM documents),
         |big AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
         |    toks[CAST(i AS INT) + 1] AS w2
         |  FROM t, unnest(range(1, len(toks))) AS u(i)),
         |bi AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
         |ctx AS (SELECT w1, SUM(cb) AS cctx FROM bi GROUP BY w1),
         |unic AS (SELECT w, COUNT(*) AS cu FROM
         |  (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |tot AS (SELECT SUM(cu) AS nn, COUNT(*) AS vv FROM unic),
         |lp AS (SELECT big.doc_id, round(log10(
         |    CASE WHEN bi.cb IS NOT NULL THEN CAST(bi.cb AS DOUBLE) / ctx.cctx
         |      ELSE 0.4 * (COALESCE(u2.cu, 0) + 1.0) / (tot.nn + tot.vv) END), 6) AS lp
         |  FROM big LEFT JOIN bi ON bi.w1 = big.w1 AND bi.w2 = big.w2
         |  LEFT JOIN ctx ON ctx.w1 = big.w1
         |  LEFT JOIN unic u2 ON u2.w = big.w2
         |  CROSS JOIN tot),
         |ag AS (SELECT doc_id, COUNT(*) AS n_scored,
         |  round(list_sum(list_sort(list(lp))), 6) AS logp FROM lp GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(ag.n_scored, 0) AS n_scored,
         |  COALESCE(ag.logp, 0.0) AS logp,
         |  CASE WHEN ag.n_scored IS NOT NULL
         |    THEN round(pow(10.0, -ag.logp / ag.n_scored), 4) ELSE 1.0 END AS ppl
         |FROM documents d LEFT JOIN ag ON ag.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // DSIR replay: hashed-bigram histograms, add-one log ratios
    // (rounded 6), sorted-fold doc weights, Gumbel-top-n membership
    "q97_dsir_resample" -> {
      val sh2 = TextFunctions.shinglesSql("toks", 2)
      s"""WITH base AS (SELECT doc_id, (lang = 'en') AS tgt, $wsLowerSql AS toks FROM documents),
         |bg AS (SELECT doc_id, tgt, ${TextFunctions.hash56Sql("sh")} % 1024 AS b
         |  FROM (SELECT doc_id, tgt, unnest($sh2) AS sh FROM base)),
         |nd AS (SELECT doc_id, b, COUNT(*) AS n_db FROM bg GROUP BY doc_id, b),
         |rc AS (SELECT b, COUNT(*) AS rc FROM bg GROUP BY b),
         |tcx AS (SELECT b, COUNT(*) AS tc FROM bg WHERE tgt GROUP BY b),
         |tot AS (SELECT COUNT(*) AS rtot,
         |  COALESCE(SUM(CASE WHEN tgt THEN 1 ELSE 0 END), 0) AS ttot FROM bg),
         |lr AS (SELECT rc.b,
         |  round(ln((COALESCE(tcx.tc, 0) + 1.0) / (tot.ttot + 1024.0))
         |      - ln((rc.rc + 1.0) / (tot.rtot + 1024.0)), 6) AS lr
         |  FROM rc LEFT JOIN tcx ON tcx.b = rc.b CROSS JOIN tot),
         |contrib AS (SELECT nd.doc_id, nd.n_db * lr.lr AS c FROM nd JOIN lr ON lr.b = nd.b),
         |w AS (SELECT doc_id, round(list_sum(list_sort(list(c))), 6) AS logw FROM contrib GROUP BY doc_id),
         |sc AS (SELECT d.doc_id, COALESCE(w.logw, 0.0) AS logw,
         |    round(-ln(-ln((${TextFunctions.hash56Sql("'dsir:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 + 0.5) / 1000000.0)), 6) AS gumbel
         |  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id),
         |sc2 AS (SELECT doc_id, logw, gumbel, round(logw + gumbel, 6) AS score FROM sc),
         |nt AS (SELECT CAST(floor(0.2 * COUNT(*)) AS BIGINT) AS k FROM documents),
         |rk AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc2),
         |sel AS (SELECT rk.doc_id FROM rk CROSS JOIN nt WHERE rk.rn <= nt.k)
         |SELECT s.doc_id, s.logw, s.gumbel, s.score, (sel.doc_id IS NOT NULL) AS selected
         |FROM sc2 s LEFT JOIN sel ON sel.doc_id = s.doc_id
         |ORDER BY s.doc_id""".stripMargin
    },
    "q110_source_reputation" -> {
      val scoreSql = graft.operators.TextAnalysis.qualitySql("text")
        .toMap.apply("quality_score")
      s"""WITH d AS (
         |  SELECT text, source FROM documents
         |  UNION ALL SELECT text, 'srcdup' FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT text, 'srcdup' FROM documents WHERE doc_id % 50 = 0),
         |q AS (SELECT source, md5(text) AS h,
         |  CAST(round(($scoreSql) * 1000000) AS BIGINT) AS q6 FROM d),
         |s AS (SELECT source, COUNT(*) AS n_docs, SUM(q6) AS sq,
         |  COUNT(DISTINCT h) AS nd FROM q GROUP BY source)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  round(CAST(sq AS DOUBLE) / (n_docs * 1000000.0), 6) AS mean_quality,
         |  round(1.0 - CAST(nd AS DOUBLE) / n_docs, 6) AS dup_share,
         |  (round(CAST(sq AS DOUBLE) / (n_docs * 1000000.0), 6) >= 0.635
         |    AND round(1.0 - CAST(nd AS DOUBLE) / n_docs, 6) <= 0.2) AS keep
         |FROM s ORDER BY source""".stripMargin
    },
    "q88_url_filter" ->
      """WITH u AS (SELECT doc_id,
        |  'https://www.' ||
        |  (CASE WHEN doc_id % 13 = 0 THEN '93.184.216.34' ELSE
        |    (CASE doc_id % 5 WHEN 0 THEN 'example.com' WHEN 1 THEN 'spam-casino.biz'
        |      WHEN 2 THEN 'news.site.org' WHEN 3 THEN 'tracker.adserver.net'
        |      ELSE 'blog.example.io' END) END) ||
        |  (CASE WHEN doc_id % 11 = 0 THEN '/casino-bonus/' ELSE '/article/' END) ||
        |  CAST(doc_id AS VARCHAR) AS url FROM documents),
        |d AS (SELECT doc_id, lower(url) AS lu FROM u),
        |x AS (SELECT doc_id, lu,
        |  regexp_extract(lu, '^(?:[a-z][a-z0-9+.-]*://)?(?:www\.)?([^/:?#]+)', 1) AS domain FROM d)
        |SELECT doc_id, domain,
        |  (NOT list_contains(['spam-casino.biz', 'tracker.adserver.net'], domain))
        |  AND NOT contains(lu, 'casino')
        |  AND NOT regexp_matches(domain, '^\d{1,3}(\.\d{1,3}){3}$')
        |  AND domain != '' AS keep
        |FROM x ORDER BY doc_id""".stripMargin,
    // identical histogram-entropy formula, counts SORTED before the
    // c·ln c fold so both engines sum in the same order
    "q89_ppl_bucket" -> {
      s"""WITH t AS (SELECT doc_id, $wsLowerSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS n,
         |  list_sort(list_transform(list_distinct(toks),
         |    u -> CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE))) AS counts FROM t),
         |p AS (SELECT doc_id,
         |  CASE WHEN n > 0
         |    THEN round(exp(ln(n) - list_sum(list_transform(counts, c2 -> c2 * ln(c2))) / n), 4)
         |    ELSE 1.0 END AS ppl FROM c)
         |SELECT doc_id, ppl,
         |  CASE WHEN ppl < $PplT1 THEN 'head' WHEN ppl < $PplT2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "q72_decontaminate_bloom" -> decontOracle,
    "q57_decontaminate" -> decontOracle,
    "q58_repetition" -> {
      val bg = TextFunctions.shinglesSql("toks", 2)
      s"""WITH base AS (SELECT doc_id, $wsLowerSql AS toks FROM documents),
         |b AS (SELECT doc_id, unnest($bg) AS bigram FROM base WHERE len(toks) >= 2),
         |c AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM b GROUP BY doc_id, bigram),
         |a AS (SELECT doc_id, SUM(cnt) AS total, COUNT(*) AS n_distinct, MAX(cnt) AS top FROM c GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(total AS BIGINT) AS n_bigrams,
         |  round(1.0 - CAST(n_distinct AS DOUBLE) / total, 6) AS dup_bigram_frac,
         |  round(CAST(top AS DOUBLE) / total, 6) AS top_bigram_frac
         |FROM a ORDER BY doc_id""".stripMargin
    },
    // integer ppm thresholds, exactly as the Spark side rounds them
    "q59_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE (${TextFunctions.hash56Sql("(doc_id::VARCHAR || ':s42')")} % 1000000)
         |  < (CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 300000 WHEN 'zh' THEN 200000 ELSE 100000 END)
         |ORDER BY doc_id""".stripMargin,
    // single-window prefix sum — the simple form the distributed
    // two-phase version must agree with exactly
    "q60_token_shards" ->
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($wsSql) AS BIGINT) AS n_tokens FROM documents),
         |p AS (SELECT doc_id, lang, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prefix
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, CAST(prefix // 2000 AS BIGINT) AS shard_id
         |FROM p ORDER BY doc_id""".stripMargin,
    "q82_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($wsSql) AS BIGINT) AS n FROM documents),
         |nz AS (SELECT * FROM t WHERE n > 0),
         |p AS (SELECT doc_id, n,
         |  CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM nz),
         |spans AS (SELECT doc_id, n, off, u.s AS seq_id
         |  FROM p, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS u(s))
         |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |  CAST(greatest(off, seq_id * 512) - off AS BIGINT) AS doc_from,
         |  CAST(least(off + n, (seq_id + 1) * 512)
         |    - greatest(off, seq_id * 512) AS BIGINT) AS len,
         |  CAST(greatest(off, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_from
         |FROM spans ORDER BY seq_id, doc_id""".stripMargin,
    "q61_token_quantiles" ->
      s"""WITH t AS (SELECT lang, CAST(len($wsSql) AS BIGINT) AS n_tokens FROM documents)
         |SELECT lang, round(quantile_cont(n_tokens, 0.5), 6) AS p50,
         |  round(quantile_cont(n_tokens, 0.9), 6) AS p90
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q62_source_mix" ->
      """WITH r AS (SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents),
        |p AS (SELECT doc_id, source,
        |  round((rn - 0.5) / (CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0
        |    WHEN 'src2' THEN 1.0 ELSE 0.5 END), 6) AS mix_pos FROM r)
        |SELECT doc_id, source, mix_pos FROM p
        |ORDER BY mix_pos, doc_id LIMIT 200""".stripMargin,
    // single window per source — the simple form the salted two-phase
    // cap must agree with exactly
    "q64_source_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        | SELECT doc_id, source, n_chars,
        |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        | FROM documents) t
        |WHERE rk <= 40 ORDER BY source, rk""".stripMargin,
    "q65_top_ngrams" -> {
      val tri = TextFunctions.shinglesSql("toks", 3)
      s"""WITH base AS (SELECT doc_id, $wsLowerSql AS toks FROM documents),
         |g AS (SELECT unnest($tri) AS ngram FROM base)
         |SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY ngram
         |ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin
    },
    // every ratio rounded to 6 BEFORE its threshold comparison,
    // mirroring the Spark side, so the keep verdict is bit-stable
    "q94_gopher_rules" ->
      s"""WITH base AS (SELECT doc_id, text, $wsSql AS w, $wsLowerSql AS lw,
         |  list_filter(list_transform(regexp_split_to_array(text, '\n'), l -> trim(l)),
         |    l -> l <> '') AS lines FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CASE WHEN len(w) > 0 THEN round(CAST(list_sum(
         |    list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6)
         |    ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(w) > 0 THEN round(CAST(
         |      (length(text) - length(replace(text, '#', '')))
         |    + (length(text) - length(replace(text, '...', ''))) // 3
         |    + (length(text) - length(replace(text, '…', ''))) AS DOUBLE) / len(w), 6)
         |    ELSE 0.0 END AS symbol_ratio,
         |  CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines,
         |      l -> list_contains(['-', '*', '•', '‣', '▪'], substr(l, 1, 1)))) AS DOUBLE)
         |      / len(lines), 6) ELSE 0.0 END AS bullet_frac,
         |  CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines,
         |      l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
         |      / len(lines), 6) ELSE 0.0 END AS ellipsis_frac,
         |  CASE WHEN len(w) > 0 THEN round(CAST(len(list_filter(w,
         |      x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w), 6)
         |    ELSE 0.0 END AS alpha_frac,
         |  CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
         |    s -> list_contains(lw, s))) AS BIGINT) AS stop_hits
         |  FROM base)
         |SELECT *, (n_words BETWEEN 50 AND 100000)
         |  AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         |  AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         |  AND stop_hits >= $GopherMinStopHits AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
  )
}
