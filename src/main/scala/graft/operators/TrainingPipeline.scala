package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** End-to-end training-corpus curation — the composed pipeline a
  * 100 TB pretraining-data user actually runs, chaining the
  * individually-gated operators in their canonical order:
  *
  *   URL/domain filter (when a URL column exists) → PII scrub →
  *   exact dedup → line clean → cross-doc line dedup →
  *   perplexity-bucket gate → LM-perplexity gate →
  *   trained-classifier gate → MinHash near-dedup (keep canonical) →
  *   eval-set decontamination → stratified sampling → fixed-length
  *   sequence packing
  *
  * The two quality gates sit where they are cheapest: URL hygiene is a
  * predicate on the input scan (junk never enters the pipeline), and
  * the perplexity gate runs before minhash so rejected docs never pay
  * for signatures.
  *
  * Exact dedup runs FIRST among the reducers: it is the cheapest pass
  * (one md5 aggregate), and it must precede line dedup — two identical
  * docs share every line, so line-level keep-first would otherwise
  * empty the second copy line-by-line instead of dropping it whole.
  *
  * Every stage is the oracle-gated primitive (q63, q80, q81, q28,
  * q29/q30/q56, q57, q59, q82); this object only sequences them and
  * reports per-stage survivor counts. Up to tokenization each stage's
  * output feeds the next as a plain DataFrame, so Catalyst fuses
  * adjacent row-local stages (scrub + clean run in one pass over the
  * corpus) and the shuffling stages keep their individually-asserted
  * physical shapes. The row-local stages carry `stratum` through as a
  * passthrough column instead of joining it back by id, so the
  * pre-token plan holds each upstream stage once per real consumer.
  *
  * The token frame is the one seam every later stage reads (minhash
  * signatures, Jaccard verify, the canonical filter, and through it
  * decontamination, sampling and packing). It is materialized once by
  * an eager `localCheckpoint` and handed on as a lineage-free LEAF, so
  * every plan from near-dedup on is analysed, optimised, re-optimised
  * by AQE and cache-matched over one node instead of over the whole
  * upstream lineage, which each near-dedup consumer would otherwise
  * copy in again. A leaf over the cached frame (its in-memory
  * relation) cuts the plan the same way and could recompute after an
  * executor loss, but measured slower: filling the cache inside the
  * first near-dedup action cost more tasks and driver time than the
  * one checkpoint job. The price is that the checkpoint blocks are the
  * only copy: [[Output.release]] frees them, after which the returned
  * frames cannot be read again.
  */
object TrainingPipeline {

  case class Cfg(
      minWordsPerLine: Int = 3,
      shingleN: Int = 8, // decontamination n-gram (q57 convention)
      maxContamFrac: Double = 0.05, // drop docs above this eval overlap
      minhashK: Int = 16,
      lshBands: Int = 4,
      lshRows: Int = 4,
      jaccardThreshold: Double = 0.8,
      sampleRates: Map[String, Double] = Map.empty,
      defaultSampleRate: Double = 1.0,
      sampleSalt: String = "s42",
      seqLen: Long = 512L,
      // URL hygiene (q88): applied first, as a row-local scan filter,
      // when the input carries a URL column
      urlCol: Option[String] = None,
      urlBlockedDomains: Seq[String] = Nil,
      urlBlockedKeywords: Seq[String] = Nil,
      // perplexity-surrogate bucket gate (q89, CCNet shape): docs whose
      // bucket is not in keepPplBuckets drop after line dedup
      pplThresholds: Option[(Double, Double)] = None,
      keepPplBuckets: Set[String] = Set("head", "middle"),
      // real LM perplexity gate (q100, stupid-backoff bigram LM):
      // docs whose self-perplexity exceeds the cap drop after the
      // cheap surrogate gate; an external reference corpus (id, toks)
      // substitutes for self-training when provided (the CCNet shape
      // — score the crawl under a clean-corpus LM)
      lmPplMax: Option[Double] = None,
      lmTrainDocs: Option[DataFrame] = None,
      // trained quality-classifier gate (q106/q107, the FineWeb-Edu
      // shape): a hashed-bag-of-words perceptron trained on
      // clsTrainDocs (an (id, text) labeled pool — weak labels are
      // derived by the classifier's rule; swap in real annotations by
      // training outside and filtering yourself) or, when None, on
      // the survivors themselves; docs with margin < clsMinMargin
      // drop. Scoring is one map pass under broadcast weights.
      clsMinMargin: Option[Long] = None,
      clsEpochs: Int = 4,
      clsTrainDocs: Option[DataFrame] = None,
      // source-reputation gate (q110, the C4 bad-domain / RefinedWeb
      // role): whole sources drop when their mean quality or exact-dup
      // share fails — applied FIRST (before any per-document work), on
      // the stratum column as the source key
      srcRepMinMeanQuality: Option[Double] = None,
      srcRepMaxDupShare: Double = 0.5,
      // tokenizer-consistent packing (q112 shape): when either knob is
      // set, stage 8 counts tokens in BPE units — a vocabulary trained
      // on the sampled survivors (`bpeSteps` merge steps over the top
      // `bpeMaxTypes` word types), or one supplied via `bpeMerges`
      // (train once, reuse across runs) — so `seqLen` means BPE
      // tokens, the unit pretraining actually budgets in. Training
      // adds bpeSteps tiny type-table jobs + ONE corpus histogram
      // shuffle; encoding is a per-TYPE replace chain joined back
      // (Zipf-bounded — the q103 scale shape), never per-instance.
      bpeSteps: Option[Int] = None,
      bpeMerges: Option[Seq[Bpe.Merge]] = None,
      bpeMaxTypes: Int = 10000)

  /** Pipeline output: the curated documents (id, stratum, toks — what
    * a tokenizer-side consumer reads), the packed sequence spans, and
    * the per-stage survivor report.
    *
    * `spans` is built on its first read: a caller that reads only
    * `docs` never plans the packing stage (nor, with BPE units, trains
    * the merges). Report mode has built and counted it inside curate()
    * already, so there the first read only returns it.
    *
    * `docs` and `spans` read the token frame's checkpoint blocks (and,
    * in report mode or with BPE units, cached stages). Call
    * [[Output.release]] once, after materializing what you need of
    * `docs`/`spans`, so a long-lived session (e.g. a service calling
    * curate() per request) doesn't accumulate blocks. It frees them
    * for good: the checkpoint is lineage-free, so neither frame can be
    * read after it. */
  final class Output(val docs: DataFrame, spansPlan: => DataFrame,
                     val report: Report, releaseBlocks: () => Unit) {
    lazy val spans: DataFrame = spansPlan
    def release(): Unit = releaseBlocks()
  }

  /** Survivor counts after each stage (report mode only; every field
    * is -1 when `withReport = false`; -1 also marks a stage that is
    * disabled by config — URL filter without urlCol, ppl gate without
    * thresholds). */
  case class Report(
      nInput: Long,
      nAfterUrlFilter: Long,
      nAfterExactDedup: Long,
      nAfterLineClean: Long,
      nAfterLineDedup: Long,
      nAfterPplGate: Long,
      nAfterLmGate: Long,
      nAfterClsGate: Long,
      nAfterNearDedup: Long,
      nAfterDecontam: Long,
      nSampled: Long,
      nSequences: Long,
      nTokens: Long,
      nAfterSourceRep: Long = -1L)

  /** Run the full pipeline. `docs` needs (idCol: long-castable, textCol,
    * stratumCol); `evalDocs` needs textCol. Returns the packed sequence
    * spans (seq_id, id, doc_from, len, seq_from) and the stage report.
    * `idCol` is the document key: stages drop rows by id, so ids must
    * be unique.
    *
    * `withReport = false` skips every count/stat job (all Report
    * fields become -1) and every per-stage cache — the production
    * mode, where the only actions inside curate() are the token
    * frame's checkpoint and the dedup-cluster resolution's one bounded
    * collect; `docs` and `spans` stay lazy. Report mode caches and counts
    * every stage, unpersisting each stage cache as soon as the next
    * stage is materialized, so curate() pins at most two stage caches
    * at a time (plus the token checkpoint, which a cache that lost a
    * block would recompute from), not the whole lineage; it also
    * builds and counts `spans` eagerly. */
  def curate(docs: DataFrame, evalDocs: DataFrame, idCol: String,
             textCol: String, stratumCol: String,
             cfg: Cfg = Cfg(), withReport: Boolean = true): Output = {
    def staged(df: DataFrame): DataFrame = if (withReport) df.cache() else df
    var prev: Option[DataFrame] = None
    // count the just-materialized stage, then release its predecessor
    def stageCount(df: DataFrame): Long =
      if (!withReport) -1L
      else {
        val n = df.count()
        prev.foreach(_.unpersist(false))
        prev = Some(df)
        n
      }
    val nInput = if (withReport) docs.count() else -1L

    // 0: URL hygiene (q88) — a row-local predicate on the input scan;
    // fused by Catalyst into the same pass as the PII projection
    val urlFiltered = cfg.urlCol match {
      case Some(u) => docs.filter(Curation.urlKeep(col(u),
        cfg.urlBlockedDomains, cfg.urlBlockedKeywords))
      case None => docs
    }
    val nUrl =
      if (!withReport || cfg.urlCol.isEmpty) -1L else urlFiltered.count()

    // 0.5: source-reputation gate (q110) — drops whole sources on
    // corpus statistics before any per-document work; the verdict
    // table broadcasts (sources << docs)
    val srcFiltered = cfg.srcRepMinMeanQuality match {
      case Some(minQ) => Curation.bySourceReputation(urlFiltered,
        textCol, stratumCol, minQ, cfg.srcRepMaxDupShare)
      case None => urlFiltered
    }
    val nSrcRep =
      if (!withReport || cfg.srcRepMinMeanQuality.isEmpty) -1L
      else srcFiltered.count()

    // 1: PII scrub (row-local) — staged because exact dedup consumes
    // it three times (groups, losers, surviving base)
    val scrubbed = staged(srcFiltered.select(col(idCol).as("id"),
      col(stratumCol).as("stratum"), Pii.redact(col(textCol)).as("text")))
    prev = Some(scrubbed)

    // 2: exact dedup — only non-canonical members of md5 groups drop
    val dupGroups = Dedup.exactGroups(scrubbed, "id", "text")
    val exactLosers = scrubbed
      .join(dupGroups, md5(col("text")) === col("text_md5"))
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id"))
    val exactDeduped = staged(scrubbed
      .join(exactLosers, Seq("id"), "left_anti"))
    val nExact = stageCount(exactDeduped)

    // 3: line clean — stratum rides through both line stages as a
    // passthrough column: joining it back by id would put a second
    // copy of each stage's whole input into the plan
    val cleanedS = staged(Clean.lineClean(exactDeduped, "id", "text",
        cfg.minWordsPerLine, keep = Seq("stratum"))
      .filter(col("n_kept") > 0)
      .select(col("id"), col("stratum"), col("cleaned").as("text")))
    val nClean = stageCount(cleanedS)

    // 4: cross-doc repeated-line dedup (keep-first)
    val lineDeduped = staged(Clean.dedupRepeatedLines(cleanedS, "id", "text",
        keep = Seq("stratum"))
      .filter(col("n_kept") > 0)
      .select(col("id"), col("stratum"), col("cleaned").as("text")))
    val nLineDedup = stageCount(lineDeduped)

    // 4.5: perplexity-surrogate bucket gate (q89) — row-local filter
    // before the expensive minhash stage, so junk never pays for
    // signatures; CCNet keeps head+middle by default
    val pplGated = cfg.pplThresholds match {
      case Some((t1, t2)) =>
        // tokens staged as a column, score via the linear sorted-run
        // form — inlining the tokenizer into the scorer's lambdas
        // re-evaluates it per element (the q58/q109 no-CSE trap)
        val kept = staged(Curation.withPplScore(
            lineDeduped.withColumn("__toks",
              graft.functions.TextFunctions.wsTokens(lower(col("text")))),
            "__toks")
          .filter(
            when(col("ppl") < t1, "head").when(col("ppl") < t2, "middle")
              .otherwise("tail").isin(cfg.keepPplBuckets.toSeq: _*))
          .drop("__toks", "ppl"))
        kept
      case None => lineDeduped
    }
    val nPpl =
      if (!withReport || cfg.pplThresholds.isEmpty) -1L else stageCount(pplGated)

    // 4.6: real LM perplexity gate (q100) — two counting shuffles over
    // the survivors (still cheaper than minhash signatures), trained
    // on the survivors themselves unless a reference corpus is given
    val lmGated = cfg.lmPplMax match {
      case Some(maxPpl) =>
        val scored = pplGated.select(col("id"),
          graft.functions.TextFunctions.wsTokens(lower(col("text"))).as("toks"))
        val train = cfg.lmTrainDocs.getOrElse(scored)
        val keep = Curation.lmPerplexity(train, scored, "id", "toks")
          .filter(col("ppl") <= maxPpl).select(col("id"))
        staged(pplGated.join(keep, Seq("id"), "left_semi"))
      case None => pplGated
    }
    val nLm =
      if (!withReport || cfg.lmPplMax.isEmpty) -1L else stageCount(lmGated)

    // 4.7: trained-classifier quality gate (q106/q107) — training is
    // a handful of 65-row aggregations over the (cheap) labeled pool;
    // scoring the survivors is a pure map pass against the broadcast
    // weight literal, so this sits with the other pre-minhash gates
    val clsGated = cfg.clsMinMargin match {
      case Some(minMargin) =>
        val pool = cfg.clsTrainDocs.getOrElse(lmGated)
        val w = Classifier.train(
          Classifier.labeled(pool, "id", "text"), cfg.clsEpochs)
        val keep = Classifier
          .score(Classifier.labeled(lmGated, "id", "text"), w)
          .filter(col("margin") >= minMargin).select(col("id"))
        staged(lmGated.join(keep, Seq("id"), "left_semi"))
      case None => lmGated
    }
    val nCls =
      if (!withReport || cfg.clsMinMargin.isEmpty) -1L
      else stageCount(clsGated)

    // 5: near-dedup — minhash → banded LSH → verified Jaccard →
    // clusters → canonical-only
    // checkpointed in BOTH modes: three consumers (signatures, Jaccard
    // verify, canonical filter) would each re-run the tokenize lineage
    // otherwise, and every later plan is built over this one leaf
    // (see the object doc)
    val toks = clsGated.select(col("id"), col("stratum"),
      col("text"), TextFunctions.tokenize(col("text")).as("toks"))
      .localCheckpoint(eager = true)
    val sigs = Dedup.minhashSignatures(toks, "id", "toks", cfg.minhashK)
    val (cands, releaseBands) = Dedup.lshCandidatesStaged(sigs,
      cfg.lshBands, cfg.lshRows)
    val (pairs0, releaseSh) = Dedup.jaccardVerifyStaged(cands, toks, "id", "toks")
    val pairs = pairs0.filter(col("jaccard") >= cfg.jaccardThreshold)
    val labels = Dedup.clusters(pairs)
    // clusters() materialized the pair lineage; release the band and
    // shingle caches so a long-lived session calling curate() per
    // request doesn't accumulate entries (jaccardVerifyStaged's doc)
    releaseBands()
    releaseSh()
    val nearDeduped = staged(Dedup.keepCanonical(toks, "id", labels))
    val nNear = stageCount(nearDeduped)

    // 6: decontamination — drop docs overlapping the eval set
    val evalToks = evalDocs.select(
      TextFunctions.tokenize(col(textCol)).as("toks"))
    val contaminated = Curation.contamination(
        nearDeduped, evalToks, "id", "toks", cfg.shingleN)
      .filter(col("hit_frac") >= cfg.maxContamFrac)
      .select(col("id"))
    val decontaminated = staged(nearDeduped
      .join(broadcast(contaminated), Seq("id"), "left_anti"))
    val nDecontam = stageCount(decontaminated)

    // 7: deterministic stratified sampling (text kept through when BPE
    // packing needs to re-read it for encoding)
    val bpeOn = cfg.bpeSteps.isDefined || cfg.bpeMerges.isDefined
    val sampleCols = Seq(col("id"), col("stratum"), col("toks")) ++
      (if (bpeOn) Seq(col("text")) else Nil)
    // BPE mode reads the survivor frame three more times (the merge
    // training histogram materializes eagerly when spans are built,
    // then encode scans it on both sides of its type join) — cache it
    // even in lazy mode, where those reads would otherwise each re-run
    // the post-tokenize stages. The first of those reads fills the
    // cache.
    val sampled0 = Curation.stratifiedSample(decontaminated, "id",
        "stratum", cfg.sampleRates, cfg.defaultSampleRate, cfg.sampleSalt)
      .select(sampleCols: _*)
    val sampled =
      if (bpeOn && !withReport) sampled0.cache() else staged(sampled0)
    val nSampled = stageCount(sampled)

    // 8: fixed-length sequence packing over token counts — whitespace
    // units by default, BPE units when configured (q112 shape: seqLen
    // then means BPE tokens, and Report.nTokens reports BPE totals).
    // Lazy mode builds it only when the caller reads Output.spans
    def packed(): DataFrame = {
      val sized =
        if (!bpeOn)
          sampled.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
        else {
          val merges = cfg.bpeMerges.getOrElse(Bpe.learnMerges(
            Bpe.wordHistogram(sampled, "text", cfg.bpeMaxTypes),
            cfg.bpeSteps.getOrElse(8)))
          Bpe.encode(sampled, "id", "text", merges)
            .select(col("id"), col("n_bpe").as("n_tokens"))
        }
      Curation.packSequences(sized, "id", "n_tokens", cfg.seqLen)
    }
    // report mode: spans are built, cached and counted here (the
    // sequence stats are themselves a report job)
    val reportSpans = if (withReport) Some(packed().cache()) else None
    val (nSeq, nTok) = reportSpans match {
      case None => (-1L, -1L)
      case Some(sp) =>
        val st = sp.agg(countDistinct(col("seq_id")), sum(col("len"))).head()
        // sampled stays cached — it is RETURNED as Output.docs
        (if (st.isNullAt(0)) 0L else st.getLong(0),
          if (st.isNullAt(1)) 0L else st.getLong(1))
    }

    // what release() frees besides the token checkpoint: report mode's
    // pinned sampled + spans (docs IS sampled), lazy mode's survivor
    // cache when BPE packing multiplied its readers
    val cached =
      if (withReport) sampled +: reportSpans.toSeq
      else if (bpeOn) Seq(sampled)
      else Nil
    // docs keeps its (id, stratum, toks) contract regardless of the
    // token-unit mode (the projection reads through the cache)
    val docsOut =
      if (bpeOn) sampled.select(col("id"), col("stratum"), col("toks"))
      else sampled
    new Output(docsOut, reportSpans.getOrElse(packed()),
      Report(nInput, nUrl, nExact, nClean, nLineDedup, nPpl, nLm, nCls, nNear,
        nDecontam, nSampled, nSeq, nTok, nAfterSourceRep = nSrcRep),
      () => {
        cached.foreach(_.unpersist(false))
        Curation.releaseLocalCheckpoint(toks)
      })
  }
}
