package graft

import org.apache.spark.sql.functions._

import graft.operators.TrainingPipeline

/** End-to-end curation pipeline: planted duplicates, boilerplate, PII,
  * and eval contamination must each be removed by their stage, counts
  * must be monotone, and the whole run deterministic. */
class TrainingPipelineSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    val base = graft.Tables(spark, sf0001, "documents")
      .select($"doc_id".as("id"), $"lang",
        // multi-line docs: a unique line + a shared boilerplate footer
        concat($"text", lit(" end of document line."),
          lit("\nGlobal boilerplate footer line for every doc."))
          .as("text"))
    // plant: an exact duplicate of doc 1 (new id 900001), an email to
    // scrub into doc 2's clone (id 900002)
    val doc1 = base.filter($"id" === 1L)
      .select(lit(900001L).as("id"), $"lang", $"text")
    val doc2 = base.filter($"id" === 2L)
      .select(lit(900002L).as("id"), $"lang",
        concat($"text", lit(" contact admin@example.com today.")).as("text"))
    base.unionByName(doc1).unionByName(doc2)
  }

  test("each planted artifact is removed by its stage; counts monotone") {
    import spark.implicits._
    // eval set = the raw text of docs 10..19 (contaminates themselves)
    val eval = graft.Tables(spark, sf0001, "documents")
      .filter($"doc_id" >= 10L && $"doc_id" < 20L).select($"text")
    val out = TrainingPipeline.curate(
      corpus, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(maxContamFrac = 0.3,
        sampleRates = Map("en" -> 1.0), defaultSampleRate = 0.5))
    val (spans, r) = (out.spans, out.report)

    // counts only ever shrink
    val seq = Seq(r.nInput, r.nAfterExactDedup, r.nAfterLineClean,
      r.nAfterLineDedup, r.nAfterNearDedup, r.nAfterDecontam, r.nSampled)
    assert(seq.zip(seq.tail).forall { case (a, b) => b <= a }, r.toString)

    // exact dup: 900001 vs 1 — the copy drops at the exact stage and
    // the min id (1) is the canonical survivor
    assert(r.nAfterExactDedup == r.nInput - 1, r.toString)
    val survivorIds = spans.select($"id").distinct().as[Long].collect().toSet
    assert(!survivorIds.contains(900001L))

    // decontamination: the eval docs' own rows were in the corpus and
    // overlap themselves ≈ fully → removed
    assert(r.nAfterDecontam < r.nAfterNearDedup)
    assert((10L until 20L).forall(id => !survivorIds.contains(id)))

    // packing produced sequences and conserved sampled tokens
    assert(r.nSequences > 0 && r.nTokens > 0)
  }

  test("URL filter and perplexity gate drop their planted docs") {
    import spark.implicits._
    // three docs: a clean one from a good domain, one from a blocked
    // domain, one high-diversity noise doc (every token unique → the
    // entropy surrogate maxes out → 'tail') from a good domain
    val noise = (1 to 80).map(i => s"tok$i").mkString(" ") + "."
    val docs = Seq(
      (1L, "en", "https://news.example.org/a", "A perfectly ordinary first document line for the pipeline.\nAnother well formed second line follows here."),
      (2L, "en", "https://spam-casino.biz/win", "This document would otherwise be perfectly fine to keep today.\nIt has two well formed lines of text."),
      (3L, "en", "https://news.example.org/b", noise + "\nAnother well formed second line follows there."))
      .toDF("id", "lang", "url", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0,
        urlCol = Some("url"),
        urlBlockedDomains = Seq("spam-casino.biz"),
        pplThresholds = Some((5.0, 60.0))))
    val r = out.report
    assert(r.nInput == 3 && r.nAfterUrlFilter == 2, r.toString)
    assert(r.nAfterPplGate == 1, r.toString)
    val ids = out.docs.select($"id").as[Long].collect().toSet
    assert(ids == Set(1L), ids.toString)

    // both stages disabled → -1 sentinels, nothing dropped
    val off = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0))
    assert(off.report.nAfterUrlFilter == -1L && off.report.nAfterPplGate == -1L)
    assert(off.report.nAfterLineDedup == 3L, off.report.toString)
  }

  test("source-reputation gate drops a whole junk source before per-doc work") {
    import spark.implicits._
    // stratum doubles as the source key: 'good' carries prose, 'junk'
    // carries digit soup — the q110 verdict drops junk WHOLESALE
    val docs = Seq(
      (1L, "good", "The quarterly revenue review covers supplier contracts and the updated payment schedule.\nA second well formed line closes the document."),
      (2L, "good", "Operations notes describe warehouse throughput and seasonal demand planning.\nAnother properly written closing line follows here."),
      (3L, "junk", "000 111 222 333 444 555 666 777 888 999 000 111."),
      (4L, "junk", "99999 88888 77777 66666 55555 44444 33333 22222."))
      .toDF("id", "source", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "source",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0,
        srcRepMinMeanQuality = Some(0.4)))
    assert(out.report.nAfterSourceRep == 2, out.report.toString)
    assert(out.docs.select($"id").as[Long].collect().toSet == Set(1L, 2L))
    // gate off → sentinel, all four docs survive to line dedup
    val off = TrainingPipeline.curate(docs, eval, "id", "text", "source",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0))
    assert(off.report.nAfterSourceRep == -1L)
    assert(off.report.nAfterLineDedup == 4L, off.report.toString)
  }

  test("LM perplexity gate drops reference-LM-implausible docs") {
    import spark.implicits._
    // reference corpus (the CCNet shape: score the crawl under a
    // clean-corpus LM) — self-training would score unique-bigram
    // gibberish 1/1 per context, so the reference LM is the config
    // that makes the gate discriminative
    val ref = Seq(
      "the cat sat on the mat and the dog sat on the rug",
      "the dog ran to the cat and the cat ran to the mat",
      "a cat and a dog sat on a mat in the sun")
      .toDF("text")
      .select(graft.functions.TextFunctions.wsTokens(lower($"text")).as("toks"))
      .withColumn("id", monotonically_increasing_id())
    val docs = Seq(
      (1L, "en", "the cat sat on the mat and the dog ran to the sun.\nthe dog sat on the rug and the cat ran to the mat."),
      (2L, "en", "zqx vbn wrt plk mnb qwe asd zxc rty uio ghj bnm.\nvbn zqx plk wrt qwe mnb zxc asd uio rty bnm ghj."))
      .toDF("id", "lang", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0,
        lmPplMax = Some(50.0), lmTrainDocs = Some(ref)))
    assert(out.report.nAfterLmGate == 1, out.report.toString)
    val ids = out.docs.select($"id").as[Long].collect().toSet
    assert(ids == Set(1L), ids.toString)
    // gate disabled → -1 sentinel, both docs survive
    val off = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0))
    assert(off.report.nAfterLmGate == -1L)
    assert(off.report.nAfterLineDedup == 2L, off.report.toString)
  }

  test("classifier gate drops junk the perceptron separates; off → -1 sentinel") {
    import spark.implicits._
    val fluent =
      "the terms of the agreement are set out in a schedule that is agreed for the parties with care."
    val junk = "xj9 qq zz kk vv bb asdfgh jklzxc qwerty uiopas dfghjk lzxcvb " * 3
    // labeled pool: enough separable docs for the weak labeler +
    // perceptron to converge (distinct suffixes dodge exact dedup)
    val pool = ((1 to 15).map(i => (100L + i, s"$fluent clause$i")) ++
      (1 to 15).map(i => (200L + i, s"$junk nois$i")))
      .toDF("id", "text")
    val docs = Seq(
      (1L, "en", fluent + " signed here."),
      (2L, "en", junk + " more sludge.")).toDF("id", "lang", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0,
        clsMinMargin = Some(1L), clsEpochs = 12,
        clsTrainDocs = Some(pool)))
    assert(out.report.nAfterClsGate == 1, out.report.toString)
    assert(out.docs.select($"id").as[Long].collect().toSet == Set(1L))
    val off = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0))
    assert(off.report.nAfterClsGate == -1L)
    assert(off.report.nAfterLineDedup == 2L, off.report.toString)
  }

  test("pipeline is deterministic end-to-end") {
    import spark.implicits._
    val eval = graft.Tables(spark, sf0001, "documents")
      .filter($"doc_id" >= 10L && $"doc_id" < 20L).select($"text")
    def run() = TrainingPipeline.curate(corpus, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(sampleRates = Map("en" -> 0.7),
        defaultSampleRate = 0.4))
    val (o1, o2) = (run(), run())
    assert(o1.report == o2.report)
    assert(o1.spans.orderBy("seq_id", "id").collect().toSeq ==
      o2.spans.orderBy("seq_id", "id").collect().toSeq)
  }

  test("PII planted in the corpus is scrubbed in the pipeline's output") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "Contact admin@example.com for the quarterly report today.\nA second well formed line sits here."),
      (2L, "en", "Nothing sensitive in this perfectly ordinary document line."))
      .toDF("id", "lang", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0))
    // the curated docs' tokens carry the placeholder, never the address
    val toks = out.docs.filter($"id" === 1L)
      .select(explode($"toks").as("t")).as[String].collect().toSet
    assert(toks.contains("email"))
    assert(!toks.contains("admin") && !toks.contains("example"))
  }

  test("BPE-unit packing: spans conserve tokenizer tokens exactly (q112 wiring)") {
    import spark.implicits._
    // two clean docs that survive every stage untouched (the C4 line
    // rule needs terminal punctuation, so each ends with a sacrificial
    // "x." that the BPE encoder's ^[a-z]+$ word filter then ignores);
    // with ZERO merges each alphabetic word encodes to its character
    // count, so the expected BPE layout is computable by hand:
    //   doc 1 "nice blue stone mango x."  -> 4+4+5+5 = 18 BPE tokens
    //   doc 2 "planet orbit moon star x." -> 6+5+4+4 = 19 BPE tokens
    // seqLen 16: doc1 spans seq0[0,16)+seq1[16,18), doc2 (off 18)
    // spans seq1[18,32)+seq2[32,37)
    val docs = Seq(
      (1L, "en", "nice blue stone mango x."),
      (2L, "en", "planet orbit moon star x."))
      .toDF("id", "lang", "text")
    val eval = Seq("completely unrelated evaluation text").toDF("text")
    val out = TrainingPipeline.curate(docs, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(defaultSampleRate = 1.0, seqLen = 16L,
        minWordsPerLine = 1, bpeMerges = Some(Nil)))
    val spans = out.spans.orderBy($"seq_id", $"id")
      .select($"seq_id", $"id", $"doc_from", $"len", $"seq_from")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      (0L, 1L, 0L, 16L, 0L),
      (1L, 1L, 16L, 2L, 0L),
      (1L, 2L, 0L, 14L, 2L),
      (2L, 2L, 14L, 5L, 0L)), spans.toString)
    // token conservation in BPE units, and the report counts BPE
    // totals (whitespace units would have said 8)
    assert(out.report.nTokens == 37L, out.report.toString)
    // docs output keeps its (id, stratum, toks) contract in BPE mode
    assert(out.docs.columns.toSeq == Seq("id", "stratum", "toks"))
  }

  test("BPE-unit packing with a TRAINED vocabulary keeps the same survivors") {
    import spark.implicits._
    val eval = graft.Tables(spark, sf0001, "documents")
      .filter($"doc_id" >= 10L && $"doc_id" < 20L).select($"text")
    val ws = TrainingPipeline.curate(corpus, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(maxContamFrac = 0.3, defaultSampleRate = 1.0))
    val bpe = TrainingPipeline.curate(corpus, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(maxContamFrac = 0.3, defaultSampleRate = 1.0,
        bpeSteps = Some(4), bpeMaxTypes = 300))
    // the token-unit switch must not change WHICH docs survive — only
    // how their sizes are measured (BPE splits words into subwords, so
    // totals differ from whitespace counts)
    def ids(o: TrainingPipeline.Output) =
      o.docs.select($"id").as[Long].collect().toSet
    assert(ids(ws) == ids(bpe))
    assert(bpe.report.nTokens != ws.report.nTokens,
      s"BPE totals should differ from whitespace totals: ${bpe.report.nTokens}")
    ws.release(); bpe.release()
  }

  private def evalSet = {
    import spark.implicits._
    graft.Tables(spark, sf0001, "documents")
      .filter($"doc_id" >= 10L && $"doc_id" < 20L).select($"text")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.sortBy(_.toString)

  test("lazy mode returns report mode's docs and spans") {
    val cfg = TrainingPipeline.Cfg(maxContamFrac = 0.3,
      sampleRates = Map("en" -> 1.0), defaultSampleRate = 0.5)
    val rep = TrainingPipeline.curate(corpus, evalSet, "id", "text", "lang", cfg)
    val lzy = TrainingPipeline.curate(corpus, evalSet, "id", "text", "lang", cfg,
      withReport = false)
    val docs = sortedRows(rep.docs)
    assert(docs.nonEmpty)
    assert(sortedRows(lzy.docs) == docs)
    assert(sortedRows(lzy.spans) == sortedRows(rep.spans))
    rep.release(); lzy.release()
  }

  test("lazy mode plans the stages after tokenization over a leaf") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    def nodes(p: LogicalPlan): Int = p.collectWithSubqueries { case n => n }.size
    // every action curate() and the docs read run, seen from outside
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution, Int)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add((f, qe, nodes(qe.analyzed))); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = TrainingPipeline.curate(corpus, evalSet, "id", "text", "lang",
        TrainingPipeline.Cfg(), withReport = false)
      val docsQe = out.docs.queryExecution
      // the lineage through the token frame made this 391 nodes on
      // the benchmark corpus
      assert(nodes(docsQe.analyzed) <= 60, docsQe.analyzed.treeString)
      out.docs.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._2 eq docsQe) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val acts = seen.asScala.toSeq.map { case (f, _, n) => f -> n }
      // the token checkpoint plans the pre-token lineage; the cluster
      // collect and the docs collect plan over its leaf
      val (ckpt, later) = acts.partition(_._1.toLowerCase.contains("checkpoint"))
      assert(ckpt.size == 1 && later.size >= 2 && later.forall(_._2 <= 60), acts.toString)
      out.release()
    } finally spark.listenerManager.unregister(l)
  }

  test("release frees the token frame's checkpoint blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = TrainingPipeline.curate(corpus, evalSet, "id", "text", "lang",
      TrainingPipeline.Cfg(), withReport = false)
    out.docs.collect(); out.spans.collect()
    assert(sc.getPersistentRDDs.keySet != before, "the token frame holds no blocks")
    out.release()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("lazy mode runs no report jobs and returns -1 counts") {
    import spark.implicits._
    val eval = graft.Tables(spark, sf0001, "documents")
      .filter($"doc_id" >= 10L && $"doc_id" < 20L).select($"text")
    val out = TrainingPipeline.curate(corpus, eval, "id", "text", "lang",
      TrainingPipeline.Cfg(), withReport = false)
    assert(out.report.nInput == -1L && out.report.nSequences == -1L)
    // the spans frame is still fully computable on demand
    assert(out.spans.limit(1).count() >= 0)
  }
}
