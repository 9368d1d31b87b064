package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.operators.TmpDirs
import graft.serve.QueryService

/** Drives the S10 query service end-to-end through its JSON-line
  * protocol: two tenants ingest, search with isolation, list / get /
  * delete with cross-tenant 404s, stats — mirroring
  * `api/main.py:307-701`. */
class QueryServiceSpec extends SparkSpec {

  implicit private val formats: Formats = DefaultFormats

  private lazy val svc = new QueryService(spark, TmpDirs.create("graft_svc"))

  private def call(json: String): JValue = parse(svc.handle(json))

  test("health before any ingest reports empty store") {
    val r = call("""{"op":"health"}""")
    assert((r \ "status").extract[String] == "healthy")
    assert((r \ "services" \ "store").extract[String] == "empty")
  }

  test("search before ingest is a 503, not a crash") {
    val r = call("""{"op":"search","organization_id":"org_a","query":"x"}""")
    assert((r \ "status").extract[Int] == 503)
  }

  test("two tenants ingest and searches are isolated") {
    val a = call("""{"op":"ingest","organization_id":"org_a","docs":[
      {"filename":"lease.md","text":"# Lease Agreement\n\nThe tenant shall pay monthly rent of $2,000 to the landlord. The security deposit equals one month of rent.\n\n## Termination\n\nEither party may terminate with sixty days written notice."},
      {"filename":"notes.md","text":"# Meeting Notes\n\nThe quarterly revenue grew nine percent year over year. Earnings guidance was raised for the fiscal year."}]}""")
    assert((a \ "status").extract[String] == "completed")
    assert((a \ "document_ids").extract[List[String]].size == 2)

    val b = call("""{"op":"ingest","organization_id":"org_b","docs":[
      {"filename":"recipe.md","text":"# Bread Recipe\n\nMix flour, water, salt, and yeast. Let the dough rise for two hours, then bake at high heat until golden."}]}""")
    assert((b \ "status").extract[String] == "completed")

    // tenant A finds its lease; rent terms only exist in org_a
    val sa = call("""{"op":"search","organization_id":"org_a","query":"monthly rent deposit","limit":5}""")
    assert((sa \ "total_results").extract[Int] > 0)
    val aTexts = (sa \ "results" \\ classOf[JString])
    assert(aTexts.exists(_.contains("rent")))

    // tenant B must NOT see org_a's lease for the same query
    val sb = call("""{"op":"search","organization_id":"org_b","query":"monthly rent deposit","limit":5}""")
    val bResults = (sb \ "results").extract[List[JValue]]
    assert(bResults.forall(r => !(r \ "text").extract[String].contains("rent")))

    // and B finds its own corpus
    val sb2 = call("""{"op":"search","organization_id":"org_b","query":"flour dough bake","limit":5}""")
    assert((sb2 \ "total_results").extract[Int] > 0)
  }

  test("document list / get are tenant-scoped; delete cascades") {
    val listA = call("""{"op":"documents","organization_id":"org_a"}""").extract[List[JValue]]
    assert(listA.size == 2)
    val listB = call("""{"op":"documents","organization_id":"org_b"}""").extract[List[JValue]]
    assert(listB.size == 1)

    val leaseId = listA.map(d => (d \ "id").extract[String])
      .find(_.contains("lease.md_")).get
    assert(leaseId.startsWith("org_a::"))

    // cross-tenant get → 404 (api/main.py:659-662)
    val xGet = call(s"""{"op":"get_document","organization_id":"org_b","document_id":"$leaseId"}""")
    assert((xGet \ "status").extract[Int] == 404)

    // owner get works and reports chunk counts
    val g = call(s"""{"op":"get_document","organization_id":"org_a","document_id":"$leaseId"}""")
    assert((g \ "filename").extract[String] == "lease.md")
    assert((g \ "total_chunks").extract[Int] > 0)

    // cross-tenant delete → 404, document untouched
    val xDel = call(s"""{"op":"delete","organization_id":"org_b","document_id":"$leaseId"}""")
    assert((xDel \ "status").extract[Int] == 404)

    // owner delete succeeds; doc vanishes from list AND search
    val d = call(s"""{"op":"delete","organization_id":"org_a","document_id":"$leaseId"}""")
    assert((d \ "status").extract[String] == "deleted")
    val after = call("""{"op":"documents","organization_id":"org_a"}""").extract[List[JValue]]
    assert(after.size == 1)
    val sa = call("""{"op":"search","organization_id":"org_a","query":"monthly rent deposit","limit":5}""")
    val texts = (sa \ "results").extract[List[JValue]]
      .map(r => (r \ "text").extract[String])
    assert(texts.forall(!_.contains("landlord")))
  }

  test("re-ingest same filename upserts instead of duplicating") {
    val before = call("""{"op":"documents","organization_id":"org_b"}""").extract[List[JValue]]
    assert(before.size == 1)
    call("""{"op":"ingest","organization_id":"org_b","docs":[
      {"filename":"recipe.md","text":"# Bread Recipe\n\nMix flour, water, salt, and yeast. Let the dough rise for two hours, then bake at high heat until golden."}]}""")
    val after = call("""{"op":"documents","organization_id":"org_b"}""").extract[List[JValue]]
    // same content → same I14 doc id → delete-then-insert, count stable
    assert(after.size == 1)
  }

  test("identical file in two tenants: ids distinct, deletes don't cross") {
    val shared = """{"filename":"shared.md","text":"# Shared Handbook\n\nIdentical onboarding handbook text used by every subsidiary office. The handbook covers expense policy and travel booking rules in detail."}"""
    val ra = call(s"""{"op":"ingest","organization_id":"org_a","docs":[$shared]}""")
    val rb = call(s"""{"op":"ingest","organization_id":"org_b","docs":[$shared]}""")
    val idA = (ra \ "document_ids").extract[List[String]].head
    val idB = (rb \ "document_ids").extract[List[String]].head
    // content-derived I14 suffix is equal; the tenant prefix disambiguates
    assert(idA != idB)
    assert(idA.split("::").last == idB.split("::").last)

    // org_b deleting ITS copy must not touch org_a's
    assert((call(s"""{"op":"delete","organization_id":"org_b","document_id":"$idB"}""")
      \ "status").extract[String] == "deleted")
    val g = call(s"""{"op":"get_document","organization_id":"org_a","document_id":"$idA"}""")
    assert((g \ "filename").extract[String] == "shared.md")
    val sa = call("""{"op":"search","organization_id":"org_a","query":"expense policy handbook","limit":5}""")
    assert((sa \ "results").extract[List[JValue]]
      .exists(r => (r \ "text").extract[String].contains("handbook")))
    // cleanup org_a's copy so later counts stay predictable
    call(s"""{"op":"delete","organization_id":"org_a","document_id":"$idA"}""")
  }

  test("dense_mode ann / quantized / ivfpq / hnsw serve the same top hit as exact") {
    // the sidecar stores are written at every persist, so every index-
    // backed dense mode is selectable per request; on a tiny corpus the
    // clear-match query must surface the same document first in each
    def top(mode: String): String = {
      val r = call(s"""{"op":"search","organization_id":"org_b","query":"flour dough bake","limit":3,"dense_mode":"$mode"}""")
      assert((r \ "total_results").extract[Int] > 0, s"$mode returned nothing")
      ((r \ "results").extract[List[JValue]].head \ "id").extract[String]
    }
    val exact = top("exact")
    assert(top("ann") == exact)
    assert(top("quantized") == exact)
    assert(top("ivfpq") == exact)
    assert(top("hnsw") == exact)
    // unknown mode is the client's error
    assert((call("""{"op":"search","organization_id":"org_b","query":"x","dense_mode":"flat"}""")
      \ "status").extract[Int] == 400)
  }

  /** The parity fixture: two small tenants — org_p holds two
    * byte-identical documents that tie on every leg score, named so
    * that they order one way by UTF-8 bytes (Spark) and the other by
    * UTF-16 units (String.compareTo) — and org_big, whose chunk rows
    * exceed [[graft.retrieval.SliceSearch.MaxSliceRows]], so its requests take Spark's
    * legs. */
  private object Parity {
    val p = new QueryService(spark, TmpDirs.create("graft_svc_parity"))
    def pCall(json: String): JValue = parse(p.handle(json))
    private val ledger = "# Ledger Policy\\n\\nThe ledger reconciles invoices against payments every month. Auditors review the ledger and the invoice archive each quarter."
    val tieNames = Seq("ledger\uFF21.md", "ledger\uD835\uDD38.md")
    private def doc(fn: String, text: String) =
      s"""{"filename":"$fn","text":"$text"}"""
    private val orgP = Seq(doc(tieNames(0), ledger), doc(tieNames(1), ledger),
      doc("lease.md", "# Lease Agreement\\n\\nThe tenant shall pay monthly rent to the landlord. The deposit and the invoices for repairs are reconciled at termination."),
      doc("payments.md", "# Payment Terms\\n\\nInvoices are payable within thirty days. Late payments accrue interest, and the ledger records every payment."),
      doc("notes.md", "# Meeting Notes\\n\\nQuarterly revenue grew nine percent. Auditors asked for the invoice archive and the payment ledger."))
    private val orgQ = Seq(doc(tieNames(0), ledger),
      doc("recipe.md", "# Bread Recipe\\n\\nMix flour, water, salt and yeast. Let the dough rise, then bake until golden."))
    // forty two-sentence paragraphs a volume: about 240 chunk rows each
    private val orgBig = (0 until 12).map { v =>
      doc(s"volume$v.md", (0 until 40).map(j =>
        s"Entry $j of ledger volume $v records invoices and payments for the quarter. " +
          s"The auditors check entry $j against the archive shelf ${(v * 40 + j) % 17}.")
        .mkString("\\n\\n"))
    }
    for ((org, ds) <- Seq("org_p" -> orgP, "org_q" -> orgQ, "org_big" -> orgBig)) {
      val r = pCall(s"""{"op":"ingest","organization_id":"$org","docs":[${ds.mkString(",")}]}""")
      assert((r \ "status").extract[String] == "completed", r)
    }
    // the filter keeps the tie documents' type
    private val types = pCall("""{"op":"documents","organization_id":"org_p"}""").extract[List[JValue]]
      .map(d => ((d \ "filename").extract[String], (d \ "document_type").extract[String])).toMap
    val filter = s"""{"document_type":"${types(tieNames(0))}"}"""

    val modes = Seq("exact", "ann", "quantized", "ivfpq", "hnsw")
    val small = Seq("org_p" -> "ledger invoices payments", "org_p" -> "auditors quarterly archive",
      "org_p" -> "monthly rent deposit", "org_q" -> "ledger invoices")
    val big = Seq("org_big" -> "ledger invoices payments", "org_big" -> "auditors archive shelf")
    def request(org: String, q: String, mode: String, filtered: Boolean): String = {
      val f = if (filtered) s""","filters":$filter""" else ""
      s"""{"op":"search","organization_id":"$org","query":"$q","limit":5,"dense_mode":"$mode"$f}"""
    }
    def requests(probes: Seq[(String, String)]): Seq[String] =
      for (mode <- modes; (org, q) <- probes; filtered <- Seq(false, true))
        yield request(org, q, mode, filtered)
  }

  test("request path equals the lazy search plan exactly: every dense mode, plain and filtered") {
    import Parity._
    assert(tieNames(0).compareTo(tieNames(1)) > 0)
    def opt(j: JValue): Option[Double] = j match {
      case JDouble(d) => Some(d)
      case JNull | JNothing => None
      case other => fail(s"unexpected number $other")
    }
    type Res = (String, Double, String, Option[Double], Option[Double], Option[Double], Option[Double])
    def served(json: String): Seq[Res] =
      (pCall(json) \ "results").extract[List[JValue]].map { r =>
        ((r \ "id").extract[String], (r \ "score").extract[Double], (r \ "text").extract[String],
          opt(r \ "bm25_score"), opt(r \ "bm25_rank"), opt(r \ "dense_score"), opt(r \ "dense_rank"))
      }
    def planned(json: String): Seq[Res] = {
      val df = p.searchFrame(json)
      df.collect().toSeq.map { r =>
        def num(c: String): Option[Double] =
          if (!df.columns.contains(c) || r.isNullAt(r.fieldIndex(c))) None
          else Some(r.getAs[Number](c).doubleValue())
        (r.getAs[String]("id"), r.getAs[Double]("rrf_score"), r.getAs[String]("text"),
          num("bm25_score"), num("bm25_rank"), num("dense_score"), num("dense_rank"))
      }
    }

    var tiesSeen = 0
    for (json <- requests(small ++ big)) {
      val got = served(json)
      assert(got == planned(json), json)
      val ids = got.map(_._1)
      if (tieNames.forall(n => ids.exists(_.contains(n)))) {
        tiesSeen += 1
        // the tie resolves in UTF-8 order: U+FF21 first
        assert(ids.indexWhere(_.contains(tieNames(0))) < ids.indexWhere(_.contains(tieNames(1))), json)
      }
      if (json.contains("org_big") && !json.contains("filters")) assert(ids.nonEmpty, json)
    }
    assert(tiesSeen > 0, "no probe returned both tie documents")
  }

  /** Job starts and ends of `f`, in the order the scheduler posted
    * them: 's' and 'e'; and how many of the jobs were slice waves. */
  private def jobEvents(f: => Unit): (String, Int) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Char]()
    val waves = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        events.add('s')
        if (e.stageInfos.maxBy(_.stageId).name.contains("SliceSearch")) waves.incrementAndGet()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        events.add('e')
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    (events.toArray.mkString, waves.get)
  }

  test("a small tenant's request runs its jobs in one wave; an over-bound tenant's takes Spark's legs") {
    import Parity._
    // warm: the first request of a mode loads its sidecar views
    requests(small).foreach(p.handle)
    for (json <- requests(small)) {
      val (ev, waves) = jobEvents(p.handle(json))
      assert(ev.nonEmpty && !ev.dropWhile(_ == 's').contains('s'), s"$json: $ev")
      assert(ev.count(_ == 's') <= 4 && waves == 1, s"$json: $ev, $waves waves")
    }
    // over the bound: Spark's legs run; the first request's slice wave
    // overflows, and the scope, now known over the bound, runs none again
    val bigWaves = for (json <- requests(big)) yield {
      val (ev, waves) = jobEvents(p.handle(json))
      assert(ev.dropWhile(_ == 's').contains('s'), s"$json: $ev")
      waves
    }
    assert(bigWaves.sum <= 1, bigWaves)
  }

  test("the small-tenant parity probes compile no code on their second pass") {
    import Parity._
    import org.apache.spark.metrics.source.CodegenMetrics
    val reqs = requests(small)
    reqs.foreach(p.handle)
    val compiles = reqs.map { json =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      p.handle(json)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(compiles.sorted.apply(compiles.size / 2) == 0, compiles)
  }

  test("malformed weights are a 400, not a 500") {
    assert((call("""{"op":"search","organization_id":"org_b","query":"x","weights":{"bm25":"notanumber"}}""")
      \ "status").extract[Int] == 400)
    // short org ids are rejected like the reference's header check
    assert((call("""{"op":"search","organization_id":"ab","query":"x"}""")
      \ "status").extract[Int] == 400)
  }

  test("duplicate docs in one ingest request collapse to one document") {
    val dup = """{"filename":"dup.md","text":"# Duplicate Payload\n\nThe identical attachment was included twice by the client uploader. Either copy suffices for retrieval."}"""
    val r = call(s"""{"op":"ingest","organization_id":"org_b","docs":[$dup, $dup]}""")
    assert((r \ "document_ids").extract[List[String]].size == 1)
    val g = call(s"""{"op":"get_document","organization_id":"org_b","document_id":"${(r \ "document_ids").extract[List[String]].head}"}""")
    val n = (g \ "total_chunks").extract[Int]
    // re-ingesting once more must not change the chunk count (no
    // doubled postings from the intra-request duplicate)
    val r2 = call(s"""{"op":"ingest","organization_id":"org_b","docs":[$dup]}""")
    val g2 = call(s"""{"op":"get_document","organization_id":"org_b","document_id":"${(r2 \ "document_ids").extract[List[String]].head}"}""")
    assert((g2 \ "total_chunks").extract[Int] == n)
    call(s"""{"op":"delete","organization_id":"org_b","document_id":"${(r \ "document_ids").extract[List[String]].head}"}""")
  }

  test("bad limits on document listing are 400s") {
    assert((call("""{"op":"documents","organization_id":"org_a","limit":-1}""")
      \ "status").extract[Int] == 400)
    assert((call("""{"op":"documents","organization_id":"org_a","offset":-5}""")
      \ "status").extract[Int] == 400)
  }

  test("stats reports database / vector / bm25 blocks") {
    val s = call("""{"op":"stats"}""")
    assert((s \ "database" \ "documents").extract[Long] >= 2L)
    assert((s \ "database" \ "organizations").extract[Long] == 2L)
    assert((s \ "vector_store" \ "vectors").extract[Long] > 0L)
    assert((s \ "bm25" \ "avgdl").extract[Double] > 0.0)
  }

  test("bad requests surface status codes, not exceptions") {
    assert((call("""{"op":"nope"}""") \ "status").extract[Int] == 400)
    assert((call("""{"op":"search","query":"x"}""") \ "status").extract[Int] == 401)
    assert((call("""{"op":"search","organization_id":"org_a","query":"x","limit":5000}""") \ "status").extract[Int] == 400)
  }

  test("a mutation behind a wedged peer's lease returns a retryable 503, not a hang") {
    // a foreign LIVE lock (fresh timestamp — a wedged-but-heartbeating
    // peer) on this service's store root; bound the wait so the spec
    // runs in milliseconds
    val lockPath = java.nio.file.Paths.get(
      svc.storeRoot.stripPrefix("file:"), "_store.lock")
    java.nio.file.Files.createDirectories(lockPath.getParent)
    java.nio.file.Files.write(lockPath,
      s"wedged-peer ${System.currentTimeMillis()}".getBytes("UTF-8"))
    val prior = QueryService.MutationWaitMs
    QueryService.MutationWaitMs = 400
    try {
      val t0 = System.currentTimeMillis()
      val r = call("""{"op":"ingest","organization_id":"org_a","docs":[
        {"filename":"blocked.md","text":"This ingest must not hang forever behind the peer."}]}""")
      val waited = System.currentTimeMillis() - t0
      assert((r \ "status").extract[Int] == 503)
      assert((r \ "detail").extract[String].contains("locked by another writer"))
      assert(waited < 30000, s"503 must arrive near the bound ($waited ms)")
      assert(java.nio.file.Files.exists(lockPath),
        "the peer's live lock must be left alone")
    } finally {
      QueryService.MutationWaitMs = prior
      java.nio.file.Files.deleteIfExists(lockPath)
      ()
    }
  }

  test("streaming ingest feeds the serving store across checkpointed micro-batches") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.EventStream
    val tmp = TmpDirs.create("graft_svc_stream")
    val docsDir = s"$tmp/docs"
    Files.createDirectories(Paths.get(docsDir))
    def drop(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(docsDir, name), lines.mkString("\n").getBytes("UTF-8"))

    drop("batch_a.jsonl", Seq(
      """{"filename":"alpha.md","text":"Spark hybrid retrieval over parquet snapshots with broadcast fusion ranks the alpha corpus.","organization_id":"org_a"}""",
      """{"filename":"beta.md","text":"Sourdough bread needs flour, water, salt, and patience before the bake.","organization_id":"org_b"}""",
      """{"filename":"bad.md","text":"row with an injection attempt","organization_id":"x"}"""))

    val streamed = new QueryService(spark, s"$tmp/store")
    def sCall(json: String): JValue = parse(streamed.handle(json))
    EventStream.serveIngestStream(streamed,
      EventStream.readDocs(spark, docsDir), s"$tmp/ckpt").start().awaitTermination()

    // batch A is searchable with tenant isolation; the short-org row
    // was quarantined, not ingested and not fatal
    val sa = sCall("""{"op":"search","organization_id":"org_a","query":"hybrid retrieval snapshots","limit":5}""")
    assert((sa \ "total_results").extract[Int] > 0)
    val sb = sCall("""{"op":"search","organization_id":"org_b","query":"hybrid retrieval snapshots","limit":5}""")
    assert((sb \ "results").extract[List[JValue]]
      .forall(r => !(r \ "text").extract[String].contains("alpha")))
    val st = sCall("""{"op":"stats"}""")
    assert((st \ "database" \ "documents").extract[Long] == 2L)

    // a file dropped later arrives in the NEXT run of the checkpointed
    // stream (exactly-once per file: batch A is not re-ingested), and
    // the merge keeps batch A searchable
    drop("batch_b.jsonl", Seq(
      """{"filename":"gamma.md","text":"Streaming gamma document lands in a later micro-batch and must be found.","organization_id":"org_a"}"""))
    EventStream.serveIngestStream(streamed,
      EventStream.readDocs(spark, docsDir), s"$tmp/ckpt").start().awaitTermination()

    val sg = sCall("""{"op":"search","organization_id":"org_a","query":"streaming gamma micro-batch","limit":5}""")
    assert((sg \ "results").extract[List[JValue]]
      .exists(r => (r \ "text").extract[String].contains("gamma")))
    val sa2 = sCall("""{"op":"search","organization_id":"org_a","query":"hybrid retrieval snapshots","limit":5}""")
    assert((sa2 \ "total_results").extract[Int] > 0)
    assert((sCall("""{"op":"stats"}""") \ "database" \ "documents").extract[Long] == 3L)

    // dense sidecars were rebuilt by the streaming path too: every
    // index-backed dense mode agrees with the exact scan
    for (mode <- Seq("exact", "ann", "quantized", "ivfpq", "hnsw")) {
      val r = sCall(s"""{"op":"search","organization_id":"org_a","query":"hybrid retrieval snapshots","dense_mode":"$mode","limit":3}""")
      assert((r \ "total_results").extract[Int] > 0, mode)
    }
  }
}
