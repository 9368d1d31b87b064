package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.serve.QueryService
import graft.operators.TrainingPipeline

/** The benchmark JVM: one local Spark session, one workload, one
  * closed-loop client. See perfbench/README.md for the workloads and
  * metrics. Writes its result as one JSON object to `--out` and a full
  * artifact (inputs, host context, every metric, spans when traced)
  * under `--artifacts`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, artifacts: String)

  /** What a workload hands back for reporting. `opMs` holds one entry
    * per attempted timed op, infinite when the op failed. */
  final case class Outcome(setupS: Seq[Double], opMs: Seq[Double], failed: Int,
                           checks: Seq[(String, Boolean)], storeBytesPerInputByte: Double,
                           details: Map[String, Any])

  // search store: one generation over Zipf-skewed tenants
  val Tenants = 20
  val TenantSkew = 1.0
  val BaseDocs = 60
  val WarmUpGroups = 1
  // curate_load corpus; the traced search run's curation probe uses
  // another corpus of the same size
  val CurateDocs = 100
  // traced-run probes of the layers a workload does not drive itself
  val ProbeIngestDocs = 4
  val StreamBatches = 2
  val StreamBatchDocs = 40

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("out"), kv("artifacts"))
    if (!Set("search", "curate_load").contains(a.workload)) {
      System.err.println(s"unknown workload '${a.workload}' (search | curate_load)")
      sys.exit(2)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val busyBefore = Host.busyFraction()
    val cpu0 = Host.cpuTimes()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace, spark.sparkContext)
    // task CPU over the whole run, traced or not, next to wall time
    val cpuLog = new JobLog
    spark.sparkContext.addSparkListener(cpuLog)
    val gen = new Gen(a.seed)
    val selfTest = generatorSelfTest(a.seed)

    val wall0 = System.nanoTime()
    val o = a.workload match {
      case "search" => runSearch(spark, gen, tracer, a)
      case "curate_load" => runCurateLoad(spark, gen, tracer, a)
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val spans = tracer.finish()
    val overheadFrac = tracer.overheadNs / (wallS * 1e9)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val taskCpuS = cpuLog.taskCpuNs / 1e9
    val cpu1 = Host.cpuTimes()
    spark.stop()
    val busyAfter = Host.busyFraction()

    val checks = o.checks ++ selfTest
    val correct = checks.forall(_._2)
    val attempted = o.opMs.size
    val (_, tailV) = Stats.tail(o.opMs)
    // a failed op is an infinite latency; JSON has no infinity, so the
    // summary shows the failure as a latency of 1e9 ms
    def finite(x: Double) = if (x.isInfinite) 1e9 else x
    val e2e = Map(
      "setup_s" -> (Stats.median(o.setupS), "s"),
      "op_p50_ms" -> (finite(Stats.median(o.opMs)), "ms"),
      "op_tail_ms" -> (finite(tailV), "ms"),
      "store_bytes_per_input_byte" -> (o.storeBytesPerInputByte, "ratio"))
    val layer = if (!a.trace) Map.empty[String, (Double, String)]
      else layerMetrics(spans, overheadFrac) +
        // the timed ops' median with tracing on; against op_p50_ms of an
        // untraced run on the same seed it gives the tracing overhead
        ("trace.op_p50_ms" -> (finite(Stats.median(o.opMs)), "ms"))
    // the streaming layer runs only in the traced curate_load probe, so
    // its figures go to the report and the artifact, not to the metrics
    val streaming = if (a.trace) streamingMetrics(spans) else Map.empty[String, (Double, String)]
    val metrics = (if (a.trace) layer else e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    val result = Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> o.failed, "metrics" -> metrics)

    val host = Map("cpus" -> cpus, "busy_before" -> busyBefore, "busy_after" -> busyAfter,
      "steal_frac" -> Host.stealFraction(cpu0, cpu1),
      "wall_s" -> wallS, "task_cpu_s" -> taskCpuS, "session_s" -> sessionS)
    val artifact = Map("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "result" -> result, "host" -> host,
      "checks" -> checks.map { case (n, ok) => Map("check" -> n, "ok" -> ok) },
      "op" -> Stats.summary(o.opMs),
      "setup_s_all" -> o.setupS, "details" -> o.details,
      "probe_inputs" -> (if (!a.trace) Map.empty
        else if (a.workload == "search") Map("probe_curate_docs" -> CurateDocs,
          "probe_ingest_docs" -> ProbeIngestDocs)
        else Map("stream_batches" -> StreamBatches, "stream_batch_docs" -> StreamBatchDocs,
          "stream_repeat_share" -> 0.3)),
      "layer_metrics" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "streaming_metrics" -> streaming.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> spans.map { case (s, c) => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.ms, "attrs" -> s.attrs, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_cpu_ms" -> c.cpuMs, "shuffle_mb" -> c.shuffleMb, "spill_mb" -> c.spillMb,
        "no_job_ms" -> c.noJobMs, "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
        "fs_bytes_read" -> s.fsBytesRead, "fs_bytes_written" -> s.fsBytesWritten) })

    Files.createDirectories(Paths.get(a.artifacts))
    val artFile = Paths.get(a.artifacts, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(artFile, Json.render(artifact).getBytes("UTF-8"))
    // human-readable report: every metric by name and unit
    println(s"workload ${a.workload} seed ${a.seed} trace ${a.trace}: " +
      s"correct=$correct attempted=$attempted failed=${o.failed}")
    (e2e ++ layer ++ streaming).toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"  $k%-44s $v%14.4f $u") }
    o.details.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"  $k = ${Json.render(v)}") }
    println(s"  host = ${Json.render(host)}")
    checks.filterNot(_._2).foreach { case (n, _) => println(s"  FAILED CHECK: $n") }
    println(s"  artifact: $artFile")
    Files.write(Paths.get(a.out), Json.render(result).getBytes("UTF-8"))
  }

  /** Same seed ⇒ byte-identical inputs; another seed ⇒ different ones. */
  def generatorSelfTest(seed: Long): Seq[(String, Boolean)] = {
    def inputs(s: Long): String = {
      val g = new Gen(s)
      g.digest(g.servingDocs(BaseDocs, Tenants, TenantSkew, 0).map(_.productIterator.mkString("\t")) ++
        g.curateCorpus(CurateDocs, 0).docs.map(_.productIterator.mkString("\t")) ++
        g.streamBatches(StreamBatches, StreamBatchDocs, 0).flatten.map(_.toString) ++
        (0 until 10).map(i => g.query(g.rng(3), i % Tenants)))
    }
    val d = inputs(seed)
    Seq("generator: same seed gives identical inputs" -> (d == inputs(seed)),
      "generator: another seed gives different inputs" -> (d != inputs(seed + 1)))
  }

  private def docsDf(spark: SparkSession, docs: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("filename", "text", "organization_id")
  }

  private def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // ---------------------------------------------------------------- search

  def runSearch(spark: SparkSession, gen: Gen, tr: Tracer, a: Args): Outcome = {
    val layers = new Layers(spark, tr, a.work)
    val root = s"${a.work}/store"
    val base = gen.servingDocs(BaseDocs, Tenants, TenantSkew, 0)
    val inputBytes = base.map(_._2.getBytes("UTF-8").length.toLong).sum
    val s0 = System.nanoTime()
    val svc = new QueryService(spark, root)
    layers.ingestBatch(svc, docsDf(spark, base), inputBytes)
    val seedS = (System.nanoTime() - s0) / 1e9
    // timed requests: groups of one request per dense mode, each with
    // its own tenant and query, so a run's median averages over as many
    // queries as it sends. Within a group, three requests are plain
    // hybrid, one has filters and one is enhanced, rotating over the
    // modes, so every run holds the same mix of modes and kinds
    val tenantZipf = new gen.Zipf(Tenants, TenantSkew)
    def group(r: java.util.SplittableRandom, g: Int): Seq[Layers.SearchReq] =
      Layers.Modes.zipWithIndex.map { case (m, i) =>
        val t = tenantZipf.draw(r)
        val slot = (g + i) % Layers.Modes.size
        Layers.SearchReq(gen.org(t), gen.query(r, t), m, filtered = slot == 3, enhanced = slot == 4)
      }
    // warm-up: groups of its own before timing, so the timed loop sees
    // a long-lived service's compiled plans and JIT state
    val wr = gen.rng(12)
    (0 until WarmUpGroups).flatMap(g => group(wr, g)).foreach(req => svc.handle(req.json))
    val setupS = (System.nanoTime() - s0) / 1e9
    val r = gen.rng(11)
    val groups = (0 until 400).map(g => group(r, g))
    val lat = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val badPrefix, badOrder, empty = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var firstIds: Option[Seq[String]] = None
    val perRequest = mutable.ArrayBuffer.empty[Map[String, Any]]

    // whole groups only, so every run sends the same mix: another group
    // starts while the deadline has not passed; the first always runs
    def timedGroups(budgetS: Double, traced: Boolean): Seq[Double] = {
      val ms = mutable.ArrayBuffer.empty[Double]
      val end = System.nanoTime() + (budgetS * 1e9).toLong
      var g = 0
      while (g < groups.size && (g == 0 || System.nanoTime() < end)) {
        groups(g).foreach { req =>
          tr.req += 1
          val t0 = System.nanoTime()
          val resp =
            try Right(if (traced) layers.search(svc, req) else svc.handle(req.json))
            catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
          val dt = elapsedMs(t0)
          perRequest += Map("mode" -> req.mode, "org" -> req.org, "ms" -> dt, "traced" -> traced,
            "class" -> (if (req.filtered) "filtered" else if (req.enhanced) "enhanced" else "plain"))
          val parsed = resp.fold(e => Layers.SearchResp(Nil, Nil, Some(e)), layers.parseSearch)
          parsed.error match {
            case Some(e) =>
              failed += 1; ms += Double.PositiveInfinity
              System.err.println(s"search failed: ${req.json} -> $e")
            case None =>
              ms += dt
              if (!parsed.ids.forall(_.startsWith(req.org + "::"))) badPrefix += req.json
              if (parsed.scores.zip(parsed.scores.drop(1)).exists { case (x, y) => y > x + 1e-12 })
                badOrder += req.json
              if (parsed.ids.isEmpty) empty += req.json
              if (firstIds.isEmpty) firstIds = Some(parsed.ids)
          }
          if (traced) layers.replaySearch(root, req)
        }
        g += 1
      }
      ms.toSeq
    }

    lat ++= timedGroups(a.seconds, a.trace)
    if (a.trace) checks ++= layerProbe(spark, gen, tr, layers, a, search = None, curate = None)

    // repeated probe: the first request again returns the same ids
    val again = layers.parseSearch(svc.handle(groups(0).head.json))
    val storeBytes = Disk.bytesUnder(root)
    checks += "search: every request answered without error" -> (failed == 0)
    checks += "search: result ids carry the tenant's org:: prefix" -> badPrefix.isEmpty
    checks += "search: scores are non-increasing" -> badOrder.isEmpty
    checks += "search: a repeated probe returns the same ids" -> (again.error.isEmpty && firstIds.contains(again.ids))
    Outcome(Seq(setupS), lat.toSeq, failed, checks.toSeq,
      storeBytes.toDouble / inputBytes,
      Map("inputs" -> Map("docs" -> base.size,
        "bytes" -> inputBytes, "tenants" -> Tenants, "tenant_skew" -> TenantSkew,
        "tenant_sizes" -> gen.tenantSizes(BaseDocs, Tenants, TenantSkew),
        "request_mix" -> "per query group of five modes: 3 plain hybrid, 1 filtered, 1 enhanced"),
        "store_bytes" -> storeBytes, "requests" -> perRequest.toSeq,
        "setup_parts_s" -> Map("store" -> seedS, "warm_up" -> (setupS - seedS)),
        "check_failures" -> Map("prefix" -> badPrefix.take(3), "order" -> badOrder.take(3),
          "empty" -> empty.take(3)),
        // an index mode may legitimately find nothing for a tiny tenant
        // (no LSH bucket hit, say): recorded, not failed
        "empty_result_frac" -> (if (lat.isEmpty) 0.0 else empty.size.toDouble / lat.size),
        "failed_op_frac" -> (if (lat.isEmpty) 0.0 else failed.toDouble / lat.size)))
  }

  // ----------------------------------------------------------- curate_load

  def runCurateLoad(spark: SparkSession, gen: Gen, tr: Tracer, a: Args): Outcome = {
    import spark.implicits._
    val corpus = gen.curateCorpus(CurateDocs, 0)
    // set-up: the corpus and eval frames, materialized; built five
    // times and the median reported, since one build is short and the
    // first, in a cold JVM, is several times slower than the rest
    def setup(): (DataFrame, DataFrame, Double) = {
      val s0 = System.nanoTime()
      val docs = corpus.docs.toDF("id", "text", "stratum").cache()
      docs.count()
      val eval = corpus.eval.toDF("text").cache()
      eval.count()
      (docs, eval, (System.nanoTime() - s0) / 1e9)
    }
    val setups = (0 until 5).map { _ => setup() }
    setups.init.foreach { case (d, e, _) => d.unpersist(); e.unpersist() }
    val (docs, eval, _) = setups.last
    val layers = new Layers(spark, tr, a.work)

    final case class Pass(curateMs: Double, loadMs: Double, survivors: Set[Long],
                          loaded: Long, storeBytes: Long, survivorBytes: Long, root: String,
                          svc: QueryService)
    var passNo = 0
    // a pass is spanned and its pipeline replayed only in a traced run
    def pass(): Pass = {
      passNo += 1; tr.req += 1
      val t0 = System.nanoTime()
      val survivors = tr.span("operators.curate") {
        val out = TrainingPipeline.curate(docs, eval, "id", "text", "stratum", withReport = false)
        val ids = out.docs.select(col("id")).as[Long].collect().toSet
        out.release()
        ids
      }
      val curateMs = elapsedMs(t0)
      val root = s"${a.work}/loaded$passNo"
      val svc = new QueryService(spark, root)
      val kept = corpus.docs.filter(d => survivors.contains(d._1))
      val survivorBytes = kept.map(_._2.getBytes("UTF-8").length.toLong).sum
      val t1 = System.nanoTime()
      val rows = kept.map { case (id, t, s) => (s"c$id.md", t, "org" + s) }
      layers.ingestBatch(svc, docsDf(spark, rows), survivorBytes)
      val loadMs = elapsedMs(t1)
      if (tr.enabled) layers.replayPipeline(rows.map { case (f, t, o) => (s"$o::$f", t, o) }
        .toDF("doc_id", "text", "org"), rows.size)
      val loaded = org.json4s.jackson.JsonMethods.parse(svc.handle("""{"op":"stats"}"""))
        .\("database").\("documents").values match {
          case n: BigInt => n.toLong
          case n: Number => n.longValue
          case _ => -1L
        }
      Pass(curateMs, loadMs, survivors, loaded, Disk.bytesUnder(root), survivorBytes, root, svc)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    var failed = 0
    var attempted = 0
    val lat = mutable.ArrayBuffer.empty[Double]
    def guarded(): Unit = {
      attempted += 1
      try { val p = pass(); passes += p; lat += p.curateMs + p.loadMs }
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1; lat += Double.PositiveInfinity
        System.err.println(s"curate_load pass failed: $e")
      }
    }
    val probeChecks = mutable.ArrayBuffer.empty[(String, Boolean)]
    if (!a.trace) {
      // whole passes only: another pass starts while one more of the
      // last pass's length still fits in --seconds; the first always runs
      val start = System.nanoTime()
      var last = 0L
      do {
        val t0 = System.nanoTime(); guarded(); last = System.nanoTime() - t0
      } while (System.nanoTime() - start + last <= a.seconds * 1000000000L)
    } else {
      // one traced pass, then the probe, which searches its loaded store
      guarded()
      passes.lastOption.foreach { p =>
        probeChecks ++= layerProbe(spark, gen, tr, layers, a, search = Some((p.svc, p.root)),
          curate = Some((docs, eval)))
      }
    }

    val checks = probeChecks
    checks += "curate_load: every pass completed" -> (failed == 0)
    passes.headOption.foreach { p =>
      checks += "curate_load: at most one survivor per exact-duplicate group" ->
        corpus.exactGroups.forall(g => g.count(p.survivors.contains) <= 1)
      checks += "curate_load: no contaminated document survives" ->
        corpus.contaminated.forall(id => !p.survivors.contains(id))
    }
    checks += "curate_load: loaded documents equal survivors" ->
      passes.forall(p => p.loaded == p.survivors.size)
    checks += "curate_load: every pass keeps the same survivors" ->
      (passes.map(_.survivors).distinct.size <= 1)
    val p0 = passes.headOption
    Outcome(setups.map(_._3), lat.toSeq, failed, checks.toSeq,
      p0.map(p => p.storeBytes.toDouble / p.survivorBytes).getOrElse(Double.NaN),
      Map("inputs" -> Map("docs" -> corpus.docs.size, "bytes" -> corpus.bytes,
        "exact_dup_groups" -> corpus.exactGroups.size,
        "exact_dup_docs" -> corpus.exactGroups.map(_.size - 1).sum,
        "near_dup_docs" -> corpus.near.size, "contaminated_docs" -> corpus.contaminated.size,
        "eval_docs" -> corpus.eval.size,
        "exact_share" -> Gen.ExactShare, "near_share" -> Gen.NearShare,
        "contaminated_share" -> Gen.ContamShare),
        "passes" -> passes.size,
        "survivors" -> p0.map(_.survivors.size).getOrElse(0),
        "curate_docs_per_s" -> Stats.median(passes.map(p => corpus.docs.size / (p.curateMs / 1000)).toSeq),
        "bulk_load_docs_per_s" -> Stats.median(passes.map(p => p.survivors.size / (p.loadMs / 1000)).toSeq),
        "failed_op_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted)))
  }

  // ------------------------------------------------------------ layer probe

  /** Traced runs only: drive the layers the workload does not drive
    * itself, with small fixed inputs, so each per-layer metric exists on
    * every workload and stays flat where its layer does no work.
    * `search` gives a loaded store to search in every dense mode;
    * without `curate`, a probe corpus is curated whole and a few
    * documents go through the ingest pipeline. The streaming layer is
    * probed only when a loaded store is given (curate_load). */
  def layerProbe(spark: SparkSession, gen: Gen, tr: Tracer, layers: Layers, a: Args,
                 search: Option[(QueryService, String)],
                 curate: Option[(DataFrame, DataFrame)]): Seq[(String, Boolean)] = {
    import spark.implicits._
    search.foreach { case (svc, root) =>
      // the loaded store's tenants are the corpus strata; tenant 0's
      // topic words sit in stratum src0
      val q = gen.query(gen.rng(21), 0)
      Layers.Modes.foreach { m =>
        val req = Layers.SearchReq("orgsrc0", q, m, filtered = false, enhanced = false)
        tr.req += 1
        layers.search(svc, req)
        layers.replaySearch(root, req)
      }
    }
    tr.req += 1
    val (docs, eval) = curate.getOrElse {
      val c = gen.curateCorpus(CurateDocs, 1)
      val (d, e) = (c.docs.toDF("id", "text", "stratum"), c.eval.toDF("text"))
      tr.span("operators.curate") {
        val out = TrainingPipeline.curate(d, e, "id", "text", "stratum", withReport = false)
        out.docs.write.format("noop").mode("overwrite").save()
        out.release()
      }
      tr.req += 1
      val probe = gen.servingDocs(ProbeIngestDocs, 1, 1.0, 99)
      layers.replayPipeline(probe.map { case (f, t, o) => (s"$o::$f", t, o) }
        .toDF("doc_id", "text", "org"), probe.size)
      (d, e)
    }
    tr.req += 1
    layers.curateStages(docs, eval)
    if (search.isEmpty) Nil
    else {
      tr.req += 1
      val batches = gen.streamBatches(StreamBatches, StreamBatchDocs, 0)
      val stateDir = s"${a.work}/stream-state"
      layers.stream(batches, stateDir)
      // a batch already committed yields no survivors when re-sent
      val resent = graft.streaming.CurationStream.curateBatch(batches.head.toDF("id", "text"), stateDir)
      Seq("curate_stream: a re-sent committed batch yields 0 survivors" -> (resent == 0))
    }
  }

  // -------------------------------------------------------- layer metrics

  def layerMetrics(spans: Seq[(Span, Counts)], overheadFrac: Double): Map[String, (Double, String)] = {
    def named(n: String) = spans.filter(_._1.name == n)
    def attr(s: Span, k: String) = s.attrs.get(k).map(_.toDouble).getOrElse(0.0)
    def medMs(ss: Seq[(Span, Counts)]) = Stats.median(ss.map(_._1.ms))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val searches = named("serve.search")
    Layers.Modes.foreach { m =>
      out(s"serve.search_ms.$m") = (medMs(searches.filter(_._1.attrs.get("mode").contains(m))), "ms")
    }
    out("serve.jobs_per_search") = (Stats.mean(searches.map(_._2.jobs.toDouble)), "count")
    out("serve.tasks_per_search") = (Stats.mean(searches.map(_._2.tasks.toDouble)), "count")
    out("serve.no_job_ms_per_search") = (Stats.mean(searches.map(_._2.noJobMs)), "ms")
    // ingest calls into serve: the search store's build, the bulk load
    val ingests = named("serve.ingest_batch")
    out("serve.jobs_per_ingest") = (Stats.mean(ingests.map(_._2.jobs.toDouble)), "count")
    out("serve.no_job_ms_per_ingest") = (Stats.mean(ingests.map(_._2.noJobMs)), "ms")

    out("retrieval.plan_ms") = (medMs(named("retrieval.plan")), "ms")
    val exec = named("retrieval.exec")
    out("retrieval.exec_ms") = (medMs(exec), "ms")
    val results = named("retrieval.results").map(s => attr(s._1, "n")).sum
    out("retrieval.input_rows_per_result") = (exec.map(_._2.inputRows).sum / math.max(1.0, results), "count")
    out("retrieval.input_bytes_per_search") = (Stats.mean(exec.map(_._2.inputBytes.toDouble)), "bytes")

    out("operators.bm25_leg_ms") = (medMs(named("operators.bm25_leg")), "ms")
    val legs = named("operators.dense_leg")
    Layers.Modes.foreach { m =>
      out(s"operators.dense_leg_ms.$m") = (medMs(legs.filter(_._1.attrs.get("mode").contains(m))), "ms")
    }
    out("operators.fusion_ms") = (medMs(named("operators.fusion")), "ms")
    // recall@10 of each replayed index-mode dense leg against the exact
    // leg's top 10 on the same query
    val recalls = named("operators.dense_top10").groupBy(_._1.attrs("query")).values.toSeq.flatMap { qs =>
      def ids(s: Span) = s.attrs("ids").split(",").filter(_.nonEmpty).toSet
      qs.find(_._1.attrs.get("mode").contains("exact")).map(e => ids(e._1)).filter(_.nonEmpty).toSeq
        .flatMap(ex => qs.filterNot(_._1.attrs.get("mode").contains("exact"))
          .map(q => ids(q._1).count(ex.contains).toDouble / ex.size))
    }
    out("operators.dense_recall_at_10") = (Stats.mean(recalls), "ratio")
    val cands = named("operators.dense_candidates")
    Seq("ann", "ivfpq", "hnsw").foreach { m =>
      val c = cands.filter(_._1.attrs.get("mode").contains(m))
      out(s"operators.dense_candidates_per_result.$m") =
        (c.map(s => attr(s._1, "candidates")).sum / math.max(1.0, c.map(s => attr(s._1, "results")).sum), "count")
    }
    val stages = named("operators.curate_stage")
    Seq("exact_dedup", "line_clean", "line_dedup", "near_dedup", "decontam", "sample_pack").foreach { st =>
      out(s"operators.curate_stage_ms.$st") = (medMs(stages.filter(_._1.attrs.get("stage").contains(st))), "ms")
    }
    val lsh = named("operators.lsh")
    out("operators.lsh_verified_frac") =
      (lsh.map(s => attr(s._1, "verified")).sum / math.max(1.0, lsh.map(s => attr(s._1, "candidates")).sum), "ratio")
    val curates = named("operators.curate")
    out("operators.curate_ms") = (medMs(curates), "ms")
    out("operators.shuffle_mb") = (Stats.mean(curates.map(_._2.shuffleMb)), "MB")

    val kp = named("functions.kernel_pass")
    out("functions.kernel_pass_ms") = (medMs(kp), "ms")
    out("functions.kernel_cpu_ms") = (Stats.mean(kp.map(_._2.cpuMs)), "ms")

    val pipe = named("ingest.pipeline")
    out("ingest.pipeline_ms") = (medMs(pipe), "ms")
    val chunks = named("ingest.chunks")
    out("ingest.chunks_per_doc") = (chunks.map(s => attr(s._1, "n")).sum /
      math.max(1.0, chunks.map(s => attr(s._1, "docs")).sum), "count")
    out("ingest.task_cpu_ms") = (Stats.mean(pipe.map(_._2.cpuMs)), "ms")

    out("sources.view_ms") = (medMs(named("sources.view")), "ms")
    out("sources.bytes_written_per_input_byte") =
      (ingests.map(_._1.fsBytesWritten.toDouble).sum / math.max(1.0, ingests.map(s => attr(s._1, "bytes")).sum), "ratio")
    out("sources.files_written_per_ingest") =
      (Stats.mean(named("sources.files_written").map(s => attr(s._1, "n"))), "count")
    out("sources.table_save_ms") = (medMs(named("sources.table_save")), "ms")

    out("trace.overhead_frac") = (overheadFrac, "ratio")
    out.toMap
  }

  /** Figures of the streaming probe (traced curate_load only). */
  def streamingMetrics(spans: Seq[(Span, Counts)]): Map[String, (Double, String)] = {
    def named(n: String) = spans.filter(_._1.name == n)
    if (named("streaming.batch").isEmpty) return Map.empty
    def attr(s: Span, k: String) = s.attrs.get(k).map(_.toDouble).getOrElse(0.0)
    def medMs(ss: Seq[(Span, Counts)]) = Stats.median(ss.map(_._1.ms))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    out("streaming.curate_ms") = (medMs(named("streaming.curate")), "ms")
    out("streaming.commit_ms") = (medMs(named("streaming.commit")), "ms")
    out("streaming.compact_ms") = (medMs(named("streaming.compact")), "ms")
    val surv = named("streaming.survivors")
    out("streaming.survivor_frac") =
      (surv.map(s => attr(s._1, "n")).sum / math.max(1.0, surv.map(s => attr(s._1, "docs")).sum), "ratio")
    out("streaming.jobs_per_batch") = (Stats.mean(named("streaming.batch").map(_._2.jobs.toDouble)), "count")
    out("streaming.state_files") = (Stats.mean(named("streaming.state").map(s => attr(s._1, "files"))), "count")
    out.toMap
  }
}
