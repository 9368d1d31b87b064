package graft

import graft.operators.{Relational, RetrievalPack}

/** Physical-plan assertions: the scale properties claimed in COVERAGE
  * must be visible in the executed plan, not just intended. Guards
  * against regressions that keep results correct but wreck the
  * 100 TB story (lost pushdown, broadcast→shuffle flips, global
  * windows). */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def scans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }

  private def scansOf(table: String, ss: Seq[org.apache.spark.sql.execution.FileSourceScanExec]) =
    ss.filter(_.relation.location.rootPaths.exists(_.getName == table))

  /** Run `df` and return the rows its scans of `table` produced: what
    * they read after partition, row-group and page pruning (record-
    * level filtering stays off, so a surviving page counts whole). */
  private def scannedRows(df: org.apache.spark.sql.DataFrame, table: String): Long = {
    df.collect()
    scansOf(table, new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }).map(_.metrics("numOutputRows").value).sum
  }

  test("filter+topk pushes predicates into the parquet scan (F1/T1)") {
    val p = plan(Relational.filterTopK(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p.take(2000))
    assert(p.contains("EqualTo(l_returnflag,R)"))
    assert(p.contains("TakeOrderedAndProject"))
    // projection pruning: the scan reads the needed columns, not l_tax etc.
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"))
    assert(!p.contains("l_tax"))
  }

  test("dim joins broadcast, never shuffle both sides (J9)") {
    val p = plan(Relational.joinRevenue(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast, not sort-merge")
  }

  test("dense kNN is scan→project→TakeOrdered with codegen'd dot (V1)") {
    val df = RetrievalPack.denseKnn(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("VectorKernels.dot("))
    assert(!p.contains("Exchange hashpartitioning"),
      "exact kNN must not shuffle: " + p.take(1500))
  }

  test("pricing summary is a two-phase hash aggregate (A4)") {
    val p = plan(Relational.pricingSummary(spark, sf0001))
    assert(p.contains("HashAggregate"))
    // partial + final aggregation (map-side combine before the shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("as-of join windows by user, no global single-partition window (J10)") {
    val p = plan(Relational.asofJoin(spark, sf0001))
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(user_id"), p.take(1500))
  }

  test("rrf fusion unions then hash-aggregates, top-k lists broadcast (J1)") {
    val p = plan(RetrievalPack.rrfFusion(spark, sf0001))
    assert(p.contains("Union"))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tenant-partitioned store prunes partitions for scoped scans (F3 physical)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "payment terms are net thirty days", "org_aaa"),
      (2L, "fire safety egress requirements apply", "org_bbb"))
      .toDF("doc_id", "text", "org")
    val bundle = graft.ingest.Pipeline.ingest(docs, orgCol = Some("org"))
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    graft.sources.TableStore.save(bundle, root)
    val loaded = graft.sources.TableStore.load(spark, root)

    // tenant filter becomes a partition filter, not a row filter
    val p = plan(loaded.chunks.filter(col("organization_id") === "org_aaa"))
    val partLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("organization_id"), p.take(2000))

    // BM25 read path prunes term blocks of the postings layout: the
    // block and term filters push into the scan, and over a postings
    // table of several pages (written by the base-generation writer)
    // the term read returns a fraction of its rows
    val big = spark.range(16000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(i => concat(lit("w"),
        pmod(hash(col("id"), lit(i)), lit(3000)).cast("string"))): _*).as("text"))
    val idx = graft.operators.BM25.buildIndex(big, "doc_id", "text")
    val root2 = java.nio.file.Files.createTempDirectory("graft_terms").toString
    graft.sources.TableStore.save(bundle.copy(postings = idx.postings,
      docFreq = graft.operators.BM25.docFreq(idx.postings), idf = idx.idf,
      stats = idx.stats), root2)
    val terms = graft.sources.TableStore.load(spark, root2).bm25Index
    val q = graft.operators.BM25.scoreFromIndex(terms, Seq("w7"))
    val post = scansOf("postings", scans(q))
    assert(post.size == 1, scans(q).map(_.relation.location.rootPaths))
    assert(post.head.dataFilters.exists(_.references.exists(_.name == "term_blk")),
      post.head.dataFilters)
    assert(post.head.metadata("PushedFilters").contains("term_blk"), post.head.metadata)
    val postRows = spark.read.parquet(s"$root2/postings").count()
    val read = scannedRows(q.select(col("id")), "postings")
    assert(postRows > 400000 && read > 0 && read * 2 < postRows,
      s"term read scanned $read of $postRows postings rows")
    assert(q.count() > 0)
  }

  test("ANN kNN joins buckets, never nested-loops the corpus (T2 scale path)") {
    val p = plan(RetrievalPack.annKnn(spark, sf0001))
    // candidates come from a broadcast-hash equi-join on (tbl, bucket)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("VectorKernels.hyperplaneBuckets("))
    // the corpus side must never enter a nested-loop/cartesian scan
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("global ranking windows only ever see pre-limited lists") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{BM25, Fusion}
    // Fusion.rank's Window.orderBy is global BY DESIGN (RRF ranks a
    // fused candidate list) — correct only because every input is
    // already a top-k. Pin that: the window's child plan must be a
    // distributed top-k (TakeOrderedAndProject / GlobalLimit), so a
    // refactor can't silently rank an unlimited list.
    val docs = graft.Tables(spark, sf0001, "documents")
    val ranked = Fusion.rank(
      BM25.search(docs, "doc_id", "text", Seq("payment", "terms"), 60))
    val p = plan(ranked)
    val iw = p.indexOf("Window")
    val il = math.max(p.indexOf("TakeOrderedAndProject"), p.indexOf("GlobalLimit"))
    assert(iw >= 0, p.take(1500))
    assert(il > iw, "rank window must consume a limited child:\n" + p.take(2000))

    // same invariant on the paginated listing (q07)
    val p2 = plan(Relational.pagination(spark, sf0001))
    val iw2 = p2.indexOf("Window")
    val il2 = math.max(p2.indexOf("TakeOrderedAndProject"), p2.indexOf("GlobalLimit"))
    assert(iw2 >= 0 && il2 > iw2, p2.take(2000))
  }

  test("ANN store read path prunes to the probed (tbl,bucket) partitions") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnKnn
    import graft.sources.TableStore
    val e = graft.Tables(spark, sf0001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft_ann").toString
    TableStore.saveAnn(AnnKnn.index(e, "vec_id", "embedding"), root)
    val loaded = TableStore.loadAnn(spark, root)

    val qvec = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect().head.getSeq[Double](0).toArray
    val fromStore = AnnKnn.topKFromStore(loaded, qvec, 10)

    // physical pruning: the scan's PartitionFilters mention tbl/bucket
    val p = plan(fromStore)
    val partLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket")).getOrElse("")
    assert(partLine.nonEmpty, p.take(2000))

    // and the store path returns exactly what the in-memory path does
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
    val inMem = AnnKnn.topK(e, "vec_id", "embedding", q, "embedding", 10)
    assert(fromStore.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inMem.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("tenant-first ANN store: tenant AND probe filters prune one scan (r4 ask #9)") {
    import org.apache.spark.sql.functions._
    import graft.operators.AnnKnn
    import graft.sources.TableStore
    // org_big spans several Parquet pages of one file; org_small is a
    // few hundred vectors
    val e = spark.range(120400).select(col("id").cast("string").as("id"),
      array((1 to 8).map(i => sin(col("id") * lit(i * 0.37))): _*).as("embedding"),
      when(col("id") < 400, "org_small").otherwise("org_big").as("organization_id"))
    val root = java.nio.file.Files.createTempDirectory("graft_ann_org").toString
    TableStore.saveAnn(AnnKnn.index(e, "id", "embedding",
      keepCols = Seq("organization_id")), root)
    val qvec = (1 to 8).map(i => math.sin(5000.0 * i * 0.37)).toArray
    // the serving shape: tenant filter composed into the store BEFORE
    // the probe filter — one scan, the tenant filter a partition
    // filter, the probe filter pushed into the Parquet reader
    val scoped = TableStore.loadAnn(spark, root)
      .filter(col("organization_id") === "org_big")
    val scan = scans(AnnKnn.storeCandidates(scoped, qvec))
    assert(scan.size == 1, scan)
    val partFilters = scan.head.partitionFilters.map(_.toString)
    assert(partFilters.exists(_.contains("organization_id")), partFilters)
    val dataCols = scan.head.dataFilters.flatMap(_.references.map(_.name)).toSet
    assert(Set("tbl", "bucket").subsetOf(dataCols), scan.head.dataFilters)
    val pushed = scan.head.metadata("PushedFilters")
    assert(pushed.contains("tbl") && pushed.contains("bucket"), pushed)
    // and the probe reads a fraction of the tenant's rows: the writer
    // clusters them by (tbl, bucket), so page statistics prune
    val tenantRows = scoped.count()
    val read = scannedRows(AnnKnn.storeCandidates(scoped, qvec).select(col("id")), "ann")
    assert(tenantRows == 4L * 120000 && read > 0 && read * 2 < tenantRows,
      s"probe scanned $read of $tenantRows tenant rows")
    // the scoped candidates are genuinely tenant-pure
    val small = TableStore.loadAnn(spark, root)
      .filter(col("organization_id") === "org_small")
    val cands = AnnKnn.storeCandidates(small, qvec)
      .select(col("id")).collect().map(_.getString(0))
    assert(cands.nonEmpty && cands.forall(_.toLong < 400))
  }

  test("ANN store append: delta visible, no pre-existing file rewritten") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnKnn
    import graft.sources.TableStore
    val e = graft.Tables(spark, sf0001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft_ann_up").toString
    TableStore.saveAnn(
      AnnKnn.index(e.filter(col("vec_id") =!= 0), "vec_id", "embedding"), root)
    def files(): Set[String] = {
      val b = Set.newBuilder[String]
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/ann")).forEach(p =>
        if (p.toString.endsWith(".parquet")) b += p.toString)
      b.result()
    }
    val before = files()
    TableStore.appendAnn(
      AnnKnn.index(e.filter(col("vec_id") === 0), "vec_id", "embedding"), root)
    // append-only: every pre-existing file survives untouched
    assert(before.subsetOf(files()))
    // and the appended vector is retrievable as its own top-1
    val qvec = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect().head.getSeq[Double](0).toArray
    val top = AnnKnn.topKFromStore(TableStore.loadAnn(spark, root), qvec, 5)
      .collect()
    assert(top.head.getLong(0) == 0L, top.take(3).mkString)
  }

  test("extracted_tables: nested schema pruning reads only the touched subfield") {
    import org.apache.spark.sql.functions.col
    import graft.ingest.TableExtractor
    import graft.sources.TableStore
    val text =
      """Revenue by region:
        || Region | Q1 | Q2 |
        || ------ | -- | -- |
        || EMEA   | 10 | 20 |
        || APAC   | 30 | 40 |""".stripMargin
    val recs = TableExtractor.tableRecords(spark,
      TableExtractor.extractTables(text, "doc_np"), "org_np")
    val root = java.nio.file.Files.createTempDirectory("graft_xt").toString
    TableStore.saveExtractedTables(recs, root)
    val p = plan(TableStore.loadExtractedTables(spark, root)
      .select(col("id"), col("structured_data.table_type")))
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the scan must request ONLY structured_data.table_type, not the
    // full nested struct (headers/rows stay unread on disk)
    assert(rs.contains("structured_data:struct<table_type"), rs)
    assert(!rs.contains("headers"), rs)
  }

  test("bucketed tables co-locate joins: zero exchange, zero sort on the bucket key") {
    import org.apache.spark.sql.functions.col
    import graft.sources.TableStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_buck").toString
    val a = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("x"))
    val b = spark.range(0, 1000).select(col("id"), (col("id") * 3).as("y"))
    // one writer task -> one file per bucket, so the scan's output
    // ordering is the sortBy key and the join needs no Sort either
    TableStore.saveBucketed(a.coalesce(1), "buck_a", s"$tmp/a", "id", 8)
    TableStore.saveBucketed(b.coalesce(1), "buck_b", s"$tmp/b", "id", 8)
    try {
      // surfacing the write-time sort to the planner is opt-in since
      // Spark 3 (file-listing cost): without it buckets still join
      // exchange-free, just with a cheap re-sort of sorted runs
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val j = spark.table("buck_a").hint("merge")
        .join(spark.table("buck_b").hint("merge"), "id")
      assert(j.count() == 1000)
      val p = plan(j)
      // the write-time shuffle+sort makes the read-side join exchange-
      // and sort-free — the property that makes bucketing pay at scale
      assert(p.contains("SortMergeJoin"), p.take(1500))
      assert(!p.contains("Exchange"), p.take(2000))
      assert(!p.contains("Sort "), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
      spark.sql("DROP TABLE IF EXISTS buck_a")
      spark.sql("DROP TABLE IF EXISTS buck_b")
    }
  }

  test("curation: contamination broadcasts the eval side; row-local ops don't shuffle") {
    import org.apache.spark.sql.functions.{col, lower}
    import graft.operators.Curation
    import graft.functions.TextFunctions
    val d = graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), TextFunctions.wsTokens(lower(col("text"))).as("toks"))
    // eval-shingle set joins as a broadcast build side — the corpus
    // stream must never shuffle for the containment probe
    val p = plan(Curation.contamination(
      d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0),
      "doc_id", "toks", 8))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))

    // repetition metrics are a pure column program: zero exchanges
    val p2 = plan(Curation.repetitionSignals(d, "doc_id", "toks"))
    assert(!p2.contains("Exchange"), p2.take(1500))

    // deterministic sampling is filter-on-scan: zero exchanges
    val docs = graft.Tables(spark, sf0001, "documents")
    val p3 = plan(Curation.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.5), 0.1, "s42"))
    assert(!p3.contains("Exchange"), p3.take(1500))
  }

  test("line cleaning is one row-local projection; line dedup keys on the hash") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Clean
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    // C4-style line rules: split→filter→rejoin with zero exchanges
    val p = plan(Clean.lineClean(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p.take(1500))

    // repeated-line dedup: every shuffle keys on the 56-bit line hash
    // (lh) or the doc id — never on the raw line bytes
    val p2 = plan(Clean.dedupRepeatedLines(docs, "doc_id", "text"))
    val shuffleKeys = p2.linesIterator
      .filter(_.contains("hashpartitioning")).mkString("\n")
    assert(shuffleKeys.contains("lh"), p2.take(2000))
    assert(!shuffleKeys.contains("line#"),
      s"raw line bytes used as a shuffle key:\n$shuffleKeys")
  }

  test("span scrub shuffles covered positions, never every corpus token") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Clean
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val p = plan(Clean.scrubRepeatedSpans(docs, "doc_id", "text"))
    // the kept-token pass is ROW-LOCAL (array_except over the held
    // token array) — rebuilding documents from exploded TOKENS via
    // collect_list(struct(tp, tok))+sort would shuffle O(corpus
    // tokens) rows and is the shape this pins against; the covered
    // POSITION aggregate (collect_list(tp)) is the intended small one
    assert(!p.contains("collect_list(struct"), p.take(2000))
    assert(!p.contains("array_sort(collect_list"), p.take(2000))
    // the only aggregations key on the span hash (boilerplate df) or
    // the doc id (covered positions) — token-level rows never shuffle
    val shuffleKeys = p.linesIterator
      .filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffleKeys.contains("tok#"),
      s"per-token rows used as a shuffle key:\n$shuffleKeys")
  }

  test("sequence packing windows are bounded: grouped prefix, no corpus window") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Curation
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("n_chars").as("n"))
    val p = plan(Curation.packSequences(docs, "doc_id", "n", 512L, 100L))
    // the within-group window partitions by the bounded group id —
    // never an empty partition spec over the whole corpus
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(windowLines.contains("__dp_grp"), p.take(2500))
    // group offsets join back as a broadcast (tiny per-group table)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("hybrid dense modes: ANN store prunes; quantized mode never reads raw embeddings") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    import graft.operators.AnnKnn
    import graft.retrieval.HybridSearch
    import graft.retrieval.HybridSearch.DenseMode
    import graft.sources.TableStore
    // chunk table WITH a materialized embedding column on disk — the
    // serving layout; the assertion below is that the quantized read
    // path leaves that fat column unread
    val chunks0 = graft.Tables(spark, sf0001, "documents").select(
      lpad(col("doc_id").cast("string"), 13, "0").as("id"),
      col("text"), col("source").as("organization_id"),
      lit("internal").as("access_level"),
      graft.functions.EmbedFunctions.featureHashEmbed(
        transform(TextFunctions.tokenize(col("text")),
          t => TextFunctions.hash56(t)), 64).as("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft_dense_modes").toString
    chunks0.write.parquet(s"$root/chunks")
    val chunks = spark.read.parquet(s"$root/chunks")
    TableStore.saveAnn(AnnKnn.index(chunks, "id", "embedding"), root)
    TableStore.saveQuantized(chunks, "id", "embedding", root)
    val ctx = graft.model.TenantContext("src3")

    // ANN mode: the dense branch's store scan is (tbl, bucket)-pruned
    val annSearch = HybridSearch.search(chunks, "spark join filter", ctx,
      cfg = HybridSearch.Config(limit = 5,
        dense = DenseMode.AnnLsh(TableStore.loadAnn(spark, root))))
    val p = plan(annSearch)
    val partLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket")).getOrElse("")
    assert(partLine.nonEmpty, p.take(2500))
    assert(annSearch.limit(1).count() == 1)

    // quantized mode (dense-only weights): NO scan reads the raw
    // embedding column — the dense branch reads codes+scale only
    val qSearch = HybridSearch.search(chunks, "spark join filter", ctx,
      cfg = HybridSearch.Config(limit = 5,
        weights = Some(Map("dense" -> 1.0)),
        dense = DenseMode.Quantized(TableStore.loadQuantized(spark, root))))
    val p2 = plan(qSearch)
    val reads = p2.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("embedding"), reads)
    assert(reads.contains("codes"), reads)
    // and the scoped result stays inside the tenant
    val orgs = qSearch.join(chunks.select(col("id"), col("organization_id")), "id")
      .select(col("organization_id")).distinct().collect().map(_.getString(0)).toSeq
    assert(orgs == Seq("src3"), orgs.mkString(","))
  }

  test("IVF kNN: query path equi-joins probed lists; top-1 is the query itself") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnKnn
    val e = graft.Tables(spark, sf0001, "embeddings")
    val cents = AnnKnn.ivfCentroids(e, "vec_id", "embedding", 19)
    val idx = AnnKnn.ivfIndex(e, "vec_id", "embedding", cents).cache()
    idx.count()
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
    val top = AnnKnn.ivfTopK(idx, cents, q, "embedding", 10, nProbe = 4)
    // the query vector lives in a probed list (its own), so ANN must
    // return it first with its exact self-similarity
    val rows = top.collect()
    assert(rows.head.getAs[Long]("id") == 0L, rows.take(3).mkString)
    // query path: candidates come from a broadcast equi-join on cid —
    // no nested loop over the corpus after the index is built
    val p = plan(top)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
    idx.unpersist()

    // build path: row-local argmax over driver-collected centroids —
    // the index build itself is scan → project with no shuffle. The
    // only admissible Exchange is the adaptive scan split's RoundRobin
    // (input-layout conditioning below the build, fires when the
    // single-row-group fixture crosses the bytes-per-partition quantum)
    val pb = plan(AnnKnn.ivfIndex(e, "vec_id", "embedding", cents))
    val exchanges = "Exchange \\w+".r.findAllIn(pb).toSeq
    assert(exchanges.nonEmpty, // the sf0.001 fixture IS above the quantum
      pb.take(1500))
    assert(exchanges.forall(_.toLowerCase.contains("roundrobin")),
      pb.take(1500))
  }

  test("ivf-pq: ADC stage prunes cid partitions and never reads raw vectors") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{AnnKnn, PqKnn}
    import graft.sources.TableStore
    val e = graft.Tables(spark, sf0001, "embeddings")
    val cents = AnnKnn.ivfCentroids(e, "vec_id", "embedding", 19)
    val cb = PqKnn.sampledCodebook(e, "vec_id", "embedding", m = 8, k = 4, step = 7)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_plan").toString
    TableStore.savePq(PqKnn.ivfPqIndex(e, "vec_id", "embedding", cents, cb), cb, root)
    TableStore.saveVectors(e, "vec_id", "embedding", root)
    val (store, cb2) = TableStore.loadPq(spark, root)
    val raw = TableStore.loadVectors(spark, root)
    val q = PqKnn.queryVec(e, "vec_id", "embedding", 0L)

    // the ADC candidate stage alone: static cid probes -> partition
    // pruning on the store scan, and the scan reads ONLY codes (+ the
    // cid partition column) — never a float vector column
    val probes = AnnKnn.ivfProbesJvm(cents, q, 2)
    val adc = PqKnn.adcTopK(
      store.filter(col("cid").isInCollection(probes)).select(col("id"), col("codes")),
      q, cb2, 30)
    val pAdc = plan(adc)
    val pqScan = pAdc.linesIterator.filter(l =>
      l.contains("Scan parquet") || l.contains("PartitionFilters")).mkString("\n")
    assert(pAdc.contains("PartitionFilters") && pAdc.contains("cid"), pqScan)
    val reads = pAdc.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("codes") && !reads.contains("vec"), reads)

    // full read path: refine touches the float store by broadcast id
    // join (never a corpus scan feeding a shuffle join)
    val top = PqKnn.ivfPqTopK(store, cents, raw, q, cb2, k = 5, nProbe = 2)
    val p = plan(top)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(top.collect().head.getLong(0) == 0L)
  }

  test("classifier: feature build partial-aggregates map-side; scoring is shuffle-free") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Classifier
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    // one exchange total (the per-doc groupBy), with map-side combine
    // reducing each doc's words to a single 65-long row before it
    val pFeats = plan(Classifier.labeled(docs, "doc_id", "text"))
    assert(pFeats.contains("partial_sum"), pFeats.take(1500))
    val exchanges = pFeats.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges == 1, s"$exchanges exchanges:\n${pFeats.take(2000)}")

    // scoring a materialized labeled frame = pure map pass (margin is
    // a row-local fold against the broadcast weight literal)
    import spark.implicits._
    val lab = Seq(("a", 1L, Seq.fill(Classifier.Bins + 1)(1L)))
      .toDF("id", "y", "feats")
    val pScore = plan(Classifier.score(lab, Array.fill(Classifier.Bins + 1)(1L)))
    assert(!pScore.contains("Exchange"), pScore.take(1500))
  }

  test("hll: sketch is one map pass + grouped max, partial-agg'd map-side") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Hll
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(col("source"), col("text"))
    val p = plan(Hll.sketch(docs, col("source"), col("text")))
    assert(p.contains("partial_max"), p.take(1500))
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges == 1, s"$exchanges exchanges:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("cms: register build partial-aggregates; estimates broadcast the sketch") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Cms
    import spark.implicits._
    val items = (1 to 100).map(i => s"t$i").toDF("v")
    val sk = Cms.sketch(items, col("v"))
    val pSk = plan(sk)
    assert(pSk.contains("partial_count"), pSk.take(1500))
    assert(pSk.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1)
    val pEst = plan(Cms.estimate(sk, items, "v"))
    assert(pEst.contains("BroadcastHashJoin"), pEst.take(1500))
    assert(!pEst.contains("SortMergeJoin"))
  }
}
