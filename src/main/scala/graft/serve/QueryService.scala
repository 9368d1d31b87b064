package graft.serve

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.ingest.Pipeline
import graft.ingest.Pipeline.IndexBundle
import graft.functions.{Embedder, FeatureHashEmbedder}
import graft.model.{Filters, TenantContext}
import graft.operators.{AnnKnn, BM25}
import graft.retrieval.HybridSearch
import graft.sources.{SegmentedStore, TableStore}
import graft.sources.SegmentedStore.Manifest

/** Long-lived query service (S10): one driver JVM hosting the
  * SparkSession — ingest-once into a parquet store, query-many over a
  * JSON-line protocol. Mirrors the reference's REST surface
  * (`api/main.py:307-701`): `/search` (POST body semantics: query,
  * limit, weights, filters, tenant headers), `/documents` list / get /
  * delete (tenant-checked cascade), `/stats`, `/health`.
  *
  * Transport is newline-delimited JSON on stdin/stdout (the `main`
  * below) or direct [[handle]] calls from tests — the protocol layer is
  * deliberately thin so an HTTP front could wrap [[handle]] unchanged.
  *
  * Scale stance: the store is the layout of [[TableStore]] — chunks and
  * the LSH/HNSW sidecars one directory per tenant, postings/idf sorted
  * by term block — so a search opens only its tenant's chunk and
  * sidecar files, and the pushed probe and term-block filters skip
  * the row groups and pages outside the probed buckets and the query
  * terms' blocks. Files grow with data, not with tenants × hash keys:
  * a small tenant is one file per table. A small tenant's search reads
  * its slice of those tables in one wave of narrow jobs and computes
  * every leg and the fusion on the driver
  * ([[graft.retrieval.SliceSearch]]); a larger one collects each
  * index's top-k leg concurrently and fuses them on the driver
  * ([[HybridSearch.searchHits]]). Neither runs the lazy fused plan's
  * chain of dependent stages. The in-memory cache is cleared after
  * every request (same hygiene as Bench) so nothing depends on cached
  * state surviving between requests.
  */
class QueryService(
    val spark: SparkSession,
    val storeRoot: String,
    embedder: Embedder = FeatureHashEmbedder(),
    // read-path bound on cross-instance staleness; Long.MaxValue
    // disables the preemptive re-check (specs use it to pin the
    // error-driven rebase-and-retry path deterministically)
    freshnessWindowMs: Long = 1000L) {

  implicit private val formats: Formats = DefaultFormats

  // Store layout (graft.sources.SegmentedStore): a base full-snapshot
  // generation plus append-only delta segments under an atomically-
  // flipped manifest. Ingest appends ONE O(delta) segment; the full
  // snapshot path below runs only for the FIRST ingest, for explicit
  // deletes, and as compaction when the segment count tops out — never
  // per micro-batch (the round-4 O(corpus)-rebuild-per-ingest fix).
  private def dropDirs(dirs: Seq[String]): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(s"$storeRoot/$d")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // One-flip grace retention for superseded dirs: a search planning
  // against manifest N while a mutation flips to N+1 still reads
  // intact files, because N's dirs are deleted only at the N+2 flip
  // (deleting at flip time — the pre-round-6 stance — raced exactly
  // one in-flight plan). Restart cleanup of both grace dirs and
  // crash orphans is SegmentedStore.gcOrphans at construction.
  //
  // Grace alone is not enough under RAPID mutation: a reader that
  // grabbed manifest N breaks if TWO flips land inside its window
  // (ConcurrencySpec reproduced exactly this — UNABLE_TO_INFER_SCHEMA
  // on a dir the second flip retired). So file DELETION additionally
  // waits out in-flight readers: every read op holds `storeLock`'s
  // read side for its duration, and retire takes the write side —
  // reads stay fully concurrent, segment writes and manifest flips
  // never block, only the final unlink waits for readers to drain.
  private val storeLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  private def withReadLock[A](f: => A): A = {
    val rl = storeLock.readLock(); rl.lock()
    try f finally rl.unlock()
  }

  private var graceDirs: Seq[String] = Nil

  private def retire(superseded: Seq[String]): Unit = {
    val wl = storeLock.writeLock(); wl.lock()
    try {
      dropDirs(graceDirs.filterNot(superseded.contains))
      graceDirs = superseded.distinct
    } finally wl.unlock()
  }

  /** Full-snapshot persist (first ingest / delete / compaction): write
    * gen N+1 while reading the current view (never overwrite-what-you-
    * read — lazy plans over the old files would hit FILE_NOT_EXIST
    * mid-write), flip the manifest, drop every superseded dir. Readers
    * in flight finish against the intact old files. Every sidecar
    * lands before the flip, so any visible generation is complete.
    * Compaction retrains the PQ quantizer on the grown corpus — the
    * pinned-quantizer refresh point for the segments written after it. */
  private def persistFull(b: IndexBundle): Unit = {
    val prev = manifest
    val seq = prev.map(_.seq + 1).getOrElse(0)
    val genName = s"gen$seq"
    SegmentedStore.writeGeneration(spark, s"$storeRoot/$genName", b,
      SegmentedStore.Train(sample = 256), (AnnKnn.ServingTables, AnnKnn.ServingBits))
    // carry the store-lineage id across compactions (the per-dir view
    // memo's immutability key); a first ingest mints it
    val next = Manifest(genName, Nil, genName, seq,
      Some(AnnKnn.ServingTables), Some(AnnKnn.ServingBits),
      Some(prev.flatMap(_.storeId).getOrElse(SegmentedStore.newStoreId())))
    SegmentedStore.writeManifest(storeRoot, next)
    // reload THROUGH the per-dir memo (schema-hinted by the bundle just
    // written) rather than serving the written frames directly: the
    // fresh generation's dirs get listed and memoized HERE, inside the
    // already-O(corpus) snapshot write, so the first post-seed delta
    // flip doesn't pay the one-time base listing (O(tenant dirs) — an
    // 8.3 s first-probe spike at 10k orgs, BASELINE.md rounds 8-10)
    bundle = Some(SegmentedStore.loadView(spark, storeRoot, next, hint = Some(b)))
    // same prewarm for the dense sidecar views (pure listing + schema
    // memo population — no jobs beyond the one-time inference)
    SegmentedStore.annView(spark, storeRoot, next)
    SegmentedStore.quantizedView(spark, storeRoot, next)
    SegmentedStore.hnswView(spark, storeRoot, next)
    manifest = Some(next)
    retire(prev.map(m => (m.dataDirs :+ m.derived).distinct).getOrElse(Nil))
  }

  /** O(delta) persist: append one segment + refreshed derived tables,
    * flip the manifest, retire only the superseded derived dir (one-
    * flip grace). No base or prior-segment file is touched — a 2-doc
    * ingest into a 100 TB store writes kilobytes.
    *
    * With `folded` segments (segment overflow, small accumulated
    * delta) this is a minor compaction: the SIZE-TIERED small tail of
    * segments ([[SegmentedStore.foldSet]]) + this delta fold into one
    * merged segment without touching base or any bigger folded tier —
    * O(small tail), not O(corpus) and not O(biggest tier) — and the
    * folded segment dirs retire too. */
  private def persistDelta(delta: IndexBundle,
                           folded: Seq[(String, Long)] = Nil): Unit = {
    val m = manifest.getOrElse(
      throw new IllegalStateException("delta persist needs a base generation"))
    val next = SegmentedStore.appendSegment(spark, storeRoot, m, delta, folded)
    SegmentedStore.writeManifest(storeRoot, next)
    // schema-hinted reload: the old view's schemas are the store's
    // schemas, so the refresh fires zero inference jobs
    bundle = Some(SegmentedStore.loadView(spark, storeRoot, next, hint = bundle))
    manifest = Some(next)
    retire((folded.map(_._1) ++
      (if (m.derived != next.derived && m.derived != m.base) Seq(m.derived)
       else Nil)).distinct)
  }

  /** Route a pure-insert delta: first ingest takes the full path;
    * segment-count overflow compacts TIERED — a minor fold (segments
    * merge into one, base untouched, cost tracks delta size) unless
    * the accumulated segments have grown comparable to the base, when
    * a major compaction (fresh generation, quantizer retrain over the
    * grown corpus) is actually warranted; everything else appends. */
  private def persistInsert(delta: IndexBundle): Unit = (bundle, manifest) match {
    case (None, _) | (_, None) => persistFull(delta)
    case (Some(old), Some(m)) if m.segments.size >= SegmentedStore.MaxSegments =>
      // one row-count pass serves the major check, the fold-set
      // selection and the fold's HNSW donor — the dirs can't change
      // under the mutation lease
      val segRows = SegmentedStore.segmentRows(spark, storeRoot, m)
      if (SegmentedStore.needsMajorCompaction(spark, storeRoot, m, segRows))
        persistFull(mergeBundles(old, delta))
      else persistDelta(delta,
        SegmentedStore.foldSet(m, segRows).map(d => d -> segRows(d)))
    case _ => persistDelta(delta)
  }

  // the read-path handle; None until first ingest (or store preload).
  // Startup GC reclaims crash orphans and grace-retained dirs from a
  // previous process (no in-flight readers exist in THIS process yet).
  // Held under the mutation lease: a PEER instance mid-mutation has
  // written segment dirs CURRENT doesn't reference yet — exactly what
  // gcOrphans would reap; the lease serializes startup GC behind the
  // peer's flip. A peer's in-flight READS of dirs we reap recover via
  // its own readOp rebase-and-retry.
  {
    val (fs0, lock0) = storeLockPath
    if (fs0.exists(new org.apache.hadoop.fs.Path(storeRoot))) {
      // bounded like mutations; on timeout SKIP the GC (orphan dirs are
      // harmless — the next instance start or mutation reaps them)
      // rather than wedging process startup behind a peer's lock. The
      // catch scopes the ACQUIRE only — an IllegalStateException from
      // inside gcOrphans is a real failure, not a held lock
      val lease0 =
        try Some(graft.sources.FsLease.acquireBlocking(fs0, lock0,
          ttlMs = QueryService.StoreLockTtlMs,
          waitMs = QueryService.MutationWaitMs))
        catch {
          case _: IllegalStateException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"startup GC skipped: $lock0 held past " +
                s"${QueryService.MutationWaitMs / 1000} s — orphans will " +
                "be reaped by a later holder")
            None
        }
      lease0.foreach { l =>
        try SegmentedStore.gcOrphans(spark, storeRoot)
        finally l.release()
      }
    }
  }
  // @volatile: reader threads dereference these between a mutation's
  // assignment and its retire (the writeLock publication point); a
  // stale reference is safe (grace-protected) but a torn one is not
  // initial load retries once on the stale-file class: a peer instance
  // can flip (and grace-GC) between our readManifest and the loadView
  // listing — the second attempt reads the post-flip CURRENT
  private val initialLoad: (Option[Manifest], Option[IndexBundle]) = {
    def attempt(): (Option[Manifest], Option[IndexBundle]) = {
      val m = SegmentedStore.readManifest(storeRoot)
      (m, m.map(x => SegmentedStore.loadView(spark, storeRoot, x)))
    }
    try attempt()
    catch {
      case scala.util.control.NonFatal(e)
          if graft.sources.FsLease.isStaleFileRead(e) => attempt()
    }
  }
  @volatile private var manifest: Option[Manifest] = initialLoad._1
  @volatile private var bundle: Option[IndexBundle] = initialLoad._2

  // serializes every store-mutating path (JSON ingest/delete and the
  // streaming ingestBatch): two concurrent merges would both read gen
  // N and race the CURRENT flip, silently dropping one delta.
  // A ReentrantLock (not Object.synchronized) so the read-path
  // freshness probe can TRY it and skip when a mutation is running —
  // blocking there would serialize reads behind multi-second
  // mutations, and the running mutation rebases anyway.
  private val updateLock = new java.util.concurrent.locks.ReentrantLock()

  private def withUpdateLock[A](f: => A): A = {
    updateLock.lock()
    try f finally updateLock.unlock()
  }

  // ---- multi-instance (cross-process) coordination ------------------------
  // The reference serves one database from MANY API workers; this
  // store's equivalent is several QueryService instances (threads OR
  // processes) over one root. Three mechanisms make that safe:
  //  1. every mutation holds the `_store.lock` FsLease (atomic
  //     create-if-absent + crashed-holder TTL takeover) and REBASES
  //     from the on-disk CURRENT before building — a peer's flip is
  //     never overwritten, segment seq numbers never collide;
  //  2. reads re-check CURRENT at most once per [[FreshnessWindowMs]]
  //     and rebase when a peer flipped — bounded staleness without a
  //     per-request manifest read;
  //  3. a read whose memoized view lost files to a peer's fold/GC
  //     (one-flip grace is per-instance; a peer can't see our
  //     in-flight readers) rebases and retries once ([[readOp]]).
  // Single-instance deployments pay one ~1 KB manifest read per second
  // of active reads and four tiny FS ops per mutation — noise against
  // the O(delta) segment write.

  private def storeLockPath = {
    val p = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, new org.apache.hadoop.fs.Path(p, "_store.lock"))
  }

  // file lease FIRST, updateLock second: a mutation waiting minutes on
  // a peer's lease must not hold updateLock for the wait — readers'
  // error-recovery rebase needs it for milliseconds. Same-JVM
  // mutations serialize on the file lease itself (the loser polls);
  // lock ORDER is uniform (lease ≺ updateLock ≺ storeLock.write), so
  // no inversion with the read path (updateLock only)
  // BOUNDED wait: an unbounded acquire would park the client request
  // behind a crashed peer's lock for the full TTL (or indefinitely
  // behind a wedged-but-heartbeating peer). Past the bound the caller
  // gets a retryable 503 instead of a hang. Interactive (HTTP) paths
  // use the short default; the STREAMING ingest path passes the
  // TTL-scale wait — a micro-batch must ride out a crashed peer's
  // reclaim window (a thrown 503 would kill the StreamingQuery, which
  // has no retry seam), and only fail loudly on a genuinely
  // wedged-but-heartbeating peer.
  private def withMutationLease[A](
      waitMs: Long = QueryService.MutationWaitMs)(f: => A): A = {
    val (fs, lock) = storeLockPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(storeRoot))
    val lease =
      try graft.sources.FsLease.acquireBlocking(fs, lock,
        ttlMs = QueryService.StoreLockTtlMs, waitMs = waitMs)
      catch {
        case _: IllegalStateException =>
          throw ServiceError(503, "store is locked by another writer " +
            s"(waited ${waitMs / 1000} s); retry later")
      }
    try withUpdateLock { rebaseIfStale(); f }
    finally lease.release()
  }

  /** Re-read CURRENT and adopt it when a peer instance flipped it.
    * Caller must hold `updateLock`. Our own flips write exactly what
    * memory holds, so same-instance mutations never rebase. */
  private def rebaseIfStale(): Unit = {
    val disk = SegmentedStore.readManifest(storeRoot)
    if (disk != manifest) {
      bundle = disk.map(m =>
        SegmentedStore.loadView(spark, storeRoot, m, hint = bundle))
      manifest = disk
    }
    lastFreshCheck = System.currentTimeMillis()
  }

  @volatile private var lastFreshCheck = 0L

  private def windowExpired: Boolean =
    System.currentTimeMillis() - lastFreshCheck > freshnessWindowMs

  private def ensureFresh(): Unit =
    if (windowExpired && updateLock.tryLock()) {
      try { if (windowExpired) rebaseIfStale() }
      finally updateLock.unlock()
    }

  /** Read-op shell: freshness check BEFORE taking the read lock (the
    * rebase needs `updateLock`, and a mutation holding `updateLock`
    * blocks on the write lock — taking them in the other order would
    * deadlock), then one rebase-and-retry if a peer's fold deleted
    * files our memoized view still references. `ensureFresh` sits
    * INSIDE the try: its own rebase's loadView can hit the same
    * stale-file class (a peer double-flips mid-listing) and deserves
    * the same recovery. */
  private def readOp[A](f: => A): A =
    try { ensureFresh(); withReadLock(f) }
    catch {
      case scala.util.control.NonFatal(e)
          if graft.sources.FsLease.isStaleFileRead(e) =>
        withUpdateLock { rebaseIfStale() }
        withReadLock(f)
    }

  /** Handle one JSON request line, return one JSON response line. */
  def handle(line: String): String = handleLine(line)._1

  /** [[handle]] plus a structured stop signal: true iff the request was
    * a shutdown op — the stdin loop keys on THIS, not on string-equality
    * of the rendered response (which would silently couple liveness to
    * json4s field ordering). */
  def handleLine(line: String): (String, Boolean) =
    try {
      val req = parse(line)
      val op = (req \ "op").extractOpt[String].getOrElse("")
      val res = op match {
        case "shutdown"     => JObject("status" -> JString("bye"))
        case "health"       => health()
        // read ops hold the store read-lock for their whole execution:
        // concurrent with each other AND with ingest/flip; only the
        // retire unlink waits for them (see storeLock above)
        case "stats"        => readOp(stats())
        case "ingest"       => ingest(req)
        case "search"       => readOp(search(req))
        case "documents"    => readOp(listDocuments(req))
        case "get_document" => readOp(getDocument(req))
        case "delete"       => delete(req)
        case other => err(400, s"unknown op: '$other'")
      }
      (compact(render(res)), op == "shutdown")
    } catch {
      case e: ServiceError => (compact(render(err(e.status, e.getMessage))), false)
      // a type mismatch in a request field (e.g. weights {"bm25":"x"})
      // is the client's malformed input, not a server fault
      case e: MappingException =>
        (compact(render(err(400, s"malformed request: ${e.getMessage}"))), false)
      case NonFatal(e) =>
        if (sys.env.contains("GRAFT_DEBUG_500")) e.printStackTrace()
        (compact(render(err(500, String.valueOf(e.getMessage)))), false)
    } finally {
      // cache hygiene between requests (VERDICT r2 #4): the store is
      // parquet on disk — no request may depend on cached lineage
      spark.catalog.clearCache()
    }

  private case class ServiceError(status: Int, msg: String)
      extends RuntimeException(msg)

  private def err(status: Int, detail: String): JValue =
    JObject("status" -> JInt(status), "detail" -> JString(detail))

  /** Tenant context from the request's header-equivalent fields
    * (`api/main.py:44-75`: X-Organization-ID required, workspace /
    * collection optional). */
  private def tenant(req: JValue): TenantContext = {
    val org = (req \ "organization_id").extractOpt[String]
      .getOrElse(throw ServiceError(401, "organization_id required"))
    // reference minimum (`api/main.py:61-65`): required and ≥3 chars
    if (org.length < 3)
      throw ServiceError(400,
        "organization_id is required and must be at least 3 characters")
    // "::" is the tenant-prefix separator in document ids — an org id
    // containing it could forge another tenant's id space
    if (org.contains("::"))
      throw ServiceError(400, "organization_id must not contain '::'")
    TenantContext(org,
      workspaceId = (req \ "workspace_id").extractOpt[String],
      collectionId = (req \ "collection_id").extractOpt[String])
  }

  private def requireBundle: IndexBundle =
    bundle.getOrElse(throw ServiceError(503, "no documents ingested yet"))

  /** Current manifest, or 503 before any ingest; `sidecar` resolves a
    * dense-mode index view or 400s when the base generation was built
    * without that sidecar (e.g. a store preloaded from elsewhere). */
  private def requireManifest: Manifest = manifest.getOrElse(
    throw ServiceError(503, "no documents ingested yet"))

  private def sidecar[A](sub: String, view: Option[A]): A =
    view.getOrElse(throw ServiceError(400,
      s"dense_mode requires the '$sub' sidecar store; re-ingest to build it"))

  private def health(): JValue = JObject(
    "status" -> JString("healthy"),
    "services" -> JObject(
      "spark" -> JString("up"),
      "store" -> JString(if (bundle.isDefined) "loaded" else "empty")))

  /** `/stats` (`api/main.py:346-375`): database / vector / bm25 blocks. */
  private def stats(): JValue = bundle match {
    case None => JObject(
      "database" -> JObject(), "vector_store" -> JObject(),
      "bm25" -> JObject())
    case Some(b) =>
      val db = b.chunks.agg(
        countDistinct(col("document_id")).as("documents"),
        count(lit(1)).as("chunks"),
        countDistinct(col("organization_id")).as("organizations")).head()
      val vec = b.chunks.filter(col("embedding").isNotNull).agg(
        count(lit(1)).as("vectors"),
        max(size(col("embedding"))).as("dim")).head()
      val bm = b.stats.head()
      JObject(
        "database" -> JObject(
          "documents" -> JLong(db.getLong(0)),
          "chunks" -> JLong(db.getLong(1)),
          "organizations" -> JLong(db.getLong(2))),
        "vector_store" -> JObject(
          "vectors" -> JLong(vec.getLong(0)),
          "dim" -> JInt(if (vec.isNullAt(1)) 0 else vec.getInt(1))),
        "bm25" -> JObject(
          // both cells are NULL once the last document is deleted
          // (aggregates over zero postings rows)
          "n_docs" -> JLong(if (bm.isNullAt(bm.fieldIndex("n_docs"))) 0L
            else bm.getLong(bm.fieldIndex("n_docs"))),
          "avgdl" -> JDouble(if (bm.isNullAt(bm.fieldIndex("avgdl"))) 0.0
            else bm.getDouble(bm.fieldIndex("avgdl")))))
  }

  /** `/documents/ingest-path` semantics (`api/main.py:543-589`): docs =
    * [{filename, text}]; doc ids via I14; re-uploads upsert
    * (delete-then-insert by document, `metadata_store.py:808-847`).
    *
    * Document ids are PREFIXED with the tenant (`org::filename_md5`):
    * the I14 id is content-derived, so two tenants uploading the same
    * file would otherwise collide on document AND chunk ids — upsert
    * would silently drop the other tenant's copy, delete would
    * cross-tenant cascade, and duplicate chunk ids would double BM25
    * term frequencies in the shared postings table. The prefix makes
    * every id unique per (tenant, content) while the library-level I14
    * format stays as the reference defines it (gate q73). */
  private def docId(ctx: TenantContext, fn: String, text: String): String =
    s"${ctx.organizationId}::${Pipeline.documentId(fn, text)}"

  private def ingest(req: JValue): JValue = {
    val ctx = tenant(req)
    val docs = ((req \ "docs") match {
      case JArray(ds) => ds.map { d =>
        val fn = (d \ "filename").extractOpt[String]
          .getOrElse(throw ServiceError(400, "docs[].filename required"))
        // same injection guard as the org id: 'a' uploading 'b::x.md'
        // must not produce the id 'a::b' would get for 'x.md'
        if (fn.contains("::"))
          throw ServiceError(400, "filename must not contain '::'")
        // two upload shapes: pre-extracted text, or raw file bytes
        // (base64) parsed through the DocumentParser seam — the
        // reference's real-file ingest surface
        // (`document_processor.py:310-399`) minus the OCR formats
        val text = (d \ "text").extractOpt[String].orElse(
          (d \ "content_b64").extractOpt[String].map { b64 =>
            val bytes =
              try java.util.Base64.getDecoder.decode(b64)
              catch { case _: IllegalArgumentException =>
                throw ServiceError(400, s"docs[].content_b64 is not valid base64 ($fn)") }
            graft.ingest.DocumentParser.parseFile(fn, bytes)
              .getOrElse(throw ServiceError(400, s"unsupported file type: $fn"))
              .text
          })
          .getOrElse(throw ServiceError(400, "docs[].text or docs[].content_b64 required"))
        (docId(ctx, fn, text), text, ctx.organizationId)
      }
      case _ => throw ServiceError(400, "docs array required")
    }).distinctBy(_._1)
    // ^ intra-request dedupe by computed document id: two identical
    // {filename, text} entries in one request would otherwise flow as
    // two same-id documents into one delta — mergeBundles only
    // anti-joins old-vs-new, so the duplicate would double tf/dl in
    // the shared postings and persist duplicate chunk rows (the case
    // Pipeline.ingest's docstring warns about, reachable only here)
    import spark.implicits._
    // partition the delta to its size: a request-sized batch on the
    // session default (32 mostly-empty partitions) makes every
    // downstream job a 32-task job that fills the scheduler and
    // serializes the concurrent segment writes
    val df = docs.toDF("doc_id", "text", "org")
      .coalesce(deltaPartitions(docs.length))
    // same bound as ingestBatch: past it the isin probe would bloat
    // the plan — the distributed anti-join takes over
    val ids = if (docs.length <= IdProbeBound) Some(docs.map(_._1)) else None
    val nChunks = withMutationLease() {
      ingestNew(df, Seq(ctx.organizationId), knownIds = ids)
    }
    JObject(
      "status" -> JString("completed"),
      "organization_id" -> JString(ctx.organizationId),
      "document_ids" -> JArray(docs.map(d => JString(d._1))),
      "total_chunks" -> JLong(nChunks))
  }

  /** Shared insert path (JSON + streaming): doc ids are content-
    * derived (`org::filename_md5(text)`), so an id already in the
    * store IS byte-identical content — re-sending it is the
    * delete-then-insert upsert of an identical document, i.e. a no-op.
    * Skipping those ids makes every ingest a PURE APPEND, which is
    * what lets the store write O(delta) segments instead of rebuilding
    * the world; the existence probe prunes to the delta's tenant
    * partitions. Returns new chunk count (0 when everything was
    * already present — no write at all). */
  private def ingestNew(df: DataFrame, orgs: Seq[String],
                        knownIds: Option[Seq[String]] = None): Long = {
    val fresh = (bundle, knownIds) match {
      case (None, _) => df
      case (Some(old), Some(ids)) =>
        // interactive-size batch with driver-known ids: probe the
        // store with a pushed-down id filter (tenant partition prune +
        // row-group stats) and subtract on the driver — keeps the
        // whole delta lineage JOIN-FREE, which collapses the count
        // query from ~6 sequential AQE broadcast stages to one narrow
        // job. Bulk batches (ids unknown/unbounded) keep the
        // distributed anti-join below.
        val existing = old.chunks
          .filter(col("organization_id").isin(orgs: _*) &&
            col("document_id").isin(ids: _*))
          .select(col("document_id")).distinct()
          .collect().map(_.getString(0)).toSet
        if (existing.isEmpty) df
        else df.filter(!col("doc_id").isin(existing.toSeq: _*))
      case (Some(old), None) =>
        df.join(old.chunks.filter(col("organization_id").isin(orgs: _*))
          .select(col("document_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
    }
    // no separate emptiness probe on `fresh`: the chunk count below is
    // the materializing action either way, and an all-duplicate batch
    // just runs the (cheap, cached) ingest plan to an empty frame
    val delta = Pipeline.ingest(fresh, embedder, orgCol = Some("org"))
    val n = delta.chunks.count()
    if (n > 0) persistInsert(delta)
    // ingest caches the chunk table for its consumers; release it
    // once persisted or a long-lived service accumulates one dead
    // cache entry per ingest (the read path reloads from parquet)
    delta.chunks.unpersist()
    n
  }

  /** Streaming/bulk ingest seam: a docs-shaped DataFrame (`filename`,
    * `text`, `organization_id`) merges into the serving store exactly
    * like a JSON ingest — same tenant-prefixed I14 ids (md5 computed
    * column-side, byte-identical to [[Pipeline.documentId]] since the
    * string→binary cast is UTF-8), same upsert merge, same generation
    * flip — so [[graft.streaming.EventStream.serveIngestStream]] can
    * feed the store per micro-batch. Rows that would be a 400 over
    * JSON (missing fields, `::` injection, short org id) are dropped
    * rather than failing the stream (the `JsonlSource` quarantine
    * stance); same-id duplicates within a batch collapse (same id ⟹
    * same filename + content hash). Each batch appends one O(delta)
    * segment, so per-batch cost is independent of store size. Returns
    * chunks ingested (0 when every row was already present). */
  def ingestBatch(docs: DataFrame): Long =
    withMutationLease(QueryService.StreamMutationWaitMs) {
    val keyed = docs
      .filter(col("filename").isNotNull && col("text").isNotNull &&
        col("organization_id").isNotNull &&
        !col("filename").contains("::") &&
        !col("organization_id").contains("::") &&
        length(col("organization_id")) >= 3)
      .select(
        concat(col("organization_id"), lit("::"), col("filename"), lit("_"),
          substring(md5(col("text").cast("binary")), 1, 12)).as("doc_id"),
        col("text"), col("organization_id").as("org"))
      .dropDuplicates("doc_id")
    // one bounded action covers the emptiness check, the org set, AND
    // — for interactive-size batches — the id set that lets ingestNew
    // run join-free with a right-sized delta. Past the bound (bulk
    // loads) only orgs are collected and the distributed paths engage.
    val probe = keyed.select(col("doc_id"), col("org"))
      .limit(IdProbeBound + 1).collect()
    if (probe.isEmpty) 0L
    else if (probe.length <= IdProbeBound) {
      val orgs = probe.map(_.getString(1)).distinct.toSeq
      ingestNew(keyed.coalesce(deltaPartitions(probe.length)), orgs,
        knownIds = Some(probe.map(_.getString(0)).toSeq))
    } else {
      val orgs = keyed.select(col("org")).distinct()
        .collect().map(_.getString(0)).toSeq
      ingestNew(keyed, orgs)
    }
  }

  /** Bound on the driver-side id probe: batches at or under this ride
    * the join-free pushed-filter path; bigger ones stay distributed. */
  private val IdProbeBound = 2048

  /** Right-size a small delta's partition count (~100 docs/partition,
    * ≥1): tiny batches on the session default would make every
    * downstream job as wide as the cluster. */
  private def deltaPartitions(nDocs: Int): Int =
    math.max(1, math.min(32, nDocs / 100))

  /** Upsert merge, used only on the COMPACTION path (segment-count
    * overflow folds base + segments + delta into a fresh generation):
    * new docs replace same-id old rows (anti-join — a no-op for the
    * pure-insert deltas the service produces, kept for preloaded
    * stores with foreign ids), BM25 aggregates recomputed from the
    * merged postings. Routine ingest never runs this — it appends an
    * O(delta) segment via [[SegmentedStore.appendSegment]]. */
  private def mergeBundles(old: IndexBundle, delta: IndexBundle): IndexBundle = {
    val newDocs = delta.chunks.select(col("document_id")).distinct()
    val keptChunks = old.chunks.join(newDocs, Seq("document_id"), "left_anti")
    val chunks = keptChunks.drop("term_blk")
      .unionByName(delta.chunks, allowMissingColumns = true)
    val keptPost = old.postings.drop("term_blk")
      .join(keptChunks.select(col("id")), Seq("id"), "left_semi")
    val postings = keptPost.unionByName(delta.postings, allowMissingColumns = true)
    val docFreq = BM25.docFreq(postings)
    val stats = postings.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        sum(col("dl")).as("sum_dl"))
    IndexBundle(chunks, postings, docFreq, BM25.idfTable(docFreq, stats), stats)
  }

  private def searchRequest(req: JValue): QueryService.SearchRequest = {
    val ctx = tenant(req)
    val b = requireBundle
    val query = (req \ "query").extractOpt[String]
      .getOrElse(throw ServiceError(400, "query required"))
    val limit = (req \ "limit").extractOpt[Int].getOrElse(10)
    if (limit < 1 || limit > 100) throw ServiceError(400, "limit must be 1..100")
    val weights = (req \ "weights") match {
      case JObject(fs) => Some(fs.map { case (k, v) =>
        k -> v.extract[Double] }.toMap)
      case _ => None
    }
    val filters: Map[String, Filters.Pred] = (req \ "filters") match {
      case JObject(fs) => fs.map {
        case (k, JArray(vs)) => k -> Filters.In(vs.map(_.extract[String]))
        case (k, v) => k -> Filters.Eq(v.extract[String])
      }.toMap
      case _ => Map.empty
    }
    // index selection for the dense branch (mirrors the reference's
    // HNSW-behind-filters serving path): exact = brute-force float64
    // scan; ann = partition-pruned LSH store probes at the RECALL-SAFE
    // serving config (AnnKnn.ServingTables × ServingBits, measured
    // recall@10 ≥ 0.7, + multi-probe — the recall/cost knob; pass
    // dense_mode explicitly to trade the other way); quantized = int8
    // code scan. The DEFAULT is the ANN store when this service wrote
    // one (an exact corpus scan per query is not a serving default at
    // 100 TB) and the exact scan only as the fallback for preloaded
    // stores without sidecars; explicit requests for a missing
    // sidecar → 400.
    // the LSH view is resolved only where it is read: for the default
    // mode's choice and for ann itself
    val m = requireManifest
    lazy val annViewOpt = SegmentedStore.annView(spark, storeRoot, m)
    val mode = (req \ "dense_mode").extractOpt[String]
      .getOrElse(if (annViewOpt.isDefined) "ann" else "exact")
    val dense = mode match {
      case "exact" => HybridSearch.DenseMode.Exact
      case "ann" =>
        val store = sidecar("ann", annViewOpt)
        // tenant partition filter composed INTO the probe read: the
        // scan opens only THIS tenant's files and, within them, the
        // probed buckets' pages (the semi-join scope still applies
        // after, for workspace/collection and metadata predicates)
        val scoped =
          if (store.columns.contains("organization_id"))
            store.filter(col("organization_id") === ctx.organizationId)
          else store
        HybridSearch.DenseMode.AnnLsh(scoped,
          tables = m.lshTables, bits = m.lshBits)
      case "quantized" =>
        HybridSearch.DenseMode.Quantized(sidecar("quantized",
          SegmentedStore.quantizedView(spark, storeRoot, m)))
      case "ivfpq" =>
        val (codes, cents, cb) = sidecar("pq",
          SegmentedStore.pqView(spark, storeRoot, m))
        HybridSearch.DenseMode.IvfPq(codes, cents, cb,
          b.chunks.filter(col("embedding").isNotNull)
            .select(col("id"), col("embedding").cast("array<double>").as("vec")))
      case "hnsw" =>
        // tenant filter composed INTO the graph scan: the sidecar is
        // partitioned by organization_id, so this is a directory prune
        // — only the tenant's (complete, self-contained) graph rows
        // are read and searched
        val idx = sidecar("hnsw",
          SegmentedStore.hnswView(spark, storeRoot, m))
        HybridSearch.DenseMode.Hnsw(
          idx.filter(col("organization_id") === ctx.organizationId))
      case other =>
        throw ServiceError(400,
          s"dense_mode must be exact|ann|quantized|ivfpq|hnsw, got '$other'")
    }
    val cfg = HybridSearch.Config(limit = limit, embedder = embedder,
      weights = weights, dense = dense)
    QueryService.SearchRequest(b, ctx, query, filters, cfg,
      enhanced = (req \ "enhanced").extractOpt[Boolean].getOrElse(false))
  }

  /** `/search` (`api/main.py:376-453`): hybrid search with tenant
    * isolation; optional weights / filters / limit / enhanced flag.
    * Answered on the request path ([[HybridSearch.searchHits]],
    * [[HybridSearch.enhancedHits]]) under this request's read lock: a
    * tenant within [[graft.retrieval.SliceSearch]]'s bounds from one
    * wave of narrow slice reads, every leg and the fusion on the
    * driver; a larger one from the per-index top-k legs, collected
    * concurrently and fused on the driver. The response renders from
    * those rows. */
  private def search(req: JValue): JValue = {
    val r = searchRequest(req)
    def num(v: Option[Double]): JValue = v.map(JDouble(_)).getOrElse(JNull)
    def row(id: Any, score: Double, text: Option[String],
            detail: Map[String, (Option[Double], Int)]): JValue = {
      def method(m: String): (JValue, JValue) = detail.get(m) match {
        case Some((sc, rank)) => (num(sc), JDouble(rank.toDouble))
        case None => (JNull, JNull)
      }
      val (bmScore, bmRank) = method("bm25")
      val (dnScore, dnRank) = method("dense")
      JObject(
        "id" -> JString(id.toString),
        "score" -> JDouble(score),
        "text" -> text.map(JString(_)).getOrElse(JNull),
        "bm25_score" -> bmScore,
        "bm25_rank" -> bmRank,
        "dense_score" -> dnScore,
        "dense_rank" -> dnRank)
    }
    val rows =
      if (r.enhanced)
        HybridSearch.enhancedHits(r.bundle.chunks, r.query, r.ctx, r.filters, r.cfg,
          index = Some(r.bundle.bm25Index))
          .map { case (id, sc) => row(id, sc, None, Map.empty) }
      else
        HybridSearch.searchHits(r.bundle.chunks, r.query, r.ctx, r.filters, r.cfg,
          index = Some(r.bundle.bm25Index))
          .map(h => row(h.id, h.rrfScore, h.text, h.detail))
    JObject(
      "query" -> JString(r.query),
      "organization_id" -> JString(r.ctx.organizationId),
      "total_results" -> JInt(rows.size),
      "results" -> JArray(rows.toList))
  }

  /** The lazy [[HybridSearch.search]] plan of a plain search request,
    * over the same store view and dense index the request path reads —
    * the reference side of the request path's parity spec. */
  private[graft] def searchFrame(line: String): DataFrame = readOp {
    val r = searchRequest(parse(line))
    HybridSearch.search(r.bundle.chunks, r.query, r.ctx, r.filters, r.cfg,
      index = Some(r.bundle.bm25Index))
  }

  /** Document roll-up for the list/get endpoints: one row per document
    * from the tenant's chunk partition. */
  private def docInfo(ctx: TenantContext): DataFrame =
    Filters.tenantScope(requireBundle.chunks, ctx)
      .groupBy(col("document_id"))
      .agg(
        // service ids are `org::{filename}_{md5[:12]}` — invert when
        // the chunk rows don't carry an explicit filename column value
        coalesce(
          first(col("filename"), ignoreNulls = true),
          // reluctant prefix: ids are org::filename_md5 and neither
          // part may contain "::" (validated at ingest), so the FIRST
          // "::" is the separator
          regexp_extract(first(col("document_id")),
            "^(?:.*?::)?(.*)_[0-9a-f]{12}$", 1)).as("filename"),
        first(col("document_type"), ignoreNulls = true).as("document_type"),
        count(lit(1)).as("total_chunks"),
        max(col("page_number")).as("total_pages"))

  /** `/documents` list (`api/main.py:591-639`): optional document_type
    * filter, limit/offset pagination, tenant-scoped. */
  private def listDocuments(req: JValue): JValue = {
    val ctx = tenant(req)
    val limit = (req \ "limit").extractOpt[Int].getOrElse(100)
    val offset = (req \ "offset").extractOpt[Int].getOrElse(0)
    if (limit < 1 || limit > 1000) throw ServiceError(400, "limit must be 1..1000")
    if (offset < 0) throw ServiceError(400, "offset must be >= 0")
    val typed = (req \ "document_type").extractOpt[String] match {
      case Some(t) => docInfo(ctx).filter(col("document_type") === t)
      case None => docInfo(ctx)
    }
    (req \ "cursor").extractOpt[String] match {
      case Some(cur) =>
        // keyset pagination (the scale-correct shape): the cursor is
        // the last document_id of the previous page ("" starts), the
        // predicate pushes into the scan, and the collect is bounded
        // by `limit` REGARDLESS of page depth — unlike offset, which
        // materializes offset+limit rows on the driver. Response
        // carries next_cursor (null on the last page).
        val page = typed.filter(col("document_id") > cur)
          .orderBy(col("document_id")).limit(limit).collect()
        val next =
          if (page.length < limit) JNull
          else JString(page.last.getAs[String]("document_id"))
        JObject(
          "documents" -> JArray(page.toList.map(docJson(_, ctx))),
          "next_cursor" -> next)
      case None =>
        // legacy offset/limit (the reference's own `/documents` shape,
        // `api/main.py:591-639`): Dataset.offset keeps the skip INSIDE
        // the plan (TakeOrderedAndProject carries limit+offset), so the
        // driver collect is bounded by `limit` at ANY page depth — the
        // executors still sort/scan offset+limit rows, which is SQL
        // OFFSET's inherent cost; deep pagination should use the
        // cursor form, where the predicate pushes into the scan
        val page = typed.orderBy(col("document_id"))
          .offset(offset).limit(limit).collect()
        JArray(page.toList.map(docJson(_, ctx)))
    }
  }

  /** `/documents/{id}` (`api/main.py:641-671`): cross-tenant ids 404. */
  private def getDocument(req: JValue): JValue = {
    val ctx = tenant(req)
    val id = (req \ "document_id").extractOpt[String]
      .getOrElse(throw ServiceError(400, "document_id required"))
    docInfo(ctx).filter(col("document_id") === id).collect().headOption
      .map(docJson(_, ctx))
      .getOrElse(throw ServiceError(404, "Document not found"))
  }

  private def docJson(r: org.apache.spark.sql.Row, ctx: TenantContext): JValue =
    JObject(
      "id" -> JString(r.getAs[String]("document_id")),
      "filename" -> Option(r.getAs[String]("filename")).map(JString)
        .getOrElse(JNull),
      "organization_id" -> JString(ctx.organizationId),
      "document_type" -> Option(r.getAs[String]("document_type"))
        .map(JString).getOrElse(JNull),
      "total_chunks" -> JLong(r.getAs[Long]("total_chunks")),
      "total_pages" -> Option(r.get(r.fieldIndex("total_pages")))
        .map(v => JInt(v.asInstanceOf[Number].intValue())).getOrElse(JNull))

  /** DELETE `/documents/{id}` (`api/main.py:673-701`): tenant ownership
    * checked before the cascade; the store is rewritten and reloaded so
    * the deletion is durable. */
  private def delete(req: JValue): JValue = {
    val ctx = tenant(req)
    val id = (req \ "document_id").extractOpt[String]
      .getOrElse(throw ServiceError(400, "document_id required"))
    // ownership probe under the read lock (it executes a plan over the
    // current view), RELEASED before updateLock — holding it across
    // would deadlock with an ingest whose retire waits on readers. The
    // bundle is dereferenced INSIDE the locked block: capturing it
    // before would let two full mutation flips land between the capture
    // and the probe, planning over dirs the second flip already retired
    // — the double-flip race storeLock exists to close.
    // readOp (not bare withReadLock): the probe needs the same
    // freshness check and peer-flip rebase-and-retry as every other
    // read — a doc just ingested through a peer instance must not 404,
    // and a peer's double flip must not 500 the request
    val owned = readOp {
      Filters.tenantScope(requireBundle.chunks, ctx)
        .filter(col("document_id") === id).limit(1).count() > 0
    }
    if (!owned) throw ServiceError(404, "Document not found")
    // deletes are the rare interactive mutation: they take the full-
    // snapshot path (exact df/idf/stats recompute over survivors, a
    // fresh compacted generation) rather than carrying tombstones into
    // the append-only segment scheme
    // re-read the CURRENT bundle inside the mutation lease: rebuilding
    // from the pre-lock capture would silently drop any docs a
    // concurrent ingest (this instance OR a peer) landed between the
    // probe and the lock
    withMutationLease() {
      persistFull(Pipeline.cascadeDelete(requireBundle, Seq(id)))
    }
    JObject(
      "status" -> JString("deleted"),
      "document_id" -> JString(id),
      "organization_id" -> JString(ctx.organizationId))
  }
}

/** stdin/stdout JSON-line loop: one request per line, one response per
  * line; `{"op":"shutdown"}` exits. */
object QueryService {
  /** A parsed `/search` request, bound to the store view it reads. */
  private final case class SearchRequest(
      bundle: IndexBundle, ctx: TenantContext, query: String,
      filters: Map[String, Filters.Pred], cfg: HybridSearch.Config,
      enhanced: Boolean)

  /** Upper bound on how long a mutation request waits for the
    * cross-process store lease before failing with a retryable 503.
    * Generous against real peer mutations (seconds) but far below the
    * crashed-holder TTL (30 min) a hung client would otherwise eat. */
  // var (not val) so specs can drive the timeout path without a
  // 120 s wait; production code never writes it
  @volatile var MutationWaitMs: Long =
    sys.env.get("SPARK_GRAFT_MUTATION_WAIT_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(120000L)

  /** Streaming ingest waits TTL-scale: a micro-batch rides out a
    * crashed peer's reclaim window (the lease TTL) instead of throwing
    * into a foreachBatch sink that has no retry seam, and still fails
    * loudly on a wedged-but-heartbeating peer past that. */
  val StreamMutationWaitMs: Long =
    sys.env.get("SPARK_GRAFT_STREAM_MUTATION_WAIT_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(graft.sources.FsLease.DefaultTtlMs + 120000L)

  /** Crashed-holder TTL for the `_store.lock` lease (dead heartbeat →
    * takeover). Production keeps the generous FsLease default (30 min);
    * the env override lets crash rehearsals reclaim a killed writer's
    * lock in seconds instead (tools/serve_crash_rehearsal.sh). */
  val StoreLockTtlMs: Long =
    sys.env.get("SPARK_GRAFT_STORE_LOCK_TTL_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .map(graft.sources.FsLease.clampConfiguredTtl(_,
        "SPARK_GRAFT_STORE_LOCK_TTL_MS"))
      .getOrElse(graft.sources.FsLease.DefaultTtlMs)

  /** The service mains' session: master from SPARK_GRAFT_MASTER, else
    * `local[SPARK_GRAFT_CPUS]` (default: every core) with as many
    * shuffle partitions — the same resolution as Verify and Bench —
    * plus the engine's SQL extensions and the UTC session time zone. */
  private[serve] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val storeRoot = args.headOption.getOrElse(
      sys.env.getOrElse("GRAFT_STORE", "/tmp/graft_store"))
    val svc = new QueryService(session(), storeRoot)
    val in = scala.io.Source.stdin.getLines()
    var running = true
    while (running && in.hasNext) {
      val line = in.next().trim
      if (line.nonEmpty) {
        // one parse: handleLine resolves op (a search QUERY containing
        // the word "shutdown" is just a query) and returns the stop
        // signal structurally — never by matching the rendered JSON
        val (resp, stop) = svc.handleLine(line)
        println(resp)
        if (stop) running = false
      }
    }
    svc.spark.stop()
  }
}
