package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{parseJson, Serialization}

import graft.functions.TextFunctions
import graft.operators.{Clean, Curation, Dedup}

/** Incremental curation ingest — the [[graft.operators.TrainingPipeline]]
  * reducers lifted to a continuous source: each arriving micro-batch of
  * raw documents is normalized, line-cleaned, exact-deduped and
  * MinHash-near-deduped against EVERYTHING CURATED SO FAR, and the
  * survivors append to the curated store — the shape a production
  * crawl pipeline actually runs (snapshots arrive forever; re-running
  * the batch pipeline corpus×corpus per snapshot is quadratic over
  * time).
  *
  * Per-batch cost is O(batch + candidate pairs), NEVER O(corpus):
  *  - cross-batch exact dedup probes the seen-key store with a
  *    BROADCAST set of the batch's md5s (the store scans, the batch
  *    builds — the only join direction that stays cheap as the store
  *    grows);
  *  - near-dedup uses [[Dedup.lshCandidatesDelta]]: batch bands join
  *    the persisted corpus band table plus the batch's own self-join
  *    (same-batch near-dups match nothing in the corpus yet);
  *  - Jaccard verification touches only candidate ids on both sides
  *    (the token store SEMI-JOINS down to the candidate id set before
  *    any shingle explode — verified flat-in-state-size by
  *    `tools.StreamBench`, pinned in BASELINE.md);
  *  - every state table (keys / bands / toks / docs) is APPEND-ONLY —
  *    a batch writes O(batch) files and rewrites nothing;
  *    [[compactState]] periodically folds the accumulated delta files
  *    into a bucket-partitioned tier (bounding file count between
  *    runs), and once a table's tier passes the prune threshold the
  *    per-batch scan reads only the batch's own key buckets — the LSM
  *    read shape that keeps state IO O(batch + delta) at a multi-GB
  *    state instead of O(state).
  *
  * Keep-first semantics across time: a doc near-matching an
  * already-curated doc drops; two near-dups in one batch keep the
  * smaller id (matching the batch pipeline's canonical-min
  * convention). Caller contract: ids are globally unique across
  * batches (document ids). Docs with <3 tokens after cleaning carry
  * no shingles and bypass near-dedup (exact dedup still applies) —
  * the batch operators' own convention. */
object CurationStream {

  case class Cfg(
      minWordsPerLine: Int = 3,
      minhashK: Int = 16,
      bands: Int = 4,
      rows: Int = 4,
      jaccardThreshold: Double = 0.8,
      // optional Gopher quality gate (q94) applied before any state
      // write — junk never enters the store or the band table
      gopherWordBounds: Option[(Int, Int)] = None,
      // a compacted state table smaller than this is read whole — the
      // bucket-prune probe's fixed cost only pays for itself against a
      // multi-GB tier (see [[PruneMinBytes]]); tests set 0 to force
      // the pruned path
      statePruneMinBytes: Long = CurationStream.PruneMinBytes,
      // > 0: the streams run [[compactState]] themselves whenever the
      // keys table accumulates this many un-absorbed delta files —
      // the curation-state mirror of the serving store's MaxSegments
      // overflow, so a long-lived deployment never needs manual
      // maintenance to keep per-batch state IO bounded. 0 = manual
      // maintenance only (the batch/gate default: compaction cost
      // then never lands inside a measured query).
      autoCompactMinDeltaFiles: Int = 0,
      // run the per-batch dedup plans with AQE OFF (default): under
      // AQE every shuffle stage of every per-batch action materializes
      // as its own scheduler job, and on a real cluster master each
      // job is a fixed RPC round-trip — the measured q113 floor was
      // ~53 jobs/micro-batch, dominated by stage-materialization jobs
      // over batch-bounded frames that need no runtime re-planning.
      // Micro-batches are trigger-bounded (the regime where AQE's
      // coalescing/skew handling has nothing to do); a huge one-shot
      // backfill batch with skewed band keys can set false to get AQE
      // back for the batch plans. State MAINTENANCE (compactState) is
      // untouched — the O(state) fold keeps whatever the session has.
      disableAqeForBatch: Boolean = true)

  private[graft] val keysSchema = StructType(Seq(
    StructField("id", LongType), StructField("text_md5", StringType)))
  private val bandsSchema = StructType(Seq(
    StructField("id", LongType), StructField("band", IntegerType),
    StructField("band_key", StringType)))
  private[graft] val toksSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("toks", ArrayType(StringType))))

  // State probes via the Hadoop FileSystem (a java.io.File probe on a
  // non-local or `file:`-qualified stateDir silently reported every
  // state table missing — fresh-corpus dedup semantics against a
  // populated remote store); schema-first read: the state tables are
  // written by this object, so inference is pure overhead per batch.
  private def readOrEmpty(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  // ---- compacted state tier (LSM shape) ----------------------------------
  //
  // Plain append-only state keeps per-batch WRITES O(batch), but every
  // batch still SCANS the full keys / bands / toks tables (columnar
  // and cheap at the tested 50k-doc states, linear all the same — at
  // 100M curated docs those scans are gigabytes per micro-batch).
  // [[compactState]] rewrites the state into a bucket-partitioned tier
  // (bucket = hash of each table's join key), after which a batch
  // reads ONLY the ≤`StateBuckets` partitions its own keys can touch
  // plus whatever delta files appended since the last compaction —
  // per-batch state IO becomes O(batch-buckets/total × tier + delta),
  // the LSM read shape, while the write path stays byte-identical.
  //
  // Exactly-once absorption: the COMPACTED manifest records, per
  // table, the delta FILE NAMES the tier has absorbed; readers list
  // the delta dir and subtract them. The flip is the same
  // write-aside + atomic-rename as SegmentedStore's CURRENT, so a
  // crash between tier write, flip and delta GC never double-counts a
  // row (duplicated toks rows would skew Jaccard sizes) and never
  // loses one. Single-writer contract: compaction runs BETWEEN
  // batches (the stream's foreachBatch is serial) and is additionally
  // ENFORCED by a `_compaction.lock` lease; GC keeps a one-generation
  // grace so readers of the previous manifest stay valid through a
  // flip (see [[compactState]]).

  /** MAXIMUM bucket count of the compacted tier (and the count every
    * pre-adaptive tier was written with). [[compactState]] sizes each
    * generation's actual count to its input bytes (one bucket per
    * ~[[TierBucketBytes]], floor [[MinStateBuckets]], cap here) and
    * records it in the manifest — a small state's tier is a handful of
    * files instead of 192 (the measured +1 s/batch scan-floor step at
    * toy scale), while a multi-GB tier keeps the full fan-out for
    * pruning. */
  val StateBuckets = 64

  /** Target bytes per tier bucket (all three tables combined). */
  val TierBucketBytes: Long = 32L << 20

  /** Bucket floor: even a tiny tier keeps a few buckets so the pruned
    * read path (partition filter construction, probe collects) stays
    * exercised end-to-end at every scale. */
  val MinStateBuckets = 8

  /** COMPACTED manifest: tier generation + absorbed delta file names
    * per state table (names still present in the delta dir are
    * excluded from reads; deletion is best-effort GC afterwards) +
    * per-table tier bytes (the prune-engagement signal). */
  final case class StateManifest(gen: Int,
                                 absorbedKeys: List[String],
                                 absorbedBands: List[String],
                                 absorbedToks: List[String],
                                 tierBytes: Option[Map[String, Long]] = None,
                                 // minted per compaction: the tier-memo
                                 // key component that a wiped-and-
                                 // reseeded stateDir (gen restarts at 1,
                                 // dir path repeats) can never collide
                                 // on — the SegmentedStore storeId
                                 // lesson
                                 tierId: Option[String] = None,
                                 // bucket count THIS tier was written
                                 // with; absent on pre-adaptive
                                 // manifests, whose tiers used the old
                                 // fixed StateBuckets — read and write
                                 // sides always agree through this field
                                 tierBuckets: Option[Int] = None) {
    def absorbed(kind: String): Set[String] = kind match {
      case "keys" => absorbedKeys.toSet
      case "bands" => absorbedBands.toSet
      case _ => absorbedToks.toSet
    }
    def bytesOf(kind: String): Long =
      tierBytes.flatMap(_.get(kind)).getOrElse(0L)
    def buckets: Int = tierBuckets.getOrElse(StateBuckets)
  }

  /** Tier size below which a batch reads the tier WHOLE instead of
    * bucket-pruned: the prune probe costs ~3 batch-bounded collect
    * jobs (~0.5-1 s of fixed driver overhead, StreamBench x100
    * COMPACT_STATE rehearsal), while a columnar full scan of a small
    * tier is cheaper than that — the crossover is a multi-GB tier
    * (several million curated docs), exactly the regime the tier
    * exists for. */
  val PruneMinBytes: Long = 2L << 30

  implicit private val jsonFormats: Formats = DefaultFormats

  private def hadoopFs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def readStateManifest(spark: SparkSession,
                        stateDir: String): Option[StateManifest] = {
    val (fs, p) = hadoopFs(spark, s"$stateDir/COMPACTED")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(parseJson(s).extract[StateManifest])
    }
  }

  private def writeStateManifest(spark: SparkSession, stateDir: String,
                                 m: StateManifest): Unit = {
    val (fs, root) = hadoopFs(spark, stateDir)
    fs.mkdirs(root)
    val tmp = fs.makeQualified(
      new org.apache.hadoop.fs.Path(stateDir, "COMPACTED.tmp"))
    val out = fs.create(tmp, true)
    try out.write(Serialization.write(m).getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp,
      fs.makeQualified(new org.apache.hadoop.fs.Path(stateDir, "COMPACTED")),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The bucket a state row lands in — the SAME Spark expression (and
    * the manifest-carried bucket count) computes the write-side
    * partition value and the read-side probe set, so the two can never
    * disagree. */
  private def bucketExpr(kind: String, buckets: Int): org.apache.spark.sql.Column =
    kind match {
      case "keys" => pmod(xxhash64(col("text_md5")), lit(buckets.toLong))
      case "bands" => pmod(xxhash64(col("band_key")), lit(buckets.toLong))
      case _ => pmod(xxhash64(col("id")), lit(buckets.toLong))
    }

  /** Data files currently in a delta dir with their sizes, minus
    * `absorbed` names — ONE listing serves both the read set and the
    * compaction sizing. */
  private def deltaStatus(spark: SparkSession, dir: String,
                          absorbed: Set[String]): Seq[(String, Long)] = {
    val (fs, p) = hadoopFs(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && !absorbed.contains(n)
      })
      .map(s => (s.getPath.toString, s.getLen))
  }

  private def deltaFiles(spark: SparkSession, dir: String,
                         absorbed: Set[String]): Seq[String] =
    deltaStatus(spark, dir, absorbed).map(_._1)

  // Per-(session, state, generation, table) memo of the tier base
  // frame. A tier generation's 64-bucket directory tree is IMMUTABLE
  // once its manifest is flipped, but a fresh spark.read resolves a
  // new InMemoryFileIndex — a driver-side listing of all bucket dirs —
  // on EVERY batch (measured ~0.6 s/probe across the three tables at
  // a 500k-doc state). Reusing the resolved frame reuses its file
  // index; per-batch bucket filters plan against the memo without
  // re-listing (the SegmentedStore sidecar-view-memo pattern). Sized
  // in units of STATE DIRS (16 concurrently active states × 3 tables —
  // a smaller cap thrashed when >4 states shared one JVM, silently
  // re-paying the listing the memo exists to avoid); [[compactState]]
  // additionally evicts the generation it supersedes eagerly, so a
  // retired tier's DataFrames (and their pinned file indexes) don't
  // wait out the LRU.
  private val tierMemo =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame])
          : Boolean = size() > 48
    }

  private def evictTier(tierKey: String): Unit = tierMemo.synchronized {
    val it = tierMemo.keySet().iterator()
    while (it.hasNext) if (it.next()._2 == tierKey) it.remove()
  }

  /** Observability hook for the soak rehearsals: live tier-frame memo
    * entries (≤ 3 per live generation — eager eviction on supersede is
    * what the deep-generation soak pins). */
  private[graft] def tierMemoSize: Int =
    tierMemo.synchronized { tierMemo.size() }

  private def tierFrame(spark: SparkSession, stateDir: String, kind: String,
                        m: StateManifest, tierSchema: StructType): DataFrame = {
    // tierId is the collision-proof key; legacy manifests without one
    // fall back to path+gen (correct within a single state lineage)
    val key = (spark, m.tierId.getOrElse(s"$stateDir#${m.gen}"), kind)
    tierMemo.synchronized {
      val hit = tierMemo.get(key)
      if (hit != null) return hit
    }
    val tierDir = s"$stateDir/_compacted/v${m.gen}/$kind"
    val df =
      if (exists(spark, tierDir))
        spark.read.schema(tierSchema).parquet(tierDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tierSchema)
    tierMemo.synchronized { tierMemo.put(key, df) }
    df
  }

  /** One state table's current view: the compacted tier (pruned to
    * `buckets` when given — static partition pruning, the point of the
    * tier) unioned with un-absorbed delta files. Without a manifest
    * this is exactly the legacy full-dir read. */
  private[graft] def readState(spark: SparkSession, stateDir: String,
                               kind: String, schema: StructType,
                               m: Option[StateManifest],
                               buckets: Option[Seq[Long]]): DataFrame = m match {
    case None => readOrEmpty(spark, s"$stateDir/$kind", schema)
    case Some(man) =>
      val tierSchema = schema.add(StructField("bucket", LongType))
      val tier0 = tierFrame(spark, stateDir, kind, man, tierSchema)
      val tier = (buckets match {
        case Some(bs) if bs.size < man.buckets =>
          tier0.filter(col("bucket").isin(bs: _*))
        case _ => tier0
      }).drop("bucket")
      val fresh = deltaFiles(spark, s"$stateDir/$kind", man.absorbed(kind))
      val delta =
        if (fresh.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).parquet(fresh: _*)
      tier.unionByName(delta)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = hadoopFs(spark, dir)
    fs.exists(p)
  }

  /** Distinct tier buckets a batch-bounded frame can touch, as literal
    * values for the partition filter (None = every bucket — skip the
    * filter). The collect is bounded by the tier's bucket count
    * whatever the batch size. */
  private def batchBuckets(df: DataFrame, kind: String,
                           buckets: Int): Option[Seq[Long]] = {
    val bs = df.select(bucketExpr(kind, buckets).as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (bs.size >= buckets) None else Some(bs)
  }

  /** Rewrite the full current state (previous tier + un-absorbed
    * deltas) into a fresh bucket-partitioned tier generation, flip the
    * COMPACTED manifest, then GC with a ONE-GENERATION grace: flipping
    * v_n deletes tier v_{n-2} and the delta files v_{n-1} had absorbed,
    * so a reader still holding the PREVIOUS manifest's frames (tier
    * v_{n-1} plus its un-absorbed delta files) survives a concurrent
    * flip — only a reader two generations behind can observe deleted
    * files. The single-writer contract is ENFORCED with a two-layer
    * lease — an in-process registry (deterministic for same-JVM races)
    * plus the `_compaction.lock` file (create-if-absent; atomic on
    * HDFS server-side and via NIO O_EXCL on the local FS; best-effort
    * only on object stores without atomic create): a second concurrent
    * compaction fails fast instead of corrupting the tier. The lock
    * carries its holder's identity and acquisition timestamp, so a
    * crashed compaction can't wedge maintenance forever: a new
    * acquirer TAKES OVER a lock older than [[CompactionLockTtlMs]]
    * (delete + re-create-if-absent — one winner on HDFS) and verifies
    * its own token landed before proceeding. A live-but-held lock
    * still fails fast; a crash mid-compaction never leaves a broken
    * state either way: the manifest flip stays the only visible
    * transition, and an abandoned `_compacted/v{gen}` dir is simply
    * overwritten by the next successful run at that generation.
    *
    * Race hygiene: each delta dir is LISTED ONCE and the new tier is
    * built from the previous tier plus exactly that file set — a
    * commit() racing the maintenance op (against the serial-foreachBatch
    * contract) lands its append AFTER the listing and is harmlessly
    * left as un-absorbed delta instead of double-counted.
    *
    * O(state) — a scheduled maintenance event whose cost amortizes over
    * the cheap O(batch) appends between runs, exactly like the serving
    * store's segment fold; the streams self-schedule it via
    * [[Cfg.autoCompactMinDeltaFiles]]. */
  // In-process lease layer: two threads of one driver racing
  // compactState are serialized DETERMINISTICALLY here, with a
  // same-JVM error message independent of the FS; the lock file below
  // is the cross-process guard.
  private val compactionLeases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Stale-lock TTL: a `_compaction.lock` older than this is treated
    * as abandoned by a crashed holder and taken over (the
    * [[graft.sources.FsLease]] semantics — atomic create-if-absent,
    * owner token + timestamp, post-takeover token re-read). Generous —
    * a healthy compaction is an O(state) fold measured in seconds-to-
    * minutes even at multi-GB state; a holder alive past the TTL on a
    * truly huge tier should raise the constant, not race it. */
  // env-overridable like the serving store's SPARK_GRAFT_STORE_LOCK_TTL_MS:
  // crash rehearsals reclaim a killed compactor's lock in seconds
  // instead of the production 30 min; the default is unchanged
  val CompactionLockTtlMs: Long =
    sys.env.get("SPARK_GRAFT_COMPACTION_LOCK_TTL_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .map(graft.sources.FsLease.clampConfiguredTtl(_,
        "SPARK_GRAFT_COMPACTION_LOCK_TTL_MS"))
      .getOrElse(graft.sources.FsLease.DefaultTtlMs)

  /** Delete every tier generation at or below `gen - 2`. The naive GC
    * deletes exactly v{gen-2} at each flip, so ONE failed delete — or a
    * crash between the manifest flip and the GC — orphans that
    * generation FOREVER: no later flip ever revisits it (flip n+1
    * deletes v{n-1}, not v{n-2}). Listing `_compacted/` and sweeping
    * everything out of grace makes tier GC self-healing; v{gen} (live)
    * and v{gen-1} (one-generation grace) are never touched, so the
    * reader guarantee is exactly the naive GC's. Callers hold the
    * compaction lease. Best-effort like the delta GC — a failed delete
    * is retried by the NEXT sweep, which is the whole point. */
  private def sweepStaleTiers(fs: org.apache.hadoop.fs.FileSystem,
                              stateDir: String, gen: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(stateDir, "_compacted")
    try fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val stale = name.length > 1 && name.head == 'v' &&
        name.tail.forall(_.isDigit) &&
        scala.util.Try(name.tail.toInt).toOption.exists(_ <= gen - 2)
      if (stale) {
        try { fs.delete(st.getPath, true); () }
        catch { case scala.util.control.NonFatal(e) =>
          // next sweep retries, but on the no-op path (quiesced state)
          // there IS no next sweep — a persistently failing delete
          // must at least be visible
          log.warn(s"tier GC: failed to delete stale ${st.getPath}; " +
            s"retried on the next sweep (${e.getMessage})")
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      log.warn(s"tier GC: failed to list $dir; " +
        s"retried on the next sweep (${e.getMessage})")
    }
  }

  def compactState(spark: SparkSession, stateDir: String,
                   targetBuckets: Option[Int] = None,
                   lockTtlMs: Long = CompactionLockTtlMs): Unit = {
    val (fs, root) = hadoopFs(spark, stateDir)
    fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(stateDir, "_compaction.lock")
    // lease key = the QUALIFIED path: `/x/state`, `file:/x/state` and
    // `/x/state/` must contend for one lease, not three
    val leaseKey = fs.makeQualified(root).toString
    if (!compactionLeases.add(leaseKey))
      throw new IllegalStateException(
        s"another compaction holds the in-process lease for $stateDir " +
          "(single-writer contract)")
    val fileLease =
      try graft.sources.FsLease.acquire(fs, lock, lockTtlMs)
      catch {
        case e: IllegalStateException =>
          compactionLeases.remove(leaseKey)
          throw new IllegalStateException(
            s"another compaction holds $lock (single-writer contract); " +
              s"a crashed holder's lock is reclaimed after " +
              s"${lockTtlMs / 1000} s", e)
      }
    try {
      val m0 = readStateManifest(spark, stateDir)
      val gen = m0.map(_.gen + 1).getOrElse(1)
      val kinds = Seq(("keys", keysSchema), ("bands", bandsSchema),
        ("toks", toksSchema))
      // the ONE listing per table this tier's delta contribution comes
      // from — also the sizing input for the adaptive bucket count
      val listed = kinds.map { case (kind, schema) =>
        val prevAbsorbed = m0.map(_.absorbed(kind)).getOrElse(Set.empty)
        (kind, schema, prevAbsorbed,
          deltaStatus(spark, s"$stateDir/$kind", prevAbsorbed))
      }
      // NOTHING to fold → no-op (unless the caller asks to RE-BUCKET an
      // existing tier to a different fan-out). An empty fold is not
      // harmless: it rewrites the whole O(state) tier AND burns a
      // GC-grace generation, so a compactor looping on a quiet state
      // would delete files out from under same-generation readers for
      // zero benefit (the cross-process race rehearsal surfaced exactly
      // that: a 150 ms-cadence compactor out-generationed every
      // in-flight batch). The manifest, tier and absorbed lists are
      // already exactly what this fold would produce.
      if (listed.forall(_._4.isEmpty) && m0.isDefined &&
          targetBuckets.forall(b => m0.exists(_.buckets == b))) {
        // even a no-op holds the lease — sweep tier litter a crashed
        // predecessor left (a quiesced state never folds again, so this
        // is the only GC it will ever see)
        sweepStaleTiers(fs, stateDir, m0.get.gen)
        return
      }
      val inputBytes = listed.map { case (kind, _, _, fresh) =>
        m0.map(_.bytesOf(kind)).getOrElse(0L) + fresh.map(_._2).sum
      }.sum
      val buckets = targetBuckets.getOrElse(math.max(MinStateBuckets,
        math.min(StateBuckets,
          (inputBytes / TierBucketBytes + 1).toInt)))
      // the three table folds are mutually independent (disjoint input
      // dirs, disjoint tier output dirs) — run them CONCURRENTLY, the
      // same collapse the serving store applies to its sidecar writes:
      // compaction wall-clock becomes the slowest table, not the sum
      val folded =
        new Array[(String, (Set[String], Long, Set[String]))](listed.size)
      graft.sources.SegmentedStore.awaitAll(listed.zipWithIndex.map {
          case ((kind, schema, prevAbsorbed, freshSt), i) => () => {
        val fresh = freshSt.map(_._1)
        val tierSchema = schema.add(StructField("bucket", LongType))
        val prevTier = m0.map(m =>
            tierFrame(spark, stateDir, kind, m, tierSchema).drop("bucket"))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema))
        val freshDf =
          if (fresh.isEmpty) spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema)
          else spark.read.schema(schema).parquet(fresh: _*)
        val tierDir = s"$stateDir/_compacted/v$gen/$kind"
        prevTier.unionByName(freshDf)
          .withColumn("bucket", bucketExpr(kind, buckets))
          .repartition(buckets, col("bucket"))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(tierDir)
        val (_, tp) = hadoopFs(spark, tierDir)
        val bytes = fs.getContentSummary(tp).getLength
        val freshNames = fresh.map(f =>
          new org.apache.hadoop.fs.Path(f).getName).toSet
        // absorbed going forward = files this tier contains that still
        // sit in the delta dir: this generation's fresh set (kept on
        // disk for the one-flip grace) plus previous-generation names
        // whose grace just expired (deleted below; pruned from the
        // list at the NEXT flip once the re-listing confirms them gone)
        val stillThere = deltaFiles(spark, s"$stateDir/$kind", Set.empty)
          .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
        folded(i) =
          kind -> (((prevAbsorbed ++ freshNames) & (stillThere ++ freshNames),
            bytes, prevAbsorbed & stillThere))
      }})
      val compacted = folded.toMap
      val absorbedNow = compacted.view.mapValues(_._1).toMap
      writeStateManifest(spark, stateDir, StateManifest(gen,
        absorbedNow("keys").toList.sorted,
        absorbedNow("bands").toList.sorted,
        absorbedNow("toks").toList.sorted,
        Some(compacted.view.mapValues(_._2).toMap),
        Some(java.util.UUID.randomUUID().toString),
        Some(buckets)))
      // one-generation-grace GC: delete only what the PREVIOUS flip
      // absorbed (this flip's fresh files stay, excluded from reads by
      // the absorbed list) and every tier generation out of grace
      // (≤ gen-2, swept — not just the newest one, so a crashed
      // predecessor's missed GC heals here) — everything a v_{gen-1}
      // reader references survives
      kinds.foreach { case (kind, _) =>
        val (_, dir) = hadoopFs(spark, s"$stateDir/$kind")
        compacted(kind)._3.foreach { n =>
          try fs.delete(new org.apache.hadoop.fs.Path(dir, n), false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      sweepStaleTiers(fs, stateDir, gen)
      // evict the superseded generation's memoized frames eagerly —
      // they pin a file index (and the session) until the LRU ages them
      m0.foreach(m => evictTier(m.tierId.getOrElse(s"$stateDir#${m.gen}")))
    } finally {
      fileLease.release()
      compactionLeases.remove(leaseKey)
      ()
    }
  }

  /** One micro-batch through the incremental pipeline (also the
    * batch-mode entry the specs drive directly). Returns the survivor
    * count appended to `stateDir/docs`; the batch's checkpoint blocks
    * are deterministically released before returning, and
    * [[Cfg.autoCompactMinDeltaFiles]] (when set) runs the LSM fold
    * right here — curateBatch IS the per-micro-batch unit, so every
    * front-end (stream, rehearsal tool, direct caller) gets the same
    * self-maintaining state. */
  def curateBatch(batch0: DataFrame, stateDir: String,
                  cfg: Cfg = Cfg()): Long = {
    val out = retryOnStaleState(stateDir) {
      curateSurvivorsDeferred(batch0, stateDir, cfg)
    }
    out.commit()
    out.release()
    maybeAutoCompact(batch0.sparkSession, stateDir, cfg)
    out.n
  }

  /** Re-plan a batch whose state files were GC'd UNDER it: the
    * one-generation grace protects a reader one compaction behind, but
    * a slow batch racing an EXTERNAL compactor (another process — the
    * in-process path runs compaction between batches, where this can't
    * happen) can fall ≥2 generations back and lose a listed delta/tier
    * file mid-scan (surfaced by the cross-process race rehearsal).
    * Every state read happens inside [[curateSurvivorsDeferred]] —
    * before the outcome's commit() writes anything — so re-running it
    * against the FRESH manifest re-derives the same survivors with
    * zero duplicated side effects. A failed attempt's already-
    * checkpointed blocks wait for the ContextCleaner (rare path,
    * batch-bounded). */
  private def retryOnStaleState[T](stateDir: String)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case scala.util.control.NonFatal(e)
            if attempt < 3 && isStaleFileRead(e) =>
          attempt += 1
          log.warn(s"state files under $stateDir vanished mid-batch " +
            "(concurrent compaction GC past the one-generation grace); " +
            s"replanning from the fresh manifest (attempt $attempt)")
      }
    }
    sys.error("unreachable")
  }

  private def isStaleFileRead(e: Throwable): Boolean =
    graft.sources.FsLease.isStaleFileRead(e)

  /** [[curateSurvivorsDeferred]]'s result: the surviving rows (id,
    * text — plus text_md5/toks, and scope when the batch was scoped)
    * as an eagerly CHECKPOINTED, lineage-free frame, and the deferred
    * state append. `commit()` appends the survivors + their dedup
    * state (keys/bands/toks/docs) — call it AFTER any downstream
    * side-effect that a stream replay must be able to redo (the
    * curate→serve ordering), exactly once per outcome. `n` is the
    * survivor count, already paid for by the checkpoint
    * materialization — consumers branch on it instead of probing the
    * frame with their own isEmpty/count jobs. `release()` unpersists
    * the batch's localCheckpoint BLOCKS (Dataset.unpersist cannot —
    * they are RDD-level persists under the frame): call it once, after
    * `commit()` and every other consumer of `survivors`, after which
    * the frame is gone for good (lineage-free means NOT recomputable).
    * A long-lived stream that skips release strands batch-sized blocks
    * until the ContextCleaner happens to collect them — and on a real
    * cluster an executor loss turns an unreleased stale block into a
    * failed batch, so the streams release deterministically. */
  final case class CurationOutcome(survivors: DataFrame, n: Long,
                                   commit: () => Unit,
                                   release: () => Unit)

  /** Back-compat batch core: compute survivors AND append state before
    * returning. */
  def curateSurvivors(batch0: DataFrame, stateDir: String,
                      cfg: Cfg = Cfg()): DataFrame = {
    val out = retryOnStaleState(stateDir) {
      curateSurvivorsDeferred(batch0, stateDir, cfg)
    }
    out.commit()
    out.survivors
  }

  /** The batch core with the state append DEFERRED behind
    * [[CurationOutcome]].commit — the replay-safety seam: a composed
    * consumer (curate→serve) performs its own side-effects between
    * survivor computation and the state append, so a failed/retried
    * micro-batch re-derives the same survivors against the un-mutated
    * state instead of exact-dropping them against its own prior write.
    *
    * Tenant-scoped mode: a `scope` string column on `batch0` (absent →
    * global semantics, unchanged) is folded into BOTH dedup
    * identities — the exact key becomes md5(scope ∥ text) and every
    * LSH band key is prefixed with the scope via
    * [[Dedup.lshCandidatesDeltaBanded]] — so documents only ever
    * dedup against their own scope: one tenant's upload can never
    * suppress another tenant's identical or near-dup copy (tenant
    * isolation, the reference's core invariant,
    * `tenant_schema.py:35-74`). */
  /** State-layout identity: the Cfg knobs that shape the PERSISTED
    * dedup state. `minhashK`/`bands`/`rows` determine the minhash
    * signature and the `band_key` derivation — a restart with a
    * different value would keep running but silently stop matching
    * near-duplicates against everything curated BEFORE the change
    * (old band rows probe under the old layout, new batches under the
    * new one: two disjoint key spaces). The first batch stamps
    * `stateDir/_identity`; every later batch verifies it and fails
    * LOUDLY on mismatch instead of degrading.
    *
    * The upgrade-compatibility contract (rehearsed by
    * tools/stream_upgrade_rehearsal.sh):
    *  - `minhashK`/`bands`/`rows` — STATE-BREAKING: changing them
    *    requires a fresh stateDir (re-curate or accept a dedup epoch
    *    boundary); the fence makes the violation an error, not a
    *    silent recall loss.
    *  - `jaccardThreshold`, `minWordsPerLine`, `gopherWordBounds` —
    *    behavior knobs: they change how FUTURE batches are judged,
    *    never how persisted state is keyed. Compatible across
    *    restarts.
    *  - `statePruneMinBytes`, `autoCompactMinDeltaFiles` —
    *    operational knobs: read-path/maintenance only. Compatible.
    *  - the Spark checkpoint itself: foreachBatch logic and these Cfg
    *    knobs are opaque to Spark — offsets/commits replay fine. Only
    *    SOURCE changes (schema, path identity) follow Spark's own
    *    checkpoint rules. */
  private def identityJson(cfg: Cfg): String =
    s"""{"minhashK":${cfg.minhashK},"bands":${cfg.bands},"rows":${cfg.rows}}"""

  // stateDirs verified this process (qualified path -> identity json):
  // downgrades the per-batch verification to one exists() probe once a
  // dir has been checked (the probe stays: an externally wiped-and-
  // recreated dir must be re-stamped, not trusted from a stale cache)
  private val identityChecked =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test hook: forget per-process identity verifications, simulating
    * a fresh process against an existing state dir. */
  private[graft] def resetIdentityMemoForTest(): Unit =
    identityChecked.clear()

  private def ensureStateIdentity(spark: SparkSession, stateDir: String,
                                  cfg: Cfg): Unit = {
    val want = identityJson(cfg)
    val (fs, root) = hadoopFs(spark, stateDir)
    val key = fs.makeQualified(root).toString
    val p = new org.apache.hadoop.fs.Path(stateDir, "_identity")
    if (want == identityChecked.get(key) && fs.exists(p)) return
    def readIt(): Option[String] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    // a stamp is VALID iff it is a complete json object — identityJson
    // always emits one, so anything else is a torn write (a crash
    // between create and close leaves an empty/truncated file)
    def valid(s: String): Boolean = s.startsWith("{") && s.endsWith("}")
    def stamp(): Option[String] =
      // create-if-absent; a concurrent stamper wins harmlessly (same
      // cfg writes identical bytes; a different cfg is exactly the
      // conflict the re-read surfaces)
      try {
        val out = fs.create(p, false)
        try out.write(want.getBytes("UTF-8")) finally out.close()
        Some(want)
      } catch { case _: java.io.IOException => readIt() }
    val found = readIt().orElse { fs.mkdirs(root); stamp() } match {
      case Some(s) if !valid(s) =>
        // torn stamp: never a real identity — but only safe to recover
        // by re-stamping when NO state rows exist yet: the crashed
        // writer may have run a DIFFERENT minhashK/bands/rows and
        // already flushed band-key rows under it; re-stamping with
        // THIS run's identity would permanently fence the dir to the
        // wrong layout and mask the very mismatch the fence catches.
        val hasState = Seq("keys", "bands", "toks", "docs").exists(k =>
          fs.exists(new org.apache.hadoop.fs.Path(stateDir, k)))
        if (hasState)
          throw new IllegalStateException(
            s"torn _identity over non-empty state at $stateDir: the " +
              "crashed writer's dedup identity is unknown and state rows " +
              "may already be keyed under it — use a fresh stateDir (or " +
              "rebuild via migrateIdentity)")
        try { fs.delete(p, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
        // a still-torn re-read (stamp()'s IOException fallback re-read
        // the same torn bytes) is a TRANSIENT-FS condition, not a
        // config mismatch — route it to the None branch below
        stamp().filter(valid)
      case other => other
    }
    found match {
      case None =>
        // could neither read nor write a stamp (transient FS error):
        // fail the batch rather than run UNFENCED — caching this dir as
        // checked would disable the fence for the process lifetime and
        // leave the state permanently unstamped
        throw new IllegalStateException(
          s"could not stamp or read $stateDir/_identity: the state-" +
            "layout fence cannot be verified; failing the batch " +
            "(transient FS error — the stream's retry re-attempts)")
      case Some(have) if have != want =>
        throw new IllegalStateException(
          s"curation state $stateDir was built with dedup identity $have " +
            s"but this run is configured with $want: minhashK/bands/rows " +
            "reshape the persisted band_key space, so continuing would " +
            "silently stop matching near-duplicates against pre-change " +
            "state. Use a fresh stateDir (or revert the config). " +
            "Thresholds/gopher/prune/compaction knobs do NOT require this.")
      case _ => ()
    }
    identityChecked.put(key, want)
  }

  /** Scope a batch's actions under AQE-off (see [[Cfg
    * .disableAqeForBatch]]); the runtime conf is restored on exit.
    * Session-scoped by nature — the foreachBatch contract already
    * serializes per-state batches, and the composed consumers run
    * their own work outside this scope. */
  private def withBatchConf[T](spark: SparkSession, cfg: Cfg)(f: => T): T =
    if (!cfg.disableAqeForBatch) f
    else {
      // parallelPartitionDiscovery: a tier generation has ≤ StateBuckets
      // (64) bucket dirs, just over Spark's default threshold (32) for
      // DISTRIBUTED listing — resolving the three tier frames was
      // costing one scheduler job each per generation purely to list
      // ≤64 directories. Driver-side listing is strictly cheaper at
      // this fan-out.
      val ks = Seq(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
          (2 * StateBuckets + 1).toString)
      val prev = ks.map { case (k, _) => k -> spark.conf.getOption(k) }
      ks.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Offline RE-BAND migration (the production answer to "we need more
    * near-dup recall" that is NOT "discard all dedup state"): rebuild a
    * curation state's LSH band index under a NEW state-layout identity
    * (minhashK/bands/rows) into a FRESH stamped stateDir, re-deriving
    * every band key from the persisted token store — the tokens are
    * layout-independent (wsTokens of the cleaned text), so the new
    * signatures are exactly what curating the same survivors under the
    * new layout would have produced. docs/keys/toks carry over
    * unchanged (the exact-dedup key space does not depend on the band
    * layout); scoped states keep their tenant isolation — each id's
    * scope prefix is recovered from its old band keys (scope|md5hex;
    * md5 hex never contains '|', so the prefix is the text before the
    * LAST pipe) and re-applied to the new keys.
    *
    * Semantics: the SURVIVOR SET is history — docs dropped under the
    * old layout stay dropped; the migration re-keys the index so
    * FUTURE batches dedup against the full curated corpus at the new
    * layout's recall. Run it offline (no stream on either dir); resume
    * the stream afterwards pointing at `newStateDir` with `newCfg` —
    * the same Spark checkpoint keeps its source offsets, and
    * redelivered documents still drop via the migrated keys/bands.
    * Rehearsed end-to-end by tools/reband_migration_rehearsal.sh.
    *
    * Returns the number of band-indexed documents in the new state.
    * Fails loudly when the old stamp is missing/torn (the old layout
    * would be unknown) or the new dir already has content. */
  def migrateIdentity(spark: SparkSession, oldStateDir: String,
                      newStateDir: String, newCfg: Cfg = Cfg()): Long = {
    val (ofs, _) = hadoopFs(spark, oldStateDir)
    val oldStampPath = new org.apache.hadoop.fs.Path(oldStateDir, "_identity")
    val oldStamp =
      if (!ofs.exists(oldStampPath)) None
      else {
        val in = ofs.open(oldStampPath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    oldStamp match {
      case Some(s) if s.startsWith("{") && s.endsWith("}") => ()
      case other => throw new IllegalStateException(
        s"cannot migrate $oldStateDir: its _identity stamp is " +
          s"${other.fold("missing")(s => s"torn ('$s')")} — the old " +
          "band layout is unknown")
    }
    val (nfs, newRoot) = hadoopFs(spark, newStateDir)
    if (nfs.exists(newRoot) && nfs.listStatus(newRoot).nonEmpty)
      throw new IllegalStateException(
        s"cannot migrate into non-empty $newStateDir: re-banding needs " +
          "a fresh state dir")
    val m = readStateManifest(spark, oldStateDir)
    val keys = readState(spark, oldStateDir, "keys", keysSchema, m, None)
    val toksV = readState(spark, oldStateDir, "toks", toksSchema, m, None)
    val oldBands = readState(spark, oldStateDir, "bands", bandsSchema, m, None)
    // scope per banded id, recovered from the old prefixed keys; a
    // no-match (bare 32-hex key = unscoped state) extracts ""
    val scopeOf = oldBands.select(col("id"),
        regexp_extract(col("band_key"), "^(.*)\\|[0-9a-f]{32}$", 1)
          .as("scope"))
      .distinct()
    val sigs = Dedup.minhashSignatures(toksV, "id", "toks", newCfg.minhashK)
    val newBands = Dedup.bandTable(sigs, newCfg.bands, newCfg.rows)
      .join(scopeOf, Seq("id"), "left")
      .select(col("id"), col("band"),
        when(col("scope").isNotNull && col("scope") =!= "",
            concat(col("scope"), lit("|"), col("band_key")))
          .otherwise(col("band_key")).as("band_key"))
    val nDocs = keys.count()
    val parts = math.max(1, math.min(32, (nDocs / 10000L).toInt))
    val (dfs, docsPath) = hadoopFs(spark, s"$oldStateDir/docs")
    if (dfs.exists(docsPath))
      spark.read.parquet(s"$oldStateDir/docs").coalesce(parts)
        .write.parquet(s"$newStateDir/docs")
    keys.coalesce(parts).write.parquet(s"$newStateDir/keys")
    toksV.coalesce(parts).write.parquet(s"$newStateDir/toks")
    newBands.coalesce(parts).write.parquet(s"$newStateDir/bands")
    // postcondition: every old-banded id is banded under the new layout
    // (and no extras — both derive from the same >=3-token survivors)
    val oldIds = oldBands.select("id").distinct().count()
    val newIds = spark.read.schema(bandsSchema)
      .parquet(s"$newStateDir/bands").select("id").distinct().count()
    if (oldIds != newIds)
      throw new IllegalStateException(
        s"re-band migration divergence: $oldIds banded docs in " +
          s"$oldStateDir but $newIds in $newStateDir")
    ensureStateIdentity(spark, newStateDir, newCfg)
    newIds
  }

  def curateSurvivorsDeferred(batch0: DataFrame, stateDir: String,
                              cfg: Cfg = Cfg()): CurationOutcome = {
    val spark = batch0.sparkSession
    ensureStateIdentity(spark, stateDir, cfg)
    val scoped = batch0.columns.contains("scope")
    // scoped mode rejects null scopes up front: concat_ws would skip a
    // null and silently fall back to the UNSCOPED key space (an
    // unprefixed pseudo-tenant that crafted content could collide
    // with), and the band-key prefix would go NULL — near-dedup
    // silently off for those rows. Callers quarantine upstream
    // (curateToServeStream mirrors ingestBatch's validation); this is
    // the identity-integrity backstop.
    val batch = if (scoped) batch0.filter(col("scope").isNotNull) else batch0
    if (batch.isEmpty)
      return CurationOutcome(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("id", LongType),
            StructField("text_md5", StringType),
            StructField("text", StringType),
            StructField("toks", ArrayType(StringType))))),
        0L, () => (), () => ())
    withBatchConf(spark, cfg) {

    // Per-batch job budget (the real per-batch cost on a cluster
    // master is FIXED scheduler RPCs, one per job — measured 53
    // jobs/batch before the r15 restructure, ~12 after):
    //   1 isEmpty probe (above) · 1 fused keys+bands bucket probe ·
    //   1 toks bucket probe · 4 broadcast builds (batch md5s, exact
    //   hits, candidate ids, loser ids) · 1 survivor checkpoint+count ·
    //   4 commit appends — everything else rides inside those plans
    //   (AQE off per [[Cfg.disableAqeForBatch]], so shuffle stages
    //   don't materialize as their own jobs).

    // 1: row-local normalize + C4 line clean (one fused pass); the
    // scoped exact key folds the scope into the md5 (NUL separator —
    // unambiguous, scopes are id-like strings)
    // Scope rides THROUGH lineClean as a passthrough column — a
    // re-attach join here cost ~0.5 s of broadcast-build jobs per
    // batch for a value the row already had
    val scopeKeep = if (scoped) Seq("scope") else Nil
    val cleaned0 = Clean.lineClean(
        batch.select(Seq(col("id").cast("long").as("id"),
          TextFunctions.normalizeText(col("text")).as("text")) ++
          scopeKeep.map(col): _*),
        "id", "text", cfg.minWordsPerLine, keep = scopeKeep)
      .filter(col("n_kept") > 0)
    val cleaned =
      if (scoped)
        cleaned0.select(col("id"), col("cleaned").as("text"),
          md5(concat_ws("\u0000", col("scope"), col("cleaned"))).as("text_md5"),
          col("scope"))
      else cleaned0.select(col("id"), col("cleaned").as("text"),
        md5(col("cleaned")).as("text_md5"))

    // 1.5: optional Gopher quality gate (row-local verdict; the
    // batch-sized keep set broadcasts back onto the batch)
    val gated = cfg.gopherWordBounds match {
      case Some((minW, maxW)) =>
        val keep = graft.operators.Curation
          .gopherRules(cleaned, "id", "text", minW, maxW)
          .filter(col("keep")).select("id")
        cleaned.join(broadcast(keep), Seq("id"), "left_semi")
      case None => cleaned
    }

    // 2: within-batch exact keep-first (min id per md5), then tokens +
    // minhash bands for EVERY within-batch-unique doc — including docs
    // the cross-batch exact filter will drop. Banding the (typically
    // tiny) cross-batch-dup slice too is what lets the keys and bands
    // bucket probes fuse into ONE job: the band probe no longer waits
    // on the seen-store read. The extra candidate pairs are provably
    // outcome-neutral — a cross-batch exact dup X of corpus doc C has
    // C's exact band keys and toks (same cleaned text, same scope), so
    // any pair (Y, X) the superset adds is mirrored by the pair (Y, C)
    // the sequential semantics already verify, with the same Jaccard
    // and the same surviving id.
    val exactB = gated.join(
      gated.groupBy("text_md5").agg(min(col("id")).as("id")),
      Seq("text_md5", "id"), "left_semi")
    val toks = exactB.select(Seq(col("id"), col("text_md5"), col("text"),
        TextFunctions.wsTokens(lower(col("text"))).as("toks")) ++
        (if (scoped) Seq(col("scope")) else Nil): _*)
      .cache()
    val sigs = Dedup.minhashSignatures(toks, "id", "toks", cfg.minhashK,
      keep = scopeKeep)
    // scoped mode prefixes every band key with the scope BEFORE the
    // corpus join (the lshCandidatesDeltaTagged hook): candidates —
    // and therefore near-dup drops — only ever pair within one scope.
    // The persisted band table stores the prefixed keys, so the scoping
    // survives across batches. Scope is a row-local passthrough from
    // the signature select — the old re-attach join cost a broadcast
    // build per batch.
    val nb = (if (scoped)
        Dedup.bandTable(sigs, cfg.bands, cfg.rows, keep = scopeKeep)
          .select(col("id"), col("band"),
            concat(col("scope"), lit("|"), col("band_key")).as("band_key"))
      else Dedup.bandTable(sigs, cfg.bands, cfg.rows))
      .cache()

    // 3: state reads. With a compacted tier ABOVE the prune threshold
    // each scan is first PRUNED to the batch's key buckets (a bounded
    // collect per probe — paid only when the tier is big enough that
    // the skipped scan exceeds it); the keys and bands probes share
    // ONE batch-bounded collect (≤ 2·buckets rows), the toks probe
    // waits on the candidate set.
    val stateM = readStateManifest(spark, stateDir)
    def engaged(kind: String): Option[StateManifest] =
      stateM.filter(_.bytesOf(kind) >= cfg.statePruneMinBytes)
    val (keyBuckets, bandBuckets) = (engaged("keys"), engaged("bands")) match {
      case (None, None) => (None, None)
      case (k, b) =>
        val probes = k.map(m => toks.select(lit("k").as("t"),
            bucketExpr("keys", m.buckets).as("b"))).toSeq ++
          b.map(m => nb.select(lit("b").as("t"),
            bucketExpr("bands", m.buckets).as("b")))
        val rows = probes.reduce(_ unionByName _).distinct().collect()
        val ks = rows.filter(_.getString(0) == "k").map(_.getLong(1)).toSeq
        val bs = rows.filter(_.getString(0) == "b").map(_.getLong(1)).toSeq
        (k.flatMap(m => if (ks.size >= m.buckets) None else Some(ks)),
          b.flatMap(m => if (bs.size >= m.buckets) None else Some(bs)))
    }
    val seen = readState(spark, stateDir, "keys", keysSchema, stateM,
      keyBuckets)
    val corpusBands = readState(spark, stateDir, "bands", bandsSchema, stateM,
      bandBuckets)

    // 4: candidates — corpus partners tagged false, same-batch partners
    // true (a row-local loser rule below, instead of a batch-id
    // membership broadcast). Cached: consumed by the candIds broadcast,
    // the verify join AND (tier present) the toks bucket probe —
    // uncached, each would re-run the corpus-bands join.
    val cands = Dedup
      .lshCandidatesDeltaTagged(nb, corpusBands)
      .toDF("id_a", "id_b", "b_in_batch") // id_a = batch doc
      .cache()
    // Verification must touch ONLY candidate docs: shingling the whole
    // curated store would be O(corpus) per batch. Semi-join the token
    // store down to the candidate id set (bounded by the LSH pair
    // count) before the shingle explode — and with a compacted tier,
    // prune the store read to the candidates' id buckets first.
    val candIds = cands.select(col("id_a").as("id"))
      .unionByName(cands.select(col("id_b").as("id"))).distinct()
    val toksBuckets = engaged("toks")
      .flatMap(m => batchBuckets(candIds, "toks", m.buckets))
    val allToks = toks.select("id", "toks")
      .unionByName(readState(spark, stateDir, "toks", toksSchema, stateM,
        toksBuckets))
      .join(broadcast(candIds), Seq("id"), "left_semi")
    val (verified0, releaseSh) =
      Dedup.jaccardVerifyStaged(cands, allToks, "id", "toks",
        carry = Seq("b_in_batch"))
    val verified = verified0.filter(col("jaccard") >= cfg.jaccardThreshold)
    // corpus partner → the newcomer (id_a) drops; batch partner
    // (id_a < id_b by construction) → the larger (id_b) drops
    val nearLosers = verified.select(
      when(col("b_in_batch"), col("id_b")).otherwise(col("id_a")).as("id"))
    // cross-batch exact drops: the seen-key store scans, the batch's
    // md5 set broadcasts (the only join direction that stays cheap as
    // the store grows); both loser classes fold into ONE broadcast set
    val hits = seen.join(
        broadcast(toks.select("text_md5").distinct()), "text_md5")
      .select("text_md5").distinct()
    val exactDrops = toks
      .join(broadcast(hits), Seq("text_md5"), "left_semi").select(col("id"))
    val losers = nearLosers.unionByName(exactDrops).distinct()

    // 5: survivors + their band rows MATERIALIZE AS ONE local
    // checkpoint (batch-bounded, lineage-free) BEFORE any state write:
    // their plans read the very paths commit() appends to, and Spark's
    // write-path cache refresh would otherwise invalidate them and
    // re-execute against the mutated state (the batch's own md5s in
    // the key store ⟹ every survivor reclassified as a dup) on the
    // next access — exactly what the composed curate→serve consumer
    // does between this return and its commit() call. Bands ride as a
    // nested column so ONE checkpoint job (the lazy mark + the count
    // that was owed anyway) replaces the former survivors-then-bands
    // checkpoint pair.
    val bandsById = nb.groupBy("id")
      .agg(collect_list(struct(col("band"), col("band_key"))).as("_bands"))
    val ckpt = toks.join(broadcast(losers), Seq("id"), "left_anti")
      .join(bandsById, Seq("id"), "left")
      .localCheckpoint(false)
    val n = ckpt.count()
    val survivors = ckpt.drop("_bands")
    toks.unpersist(false)
    nb.unpersist(false)
    cands.unpersist(false)
    // every verified-pair consumer is checkpointed above; a leaked
    // shingle cache would re-optimize on each state append (see
    // jaccardVerifyStaged's doc)
    releaseSh()

    // 6 (deferred): append survivors + their state — O(batch) writes,
    // no rewrite. The checkpointed frame is lineage-free, so the
    // closure holds no lineage over caches or state paths.
    CurationOutcome(survivors, n,
      () => withBatchConf(spark, cfg) {
        if (n > 0) {
          // right-size the append: a micro-batch must land ONE file per
          // table, not one per upstream shuffle partition — per-batch
          // delta FILE COUNT is what every later batch lists and reads
          // until the next compaction (50 batches × 16 partitions = 800
          // tiny files was the measured drift: +0.6 s/batch by batch 50).
          // Bulk backfills keep parallel writers (1 per ~10k docs, ≤32).
          val parts = math.max(1, math.min(32, (n / 10000L).toInt))
          // docs FIRST and ALONE: the ordering is a replay-safety
          // invariant, not style — a keys row landing without its docs
          // row means a replayed batch exact-drops the survivor against
          // the half-committed state and the text is lost FOREVER
          // (every future identical upload drops too). Sequential-
          // docs-first bounds the worst partial failure at a duplicate
          // docs row. The three DEDUP-state appends after it carry no
          // such edge (an orphan keys/bands/toks row without peers just
          // re-drops content the docs table already holds), so they run
          // concurrently — checkpointed inputs, disjoint dirs.
          ckpt.select("id", "text").coalesce(parts)
            .write.mode("append").parquet(s"$stateDir/docs")
          graft.sources.SegmentedStore.awaitAll(Seq(
            () => ckpt.select("id", "text_md5").coalesce(parts)
              .write.mode("append").parquet(s"$stateDir/keys"),
            () => ckpt.select("id", "toks").coalesce(parts)
              .write.mode("append").parquet(s"$stateDir/toks"),
            () => ckpt.select(col("id"), explode(col("_bands")).as("b"))
              .select(col("id"), col("b.band").as("band"),
                col("b.band_key").as("band_key"))
              .coalesce(parts)
              .write.mode("append").parquet(s"$stateDir/bands")))
        }
      },
      () => Curation.releaseLocalCheckpoint(ckpt))
    }
  }

  /** Auto-compaction trigger (the curation-state mirror of the serving
    * store's MaxSegments overflow): when the keys table has accumulated
    * `cfg.autoCompactMinDeltaFiles` un-absorbed delta files, fold the
    * state into a fresh tier. Runs AFTER a batch's commit, inside
    * [[curateBatch]] — batches are serial per state (the foreachBatch
    * contract), so the single-writer lease holds by construction. The
    * probe is one listStatus of the keys dir (every batch appends the
    * same number of files to each table, so keys stands in for all
    * three).
    *
    * Degrades, never poisons: compaction is MAINTENANCE — its failure
    * (a held lease, a transient IO error) must not fail a batch whose
    * commit already landed, so any failure here is logged and skipped;
    * the un-absorbed delta files stay put and the very next batch
    * re-triggers the fold (and a crashed holder's stale lock is taken
    * over after [[CompactionLockTtlMs]], so the skip is bounded). */
  private def maybeAutoCompact(spark: SparkSession, stateDir: String,
                               cfg: Cfg): Unit =
    if (cfg.autoCompactMinDeltaFiles > 0) {
      val absorbed = readStateManifest(spark, stateDir)
        .map(_.absorbed("keys")).getOrElse(Set.empty)
      if (deltaFiles(spark, s"$stateDir/keys", absorbed).size >=
          cfg.autoCompactMinDeltaFiles)
        try compactState(spark, stateDir)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"auto-compaction of $stateDir skipped " +
              s"(will retry next batch): ${e.getMessage}")
        }
    }

  /** The streaming front: each micro-batch runs [[curateBatch]].
    * `AvailableNow` drains what exists then stops (the restart-driven
    * shape the specs exercise); a long-lived deployment swaps in a
    * processing-time trigger, unchanged otherwise. */
  def curateStream(docs: DataFrame, stateDir: String,
                   checkpoint: String, cfg: Cfg = Cfg()): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateBatch(batch, stateDir, cfg); () // incl. auto-compaction
      }

  /** Curate→serve composed stream (the reference's upload→index
    * lifecycle at stream granularity, with crawl-time dedup in front):
    * each micro-batch of serving-shaped docs (filename, text,
    * organization_id) is first curated against the cumulative curation
    * state — normalize → line-clean → exact + MinHash near-dedup vs
    * everything curated so far — and ONLY the survivors are indexed
    * into the serving store via
    * [[graft.serve.QueryService.ingestBatch]], becoming searchable at
    * the next batch boundary.
    *
    * Tenant isolation: curation runs in SCOPED mode with
    * `organization_id` as the scope — the exact key and every LSH band
    * key carry the tenant, so org_b streaming a document identical (or
    * near-dup) to one org_a already curated still survives and indexes
    * into org_b's tenant; only SAME-org duplicates drop (the
    * reference's tenant boundary, `tenant_schema.py:35-74`).
    *
    * State-identity boundary: scoped and unscoped dedup identities are
    * DIFFERENT key spaces (md5(org‖text) vs md5(text); prefixed vs
    * bare band keys) — a curation state written by the unscoped
    * [[curateStream]] cannot be resumed by this composed stream (or
    * vice versa): redelivered documents would match nothing and
    * re-enter. Curation state is derived data; when switching modes,
    * rebuild it by replaying the docs store through the new identity
    * rather than pointing the new stream at the old stateDir.
    *
    * Replay safety: the serving ingest runs BEFORE the curation-state
    * append ([[CurationOutcome]].commit). A micro-batch that fails or
    * crashes anywhere in between is replayed by the checkpoint against
    * the UN-mutated state — survivors re-derive identically — and
    * `ingestBatch` skips already-present content-derived ids, so
    * every retry outcome converges: documents are never exact-dropped
    * against their own half-committed batch (the pre-r10 defect) and
    * never double-indexed. Dedup identity is a deterministic hash of
    * (org, filename, text): a redelivered file exact-drops in the
    * curation state before it ever reaches the store. Per-batch cost
    * is O(batch + candidate pairs) on the curation side (the
    * [[curateBatch]] contract) plus O(delta) on the serving side (the
    * ingestBatch segment append) — nothing scales with either store. */
  def curateToServeStream(svc: graft.serve.QueryService, docs: DataFrame,
                          stateDir: String, checkpoint: String,
                          cfg: Cfg = Cfg()): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // quarantine rows a JSON ingest would 400 (null/short org id —
        // ingestBatch's own validation, mirrored HERE because a null
        // org must never reach the scoped dedup identity: its state
        // rows would be junk a later ingest quarantine strands) — a
        // row-local filter, no probe job. No isEmpty gate either: the
        // core's own empty-check covers it (the former outer probe was
        // one redundant job per micro-batch).
        val valid = batch.filter(col("organization_id").isNotNull &&
          col("filename").isNotNull && col("text").isNotNull &&
          length(col("organization_id")) >= 3)
        val withId = valid.withColumn("id",
            xxhash64(col("organization_id"), col("filename"), col("text")))
          .dropDuplicates("id")
        val out = retryOnStaleState(stateDir) {
          curateSurvivorsDeferred(
            withId.select(col("id"), col("text"),
              col("organization_id").as("scope")), stateDir, cfg)
        }
        // survivors are batch-bounded → broadcast the id set back
        // onto the batch to recover filename/org for the store; the
        // outcome's materialized count gates the ingest (an isEmpty
        // probe here would be a redundant broadcast-build job)
        if (out.n > 0) {
          val keep = withId
            .join(broadcast(out.survivors.select(col("id"))),
              Seq("id"), "left_semi")
            .drop("id")
          svc.ingestBatch(keep); ()
        }
        out.commit()
        out.release()
        maybeAutoCompact(batch.sparkSession, stateDir, cfg)
      }

  /** JSONL (id, text) stream over a watched directory. */
  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).json(dir)
}
