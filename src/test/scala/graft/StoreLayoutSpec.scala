package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.operators.{PqKnn, TmpDirs}
import graft.serve.QueryService
import graft.sources.SegmentedStore

/** The serving store's physical layout: files in proportion to data.
  * Every table of every store dir (base generation, delta segments, a
  * folded segment, derived dirs) holds files and directories that scale
  * with the tenant count — never with tenants × LSH buckets or term
  * blocks — and stores written in the older directory layouts still
  * serve the same results. */
class StoreLayoutSpec extends SparkSpec {

  private val Modes = Seq("exact", "ann", "quantized", "ivfpq", "hnsw")

  private def docsDf(rows: Seq[(String, String, String)]) = {
    import spark.implicits._
    rows.toDF("filename", "text", "organization_id")
  }

  private def tenantDocs(tenants: Int, perTenant: Int): Seq[(String, String, String)] =
    for (t <- 1 to tenants; i <- 1 to perTenant) yield
      (s"doc_${t}_$i.md",
        s"# Report $t.$i\n\nTenant $t keeps document $i about ledger audits, " +
          s"invoice archives and storage policy ${(t * 7 + i) % 5}. Marker " +
          s"word topic${(t + i) % 9} recurs with retrieval and indexing notes.",
        s"org_$t")

  /** (data files, directories) under `dir`: commit markers and
    * checksums do not count, `dir` itself does not count. */
  private def layout(dir: Path): (Int, Int) = {
    val s = Files.walk(dir)
    try {
      val all = s.iterator().asScala.filter(_ != dir).toSeq
      (all.count(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")),
        all.count(Files.isDirectory(_)))
    } finally s.close()
  }

  test("store files per table scale with tenants, not with buckets or term blocks") {
    val tenants = 6
    val root = TmpDirs.create("graft_layout")
    val svc = new QueryService(spark, root)
    svc.ingestBatch(docsDf(tenantDocs(tenants, 3)))
    // MaxSegments single-doc deltas, then one more: the last folds
    for (i <- 1 to SegmentedStore.MaxSegments + 1)
      svc.ingestBatch(docsDf(Seq((s"delta_$i.md",
        s"Delta document $i about ledger audits and marker cascade$i.", s"org_${i % 3 + 1}"))))
    val m = SegmentedStore.readManifest(root).get
    assert(m.base == "gen0" && m.segments.size == 1, s"expected one folded segment: $m")
    val dirs = (m.dataDirs ++ Seq(m.derived) ++
      // the last flip's superseded segment and derived dirs are kept
      // for one flip (in-flight readers): they were written by
      // writeSegment and writeDerived, so they are checked too
      Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
        .filter(d => d.startsWith("seg") || d.startsWith("derived"))).distinct
    assert(dirs.exists(_.startsWith("derived")) && dirs.count(_.startsWith("seg")) >= 2, dirs)

    // per table: the directory budget (tenant-split tables one dir per
    // tenant, PQ codes one per coarse centroid, the rest none) and a
    // file budget of one file per directory plus one — a fold
    // rebalances like the base writers, so its files do not grow with
    // the number of folded segments, and a segment's files do not grow
    // with the number of tasks its delta spans
    val tenantSplit = Set("chunks", "ann", "hnsw")
    def failures(dirs: Seq[String]) = for {
      d <- dirs
      table <- Files.list(Paths.get(root, d)).iterator().asScala.toSeq
      if Files.isDirectory(table)
      name = table.getFileName.toString
      (files, subdirs) = layout(table)
      dirBudget = if (tenantSplit(name)) tenants else if (name == "pq") PqKnn.K else 0
      if subdirs > dirBudget || files > math.max(dirBudget, 1) + 1 ||
        files == 0
    } yield s"$d/$name: $files files in $subdirs dirs (budget $dirBudget dirs)"
    val small = failures(dirs)

    // one delta big enough to span several partitions, its tenants
    // interleaved the way an upload stream mixes them: a plain segment
    val bulk = for (i <- 1 to 50; t <- 1 to tenants) yield
      (s"bulk_${t}_$i.md", s"Bulk note $i of tenant $t on ledger audits, invoice " +
        s"archives and storage policy ${(t + i) % 7}; marker bulk${i % 11}.", s"org_$t")
    svc.ingestBatch(docsDf(bulk))
    val m2 = SegmentedStore.readManifest(root).get
    assert(m2.segments.size == 2, s"the bulk delta appends one segment: $m2")
    val big = failures(Seq(m2.segments.last, m2.derived))
    assert((small ++ big).isEmpty, (small ++ big).mkString("\n"))
  }

  test("a store whose base is in the directory layouts serves the same results") {
    val seed = tenantDocs(4, 4)
    val delta = Seq(
      ("late_1.md", "Late document about ledger audits and quarterly invoices.", "org_1"),
      ("late_2.md", "Late storage policy note on retrieval and archive indexing.", "org_3"),
      ("late_3.md", "A new tenant's first ledger policy and audit archive.", "org_9"))

    // all-new layout: seed, then one delta segment
    val fresh = new QueryService(spark, TmpDirs.create("graft_layout_new"))
    fresh.ingestBatch(docsDf(seed))
    fresh.ingestBatch(docsDf(delta))

    // mixed: the seed's base generation rewritten into the directory
    // layouts an older writer produced (ANN by organization_id/tbl/
    // bucket, term tables by term_blk); the delta segment and derived
    // dir then land in the clustered layout
    val root = TmpDirs.create("graft_layout_mixed")
    new QueryService(spark, root).ingestBatch(docsDf(seed))
    val m0 = SegmentedStore.readManifest(root).get
    def toDirLayout(table: String, parts: String*): Unit = {
      val dir = s"$root/${m0.base}/$table"
      val old = s"$dir.dirlayout"
      spark.read.parquet(dir).write.partitionBy(parts: _*).parquet(old)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(dir), true))
      assert(fs.rename(new org.apache.hadoop.fs.Path(old), new org.apache.hadoop.fs.Path(dir)))
    }
    toDirLayout("ann", "organization_id", "tbl", "bucket")
    Seq("postings", "idf", "docfreq").foreach(toDirLayout(_, "term_blk"))
    // a new lineage id: the rewritten dirs are new contents, so no
    // per-dir view memoized under the old id may serve them
    SegmentedStore.writeManifest(root, m0.copy(storeId = Some(SegmentedStore.newStoreId())))
    def children(first: String, more: String*): Seq[String] =
      Files.list(Paths.get(first, more: _*)).iterator().asScala
        .map(_.getFileName.toString).toSeq
    assert(children(root, m0.base, "postings").exists(_.startsWith("term_blk=")))
    assert(children(root, m0.base, "ann", "organization_id=org_1").exists(_.startsWith("tbl=")))
    val mixed = new QueryService(spark, root)
    mixed.ingestBatch(docsDf(delta))
    val m1 = SegmentedStore.readManifest(root).get
    assert(m1.segments.size == 1 && m1.derived != m1.base, m1)
    assert(!children(root, m1.segments.head, "postings").exists(_.startsWith("term_blk=")))

    // the views read both layouts under one schema
    val view = SegmentedStore.loadView(spark, root, m1)
    assert(view.postings.schema("term_blk").dataType == org.apache.spark.sql.types.LongType)
    val ann = SegmentedStore.annView(spark, root, m1).get
    assert(Seq("tbl", "bucket").forall(ann.schema(_).dataType == org.apache.spark.sql.types.LongType))
    assert(ann.filter(col("organization_id") === "org_9").count() > 0)

    val queries = Seq("org_1" -> "ledger audits invoices", "org_3" -> "storage policy archive",
      "org_9" -> "ledger policy audit", "org_2" -> "retrieval indexing notes")
    for (mode <- Modes; (org, q) <- queries; filtered <- Seq(false, true)) {
      val f = if (filtered) ""","filters":{"access_level":"internal"}""" else ""
      val req = s"""{"op":"search","organization_id":"$org","query":"$q","limit":5,"dense_mode":"$mode"$f}"""
      val got = mixed.handle(req)
      assert(got == fresh.handle(req), req)
      assert(got.contains("\"results\":[{"), s"$req returned nothing: $got")
    }
  }
}
