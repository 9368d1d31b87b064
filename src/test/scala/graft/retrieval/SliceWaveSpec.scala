package graft.retrieval

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.model.TenantContext
import graft.operators.BM25

/** The slice wave's bounds hold on a read's total rows, not per input
  * partition: a read spread over many partitions, each within its
  * bound and all together over it, stops after bound + 1 rows, and its
  * request takes Spark's legs — the wave once, then not at all. */
class SliceWaveSpec extends SparkSpec {

  test("a read over its bound stops after bound + 1 rows, however many partitions it spans") {
    val sc = spark.sparkContext
    val pulled = sc.longAccumulator("pulled")
    val schema = StructType(Seq(StructField("v", LongType)))
    // 16 partitions of 40 rows: each within a bound of 100, 640 in all
    def read = spark.createDataFrame(
      sc.parallelize(0L until 640L, 16).map { v => pulled.add(1); Row(v) }, schema)

    assert(SliceSearch.wave(Seq(read -> 100)) == Seq(None))
    assert(pulled.value <= 101, s"${pulled.value} rows read")

    // within the bound: every row, in partition order
    val Seq(Some(all)) = SliceSearch.wave(Seq(read -> 640))
    assert(all.map(_.getLong(0)) == (0L until 640L))
    // a coalesced read keeps its input partitions' ids
    val ids = spark.range(0, 40, 1, 8).select(spark_partition_id(), col("id"))
    val Seq(Some(rows)) = SliceSearch.wave(Seq(ids -> 40))
    assert(rows.map(r => (r.getInt(0), r.getLong(1))) == (0L until 40L).map(i => ((i / 5).toInt, i)))
  }

  test("a tenant over the bound in many partitions, each within it, takes Spark's legs") {
    val cfg = HybridSearch.Config(limit = 5)
    val n = SliceSearch.MaxSliceRows + 200
    val rows = (0 until n).map { i =>
      val text = s"ledger entry $i records invoice ${i % 37} and payment ${i % 11}"
      Row(s"org_w::c$i", text, "org_w", "internal", "paragraph",
        cfg.embedder.embedQuery(TextFunctions.tokenizeJvm(text)).toSeq)
    }
    val schema = StructType(Seq("id", "text", "organization_id", "access_level", "level")
      .map(StructField(_, StringType)) :+ StructField("embedding", ArrayType(DoubleType)))
    // 8 partitions of about 281 rows: each within the bound, all over it
    val chunks = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    val index = BM25.buildIndex(chunks, "id", "text")
    val ctx = TenantContext("org_w")
    val query = "invoice 7 payment"

    /** The result stage (name, tasks) of every job `f` starts. */
    def jobs(f: => Unit): Seq[(String, Int)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val s = e.stageInfos.maxBy(_.stageId)
          seen.add(s.name -> s.numTasks)
        }
      }
      TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { f; TestBus.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      seen.toArray(Array.empty[(String, Int)]).toSeq
    }
    def served(): Seq[(Any, Double)] =
      HybridSearch.searchHits(chunks, query, ctx, cfg = cfg, index = Some(index))
        .map(h => (h.id, h.rrfScore))

    var first: Seq[(Any, Double)] = Nil
    val firstJobs = jobs { first = served() }
    val planned = HybridSearch.search(chunks, query, ctx, cfg = cfg, index = Some(index))
      .collect().map(r => (r.get(0), r.getDouble(1))).toSeq
    assert(first.nonEmpty && first == planned)
    // one wave job: a task per read (slice, postings, idf, stats), not
    // one per input partition
    val waves = firstJobs.filter(_._1.contains("SliceSearch"))
    assert(waves.map(_._2) == Seq(4), firstJobs)

    // the scope is now known over the bound: no wave at all
    var second: Seq[(Any, Double)] = Nil
    val secondJobs = jobs { second = served() }
    assert(second == planned)
    assert(secondJobs.nonEmpty && !secondJobs.exists(_._1.contains("SliceSearch")), secondJobs)
  }

  test("centroid rows read from a driver-local frame equal the collected rows") {
    val rows = Seq(Seq(0.5, -1.25, 3.0), Seq(2.0, 0.0, -0.75), Seq(1e-7, 4.5, 2.25))
    val want = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val local = graft.operators.PqKnn.centroidsFrom(spark, rows)
    // the store's pinned frame: collected rows under the parquet schema
    val nullable = StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType, containsNull = true))))
    val pinned = spark.createDataFrame(
      java.util.Arrays.asList(want.map { case (c, v) => Row(c, v) }: _*), nullable)
    val planned = spark.range(3).select(col("id").as("cid"))
      .join(local.withColumnRenamed("cid", "k"), col("cid") === col("k")).drop("k")
    for (df <- Seq(local, pinned, planned))
      assert(graft.operators.AnnKnn.centroidRows(df).map { case (c, v) => (c, v.toSeq) }
        .sortBy(_._1) == want)
  }
}
