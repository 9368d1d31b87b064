package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.functions.{MaxSim, TextFunctions, VectorFunctions}

/** One self-contained HNSW graph over a shard of the corpus.
  *
  * The whole graph travels as ONE row: ids, packed-f32 vectors (the
  * page-store layout, `MaxSim.packF32`), per-node levels, and the
  * jagged adjacency (node → layer → neighbor node-indexes). A row is
  * atomic in parquet, so a shard can never be split across read tasks
  * — the search fan-out is a plain `flatMap` over shard rows with no
  * shuffle and no grouping at query time.
  */
case class HnswShard(
    pid: Int,
    dim: Int,
    ids: Array[Long],
    vecs: Array[Byte],
    levels: Array[Int],
    adj: Seq[Seq[Seq[Int]]],
    entry: Int)

/** Serving-store wrapper around [[HnswShard]]: chunk ids are STRINGS
  * (`org::filename_md5#n`), so each shard carries a sorted per-shard
  * id dictionary and the graph's node ids are the dictionary INDEXES
  * (0..n-1) — the id↔node mapping travels with the graph row and
  * search needs no join to translate back. `organization_id` is the
  * tenant-first shard key half (one tenant never shares a graph with
  * another), written as the parquet partition column so the F3 tenant
  * filter prunes to the tenant's graph files before any row is read —
  * the same layout stance as the LSH sidecar. */
case class HnswServing(
    organization_id: String,
    pid: Int,
    dim: Int,
    sids: Array[String],
    vecs: Array[Byte],
    levels: Array[Int],
    adj: Seq[Seq[Seq[Int]]],
    entry: Int)

/** Navigable-small-world ANN (Malkov & Yashunin 2016) — the index
  * structure the reference runs inside Qdrant (`vector_store.py:136-146`,
  * m=16 / ef_construct=100 / hnsw_ef=128), re-expressed for Spark's
  * execution model as PARTITIONED graphs:
  *
  *  - build: shard the corpus (`id % shards`), then `mapGroups` builds
  *    an in-memory HNSW per shard — embarrassingly parallel, each task
  *    bounded by its shard size (size shards to executor memory; the
  *    graph is ~n·(d·4 + 2m·4·levels) bytes). A graph build is
  *    inherently sequential-insert, so the parallelism unit is the
  *    shard, not the row — the same trade every distributed HNSW store
  *    makes (per-segment indexes in Lucene/Milvus/Vespa).
  *  - search: `flatMap` over shard rows (each a complete graph),
  *    greedy-descend + beam per shard, then one global
  *    TakeOrdered(k) over ≤ shards·ef candidate rows. No shuffle
  *    touches the corpus; with the one-row-per-shard store layout the
  *    scan reads exactly the graphs. Unlike the LSH/IVF paths the
  *    probe cannot prune shards (every shard is searched), but
  *    per-shard work is sub-linear (~ef·log n distance evaluations vs
  *    the shard's n for brute force) — the right trade when recall
  *    must be high and the corpus per shard is large.
  *  - delta ingest composes the segmented-store way: a new segment
  *    gets its OWN small shard graphs; search unions segments
  *    (bounded by the compaction threshold) — no global rebuild.
  *
  * Determinism (the engine-wide contract): node levels derive from
  * [[TextFunctions.hash56Jvm]] of the id (no RNG), insertion order is
  * id-ascending, every heap/selection order is total on (distance,
  * index), and neighbor selection is plain closest-M — so two builds
  * of the same shard are bit-identical and results are reproducible
  * across cluster sizes. Similarity is the raw dot product (the
  * engine's score everywhere), distance its negation; final scores
  * round to 6 like every kNN twin, and the packed-f32 vectors score
  * exactly when the source embeddings are f32 (float→double widening
  * is lossless).
  */
object Hnsw {

  val DefaultM = 16
  val DefaultEfConstruction = 100
  val DefaultEfSearch = 128
  val MaxLevel = 16

  /** Deterministic level draw: u = (hash56(id)+1)/2^56 ∈ (0,1],
    * level = floor(−ln u · 1/ln m) — the paper's geometric
    * distribution with the RNG replaced by a stable hash of the id. */
  def level(id: Long, m: Int): Int = {
    val h = TextFunctions.hash56Jvm(s"$id:hnsw")
    val u = (h + 1).toDouble / (1L << 56).toDouble
    math.min(MaxLevel, (-math.log(u) / math.log(m)).toInt)
  }

  /** Dot of a query against node `j` of a packed-f32 blob, double
    * accumulation left-to-right — bit-identical to
    * [[VectorFunctions.dotJvm]] on the widened array. */
  def dotPacked(q: Array[Double], blob: Array[Byte], j: Int, dim: Int): Double = {
    var off = Platform.BYTE_ARRAY_OFFSET.toLong + j.toLong * dim * 4
    var s = 0.0
    var i = 0
    while (i < dim) {
      s += q(i) * Platform.getFloat(blob, off)
      off += 4; i += 1
    }
    s
  }

  /** Total order on (dist, node-index) — NaN-free here, so the total
    * and IEEE double orders coincide; one explicit instance keeps
    * every heap/sort/comparison on the same order. */
  private val byDistIdx: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** Beam search of one layer: standard HNSW SEARCH-LAYER with a
    * min-heap of candidates and a max-heap of the ef best, every
    * comparison total on (dist, index) so ties never depend on heap
    * internals. Returns the ef closest as (dist, index), ascending. */
  private def searchLayer(dist: Int => Double, adjAt: (Int, Int) => scala.collection.Seq[Int],
                          layer: Int, entry: Seq[Int], ef: Int,
                          cache: mutable.LongMap[Double]): ArrayBuffer[(Double, Int)] = {
    def d(j: Int): Double = cache.getOrElseUpdate(j.toLong, dist(j))
    val visited = new mutable.BitSet()
    // min-heap on (d, idx): Scala's PQ is a max-heap, reverse the order
    val cand = mutable.PriorityQueue.empty[(Double, Int)](byDistIdx.reverse)
    val res = mutable.PriorityQueue.empty[(Double, Int)](byDistIdx)
    entry.foreach { e =>
      if (!visited(e)) { visited += e; val de = d(e); cand.enqueue((de, e)); res.enqueue((de, e)) }
    }
    var done = false
    while (!done && cand.nonEmpty) {
      val c = cand.dequeue()
      if (res.size >= ef && byDistIdx.gt(c, res.head)) done = true
      else adjAt(c._2, layer).foreach { nb =>
        if (!visited(nb)) {
          visited += nb
          val dn = d(nb)
          if (res.size < ef || byDistIdx.lt((dn, nb), res.head)) {
            cand.enqueue((dn, nb)); res.enqueue((dn, nb))
            if (res.size > ef) res.dequeue()
          }
        }
      }
    }
    val out = ArrayBuffer.from(res)
    out.sortInPlace()(byDistIdx)
    out
  }

  /** Sequential-insert build of one shard (nodes pre-sorted by id). */
  def buildShard(pid: Int, nodes: Array[(Long, Array[Double])],
                 m: Int = DefaultM,
                 efConstruction: Int = DefaultEfConstruction): HnswShard = {
    require(nodes.nonEmpty, s"HNSW shard $pid has no vectors")
    val n = nodes.length
    val dim = nodes(0)._2.length
    val ids = nodes.map(_._1)
    val vecs = nodes.map(_._2)
    val levels = ids.map(level(_, m))
    val adj: Array[Array[ArrayBuffer[Int]]] =
      Array.tabulate(n)(i => Array.fill(levels(i) + 1)(new ArrayBuffer[Int]))
    def dd(a: Int, b: Int): Double = -VectorFunctions.dotJvm(vecs(a), vecs(b))
    var entry = 0
    for (i <- 1 until n) {
      val l = levels(i)
      val topL = levels(entry)
      val cache = new mutable.LongMap[Double]()
      def di(j: Int): Double = dd(i, j)
      def adjAt(c: Int, layer: Int): scala.collection.Seq[Int] =
        if (layer < adj(c).length) adj(c)(layer) else Nil
      var ep: Seq[Int] = Seq(entry)
      var layer = topL
      while (layer > l) {
        ep = searchLayer(di, adjAt, layer, ep, 1, cache).take(1).map(_._2).toSeq
        layer -= 1
      }
      layer = math.min(l, topL)
      while (layer >= 0) {
        val w = searchLayer(di, adjAt, layer, ep, efConstruction, cache)
        val mmax = if (layer == 0) 2 * m else m
        w.take(m).foreach { case (_, nb) =>
          adj(i)(layer) += nb
          adj(nb)(layer) += i
          if (adj(nb)(layer).size > mmax) {
            // prune to the mmax closest of nb (closest-M selection;
            // total order on (dist, idx) keeps the prune deterministic)
            val kept = adj(nb)(layer).map(x => (dd(nb, x), x))
              .sorted(byDistIdx).take(mmax)
            adj(nb)(layer).clear()
            adj(nb)(layer) ++= kept.map(_._2)
          }
        }
        ep = w.map(_._2).toSeq
        layer -= 1
      }
      if (l > levels(entry)) entry = i
    }
    HnswShard(pid, dim, ids, MaxSim.packF32(vecs, dim), levels,
      adj.map(_.map(_.toSeq).toSeq).toSeq, entry)
  }

  /** Greedy-descend + beam search of one shard; returns up to ef
    * candidates as (id, round6(dot)). */
  def searchShard(s: HnswShard, q: Array[Double], ef: Int): Seq[(Long, Double)] = {
    val cache = new mutable.LongMap[Double]()
    def dq(j: Int): Double = -dotPacked(q, s.vecs, j, s.dim)
    def adjAt(c: Int, layer: Int): scala.collection.Seq[Int] =
      if (layer < s.adj(c).length) s.adj(c)(layer) else Nil
    var ep: Seq[Int] = Seq(s.entry)
    var layer = s.levels(s.entry)
    while (layer > 0) {
      ep = searchLayer(dq, adjAt, layer, ep, 1, cache).take(1).map(_._2).toSeq
      layer -= 1
    }
    searchLayer(dq, adjAt, 0, ep, ef, cache)
      .map { case (d, j) => (s.ids(j), VectorFunctions.round6Jvm(-d)) }.toSeq
  }

  /** Build the sharded index: `id % shards` keys the shard, one
    * build task per shard. */
  def build(data: DataFrame, idCol: String, vecCol: String, shards: Int,
            m: Int = DefaultM,
            efConstruction: Int = DefaultEfConstruction): Dataset[HnswShard] = {
    val spark = data.sparkSession
    import spark.implicits._
    data
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"),
        (col(idCol).cast("long") % shards).cast("int").as("pid"))
      .as[(Long, Seq[Double], Int)]
      .groupByKey(_._3)
      .mapGroups { (pid, it) =>
        val nodes = it.map(t => (t._1, t._2.toArray)).toArray.sortBy(_._1)
        buildShard(pid, nodes, m, efConstruction)
      }
  }

  /** ANN top-k over the sharded index: per-shard beam search (each
    * shard emits ≤ ef candidates so rounding at the global merge can
    * never disagree with a per-shard cut), one global top-k. */
  def topK(index: Dataset[HnswShard], queryVec: Array[Double], k: Int,
           ef: Int = DefaultEfSearch): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val q = queryVec
    val effEf = math.max(ef, k)
    index.flatMap(s => searchShard(s, q, effEf))
      .toDF("id", "score")
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // serving-store layer (string chunk ids, tenant-first shards)
  // ------------------------------------------------------------------

  /** Shard-count heuristic for a serving build: one graph per
    * ~`target` vectors, capped — a shard is the sequential-insert unit
    * and must fit one task's memory (~n·(4d + 8m·levels) bytes), so at
    * cluster scale raise the cap with executor count, not shard size. */
  def shardsFor(n: Long, target: Long = 4096L, cap: Int = 64): Int =
    math.max(1L, math.min(cap.toLong, (n + target - 1) / target)).toInt

  /** Build the serving index: shard key = (org, hash(id) mod shards);
    * within a shard, rows sort by string id and the graph is built over
    * the dictionary indexes — so levels, insertion order, and therefore
    * the whole graph are deterministic functions of the shard's
    * content, independent of task placement. */
  def buildServing(data: DataFrame, idCol: String, vecCol: String,
                   orgCol: String, shards: Int,
                   m: Int = DefaultM,
                   efConstruction: Int = DefaultEfConstruction): Dataset[HnswServing] = {
    val spark = data.sparkSession
    import spark.implicits._
    data
      .select(col(orgCol).cast("string").as("org"),
        col(idCol).cast("string").as("sid"),
        col(vecCol).cast("array<double>").as("vec"),
        pmod(xxhash64(col(idCol).cast("string")), lit(shards)).cast("int").as("pid"))
      .as[(String, String, Seq[Double], Int)]
      .groupByKey(t => (t._1, t._4))
      .mapGroups { (key, it) =>
        val (org, pid) = key
        val rows = it.map(t => (t._2, t._3.toArray)).toArray.sortBy(_._1)
        val nodes = Array.tabulate(rows.length)(i => (i.toLong, rows(i)._2))
        val sh = buildShard(pid, nodes, m, efConstruction)
        HnswServing(org, pid, sh.dim, rows.map(_._1), sh.vecs, sh.levels,
          sh.adj, sh.entry)
      }
  }

  /** Per-shard beam candidates over the serving index, ≤ ef rows per
    * shard as (string id, round6 dot). The caller applies its scope
    * semi-join and final top-k — same contract as the LSH candidate
    * path. No shuffle touches the corpus: one flatMap over shard rows,
    * translation back to string ids via the row's own dictionary. */
  def servingCandidates(index: Dataset[HnswServing], queryVec: Array[Double],
                        ef: Int = DefaultEfSearch): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val q = queryVec
    index.flatMap(servingSearch(_, q, ef)).toDF("id", "score")
  }

  /** One serving graph's beam candidates as (string id, round6 dot):
    * [[searchShard]] over the dictionary indexes, translated back
    * through the row's own id dictionary. */
  def servingSearch(s: HnswServing, queryVec: Array[Double],
                    ef: Int): Seq[(String, Double)] = {
    val sh = HnswShard(s.pid, s.dim,
      Array.tabulate(s.sids.length)(_.toLong), s.vecs, s.levels, s.adj, s.entry)
    searchShard(sh, queryVec, ef).map { case (j, sc) => (s.sids(j.toInt), sc) }
  }
}
