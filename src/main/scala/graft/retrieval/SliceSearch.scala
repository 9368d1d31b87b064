package graft.retrieval

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Pq, VectorFunctions}
import graft.model.{Filters, TenantContext}
import graft.operators.{AnnKnn, BM25, Hnsw, HnswServing, Quantize}
import graft.retrieval.HybridSearch._
import graft.sources.TableStore

/** The small-tenant request path (REPOSE, ICDE 2021: answer top-k from
  * small local structures). A request reads its tenant slice in ONE
  * concurrent wave of narrow jobs — collects with no broadcast, no
  * shuffle and no dependence on each other:
  *  - the tenant's chunk rows: id, whether the row is at the searched
  *    level and passes the request filters, and the text and embedding
  *    where a leg can use them. The filter flag lets the enhanced
  *    path's filterless retry reuse the slice;
  *  - the `postings` rows of every term a leg scores, pruned by
  *    `term_blk` and by the tenant's `org::` id prefix, their `idf`
  *    rows and the one `stats` row;
  *  - the dense mode's candidate rows: the LSH probe rows of the
  *    tenant's `ann` dir, its int8 rows, its PQ codes in the probed
  *    lists, or its HNSW graphs. The exact mode reads none.
  *
  * Every leg, the fusion and the text are then driver code over those
  * rows, with the column forms' JVM twins in Spark's operation order
  * (the dot and its round-6, the int8 rescale, the PQ lut and ADC,
  * the HNSW beam search, the BM25 term score with its partial sums per
  * scan partition and its round-4, the `ORDER BY score DESC, id`
  * comparison), so a request answers exactly what Spark's legs answer.
  *
  * The `org::` prefix that the service puts on every document and
  * chunk id only prunes the tables not split by tenant; each leg is
  * still intersected with the slice's scoped ids. Bounds are decided
  * from observed input size: every read carries a limit derived from
  * [[MaxSliceRows]] on its total rows, and a read that exceeds its
  * bound, a slice id without the prefix, or a request shape the driver
  * legs do not cover (ColPali pages, the in-memory IVF mode, more than
  * [[MaxTerms]] terms) sends the request to Spark's legs, the path that
  * serves a tenant of any size. A tenant scope once seen over
  * [[MaxSliceRows]] goes straight to Spark's legs while its chunk frame
  * lives.
  *
  * The bounds are set by judgement, not from a measured crossover
  * between the two paths: the benchmark's tenants all lie far below
  * them (its largest holds about 320 chunk rows). */
object SliceSearch {

  /** A tenant scope of more chunk rows (all levels) than this is read
    * by Spark's legs. */
  val MaxSliceRows = 2048

  /** Most distinct terms a request's BM25 legs may score on the driver. */
  val MaxTerms = 64

  /** Most postings rows a slice may read: a term's row per chunk, for
    * a few terms per chunk of a full slice. */
  private val MaxPostingsRows = MaxSliceRows * 8

  /** Tenant scopes seen over [[MaxSliceRows]], per chunk frame. A
    * serving store's chunk frame reads one generation's immutable
    * files, so a scope once over the bound stays over it while the
    * frame lives, and its later requests skip the wave. Keyed weakly
    * by the frame itself (a Dataset compares by identity), so a
    * replaced store view takes its entries with it. An entry only
    * sends a request to Spark's legs, which answer any scope, so it can
    * cost time but never change an answer. */
  private val overBound = new java.util.WeakHashMap[DataFrame, Set[TenantContext]]()

  private def knownOver(chunks: DataFrame, ctx: TenantContext): Boolean =
    overBound.synchronized { Option(overBound.get(chunks)).exists(_(ctx)) }

  private def markOver(chunks: DataFrame, ctx: TenantContext): Unit =
    overBound.synchronized {
      overBound.put(chunks, Option(overBound.get(chunks)).getOrElse(Set.empty[TenantContext]) + ctx)
    }

  /** One chunk row of the tenant scope: at the searched level, passing
    * the request filters, its text (read only for searched rows) and
    * embedding (read only at the searched level; else null). */
  private final case class Chunk(id: String, level: Boolean, passes: Boolean,
                                 text: String, emb: Array[Double])

  /** A postings row and the scan partition it was read from. */
  private final case class Posting(part: Int, id: String, dl: Int, term: String, tf: Long)

  /** Read the slice that `queries` need in one wave: Some(legs) over
    * it, or None when a bound overflows or the request is outside the
    * driver legs. `withText` reads the text of the searched rows. */
  private[retrieval] def read(chunks: DataFrame, ctx: TenantContext,
                              filters: Map[String, Filters.Pred], cfg: Config,
                              index: BM25.Index, queries: Seq[LegQuery],
                              withText: Boolean): Option[Legs] = {
    val terms = queries.collect { case q: Bm25Query => q.tokens }.flatten.distinct
    val qvecs = queries.collect { case q: DenseQuery => q.qvec }
      .foldLeft(Seq.empty[Array[Double]])((vs, v) =>
        if (vs.exists(_.sameElements(v))) vs else vs :+ v)
    val dense = if (qvecs.isEmpty) Some(NoDense) else denseSide(cfg.dense)
    if (chunks.schema("id").dataType != StringType || terms.size > MaxTerms ||
        queries.exists(_.isInstanceOf[ColpaliQuery]) || dense.isEmpty ||
        knownOver(chunks, ctx)) return None

    val prefix = s"${ctx.organizationId}::"
    val own = col("id").startsWith(prefix)
    val level: Column = cfg.levelFilter match {
      case Some(lv) if chunks.columns.contains("level") => coalesce(col("level") === lv, lit(false))
      case _ => lit(true)
    }
    val passes = coalesce(Filters.compile(filters), lit(false))
    val sliceRead = Filters.tenantScope(chunks, ctx).select(col("id"), level, passes,
      if (withText) when(level && passes, col("text")) else lit(null).cast("string"),
      if (qvecs.nonEmpty) when(level, col("embedding").cast("array<double>"))
      else lit(null).cast("array<double>")) -> MaxSliceRows
    val termReads = if (terms.isEmpty) Nil else Seq(
      BM25.termRows(index.postings, terms).filter(own)
        .select(spark_partition_id(), col("id"), col("dl"), col("term"), col("tf")) -> MaxPostingsRows,
      BM25.termRows(index.idf, terms).select(col("term"), col("idf")) -> MaxTerms,
      index.stats.select(col("avgdl")) -> 1)
    val denseRead = dense.get.read(qvecs, own)

    val got = wave(sliceRead +: (termReads ++ denseRead))
    if (got.head.isEmpty) markOver(chunks, ctx)
    val (posts, idfs, stats) =
      if (terms.isEmpty) (Some(Nil), Some(Nil), Some(Nil)) else (got(1), got(2), got(3))
    for {
      sl <- got.head if sl.forall(_.getString(0).startsWith(prefix))
      ps <- posts
      is <- idfs
      // one non-null idf per term, as the derived table holds
      if is.map(_.getString(0)).distinct.length == is.length && is.forall(!_.isNullAt(1))
      st <- stats
      avgdl = st.headOption.filterNot(_.isNullAt(0)).map(_.getDouble(0))
      // Spark divides by avgdl: 0 would be its error, not a score
      if !avgdl.contains(0.0)
      cands <- if (denseRead.isEmpty) Some(Nil) else got.last
    } yield new SliceLegs(
      sl.map(r => Chunk(r.getString(0), r.getBoolean(1), r.getBoolean(2),
        r.getString(3), if (r.isNullAt(4)) null else r.getSeq[Double](4).toArray)),
      ps.map(r => Posting(r.getInt(0), r.getString(1),
        r.getAs[Number](2).intValue(), r.getString(3), r.getAs[Number](4).longValue())),
      is.map(r => r.getString(0) -> r.getDouble(1)).toMap,
      avgdl, dense.get, cands)
  }

  /** Every read's rows in ONE job: each read's input partitions
    * coalesced into one task that scans them in order and stops after
    * `bound + 1` rows, the reads' tasks unioned — so the reads run as
    * one wave with no dependence on each other, and no read brings more
    * than `bound + 1` rows to the driver, however many partitions it
    * spans. None for a read holding more than its bound. (A per-read
    * `limit(n).collect()` scans a multi-partition read in growing
    * batches, one job per batch, and a `LocalLimit` inside generated
    * code names its counter uniquely, so it compiles for every plan.)
    * A coalesced scan keeps each input partition's index, so
    * `spark_partition_id()` reads as in an uncoalesced scan. */
  private[retrieval] def wave(reads: Seq[(DataFrame, Int)]): Seq[Option[Seq[Row]]] = {
    val sc = reads.head._1.sparkSession.sparkContext
    val rdds = reads.map { case (df, n) =>
      df.queryExecution.toRdd.coalesce(1).mapPartitions(_.take(n + 1).map(_.copy())) }
    val parts = sc.runJob(sc.union(rdds), (it: Iterator[InternalRow]) => it.toArray)
    // a union's partitions are its inputs' partitions, in input order
    val ends = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _)
    reads.zipWithIndex.map { case ((df, n), i) =>
      val rows = parts.slice(ends(i), ends(i + 1)).flatten
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Option.when(rows.length <= n)(rows.toSeq.map(toRow(_).asInstanceOf[Row]))
    }
  }

  /** [[SliceSearch]]'s legs over one slice. */
  private final class SliceLegs(chunks: Seq[Chunk], postings: Seq[Posting],
                                idf: Map[String, Double], avgdl: Option[Double],
                                dense: DenseSide, cands: Seq[Row]) extends Legs {
    private val embs: Map[String, Array[Double]] =
      chunks.collect { case c if c.emb != null => c.id -> c.emb }.toMap

    private def inScope(c: Chunk, s: Scope): Boolean =
      (!s.level || c.level) && (!s.filtered || c.passes)

    private val scoped = mutable.Map.empty[Scope, Set[String]]
    private def ids(s: Scope): Set[String] =
      scoped.getOrElseUpdate(s, chunks.filter(inScope(_, s)).map(_.id).toSet)

    def rows(queries: Seq[LegQuery]): Seq[Seq[LegRow]] = queries.map {
      case Bm25Query(tokens, k, s) => top(bm25(tokens, ids(s)), k)
      case DenseQuery(qvec, k, s) =>
        top(dense.score(qvec, k, chunks.filter(inScope(_, s)), embs, cands), k)
      case q: ColpaliQuery => throw new IllegalStateException(s"no driver leg for $q")
    }

    def text(ids: Seq[Any]): Map[Any, Option[String]] = {
      val want = ids.toSet
      chunks.collect { case c if inScope(c, Searched) && want(c.id) => (c.id: Any) -> Option(c.text) }
        .toMap
    }

    /** [[BM25.scoreFromIndex]] then `scopedBm25`'s cut, on the driver:
      * term scores summed per id — a partial sum per scan partition in
      * row order, the partials then merged in partition order, as
      * Spark's partial and final aggregates add — kept when positive
      * and scoped, rounded to 4 dp. A NULL avgdl makes every score NULL,
      * and none is positive. */
    private def bm25(tokens: Seq[String], scope: Set[String]): Seq[(Any, Option[Double])] =
      avgdl.toSeq.flatMap { a =>
        val qcount = tokens.groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
        val total = mutable.LinkedHashMap.empty[String, Double]
        for ((_, part) <- postings.groupBy(_.part).toSeq.sortBy(_._1)) {
          val partial = mutable.LinkedHashMap.empty[String, Double]
          for (p <- part; q <- qcount.get(p.term); w <- idf.get(p.term))
            partial(p.id) = partial.getOrElse(p.id, 0.0) + BM25.termScoreJvm(w, p.tf, p.dl, a, q)
          for ((id, s) <- partial) total(id) = total.getOrElse(id, 0.0) + s
        }
        total.iterator.collect { case (id, s) if s > 0 && scope(id) =>
          (id: Any) -> Some(VectorFunctions.roundJvm(s, 4)) }.toSeq
      }
  }

  /** The first `k` of `rows` in `ORDER BY score DESC, id` order, ranked. */
  private def top(rows: Seq[(Any, Option[Double])], k: Int): Seq[LegRow] = ranked(rows).take(k)

  /** Spark's `round(x, 6)`, NaN and ±Inf passed through as Spark does. */
  private def round6(x: Double): Double = VectorFunctions.roundJvm(x, 6)

  private def score6(v: Array[Double], q: Array[Double]): Option[Double] =
    Some(round6(VectorFunctions.dotJvm(v, q)))

  /** A dense mode on the driver: the candidate read it adds to the
    * wave with its bound (none for exact), and the scoring of the rows
    * read for one query over the scoped `chunks`. */
  private sealed trait DenseSide {
    def read(qvecs: Seq[Array[Double]], own: Column): Option[(DataFrame, Int)] = None
    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])]
  }

  /** A request with no dense leg. */
  private object NoDense extends DenseSide {
    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] = Nil
  }

  private def denseSide(mode: DenseMode): Option[DenseSide] = mode match {
    case DenseMode.Exact => Some(ExactSide)
    case m: DenseMode.AnnLsh => Some(new AnnSide(m))
    case m: DenseMode.Quantized => Some(new QuantizedSide(m))
    case m: DenseMode.IvfPq => Some(new PqSide(m))
    case m: DenseMode.Hnsw => Some(new HnswSide(m))
    case _: DenseMode.AnnIvf => None
  }

  /** `DenseKnn.topK` over the slice's embeddings: a NULL embedding
    * scores NULL, as the dot kernel returns it. */
  private object ExactSide extends DenseSide {
    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] =
      chunks.map(c => (c.id, Option(c.emb).flatMap(score6(_, qvec))))
  }

  /** `AnnKnn.storeCandidates` + `rescoreTopK`: the tenant's rows in any
    * query's probe buckets are read, each query keeps the ids in its
    * own buckets — deduplicated here, where Spark groups by id — and
    * rescores them exactly. The stored `vec` is the chunk embedding
    * cast to double (one generation writer derives both), so the
    * slice's embedding stands in for it. */
  private final class AnnSide(m: DenseMode.AnnLsh) extends DenseSide {
    private def pairs(q: Array[Double]) = AnnKnn.probePairs(q, m.tables, m.bits, m.extraProbes)

    override def read(qvecs: Seq[Array[Double]], own: Column): Option[(DataFrame, Int)] =
      Some(m.store.filter(AnnKnn.probeFilter(qvecs.flatMap(pairs).distinct) && own)
        .select(col("id"), col("tbl"), col("bucket")) -> MaxSliceRows * m.tables)

    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] = {
      val probed = pairs(qvec).toSet
      val scope = chunks.map(_.id).toSet
      rows.iterator
        .filter(r => probed((r.getAs[Number](1).intValue(), r.getAs[Number](2).longValue())))
        .map(_.getString(0)).filter(scope).distinct
        .flatMap(id => embs.get(id).map(e => (id: Any) -> score6(e, qvec))).toSeq
    }
  }

  /** The int8 leg: the tenant's rows, each scored by the
    * [[Quantize.dotI8]] twin and rounded to 6 dp; NULL codes or scale
    * score NULL. */
  private final class QuantizedSide(m: DenseMode.Quantized) extends DenseSide {
    override def read(qvecs: Seq[Array[Double]], own: Column): Option[(DataFrame, Int)] =
      Some(m.store.filter(own).select(col("id"), col("codes"), col("scale")) -> MaxSliceRows)

    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] = {
      val (qcodes, qscale) = Quantize.quantizeJvm(qvec)
      val scope = chunks.map(_.id).toSet
      rows.filter(r => scope(r.getString(0))).map(r => r.getString(0) ->
        Option.when(!r.isNullAt(1) && !r.isNullAt(2))(round6(
          Quantize.dotI8Jvm(r.getSeq[Double](1).toArray, r.getDouble(2), qcodes, qscale))))
    }
  }

  /** `PqKnn.adcTopK` over the probed lists, then `refineTopK`: the ADC
    * top `k·refine` rescored exactly against the slice's embeddings
    * (the refine's `raw` side is the chunk embedding column). The
    * probes rank the mode's centroid rows on the driver. */
  private final class PqSide(m: DenseMode.IvfPq) extends DenseSide {
    private lazy val cents = AnnKnn.centroidRows(m.centroids)
    private def probes(q: Array[Double]) = AnnKnn.ivfProbes(cents, q, m.nProbe)

    override def read(qvecs: Seq[Array[Double]], own: Column): Option[(DataFrame, Int)] =
      Some(m.codes.filter(TableStore.isInLongs("cid", qvecs.flatMap(probes).distinct) && own)
        .select(col("cid"), col("id"), col("codes")) -> MaxSliceRows)

    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] = {
      val probed = probes(qvec).toSet
      val scope = chunks.map(_.id).toSet
      val lut = Pq.lutJvm(qvec, m.cb.flat, m.cb.m, m.cb.sub, m.cb.k)
      val adc = rows
        .filter(r => probed(r.getAs[Number](0).longValue()) && scope(r.getString(1)))
        .map(r => (r.getString(1): Any) -> Some(round6(Pq.adc(
          ArrayData.toArrayData(r.getSeq[Int](2).toArray), lut, m.cb.k))))
      top(adc, k * m.refine).flatMap(r =>
        embs.get(r.id.toString).map(e => r.id -> score6(e, qvec)))
    }
  }

  /** `Hnsw.servingCandidates` on the driver: every graph read searched
    * with the leg's beam (at least its k), then scoped. */
  private final class HnswSide(m: DenseMode.Hnsw) extends DenseSide {
    override def read(qvecs: Seq[Array[Double]], own: Column): Option[(DataFrame, Int)] =
      Some(m.index.toDF() -> MaxSliceRows)

    def score(qvec: Array[Double], k: Int, chunks: Seq[Chunk],
              embs: Map[String, Array[Double]], rows: Seq[Row]): Seq[(Any, Option[Double])] = {
      val scope = chunks.map(_.id).toSet
      rows.map(graph).flatMap(Hnsw.servingSearch(_, qvec, math.max(m.ef, k)))
        .collect { case (id, sc) if scope(id) => (id: Any) -> Some(sc) }
    }

    private def graph(r: Row): HnswServing = HnswServing(
      r.getAs[String]("organization_id"), r.getAs[Int]("pid"), r.getAs[Int]("dim"),
      r.getAs[Seq[String]]("sids").toArray, r.getAs[Array[Byte]]("vecs"),
      r.getAs[Seq[Int]]("levels").toArray, r.getAs[Seq[Seq[Seq[Int]]]]("adj"),
      r.getAs[Int]("entry"))
  }
}
