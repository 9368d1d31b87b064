package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions

/** Weighted Reciprocal Rank Fusion (reference
  * `src/retrieval/hybrid_search.py:87-124`): score(id) =
  * Σ_methods w_m / (k + rank_m(id)), k = 60. Implemented as
  * union + hash aggregation (not an N-way join): each method's ranked
  * list contributes (id, w/(k+rank)) rows, one groupBy sums them.
  * Ranked lists are top-k sized (tiny), so every physical step is a
  * broadcast or a few-row shuffle regardless of corpus size.
  */
object Fusion {

  val RrfK = 60

  /** Assign 1-based ranks to a scored list: (id, score) → (id, rank).
    * Deterministic: ties broken by id (SURVEY risk #2). */
  def rank(scored: DataFrame): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("id"))
    scored.select(col("id"), row_number().over(w).as("rank"))
  }

  /** Fuse ranked lists with weights: (id, rrf_score). */
  def rrf(methods: Seq[(DataFrame, Double)], k: Int = RrfK): DataFrame =
    methods.map { case (ranked, w) =>
      ranked.select(col("id"), (lit(w) / (lit(k) + col("rank"))).as("contrib"))
    }.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("rrf_score"))

  /** Full fusion with final cut (T4). */
  def fuseTopK(methods: Seq[(DataFrame, Double)], limit: Int,
               k: Int = RrfK): DataFrame =
    rrf(methods, k)
      .select(col("id"), round(col("rrf_score"), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(limit)

  /** Driver twin of [[fuseTopK]] over collected ranked lists: (id, rank)
    * per method with its weight → (id, rrf_score) top-`limit`, equal
    * to `fuseTopK(...).collect()` row for row. Same arithmetic — each
    * contribution w / (k + rank) summed per id, rounded half-up to 6
    * places ([[VectorFunctions.round6Jvm]], Spark's `round`) — and the
    * same order: score descending, then id in Spark's ordering
    * ([[IdOrdering]]). Contributions sum in method order; Spark's sum
    * order is its shuffle's, which can differ in the last bit only
    * for three or more methods (two-term addition commutes exactly). */
  def fuseTopKLocal[A](methods: Seq[(Seq[(A, Int)], Double)], limit: Int,
                       k: Int = RrfK): Seq[(A, Double)] = {
    val sums = scala.collection.mutable.LinkedHashMap.empty[A, Double]
    for ((ranked, w) <- methods; (id, r) <- ranked)
      sums(id) = sums.getOrElse(id, 0.0) + w / (k + r)
    sortScoreDescId(sums.iterator
      .map { case (id, s) => (id, VectorFunctions.round6Jvm(s)) }.toSeq)
      .take(limit)
  }

  /** (id, score) rows in `ORDER BY score DESC, id` order. */
  def sortScoreDescId[A](rows: Seq[(A, Double)]): Seq[(A, Double)] =
    rows.sortWith((x, y) =>
      compareScoreDescId((x._1, Some(x._2)), (y._1, Some(y._2))) < 0)

  /** Spark's ascending order over id values: strings by UTF-8 bytes —
    * code-point order, which differs from `String.compareTo`'s UTF-16
    * order once a non-BMP character meets one in U+E000–U+FFFF —
    * doubles by SQL semantics (NaN largest, -0.0 = 0.0), anything else
    * by its natural order. */
  private val IdOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
      case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
      case _ => throw new IllegalArgumentException(
        s"unordered id types: ${a.getClass} vs ${b.getClass}")
    }
  }

  /** `ORDER BY score DESC, id` as a driver comparison of (id, score)
    * pairs; a missing score sorts last, where Spark's descending order
    * puts NULLs. */
  def compareScoreDescId(a: (Any, Option[Double]), b: (Any, Option[Double])): Int = {
    val c = (a._2, b._2) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => 0
    }
    if (c != 0) c else IdOrdering.compare(a._1, b._1)
  }
}
