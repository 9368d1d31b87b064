package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the storage/bandwidth
  * endgame for dense retrieval at corpus scale, beyond the int8 scalar
  * path ([[graft.operators.Quantize]]):
  *
  *  - a d-dim vector splits into `m` subvectors of `sub = d/m` dims;
  *  - each subspace has its own `k`-centroid codebook; a vector is
  *    encoded as `m` centroid ids — m bytes (k ≤ 256) instead of 8·d,
  *    a 64× compression at d=64/m=8 vs float64;
  *  - query scoring is asymmetric (ADC): the query stays RAW; a
  *    per-query lookup table `lut[j][p] = <q_j, c_{j,p}>` (m·k dots,
  *    driver-side, microseconds) turns each stored code into a score
  *    with m table lookups — no decode, no multiply per dimension.
  *
  * The reference's Qdrant HNSW holds raw vectors in RAM
  * (`src/storage/vector_store.py:136-146`); at 100 TB the index that
  * fits is the one that stores codes. Like every kernel here the rule
  * is deterministic and has byte-parity JVM / column / DuckDB-SQL
  * twins, so the ADC path is oracle-gateable end to end.
  *
  * Encoding rule (the DuckDB-replayable contract): subspace j's code is
  * the pid minimizing `round(Σ_i (x_i − c_i)², 6)` with sequential
  * i-order accumulation; ties → smaller pid. The round-6 matches the
  * house tie-stability idiom (AnnKnn's round(dot, 6)): both engines
  * compare at 1e-6 granularity, so a last-ulp disagreement in the sum
  * cannot flip an argmin, and the oracle gates replay the codes
  * exactly.
  *
  * The rounding costs one or two calls per subspace, not k: the
  * kernel takes all k raw distances, bounds the winner by the raw
  * minimum and rounds only the candidates inside
  * [[VectorFunctions.round6Margin]] of it (bound-then-round, exact —
  * the argument is on `round6Margin`). Rounding every candidate
  * through `BigDecimal` cost far more than the distances themselves
  * and set the time of the serving store's codebook training and code
  * writes.
  */
object Pq {

  /** Flat codebook layout: `cb[((j·k + p)·sub + i)]` = dim i of
    * centroid p in subspace j. One primitive array — referenced from
    * codegen via `addReferenceObj`, never unrolled into literals (the
    * q55 codegen-limit lesson, BASELINE round 2). */
  def encode(x: ArrayData, cb: Array[Double], m: Int, sub: Int, k: Int): ArrayData =
    new GenericArrayData(encodeArr(x, cb, m, sub, k))

  /** The one encode loop: per subspace, all k raw distances and their
    * minimum, then round-6 only the candidates within
    * [[VectorFunctions.round6Margin]] of it; the smallest rounded value
    * wins, ties → smaller pid. Dims past the vector's end read as 0. A
    * NaN or ±Inf distance is rounded where it occurs, so it throws the
    * `NumberFormatException` of `BigDecimal.valueOf` at the same
    * (subspace, pid) as a per-candidate round would. */
  def encodeArr(x: ArrayData, cb: Array[Double], m: Int, sub: Int, k: Int): Array[Int] = {
    val d = x.numElements()
    val codes = new Array[Int](m)
    val xs = new Array[Double](sub)
    val dist = new Array[Double](k)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < sub) {
        val xi = j * sub + i
        xs(i) = if (xi < d) x.getDouble(xi) else 0.0
        i += 1
      }
      var dMin = Double.PositiveInfinity
      var p = 0
      while (p < k) {
        val base = (j * k + p) * sub
        var d2 = 0.0
        i = 0
        while (i < sub) {
          val diff = xs(i) - cb(base + i)
          d2 += diff * diff
          i += 1
        }
        if (!java.lang.Double.isFinite(d2)) VectorFunctions.round6Jvm(d2)
        dist(p) = d2
        if (d2 < dMin) dMin = d2
        p += 1
      }
      val cut = dMin + VectorFunctions.round6Margin(dMin)
      var best = 0
      var bestD = Double.PositiveInfinity
      p = 0
      while (p < k) {
        if (dist(p) <= cut) {
          val r = VectorFunctions.round6Jvm(dist(p))
          if (r < bestD) { bestD = r; best = p }
        }
        p += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** JVM twin of [[encode]] for driver-side vectors: the same loop. */
  def encodeJvm(v: Array[Double], cb: Array[Double], m: Int, sub: Int, k: Int): Array[Int] =
    encodeArr(UnsafeArrayData.fromPrimitiveArray(v), cb, m, sub, k)

  /** Per-query ADC lookup table: `lut[j·k + p] = <q_j, c_{j,p}>`,
    * sequential i-order dots — m·k·sub multiplies on the driver (a
    * 64-dim/8×16 config is 1,024 — microseconds). */
  def lutJvm(q: Array[Double], cb: Array[Double], m: Int, sub: Int, k: Int): Array[Double] = {
    val lut = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      var p = 0
      while (p < k) {
        val base = (j * k + p) * sub
        var s = 0.0
        var i = 0
        while (i < sub) {
          val qi = j * sub + i
          val qv = if (qi < q.length) q(qi) else 0.0
          s += qv * cb(base + i)
          i += 1
        }
        lut(j * k + p) = s
        p += 1
      }
      j += 1
    }
    lut
  }

  /** ADC score for one stored code row: Σ_j `lut[j·k + codes_j]` —
    * j-ascending summation (the order the SQL twin replays). */
  def adc(codes: ArrayData, lut: Array[Double], k: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) { s += lut(j * k + codes.getInt(j)); j += 1 }
    s
  }
}

/** pq_encode(vec): array<int> of m centroid ids under a fixed flat
  * codebook — the ingest-side half of the PQ path. Runs fused in the
  * scan-project stage; the codebook rides along as one reference
  * object (k·d doubles, ≤ a few KB).
  */
case class PqEncode(child: Expression, cb: Array[Double],
                    m: Int, sub: Int, k: Int) extends UnaryExpression {
  require(m > 0 && sub > 0 && k > 0 && cb.length == m * sub * k,
    s"codebook must hold m*k*sub doubles (${m * sub * k}), got ${cb.length}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(in: Any): Any =
    Pq.encode(in.asInstanceOf[ArrayData], cb, m, sub, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
      s"${ev.value} = graft.functions.Pq.encode($x, $cbRef, $m, $sub, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_adc(codes): double ADC score under a fixed per-query lookup
  * table — m array reads per row, no per-dimension arithmetic. The hot
  * scan of the PQ read path.
  */
case class PqAdcScore(child: Expression, lut: Array[Double], k: Int)
    extends UnaryExpression {
  require(k > 0 && lut.length % k == 0, "lut length must be m*k")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(in: Any): Any =
    Pq.adc(in.asInstanceOf[ArrayData], lut, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val lutRef = ctx.addReferenceObj("pqLut", lut, "double[]")
      s"${ev.value} = graft.functions.Pq.adc($x, $lutRef, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqFunctions {

  /** PQ codes for a vector column under `cb` (flat layout, see [[Pq]]). */
  def pqEncode(vec: Column, cb: Array[Double], m: Int, sub: Int, k: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(vec.cast("array<double>")), cb, m, sub, k))

  /** ADC score for a codes column under a per-query lut. */
  def pqAdc(codes: Column, lut: Array[Double], k: Int): Column =
    Bridge.column(PqAdcScore(Bridge.expression(codes.cast("array<int>")), lut, k))
}
