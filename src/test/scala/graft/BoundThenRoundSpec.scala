package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.functions.{Pq, PqFunctions, VectorFunctions}

/** The PQ encode and IVF assign kernels round to 6 dp only the
  * candidates inside [[VectorFunctions.round6Margin]] of the raw
  * best. That is exact: on every input they agree with the naive rule
  * that rounds every candidate — codes, assignments, the rounded dot,
  * and the exception a NaN or ±Inf distance throws. The inputs are
  * built to sit where a margin too tight would show: near ties that
  * straddle 6-dp rounding boundaries, all-equal codebooks, magnitudes
  * whose ulp exceeds 1e-7, k not a power of two, vectors shorter than
  * the codebook (zero padding). */
class BoundThenRoundSpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(3000).withInitialSeed(Seed(20261019L))
  private def check(p: Prop): Unit = assert(SCTest.check(params, p).passed)
  // column checks run a job per case
  private val sparkParams = SCTest.Parameters.default
    .withMinSuccessfulTests(20).withInitialSeed(Seed(20261019L))
  private def checkSpark(p: Prop): Unit = assert(SCTest.check(sparkParams, p).passed)

  // ---- naive references: round every candidate --------------------------

  /** Per subspace, the first pid with the strictly smallest rounded
    * squared distance; dims past the vector's end read as 0. */
  private def naiveEncode(v: Array[Double], cb: Array[Double],
                          m: Int, sub: Int, k: Int): Seq[Int] =
    (0 until m).map { j =>
      var best = 0
      var bestD = Double.PositiveInfinity
      for (p <- 0 until k) {
        var d2 = 0.0
        for (i <- 0 until sub) {
          val xi = j * sub + i
          val diff = (if (xi < v.length) v(xi) else 0.0) - cb((j * k + p) * sub + i)
          d2 += diff * diff
        }
        val r = VectorFunctions.round6Jvm(d2)
        if (r < bestD) { bestD = r; best = p }
      }
      best
    }

  /** Max rounded dot over the min-length prefix, ties → larger cid. */
  private def naiveAssign(v: Array[Double], cvecs: Array[Array[Double]],
                          cids: Array[Long]): (Double, Long) = {
    var bestDot = Double.NegativeInfinity
    var bestCid = Long.MinValue
    for (c <- cvecs.indices) {
      var s = 0.0
      for (i <- 0 until math.min(v.length, cvecs(c).length)) s += v(i) * cvecs(c)(i)
      val d = VectorFunctions.round6Jvm(s)
      if (c == 0 || d > bestDot || (d == bestDot && cids(c) > bestCid)) {
        bestDot = d
        bestCid = cids(c)
      }
    }
    (bestDot, bestCid)
  }

  /** Same value, or the same exception class and message. */
  private def agree[A](got: => A, want: => A): Boolean = (Try(got), Try(want)) match {
    case (Success(a), Success(b)) => a == b
    case (Failure(a), Failure(b)) => a.getClass == b.getClass && a.getMessage == b.getMessage
    case _ => false
  }

  // ---- generators ------------------------------------------------------

  /** `n` values on one 6-dp rounding boundary (…5e-7) of a magnitude
    * from 0 to 1e12, each moved by 0, by ±1e-7…1e-6 or by a few ulps. */
  private def nearTies(n: Int): Gen[Array[Double]] = for {
    mag <- Gen.oneOf(0.0, 1.0, 37.0, 1e9, 3.3e10, 1e12)
    steps <- Gen.choose(0L, 1000000L)
    offs <- Gen.listOfN(n, Gen.frequency(
      2 -> Gen.const(0.0),
      5 -> Gen.choose(-10, 10).map(_ * 1e-7),
      3 -> Gen.choose(-4, 4).map(u => u * 1e-300)))
  } yield {
    val centre = mag + steps * 1e-6 + 5e-7
    // an offset below 1e-290 encodes a count of ulps
    offs.toArray.map(o =>
      if (math.abs(o) < 1e-290) centre + math.rint(o / 1e-300) * math.ulp(centre)
      else centre + o)
  }

  private def vec(n: Int, scale: Double): Gen[Array[Double]] =
    Gen.listOfN(n, Gen.choose(-scale, scale)).map(_.toArray)

  private val nonFinite = Gen.oneOf(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity)

  /** Put a NaN or ±Inf at a random index of one of `arrs`. */
  private def poison(arrs: Array[Double]*): Gen[Unit] = for {
    which <- Gen.choose(0, arrs.size - 1)
    bad <- nonFinite
    at <- Gen.choose(0, math.max(0, arrs(which).length - 1))
  } yield if (arrs(which).nonEmpty) arrs(which)(at) = bad

  private final case class PqCase(v: Array[Double], cb: Array[Double],
                                  m: Int, sub: Int, k: Int) {
    override def toString: String =
      s"PqCase(m=$m, sub=$sub, k=$k, v=${v.toSeq}, cb=${cb.toSeq})"
  }

  private val pqCase: Gen[PqCase] = for {
    m <- Gen.choose(1, 4)
    sub <- Gen.choose(1, 4)
    k <- Gen.frequency(6 -> Gen.choose(1, 19), 1 -> Gen.const(256))
    len <- Gen.frequency(3 -> Gen.const(m * sub), 1 -> Gen.choose(0, m * sub))
    kind <- Gen.choose(0, 3)
    x <- vec(len, 2.0)
    cs <- kind match {
      // near ties: entry p of subspace j sits sqrt(t_p) from x along
      // the subspace's first dim, so its squared distance is ~t_p
      case 0 => Gen.listOfN(m, nearTies(k)).map { ts =>
        val xp = java.util.Arrays.copyOf(x, m * sub)
        val cb = new Array[Double](m * k * sub)
        for (j <- 0 until m; p <- 0 until k; i <- 0 until sub)
          cb((j * k + p) * sub + i) = xp(j * sub + i) +
            (if (i == 0) math.sqrt(math.max(0.0, ts(j)(p))) else 0.0)
        cb
      }
      // all-equal: every entry of a subspace is the same centroid
      case 1 => vec(m * sub, 2.0).map { c =>
        Array.tabulate(m * k * sub) { f => val j = f / (k * sub); c(j * sub + f % sub) }
      }
      case _ => Gen.oneOf(2.0, 1e5).flatMap(vec(m * k * sub, _))
    }
    _ <- if (kind == 3) poison(x, cs) else Gen.const(())
  } yield PqCase(x, cs, m, sub, k)

  private final case class IvfCase(v: Array[Double], cvecs: Array[Array[Double]],
                                   cids: Array[Long]) {
    override def toString: String =
      s"IvfCase(v=${v.toSeq}, cvecs=${cvecs.map(_.toSeq).toSeq}, cids=${cids.toSeq})"
  }

  private val ivfCase: Gen[IvfCase] = for {
    k <- Gen.frequency(6 -> Gen.choose(1, 19), 1 -> Gen.const(128))
    dim <- Gen.choose(1, 6)
    kind <- Gen.choose(0, 3)
    sign <- Gen.oneOf(1.0, -1.0)
    cvecs <- kind match {
      // near ties: with v = (1, 0, …) the dot IS t_c
      case 0 => nearTies(k).map(_.map(t => Array(sign * t) ++ Array.fill(dim - 1)(0.0)))
      case 1 => vec(dim, 2.0).map(c => Array.fill(k)(c.clone()))
      case _ => Gen.listOfN(k, Gen.choose(0, dim + 1).flatMap(vec(_, 3.0)))
        .map(_.toArray)
    }
    v <- if (kind == 0) Gen.const(Array(1.0) ++ Array.fill(dim - 1)(0.0))
         else Gen.choose(0, dim + 1).flatMap(vec(_, 3.0))
    order <- Gen.long.map(s => new scala.util.Random(s).shuffle((0 until k).toList))
    _ <- if (kind == 3) poison(v +: cvecs.toSeq: _*) else Gen.const(())
  } yield IvfCase(v, cvecs, order.map(_ * 7L - 20L).toArray)

  // ---- JVM properties --------------------------------------------------

  test("Pq.encodeJvm equals per-candidate rounding on adversarial inputs") {
    check(Prop.forAll(pqCase) { c =>
      agree(Pq.encodeJvm(c.v, c.cb, c.m, c.sub, c.k).toSeq,
        naiveEncode(c.v, c.cb, c.m, c.sub, c.k))
    })
  }

  test("ivf_assign kernel equals per-centroid rounding on adversarial inputs") {
    check(Prop.forAll(ivfCase) { c =>
      agree({
        val r = graft.functions.IvfAssignKernel.eval(
          org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(c.v),
          c.cvecs, c.cids)
        (r.getDouble(0), r.getLong(1))
      }, naiveAssign(c.v, c.cvecs, c.cids))
    })
  }

  test("a NaN or Inf distance throws the naive rule's exception") {
    val v = Array(0.5, Double.NaN, 1.0, 2.0)
    val cb = Array.tabulate(2 * 3 * 2)(_ * 0.25)
    val got = Try(Pq.encodeJvm(v, cb, 2, 2, 3))
    assert(got.failed.toOption.exists(_.isInstanceOf[NumberFormatException]), got)
    assert(agree(Pq.encodeJvm(v, cb, 2, 2, 3).toSeq, naiveEncode(v, cb, 2, 2, 3)))
    val cv = Array(Array(1.0, 2.0), Array(Double.PositiveInfinity, 0.0))
    assert(agree(naiveAssign(Array(1.0, 1.0), cv, Array(3L, 4L)), {
      val r = graft.functions.IvfAssignKernel.eval(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(Array(1.0, 1.0)), cv, Array(3L, 4L))
      (r.getDouble(0), r.getLong(1))
    }))
  }

  // ---- column properties -----------------------------------------------

  /** The root cause of a failed Spark action. */
  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  private def agreeColumn[A](got: => A, want: => A): Boolean = (Try(got), Try(want)) match {
    case (Success(a), Success(b)) => a == b
    case (Failure(a), Failure(b)) => rootCause(a).getClass == b.getClass
    case _ => false
  }

  test("column pq_encode equals per-candidate rounding") {
    checkSpark(Prop.forAll(Gen.listOfN(12, pqCase.map(_.v)), pqCase) { (more, c) =>
      val rows = (c.v +: more.map(_.take(c.m * c.sub))).map(_.toSeq)
      agreeColumn(
        rows.toDF("vec")
          .select(PqFunctions.pqEncode(col("vec"), c.cb, c.m, c.sub, c.k))
          .collect().map(_.getSeq[Int](0)).toSeq,
        rows.map(r => naiveEncode(r.toArray, c.cb, c.m, c.sub, c.k)))
    })
  }

  test("column ivf_assign equals per-centroid rounding") {
    checkSpark(Prop.forAll(Gen.listOfN(12, ivfCase.map(_.v)), ivfCase) { (more, c) =>
      val rows = (c.v +: more).map(_.toSeq)
      agreeColumn(
        rows.toDF("vec")
          .select(VectorFunctions.ivfAssign(col("vec"), c.cids.toSeq,
            c.cvecs.map(_.toSeq).toSeq).as("a"))
          .select(col("a.cdot"), col("a.cid"))
          .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq,
        rows.map(r => naiveAssign(r.toArray, c.cvecs, c.cids)))
    })
  }
}
