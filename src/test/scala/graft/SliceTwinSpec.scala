package graft

import org.apache.spark.sql.functions.{col, lit, round, typedLit}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.functions.VectorFunctions
import graft.operators.{BM25, Quantize}

/** The driver legs of the tenant-slice path score with JVM twins of
  * the column forms the Spark legs use, so their rounded scores must
  * be equal bit for bit: the BM25 term score rounded to 4 dp and the
  * int8 score rounded to 6 dp. Inputs sit where a twin that computes
  * in another order or rounds another way would show: results on
  * 4-dp and 6-dp rounding boundaries, document lengths far from the
  * average and averages near zero or huge, repeated query terms. Each
  * case compares a batch of rows in one job. */
class SliceTwinSpec extends SparkSpec {
  import spark.implicits._
  import SliceTwinSpec._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(12).withInitialSeed(Seed(20261021L))
  private def check(p: Prop): Unit = assert(SCTest.check(params, p).passed)

  /** A value on a `dp`-place rounding boundary (…5 at place dp+1) of a
    * magnitude up to 10^mag, or a random value, moved by a few ulps. */
  private def boundary(dp: Int, mag: Int): Gen[Double] = for {
    digits <- Gen.choose(0L, math.pow(10, dp + mag).toLong)
    onEdge <- Gen.oneOf(true, true, false)
    ulps <- Gen.choose(-3, 3)
    sign <- Gen.oneOf(1.0, -1.0)
  } yield {
    val x = if (onEdge) (digits + 0.5) / math.pow(10, dp) else digits / math.pow(10, dp) * 1.37
    sign * (x + ulps * math.ulp(x))
  }

  private def termFactor(p: Posting): Double =
    BM25.termScoreJvm(1.0, p.tf, p.dl, p.avgdl, p.qcount)

  /** A posting whose score is aimed at a 4-dp boundary through its idf. */
  private val posting: Gen[Posting] = for {
    tf <- Gen.frequency(4 -> Gen.choose(1L, 8L), 1 -> Gen.choose(9L, 5000L))
    dl <- Gen.frequency(4 -> Gen.choose(1, 300), 1 -> Gen.choose(301, 1000000))
    avgdl <- Gen.oneOf(Gen.const(dl.toDouble), Gen.choose(1e-6, 1e-2),
      Gen.choose(1.0, 400.0), Gen.choose(1e5, 1e9))
    qcount <- Gen.frequency(4 -> Gen.const(1L), 1 -> Gen.choose(2L, 5L))
    target <- boundary(4, 2)
    raw <- Gen.choose(-2.0, 14.0)
    aimed <- Gen.oneOf(true, false)
  } yield {
    val p = Posting(0.0, tf, dl, avgdl, qcount)
    p.copy(idf = if (aimed) target / termFactor(p) else raw)
  }

  test("driver BM25 term score rounded to 4 dp equals the column form") {
    check(Prop.forAll(Gen.listOfN(300, posting)) { ps =>
      val df = ps.toDF()
        .select(col("idf"), col("tf"), col("dl"), col("avgdl"), col("qcount"))
      val cols = df.select(round(BM25.termScore(), 4)).as[Double].collect().toSeq
      val twin = ps.map(p => VectorFunctions.roundJvm(
        BM25.termScoreJvm(p.idf, p.tf, p.dl, p.avgdl, p.qcount), 4))
      cols == twin
    })
  }

  test("the round twin equals Spark's round on 4-dp and 6-dp boundaries") {
    check(Prop.forAll(Gen.listOfN(300, Gen.oneOf(boundary(4, 6), boundary(6, 4)))) { xs =>
      val df = xs.toDF("x")
      val got = df.select(round(col("x"), 4), round(col("x"), 6)).as[(Double, Double)].collect().toSeq
      got == xs.map(x => (VectorFunctions.roundJvm(x, 4), VectorFunctions.roundJvm(x, 6)))
    })
  }

  private val code: Gen[Double] = Gen.frequency(3 -> Gen.choose(-127, 127).map(_.toDouble),
    1 -> Gen.oneOf(-127.0, 127.0, 0.0))

  test("driver int8 score rounded to 6 dp equals the column form") {
    val dim = 64
    val query = for {
      qcodes <- Gen.listOfN(dim, code)
      qscale <- Gen.choose(1e-3, 2.0)
    } yield (qcodes.toArray, qscale)
    // a stored row whose score is aimed at a 6-dp boundary through its scale
    def row(qcodes: Array[Double], qscale: Double): Gen[Int8Row] = for {
      codes <- Gen.listOfN(dim, code)
      target <- boundary(6, 1)
      raw <- Gen.choose(0.0, 3.0)
      aimed <- Gen.oneOf(true, false)
    } yield {
      val dot = VectorFunctions.dotJvm(codes.toArray, qcodes)
      Int8Row(codes, if (aimed && dot != 0) math.abs(target * 16129.0 / (dot * qscale)) else raw)
    }
    check(Prop.forAll(query.flatMap { case (qc, qs) =>
        Gen.listOfN(200, row(qc, qs)).map(rs => (qc, qs, rs)) }) { case (qc, qs, rs) =>
      val cols = rs.toDF()
        .select(round(Quantize.dotI8(col("codes"), col("scale"), typedLit(qc.toSeq), lit(qs)), 6))
        .as[Double].collect().toSeq
      cols == rs.map(r => VectorFunctions.round6Jvm(
        Quantize.dotI8Jvm(r.codes.toArray, r.scale, qc, qs)))
    })
  }
}

object SliceTwinSpec {
  final case class Posting(idf: Double, tf: Long, dl: Int, avgdl: Double, qcount: Long)
  final case class Int8Row(codes: Seq[Double], scale: Double)
}
