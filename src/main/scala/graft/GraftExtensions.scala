package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DataType, IntegerType}

import graft.functions.Kernels

/** SQL surface for the codegen kernels (S10): registering this
  * class via `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions()(_))`)
  * makes the graft kernels callable from plain `spark.sql` — the
  * library's equivalent of the reference's REST query surface
  * (`src/api/main.py`), expressed the Spark-native way so BI tools /
  * thriftserver clients reach the same codegen'd kernels as the
  * DataFrame API. The functions are the rows of the kernel table
  * [[graft.functions.Kernels]] that carry a SQL name, built by the same
  * row as their `Column` helper:
  *
  *   SELECT graft_dot(a.emb, b.emb)            -- V1 kernel
  *   SELECT graft_maxsim(qpatches, patches)    -- A15/V2 kernel
  *   SELECT graft_minhash(hashes, 64)          -- MinHash sketch
  *   SELECT graft_simhash(hashes, 56)          -- SimHash fingerprint
  *   SELECT graft_feature_embed(hashes, 64)    -- I9 deterministic embed
  *   SELECT graft_hyperplane_buckets(emb, 4, 6)-- ANN/LSH bucket keys
  *   SELECT graft_porter_stem(term)            -- optional stemmer
  *
  * Int parameters arrive as foldable literals (the idiomatic SQL shape
  * for sketch sizes); non-literal sizes are rejected at analysis time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, usage),
        (args: Seq[Expression]) => builder(name, args)))
    }
}

object GraftExtensions {

  private def intLit(name: String, e: Expression, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name: argument ${pos + 1} must be an integer literal, got $e")
  }

  /** (name, usage, builder), one entry per kernel row with a SQL name —
    * the registry the class injects and the spec iterates. */
  val registrations: Seq[(String, String, (String, Seq[Expression]) => Expression)] =
    Kernels.all.flatMap(k => k.sql.map { sql =>
      val cols = k.inputs.length
      (sql.name, sql.usage, (n: String, args: Seq[Expression]) => {
        if (args.length != cols + sql.intArgs) throw new IllegalArgumentException(
          s"$n expects ${cols + sql.intArgs} arguments, got ${args.length}")
        val consts = args.zipWithIndex.drop(cols).map { case (e, i) => intLit(n, e, i) }
        k.call(args.take(cols).zip(k.inputs).map { case (e, t) => Cast(e, DataType.fromDDL(t)) },
          consts)
      })
    })
}
