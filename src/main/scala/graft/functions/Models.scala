package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pluggable model seams (reference model boundaries: BGE dense
  * embedding `src/embeddings/dense_embedder.py:27-78`, cross-encoder
  * rerank `src/retrieval/hybrid_search.py:576-625`). The engine is
  * deliberately model-free — the defaults are the deterministic
  * stand-ins per SURVEY §7 — but every model touchpoint routes through
  * these traits, so a real model (a `mapInPandas` batch UDF calling an
  * inference server, a JNI runtime, …) swaps in without touching
  * pipeline or retrieval code, and the oracle gates keep pinning the
  * default path.
  */
trait Embedder extends Serializable {
  def dim: Int

  /** Distributed form: token-array column → `array<double>` embedding.
    * Must be unit-norm (or zero) so cosine ≡ dot downstream (V1). */
  def embed(tokens: Column): Column

  /** Driver-side twin for query embedding — must compute exactly what
    * [[embed]] computes for the same tokens (the reference embeds
    * queries through the same model, `dense_embedder.py:67-74`). */
  def embedQuery(tokens: Seq[String]): Array[Double]

  /** DataFrame-level form — THE generic model boundary. The default
    * delegates to the [[embed]] column kernel (null token rows → null
    * embeddings, preserving the skip-embedding contract); model-backed
    * implementations that have no column form (an inference server, a
    * native runtime) override THIS with a `mapPartitions` batch pass
    * instead — see [[ExternalEmbedder]]. Pipelines call only this
    * method, so the swap needs no pipeline change. */
  def embedFrame(df: DataFrame, tokensCol: String, outCol: String): DataFrame =
    df.withColumn(outCol,
      when(col(tokensCol).isNull, lit(null).cast("array<double>"))
        .otherwise(embed(col(tokensCol))))
}

/** Default embedder: the codegen'd feature-hash kernel (I9 stand-in,
  * [[EmbedFunctions.featureHashEmbed]]) over portable 56-bit token hashes. */
case class FeatureHashEmbedder(dim: Int = 64) extends Embedder {
  override def embed(tokens: Column): Column =
    EmbedFunctions.featureHashEmbed(HashFunctions.hash56Map(tokens), dim)
  override def embedQuery(tokens: Seq[String]): Array[Double] =
    EmbedFunctions.embedQuery(tokens, dim)
}

/** Rerank scorer seam (V12): scores a text column against the fixed
  * query tokens; higher = better. */
trait RerankScorer extends Serializable {
  def score(text: Column, queryTokens: Seq[String]): Column
}

/** Default scorer: deterministic lexical overlap |q∩t| / |q| over
  * BM25-tokenized sets (SURVEY §7 stance — no model inference). */
object LexicalOverlapScorer extends RerankScorer {
  override def score(text: Column, queryTokens: Seq[String]): Column = {
    if (queryTokens.isEmpty) lit(0.0)
    else {
      val q = queryTokens.distinct
      size(array_intersect(
        array_distinct(TextFunctions.tokenize(text)),
        lit(q.toArray))).cast("double") / q.size
    }
  }
}
