package graft.functions

import org.apache.spark.sql.Column

/** Deterministic feature-hash embedder (I9 stand-in for the reference's
  * BGE model, `src/embeddings/dense_embedder.py:27-78`, per SURVEY §7
  * design stance): tokens → signed hash buckets → L2-normalized
  * array<double>. bucket = h mod dim, sign from bit 7 of h. Normalized
  * like the reference (`normalize_embeddings=True`), so cosine ≡ dot.
  * One loop ([[embedHashes]]) serves the codegen'd column kernel and
  * the driver-side query embedding; the same formula is expressible in
  * DuckDB for oracle checks.
  */
object EmbedFunctions {
  /** Column form: token-hash array → normalized dim-dimensional embedding. */
  def featureHashEmbed(hashes: Column, dim: Int): Column =
    Kernels.featureHashEmbed(hashes, dim)

  /** Driver-side twin for embedding query strings (same arithmetic as
    * the kernel + the portable hash56). */
  def embedQuery(tokens: Seq[String], dim: Int): Array[Double] =
    embedHashes(tokens.map(TextFunctions.hash56Jvm).toArray, dim)

  /** The embedding of a token-hash array. */
  def embedHashes(hs: Array[Long], dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      // floorMod: negative inputs must not index out of bounds (the
      // public wrapper accepts any array<bigint>)
      val b = java.lang.Math.floorMod(h, dim.toLong).toInt
      v(b) += (if (((h >> 7) & 1L) == 1L) 1.0 else -1.0)
      i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    // divide (not multiply-by-reciprocal): keeps the doubles bit-identical
    // with the SQL oracle's x / sqrt(S)
    if (norm > 0) {
      val s = math.sqrt(norm)
      j = 0
      while (j < dim) { v(j) /= s; j += 1 }
    }
    v
  }
}
