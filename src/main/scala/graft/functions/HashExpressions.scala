package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass sketch kernels for large-scale dedup (training-data
  * pipeline ops). Both consume pre-hashed tokens/shingles (the portable
  * `TextFunctions.hashMod` 56-bit-md5-mod-2^31-1 hash) so their output
  * is reproducible by the DuckDB oracle with plain integer arithmetic.
  *
  * A HOF formulation (`transform(sequence(...), i -> array_min(...))`)
  * walks the token array k times and boxes every element; these
  * kernels do one O(n·k) / O(n·b) tight primitive loop inside
  * whole-stage codegen — the difference between hours and minutes on a
  * 100 TB dedup sweep.
  */
object SketchKernels {
  private val P = 2147483647L

  /** minhash_sig(hashes, k): array<long> of k min-hash values;
    * sig_i = min over h of ((2i+1)·h + 1299721·i + 7) mod (2^31-1).
    * Empty input ⇒ null (no signature for empty docs). */
  def minhash(hs: ArrayData, k: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < k) {
        val v = ((2L * i + 1L) * h + 1299721L * i + 7L) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** simhash(hashes, bits): long whose bit b is set iff
    * Σ_tokens (((h >> b) & 1)·2 − 1) > 0. Empty input ⇒ 0. */
  def simhash(hs: ArrayData, bits: Int): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](bits)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** hash56_map(strings[, mod]): array<long> — the portable 56-bit hash
  * ([[TextFunctions.hash56]]: first 14 hex digits of md5 as a BIGINT,
  * optionally folded mod `mod`) applied to every array element in one
  * codegen pass. Replaces `transform(arr, x -> hash56(x) [% m])`,
  * whose lambda body is INTERPRETED per element (HOF lambdas get no
  * whole-stage codegen): per token that path allocates a fresh
  * digest, renders 32 hex chars, substrings them and re-parses base
  * 16 — here one digest instance serves the whole array and the
  * value is composed directly from the first 7 digest bytes
  * (= the first 14 hex digits, by construction). Bit-identical
  * including null elements (md5(null) → null propagates) and
  * non-ASCII input (same UTF-8 bytes). This lambda was the hot
  * per-row work of the whole sketch family: minhash signatures,
  * simhash, fingerprints, classifier feature bins, hash embeddings.
  */
object Hash56MapKernel {
  def eval(arr: ArrayData, mod: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 14 hex digits of the 32-digit md5 = the top 7 bytes
        // big-endian — exactly conv(substring(md5hex, 1, 14), 16, 10)
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        out(i) = java.lang.Long.valueOf(if (mod > 0) v % mod else v)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** hash56(str): the scalar twin of [[Hash56MapKernel]] — one 56-bit
  * portable hash composed directly from the first 7 md5 digest bytes.
  * The column program it replaces (`conv(substring(md5(c), 1, 14),
  * 16, 10)`) is whole-stage-codegen'd but still renders all 32 hex
  * chars, substrings them and re-parses base 16 PER ROW; sites
  * include the per-shingle contamination passes, the HLL value hash,
  * the postings term-block router and the DSIR bucket hash.
  * Bit-identical by the same construction Hash56MapKernel's parity
  * spec pins (top 7 digest bytes big-endian = first 14 hex digits). */
object Hash56OneKernel {
  def eval(s: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes)
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v
  }
}

/** band_keys(sig, bands, rows): array<string> of `bands` LSH band keys —
  * band b is `md5(array_join(slice(sig, b*rows+1, rows), "_"))`, i.e.
  * the lowercase md5 hex of the band's signature longs rendered in
  * decimal and joined with underscores. The HOF formulation
  * (`transform(sequence(0, bands-1), b -> md5(array_join(slice(...))))`)
  * evaluated slice+join+md5 INTERPRETED per band per row; here one
  * digest instance and one StringBuilder serve all bands in a codegen
  * pass. Exact parity with the column program: slice truncates at the
  * array end (start past the end ⇒ empty band ⇒ md5 of ""), null
  * elements are skipped by the join without a delimiter (array_join
  * semantics), and long rendering matches the long→string cast. */
object BandKeysKernel {
  private val HEX = "0123456789abcdef".toCharArray
  def eval(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Any](bands)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder(rows * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var first = true
      var i = b * rows
      val end = math.min(i + rows, n)
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (!first) sb.append('_')
          sb.append(sig.getLong(i))
          first = false
        }
        i += 1
      }
      md.reset()
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = HEX((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = HEX(d(j) & 0xf)
        j += 1
      }
      out(b) = UTF8String.fromString(new String(hex))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** bloom_might_contain(hash): probe of a broadcast Bloom filter as a
  * native codegen expression. The `udf((h: Long) => bc.value
  * .mightContainLong(h))` form it replaces pays ScalaUDF overhead per
  * probed row (boxing, null wrapping, a non-codegen projection break)
  * on what is the corpus-sized hot path of bloom decontamination; this
  * expression calls the same filter through a plan reference, so the
  * per-row work is exactly one mightContainLong. Result-identical by
  * construction: same filter object, same probe method. A real
  * expression rather than a [[Kernels]] row: it dereferences the
  * broadcast per row, which a static call cannot. */
case class BloomMightContain(
    child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(in: Any): Any =
    bloom.value.mightContainLong(in.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
         |  $bcRef.value()).mightContainLong($x);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashFunctions {
  /** k-permutation min-hash signature over pre-modded hashes (see
    * [[SketchKernels.minhash]]). */
  def minhashSig(hashes: Column, k: Int): Column = Kernels.minhashSig(hashes, k)

  /** hash56 (optionally mod m) over every element of a string array —
    * the codegen replacement for `transform(arr, x -> hash56(x) % m)`.
    * See [[Hash56MapKernel]]; parity pinned in HashKernelSpec. */
  def hash56Map(arr: Column, mod: Option[Long] = None): Column =
    Kernels.hash56Map(arr, mod.getOrElse(0L))

  /** SimHash over pre-modded hashes (default 32 bits; see
    * [[SketchKernels.simhash]]). */
  def simhash(hashes: Column, bits: Int = 32): Column = Kernels.simhash(hashes, bits)

  /** LSH band keys over a minhash signature — the codegen replacement
    * for `transform(sequence(0, bands-1), b -> md5(array_join(slice(
    * sig, b*rows+1, rows), "_")))`. See [[BandKeysKernel]]; parity
    * pinned in HashKernelSpec. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    Kernels.bandKeys(sig, bands, rows)

  /** Broadcast-Bloom probe as a codegen expression — the replacement
    * for the per-row ScalaUDF form. See [[BloomMightContain]]. */
  def bloomMightContain(
      h: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContain(Bridge.expression(h.cast("bigint")), bloom))

  /** DuckDB-SQL twin of [[minhashSig]] (joined to a string for compare). */
  def minhashSigSql(hashes: String, k: Int): String =
    s"list_transform(range($k), i -> list_min(list_transform($hashes, h -> ((2*i + 1)*h + 1299721*i + 7) % 2147483647)))"

  /** DuckDB-SQL twin of [[simhash]]. */
  def simhashSql(hashes: String, bits: Int = 32): String =
    s"CAST(list_sum(list_transform(range($bits), b -> CASE WHEN list_sum(list_transform($hashes, h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)"
}
