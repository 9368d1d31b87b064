package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Scalar kernels for the vector-retrieval core.
  *
  * The reference engine delegates these to Qdrant: cosine/dot similarity
  * for dense retrieval (reference `src/storage/vector_store.py:230-273`,
  * normalized embeddings so cosine == dot, `src/embeddings/
  * dense_embedder.py:55-74`) and MaxSim late interaction for multi-vector
  * retrieval (`src/embeddings/colpali_embedder.py:136-169`,
  * `src/storage/vector_store.py:384-394`). Here they are static kernel
  * methods called from whole-stage codegen ([[Kernels]]), so the
  * scoring loop runs fused inside the scan-project stage — no UDF
  * boxing, no shuffle, no row materialization between filter and score.
  */
object VectorKernels {

  /** dot(a, b): Σ a_i * b_i over array<double> (the column helper casts
    * its inputs). Length mismatch uses min length. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** cosine(a, b) = dot / (||a|| * ||b||); 0.0 when either norm is 0. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** hyperplane_buckets(vec, tables, bits): array<long> of `tables` LSH
    * bucket ids for random-hyperplane (sign) LSH over array<double>.
    * Hyperplane p (p = table*bits + bit) has deterministic ±1 components
    * w_p[j] = ((((p+1)*2654435761 + (j+1)*40503) >> 13) & 1)*2 − 1, so
    * the same buckets are computable in plain integer SQL (DuckDB twin in
    * [[VectorFunctions.hyperplaneBucketSql]]). Bucket bit i of table t is
    * set iff dot(vec, w_{t*bits+i}) > 0 (sequential-order summation —
    * bit-for-bit reproducible). Cosine-similar vectors collide with high
    * probability; the retrieval path (operators.AnnKnn) equi-joins on
    * (table, bucket) instead of scanning the corpus. Replaces the
    * reference's HNSW role (`src/storage/vector_store.py:136-146`).
    * One loop with the driver-side [[VectorFunctions.hyperplaneBucketsJvm]]. */
  def hyperplaneBuckets(x: ArrayData, tables: Int, bits: Int): ArrayData =
    new GenericArrayData(VectorFunctions.hyperplaneBucketsJvm(x.toDoubleArray(), tables, bits))

  /** Deterministic feature-hash embedding of a token-hash array — see
    * [[EmbedFunctions.embedHashes]]. */
  def featureHashEmbed(hs: ArrayData, dim: Int): ArrayData =
    new GenericArrayData(EmbedFunctions.embedHashes(hs.toLongArray(), dim))
}

/** IVF coarse-assignment kernel: nearest centroid by max ROUNDED dot
  * (6 dp, ties → larger cid) — the fused codegen form of
  * `array_max(transform(typedLit(cents), c => struct(round(dot(vec,
  * c.cvec), 6), c.cid)))`, one call per row of every IVF and IVF-PQ
  * index build. Replication notes:
  *
  *  - the dot is [[VectorKernels.dot]]'s min-length loop;
  *  - the comparison is on dots rounded HALF_UP to 6 dp, because 6-dp
  *    ties decide assignments (two dots that round equal tie → larger
  *    cid, exactly as array_max's struct ordering broke them), and the
  *    returned `cdot` is the winner's rounded dot;
  *  - bound-then-round: all k raw dots first, then only the centroids
  *    within [[VectorFunctions.round6Margin]] of the raw maximum are
  *    rounded (usually one) — exact, since any other dot rounds
  *    strictly below the maximum's round. A NaN or ±Inf dot is rounded
  *    where it occurs and throws `BigDecimal.valueOf`'s
  *    `NumberFormatException`, as a per-centroid round would;
  *  - double compare via `>` / `==` — rounded values are finite and
  *    BigDecimal rounding never yields -0.0 or NaN, so the primitive
  *    compare equals Spark's SQL double ordering on this domain. */
object IvfAssignKernel {
  /** The `ivf_assign` kernel: the nearest centroid of `t`. */
  def assign(vec: ArrayData, t: Centroids): InternalRow =
    eval(vec, t.cvecArray, t.cidArray)

  def eval(vec: ArrayData, cvecs: Array[Array[Double]],
           cids: Array[Long]): InternalRow = {
    val k = cvecs.length
    val dots = new Array[Double](k)
    var maxDot = java.lang.Double.NEGATIVE_INFINITY
    var c = 0
    while (c < k) {
      val cv = cvecs(c)
      val n = java.lang.Math.min(vec.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += vec.getDouble(i) * cv(i); i += 1 }
      if (!java.lang.Double.isFinite(s)) VectorFunctions.round6Jvm(s)
      dots(c) = s
      if (s > maxDot) maxDot = s
      c += 1
    }
    val cut = maxDot - VectorFunctions.round6Margin(maxDot)
    var bestDot = java.lang.Double.NEGATIVE_INFINITY
    var bestCid = java.lang.Long.MIN_VALUE
    var first = true
    c = 0
    while (c < k) {
      if (dots(c) >= cut) {
        val d = VectorFunctions.round6Jvm(dots(c))
        if (first || d > bestDot || (d == bestDot && cids(c) > bestCid)) {
          bestDot = d
          bestCid = cids(c)
          first = false
        }
      }
      c += 1
    }
    InternalRow(bestDot, bestCid)
  }
}

/** dot_i64(arr, w): Σ arr_i · w_i over array<bigint> against a LITERAL
  * long vector — the codegen form of the classifier margin's
  * `aggregate(zip_with(feats, array(w:_*), _*_), 0L, _+_)`, whose
  * lambda pair evaluated interpreted per bin per row per epoch.
  * Null-propagation matches the fold exactly: a length mismatch
  * (zip_with's null padding × / + null) or a null element poisons the
  * result to null. Plain JVM long arithmetic — the products are
  * count × weight magnitudes (≪ 2^63) by the classifier's
  * construction. */
object DotI64Kernel {
  def eval(x: ArrayData, weights: Longs): java.lang.Long = {
    val w = weights.array
    if (x.numElements() != w.length) return null
    var s = 0L
    var i = 0
    while (i < w.length) {
      if (x.isNullAt(i)) return null
      s += x.getLong(i) * w(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}

/** maxsim(query, doc): Σ over query rows of max over doc rows of
  * dot(queryRow, docRow) — ColPali late interaction (reference
  * `src/embeddings/colpali_embedder.py:136-169`). Inputs are
  * array<array<double>>; an empty doc side contributes 0. [[packF32]]
  * also packs the driver-side HNSW shards.
  */
object MaxSim {
  import org.apache.spark.unsafe.Platform

  // Both sides are unpacked to primitive double[][] ONCE per row and
  // the hot triple loop runs on plain arrays: the naive per-pair
  // `getArray` form allocates an ArrayData wrapper per (query patch ×
  // doc patch) — 33k/page at the real 32×1030 ColPali shape — and its
  // virtual per-element reads defeat JIT vectorization (measured 5×
  // slower on the maxsim_stress bench).
  def maxsim(q: ArrayData, d: ArrayData): Double = compute(toMatrix(q), toMatrix(d))

  /** pack_f32(patches, dim): row-major float32 binary packing of an
    * array<array<double>> patch matrix — the write-side half of the
    * packed page-store layout. At the real ColPali shape the nested
    * parquet layout costs ~20× the MaxSim math in decode alone (per-
    * element offset/definition levels over 132k values/page); a single
    * binary cell decodes as one blob and halves the bytes (f32 vs f64).
    */
  def packMatrix(m: ArrayData, dim: Int): Array[Byte] = packF32(toMatrix(m), dim)

  /** maxsim_f32(q, packed, dim): [[maxsim]] where the doc side is a
    * [[packMatrix]] binary cell. Scores differ from the f64 form only by
    * f32 rounding of the stored patches (≈1e-7 relative). */
  def maxsimF32(q: ArrayData, d: Array[Byte], dim: Int): Double =
    computePacked(toMatrix(q), d, dim)

  def toMatrix(a: ArrayData): Array[Array[Double]] = {
    val n = a.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) { out(i) = a.getArray(i).toDoubleArray(); i += 1 }
    out
  }

  def compute(q: Array[Array[Double]], d: Array[Array[Double]]): Double = {
    var total = 0.0
    var qi = 0
    while (qi < q.length) {
      val qv = q(qi)
      var best = Double.NegativeInfinity
      var di = 0
      while (di < d.length) {
        val dv = d(di)
        val n = math.min(qv.length, dv.length)
        var s = 0.0; var i = 0
        while (i < n) { s += qv(i) * dv(i); i += 1 }
        if (s > best) best = s
        di += 1
      }
      if (d.length > 0) total += best
      qi += 1
    }
    total
  }

  /** Row-major f32 packing of a patch matrix: `rows × dim` floats,
    * native byte order (pack and score always run on the same
    * worker arch; the bytes are an interchange format only between
    * these two kernels). Short rows zero-pad, long rows truncate. */
  def packF32(m: Array[Array[Double]], dim: Int): Array[Byte] = {
    val out = new Array[Byte](m.length * dim * 4)
    var off = Platform.BYTE_ARRAY_OFFSET.toLong
    var r = 0
    while (r < m.length) {
      val row = m(r)
      var i = 0
      while (i < dim) {
        Platform.putFloat(out, off,
          if (i < row.length) row(i).toFloat else 0.0f)
        off += 4; i += 1
      }
      r += 1
    }
    out
  }

  /** MaxSim against a [[packF32]]-packed doc side: one blob read per
    * page instead of per-patch array decode — the layout the page
    * store uses at scale. */
  def computePacked(q: Array[Array[Double]], d: Array[Byte], dim: Int): Double = {
    val rows = d.length / (4 * dim)
    val base = Platform.BYTE_ARRAY_OFFSET.toLong
    var total = 0.0
    var qi = 0
    while (qi < q.length) {
      val qv = q(qi)
      val n = math.min(qv.length, dim)
      var best = Double.NegativeInfinity
      var r = 0
      while (r < rows) {
        val rowOff = base + r.toLong * dim * 4
        var s = 0.0; var i = 0
        while (i < n) { s += qv(i) * Platform.getFloat(d, rowOff + i * 4); i += 1 }
        if (s > best) best = s
        r += 1
      }
      if (rows > 0) total += best
      qi += 1
    }
    total
  }
}

/** reshape_rows(vec, rows, width): array<array<double>> — the flat
  * vector cut into `rows` consecutive `width`-wide patch rows in one
  * codegen pass. Replaces `transform(sequence(0, rows-1), p ->
  * slice(vec, p*width + 1, width))`, whose slice lambda ran
  * INTERPRETED per patch per row (one boxed copy per patch). Exact
  * slice semantics: a row past the vector's end is an empty array, a
  * partial row truncates, null elements pass through. */
object ReshapeRowsKernel {
  def eval(vec: ArrayData, rows: Int, width: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](rows)
    var p = 0
    while (p < rows) {
      val start = p * width
      val end = math.min(start + width, n)
      if (start >= n) out(p) = new GenericArrayData(new Array[Any](0))
      else {
        var hasNull = false
        var i = start
        while (i < end && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
        if (!hasNull) {
          val row = new Array[Double](end - start)
          var j = start
          while (j < end) { row(j - start) = vec.getDouble(j); j += 1 }
          out(p) = new GenericArrayData(row)
        } else {
          val row = new Array[Any](end - start)
          var j = start
          while (j < end) {
            if (!vec.isNullAt(j))
              row(j - start) = java.lang.Double.valueOf(vec.getDouble(j))
            j += 1
          }
          out(p) = new GenericArrayData(row)
        }
      }
      p += 1
    }
    new GenericArrayData(out)
  }
}

object VectorFunctions {
  /** Exact dot product as a codegen'd Column. */
  def dot(a: Column, b: Column): Column = Kernels.dot(a, b)

  /** Σ arr_i · w_i against a literal long vector — see [[DotI64Kernel]]. */
  def dotI64(arr: Column, w: Seq[Long]): Column = Kernels.dotI64(arr, Longs(w))

  /** Nearest-centroid struct(cdot, cid) against a literal quantizer —
    * see [[IvfAssignKernel]]. */
  def ivfAssign(vec: Column, cids: Seq[Long], cvecs: Seq[Seq[Double]]): Column =
    Kernels.ivfAssign(vec, Centroids(cids, cvecs))

  /** Cosine similarity as a codegen'd Column. */
  def cosine(a: Column, b: Column): Column = Kernels.cosine(a, b)

  /** ColPali MaxSim late-interaction score as a codegen'd Column. */
  def maxsim(q: Column, d: Column): Column = Kernels.maxsim(q, d)

  /** Row-major f32 binary packing of a patch matrix — the write side
    * of the packed page-store layout (see [[MaxSim.packMatrix]]). */
  def packF32(patches: Column, dim: Int): Column = Kernels.packF32(patches, dim)

  /** MaxSim where the doc side is a [[packF32]]-packed binary cell. */
  def maxsimF32(q: Column, packed: Column, dim: Int): Column =
    Kernels.maxsimF32(q, packed, dim)

  /** Flat vector → `rows`×`width` patch matrix in one codegen pass —
    * the replacement for the interpreted per-patch slice lambda. See
    * [[ReshapeRowsKernel]]; parity pinned in AnnRecallSpec. */
  def reshapeRows(v: Column, rows: Int, width: Int): Column =
    Kernels.reshapeRows(v, rows, width)

  /** Random-hyperplane LSH bucket ids (one per table) as a codegen'd
    * Column: array<long> of length `tables` (see
    * [[VectorKernels.hyperplaneBuckets]]). */
  def hyperplaneBuckets(v: Column, tables: Int, bits: Int): Column =
    Kernels.hyperplaneBuckets(v, tables, bits)

  /** JVM twin of [[hyperplaneBuckets]] for driver-side query vectors
    * (byte-identical to the column/codegen forms) — lets the ANN store
    * read path compute its probe buckets without a Spark job and turn
    * them into a static partition filter. */
  def hyperplaneBucketsJvm(v: Array[Double], tables: Int, bits: Int): Array[Long] =
    hyperplaneMarginsJvm(v, tables, bits).map { ms =>
      var bucket = 0L
      var i = 0
      while (i < bits) { if (ms(i) > 0) bucket |= (1L << i); i += 1 }
      bucket
    }

  /** Per-plane signed margins for a query vector — the projection
    * values whose signs form [[hyperplaneBucketsJvm]]'s buckets.
    * `out(t)(i)` is plane (t·bits+i)'s projection; |margin| near zero
    * marks the bits most likely to disagree between a query and its
    * true neighbors — exactly the bits multi-probe LSH flips first. */
  def hyperplaneMarginsJvm(v: Array[Double], tables: Int,
                           bits: Int): Array[Array[Double]] = {
    val out = Array.ofDim[Double](tables, bits)
    var t = 0
    while (t < tables) {
      var i = 0
      while (i < bits) {
        val p = t * bits + i
        var s = 0.0
        var j = 0
        while (j < v.length) {
          val w = ((((p + 1) * 2654435761L + (j + 1) * 40503L) >> 13) & 1L) * 2L - 1L
          s += v(j) * w
          j += 1
        }
        out(t)(i) = s
        i += 1
      }
      t += 1
    }
    out
  }

  /** JVM twin of [[dot]] — same left-to-right accumulation order as
    * the codegen kernel, so results are bit-identical. Used by the
    * driver-side ANN probe selection (ranking a k-row quantizer must
    * agree with the column form to the last ulp, or probe sets drift
    * between the JVM and SQL twins). */
  def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** JVM twin of Spark's `round(x, scale)` on a double: BigDecimal
    * HALF_UP — NOT banker's rounding, which `math.rint` would give —
    * and NaN and ±Inf passed through unchanged, as Spark passes them. */
  def roundJvm(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x else halfUp(x, scale)

  /** [[roundJvm]] to 6 dp on a finite double; a NaN or ±Inf throws
    * `BigDecimal.valueOf`'s `NumberFormatException`, which the PQ
    * encode and IVF assign kernels raise where a non-finite distance
    * occurs. */
  def round6Jvm(x: Double): Double = halfUp(x, 6)

  private def halfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** How far above a raw minimum (below a raw maximum) a candidate can
    * lie and still round-6 ([[round6Jvm]]) to the same value: 2e-6 plus
    * eight ulps of `x`. Beyond it the candidate rounds strictly past
    * `round6Jvm(x)`, so an argmin/argmax over rounded values needs to
    * round only the candidates inside — exact, not approximate:
    *
    *  - `round6Jvm` is monotone: `Double.toString` (the decimal behind
    *    `BigDecimal.valueOf`) rounds back to its double, so it is
    *    strictly monotone, and HALF_UP to 6 dp and the correctly
    *    rounded `doubleValue` are non-decreasing;
    *  - it moves a value by at most 5e-7 plus half an ulp on each side
    *    of the decimal: the decimal lies within half an ulp of x, the
    *    6-dp round moves it by ≤ 5e-7, `doubleValue` by ≤ half an ulp;
    *  - so two values that round equal lie within 1e-6 plus a few ulps
    *    of each other, and by monotonicity a value farther away rounds
    *    strictly apart.
    *
    * The 2e-6 leaves slack for the ulps of values up to ~1e-6 away and
    * for the addition that forms the cut. */
  def round6Margin(x: Double): Double = 2e-6 + 8 * java.lang.Math.ulp(x)

  /** DuckDB-SQL twin of [[hyperplaneBuckets]] for one table id `t`
    * (a BIGINT SQL expression/column reference), over a DOUBLE[] column
    * expression `vec` of dimension `dim`. */
  def hyperplaneBucketSql(vec: String, t: String, dim: Int, bits: Int): String =
    s"""CAST(list_sum(list_transform(range($bits), i ->
       |  CASE WHEN list_dot_product($vec, list_transform(range($dim), j ->
       |    CAST(((((($t*$bits + i) + 1)*2654435761 + (j+1)*40503) >> 13) & 1)*2 - 1 AS DOUBLE))) > 0
       |  THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin.replaceAll("\n\\s*", " ")
}
