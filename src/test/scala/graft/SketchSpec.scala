package graft

import org.apache.spark.sql.functions._

import graft.functions.{EmbedFunctions, HashFunctions, TextFunctions, VectorFunctions}
import graft.operators.{AnnKnn, Dedup, DenseKnn}

/** Sketch-kernel properties: MinHash estimates Jaccard, SimHash Hamming
  * tracks similarity, feature-hash embeddings behave like normalized
  * vectors. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def hashCol = transform(col("toks"), t => TextFunctions.hash56(t) % TextFunctions.P31)

  test("identical docs ⇒ identical minhash signature; estimate tracks jaccard") {
    val a = (1 to 60).map(i => s"tok$i")
    val b = (1 to 48).map(i => s"tok$i") ++ (100 to 111).map(i => s"tok$i") // 80% shared
    val df = Seq(("a1", a), ("a2", a), ("b", b)).toDF("id", "toks")
    val sigs = Dedup.minhashSignatures(df, "id", "toks", 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a1") == sigs("a2"))
    val agree = sigs("a1").zip(sigs("b")).count { case (x, y) => x == y } / 64.0
    // true 3-shingle jaccard of a vs b ≈ (46)/(58+46-46+12)=~0.65; estimate within 0.25
    assert(agree > 0.35 && agree < 0.95)
  }

  test("simhash: identical ⇒ hamming 0; disjoint ⇒ large hamming") {
    val a = (1 to 50).map(i => s"alpha$i")
    val c = (1 to 50).map(i => s"gamma$i")
    val df = Seq(("x", a), ("y", a), ("z", c)).toDF("id", "toks")
    val sh = Dedup.simhashTable(df, "id", "toks")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sh("x") == sh("y"))
    assert(java.lang.Long.bitCount(sh("x") ^ sh("z")) > 5)
  }

  test("feature-hash embed: kernel and driver twin agree; unit norm") {
    val toks = Seq("payment", "terms", "invoice", "date")
    val df = Seq(Tuple1(toks)).toDF("toks")
    val v = df.select(EmbedFunctions.featureHashEmbed(
        transform(col("toks"), t => TextFunctions.hash56(t)), 64).as("v"))
      .head().getSeq[Double](0)
    val w = EmbedFunctions.embedQuery(toks, 64)
    assert(v.zip(w).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("hash56 JVM twin matches the column form") {
    val df = Seq("alpha", "beta", "payment").toDF("s")
    val got = df.select(col("s"), TextFunctions.hash56(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (s, h) => assert(h == TextFunctions.hash56Jvm(s)) }
  }

  test("exact dedup groups duplicates with canonical min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val groups = Dedup.exactGroups(df, "id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_dups") == 2)
    assert(groups.head.getAs[Long]("canonical_id") == 1)
  }

  test("hammingPairs pigeonhole: 100% recall for dist<=6, incl. top-byte flips") {
    val base = 0x5A5A5A5AL
    val rows = Seq(
      (1L, base),
      (2L, base ^ 0xE0000000L),      // 3 bits flipped, ALL in the top byte
      (3L, base ^ 0x80000001L),      // 2 bits flipped, straddles ends
      (4L, base ^ 0x7F000000L),      // 7 bits flipped -> beyond maxDist
      (5L, base ^ 0x00003F40L))      // 7 bits flipped -> beyond maxDist
    val pairs = Dedup.hammingPairs(rows.toDF("id", "simhash"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number]("hamming").intValue).toMap
    // the old single-top-byte bucket missed (1,2); pigeonhole must not
    assert(pairs((1L, 2L)) == 3)
    assert(pairs((1L, 3L)) == 2)
    assert(pairs((2L, 3L)) == 3) // xor = 0x60000001
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((1L, 5L)))
    // no duplicate pair rows despite multi-block agreement
    val all = Dedup.hammingPairs(rows.toDF("id", "simhash"), 6).collect()
    assert(all.map(r => (r.getLong(0), r.getLong(1))).distinct.length == all.length)
  }

  test("hammingPairs 56-bit: 8-bit blocks, recall across every block boundary") {
    val base = 0x5AA55AA55AA55AL // 56-bit pattern
    val rows = Seq(
      (1L, base),
      (2L, base ^ (0x7L << 53)),   // 3 flips in the TOP block (bits 48-55)
      (3L, base ^ 0x0000001000001L), // 2 flips straddling blocks 0 and 6
      (4L, base ^ 0x7F000000000000L)) // 7 flips -> beyond maxDist
    val pairs = Dedup.hammingPairs(rows.toDF("id", "simhash"), 6, bits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number]("hamming").intValue).toMap
    assert(pairs((1L, 2L)) == 3)
    assert(pairs((1L, 3L)) == 2)
    assert(!pairs.contains((1L, 4L)))
  }

  test("simhashTable > 32 bits uses the raw 56-bit hash domain") {
    val df = Seq((1L, Seq("alpha", "beta", "gamma"))).toDF("id", "toks")
    val wide = Dedup.simhashTable(df, "id", "toks", bits = 56).collect().head.getLong(1)
    // a mod-P31 token universe would zero bits 31..55 of the sketch;
    // the raw hash56 domain populates them
    assert((wide >>> 31) != 0L, f"upper simhash bits empty: $wide%x")
    val narrow = Dedup.simhashTable(df, "id", "toks").collect().head.getLong(1)
    assert((narrow >>> 32) == 0L)
  }

  test("clusters: transitive closure with min-id representative (both paths)") {
    // 1-2, 2-3 chain; 10-11 pair; isolated pair 20-21 via reversed order
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find fast path
    val fast = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected)
    // distributed label-propagation path (threshold forced to 0)
    val dist = Dedup.clusters(pairs, driverThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // at the path boundary: with threshold t = 4, these 4 pairs resolve
    // on the driver and the same graph plus (3, 4) goes distributed
    val t = 4L
    val atT = Dedup.clusters(pairs, driverThreshold = t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atT == expected)
    val pairs5 = pairs.union(Seq((3L, 4L)).toDF("id_a", "id_b"))
    val overT = Dedup.clusters(pairs5, driverThreshold = t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overT == expected + (4L -> 1L))
  }

  test("hyperplane buckets: deterministic, bounded, equal vectors collide") {
    val vs = Seq(
      (1L, Array(0.5, -0.2, 0.8, 0.1)),
      (2L, Array(0.5, -0.2, 0.8, 0.1)), // identical to 1
      (3L, Array(-0.9, 0.4, -0.1, 0.3)))
    val df = vs.toDF("id", "v")
    val sigs = df.select(col("id"),
        VectorFunctions.hyperplaneBuckets(col("v"), 4, 6).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.values.forall(s => s.length == 4 && s.forall(b => b >= 0 && b < 64)))
    assert(sigs(1L) == sigs(2L), "identical vectors must share every bucket")
    // stable across evaluations (pure function of the input)
    val again = df.select(col("id"),
        VectorFunctions.hyperplaneBuckets(col("v"), 4, 6).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == sigs)
  }

  test("ANN topK: self-hit guaranteed; scores equal the exact dot (T2)") {
    // 20 corpus vectors: a near-duplicate cluster around the query plus noise
    val dim = 16
    def vec(seed: Int): Array[Double] = {
      val raw = Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7).abs + 0.01)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val base = vec(1)
    val rows = Seq((0L, base)) ++
      (1 to 3).map(i => (i.toLong, base.zipWithIndex.map { case (x, j) =>
        if (j == i) x * 0.9 else x })) ++
      (4 to 19).map(i => (i.toLong, vec(i)))
    val df = rows.toDF("id", "v")
    val q = df.filter(col("id") === 0L).select(col("v"))
    val ann = AnnKnn.topK(df, "id", "v", q, "v", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the query's own vector shares every bucket -> always a candidate
    assert(ann.contains(0L))
    // every returned score equals the exact dot for that id
    val exact = DenseKnn.scoreAll(df, "id", "v", q, "v")
      .select(col("id"), round(col("score"), 6).as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach { case (id, s) => assert(math.abs(s - exact(id)) < 1e-12, s"id $id") }
    // self-similarity is maximal among returned candidates
    assert(ann(0L) == ann.values.max)
  }
}
