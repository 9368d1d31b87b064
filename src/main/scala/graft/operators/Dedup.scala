package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH banding, SimHash with
  * Hamming verification, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every technique is blocked/bucketed so the candidate
  * set is a join on a small key (band hash, simhash bucket, blocking
  * column) rather than an O(n²) cross product — at 100 TB the shuffles
  * are (band_key) and (doc pair) only, and the per-doc sketches are
  * one-pass codegen'd kernels ([[graft.functions.MinHashSig]] /
  * [[graft.functions.SimHash]]).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep canonical min-id.
    * Input: (id, text). Output: (text_md5, n_dups, canonical_id,
    * max_id) for groups with >1 member. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"),
        min(col(idCol)).as("canonical_id"),
        max(col(idCol)).as("max_id"))
      .filter(col("n_dups") > 1)

  /** MinHash signatures over 3-gram shingles: (id, sig array<long>).
    * Docs with fewer than 3 tokens have no shingles and are dropped. */
  def minhashSignatures(corpus: DataFrame, idCol: String, toksCol: String,
                        k: Int, keep: Seq[String] = Nil): DataFrame = {
    val sh = TextFunctions.shingles(col(toksCol), 3)
    // hash56 % P per shingle via the codegen kernel — the transform
    // lambda form ran interpreted per element (guide §4)
    val hashes = HashFunctions.hash56Map(sh, Some(TextFunctions.P31))
    // filter on the CHEAP precondition (≥3 tokens ⇒ ≥1 shingle) before
    // computing the sketch — an isNotNull filter on sig would get
    // predicate-pushed and duplicate the whole sketch expression.
    // `keep` columns pass through row-locally (the signature is a pure
    // select) — callers that need a tenant column downstream avoid a
    // re-attach join per batch
    corpus.filter(size(col(toksCol)) >= 3)
      .select(col(idCol).as("id") +:
        HashFunctions.minhashSig(hashes, k).as("sig") +: keep.map(col): _*)
  }

  /** Explode signatures into (id, band, band_key) rows; `keep`
    * columns pass through row-locally. */
  private def banded(sigs: DataFrame, bands: Int, rows: Int,
                     keep: Seq[String] = Nil): DataFrame = {
    // codegen kernel in place of the interpreted per-band lambda
    // (guide §4); the coalesce arm preserves the old `transform`
    // null edge exactly (null sig → `bands` rows with null band_key
    // after the posexplode, not zero rows) though live callers filter
    // signatures non-null upstream
    val keys = coalesce(
      HashFunctions.bandKeys(col("sig"), bands, rows),
      array(Seq.fill(bands)(lit(null).cast("string")): _*))
    sigs.select(col("id") +: keep.map(col) :+ posexplode(keys): _*)
      .toDF(("id" +: keep :+ "band" :+ "band_key"): _*)
  }

  /** LSH banding: explode signatures into (band, band_key) buckets and
    * self-join — candidates are pairs sharing any band. bandsRows = (b
    * bands, r rows), k = b*r. */
  def lshCandidates(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    lshCandidatesStaged(sigs, bands, rows)._1

  /** [[lshCandidates]] with a handle that releases its cached band
    * table: a long-lived caller calls it once every consumer of the
    * candidates is materialized, for the reason [[jaccardVerifyStaged]]
    * gives. */
  def lshCandidatesStaged(sigs: DataFrame, bands: Int,
                          rows: Int): (DataFrame, () => Unit) = {
    // materialize before the self-join — otherwise both join sides
    // recompute the whole tokenize→shingle→minhash pipeline (at cluster
    // scale this intermediate is persisted/checkpointed the same way)
    val b = banded(sigs, bands, rows).cache()
    val cands = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    (cands, () => { b.unpersist(false); () })
  }

  /** Incremental (delta) LSH candidates: NEW-batch signatures joined
    * against the EXISTING corpus's banded index, PLUS the delta's own
    * self-join — the shape a continuously-ingesting pipeline needs,
    * where re-running the corpus×corpus self-join per batch would be
    * quadratic over time. The self-join is not optional: two near-dups
    * arriving in the SAME batch match nothing in the corpus bands yet,
    * and no later batch re-compares them — without it they both
    * survive dedup forever. The corpus side is the persisted band
    * table (append the delta's bands to it afterwards). Output
    * (id_new, id_other) pairs for [[jaccardVerify]]; id_other may be a
    * corpus id or a same-batch delta id (then id_new < id_other). */
  def lshCandidatesDelta(newSigs: DataFrame, corpusBands: DataFrame,
                         bands: Int, rows: Int): DataFrame =
    lshCandidatesDeltaBanded(banded(newSigs, bands, rows).cache(), corpusBands)

  /** [[lshCandidatesDelta]] over the delta's ALREADY-BANDED rows
    * (id, band, band_key) — the hook a caller uses to transform band
    * keys before the join: [[graft.streaming.CurationStream]]'s scoped
    * mode prefixes them with the tenant id (`scope|key`) so near-dup
    * candidates only ever pair within one tenant. The caller should
    * cache/materialize `nb`: both joins consume it. */
  def lshCandidatesDeltaBanded(nb: DataFrame,
                               corpusBands: DataFrame): DataFrame =
    lshCandidatesDeltaTagged(nb, corpusBands).drop("b_in_batch")

  /** [[lshCandidatesDeltaBanded]] with provenance: `b_in_batch` is
    * true iff `id_other` is a same-batch delta id (the intra-batch
    * self-join side) rather than a corpus id — so a caller's keep-first
    * loser rule ("corpus partner → the newcomer drops; batch partner →
    * the larger id drops") is a row-local CASE instead of a membership
    * broadcast against the batch id set (one fewer broadcast-build
    * scheduler job per micro-batch on a real cluster master). The two
    * sides can never produce the same (id_new, id_other) pair — ids
    * are globally unique across the corpus and the batch — so the
    * union-distinct is exactly [[lshCandidatesDeltaBanded]]'s. */
  def lshCandidatesDeltaTagged(nb: DataFrame,
                               corpusBands: DataFrame): DataFrame = {
    val vsCorpus = nb.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_other"),
        lit(false).as("b_in_batch"))
    val intraBatch = nb.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_other"),
        lit(true).as("b_in_batch"))
    vsCorpus.unionByName(intraBatch).distinct()
  }

  /** The corpus band table [[lshCandidatesDelta]] joins against —
    * persist this (partitioned by band) and append each batch's bands. */
  def bandTable(sigs: DataFrame, bands: Int, rows: Int,
                keep: Seq[String] = Nil): DataFrame =
    banded(sigs, bands, rows, keep)

  /** Exact Jaccard between candidate pairs over distinct 3-gram shingle
    * sets. Input candidates (id_a, id_b); corpus (id, toks).
    *
    * The shared shingle frame is CACHED (both join sides + the size
    * aggregation read it) and the cache entry lives until `release`
    * is called — fine in a bench/gate context that clears the session
    * cache between queries, but a LONG-LIVED caller (the curation
    * stream, the composed pipeline) MUST release after materializing
    * every consumer: a leaked entry is re-optimized by Spark's cache
    * manager on EVERY write to any path its plan reads (the stream's
    * own state appends), a driver-side cost that grows with leaked
    * entry count — measured +1 s per micro-batch in curate→serve
    * before the release was wired. */
  def jaccardVerifyStaged(candidates: DataFrame, corpus: DataFrame,
                          idCol: String, toksCol: String,
                          carry: Seq[String] = Nil): (DataFrame, () => Unit) = {
    val sh = corpus.select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(toksCol), 3))).as("sh"))
      .cache() // reused by both join sides + the size aggregation
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // `carry` columns on `candidates` ride through the pair aggregation
    // (they are functionally dependent on the pair — e.g. the
    // b_in_batch provenance tag) and come back on the output
    val inter = candidates
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy(("id_a" +: "id_b" +: carry).map(col): _*)
      .agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(sizes.as("za"), col("id_a") === col("za.id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.id"))
      .select(col("id_a") +: col("id_b") +: carry.map(col) :+
        (col("n_inter") / (col("za.n_sh") + col("zb.n_sh") - col("n_inter")))
          .as("jaccard"): _*)
    (out, () => { sh.unpersist(false); () })
  }

  /** [[jaccardVerifyStaged]] without the release handle — the gate /
    * one-shot form (session cache cleared between bench entries). */
  def jaccardVerify(candidates: DataFrame, corpus: DataFrame,
                    idCol: String, toksCol: String): DataFrame =
    jaccardVerifyStaged(candidates, corpus, idCol, toksCol)._1

  /** Blocked all-pairs Jaccard via the inverted shingle index: join on
    * the shingle itself (within the blocking column), count
    * co-occurrences per pair, then jaccard — cost is Σ df² per shingle
    * instead of O(pairs × shingles). Pairs sharing no shingle (jaccard
    * 0) never materialize. The scalable form of n-gram near-dup.
    *
    * `maxDf` caps the document frequency of index entries: a shingle
    * appearing in > maxDf docs of a block is dropped from the INDEX
    * (not from the per-doc sizes), bounding the per-shingle join
    * fan-out at maxDf² — without it one boilerplate shingle shared by
    * a million docs materializes 10^12 candidate rows. Hot shingles
    * carry ~no similarity signal, but technically the capped jaccard
    * is a lower bound: pairs whose overlap is ONLY hot shingles drop
    * out. Default = no cap (exact, the oracle-gated configuration). */
  def jaccardBlocked(corpus: DataFrame, idCol: String, toksCol: String,
                     blockCol: String, tau: Double,
                     maxDf: Long = Long.MaxValue): DataFrame = {
    val sh = corpus.select(col(blockCol).as("blk"), col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(toksCol), 3))).as("sh"))
      .cache()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val idx =
      if (maxDf == Long.MaxValue) sh
      else {
        // the hot set is by construction tiny (≤ vocab · blocks rows
        // survive the > maxDf filter) → broadcast anti-join, no shuffle
        val hot = sh.groupBy("blk", "sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("blk", "sh")
        sh.join(broadcast(hot), Seq("blk", "sh"), "left_anti")
      }
    val inter = idx.as("a").join(idx.as("b"),
        col("a.blk") === col("b.blk") && col("a.sh") === col("b.sh") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("id_a") === col("za.id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("n_inter") / (col("za.n_sh") + col("zb.n_sh") - col("n_inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** SimHash table: (id, simhash) over token hashes. Up to 32 bits the
    * token hashes are folded into the Mersenne-31 minhash universe; for
    * wider fingerprints the raw 56-bit hash is used directly (bits
    * 31..55 of a mod-P31 value are all zero, which would degenerate the
    * upper simhash bits). Prefer 56 bits for near-dup sweeps: at corpus
    * scale a 32-bit fingerprint pairs ~0.03% of ALL pairs within
    * Hamming 6 by pure chance (quadratic noise); at 56 bits chance
    * collisions are negligible and only true near-dups survive. */
  def simhashTable(corpus: DataFrame, idCol: String, toksCol: String,
                   bits: Int = 32): DataFrame = {
    val hashes =
      if (bits <= 32)
        HashFunctions.hash56Map(col(toksCol), Some(TextFunctions.P31))
      else HashFunctions.hash56Map(col(toksCol))
    corpus.select(col(idCol).as("id"), HashFunctions.simhash(hashes, bits).as("simhash"))
  }

  /** Pigeonhole block layout: `bits` split into `maxDist + 1` contiguous
    * blocks (widths as even as possible). Any pair within Hamming
    * distance ≤ maxDist differs in ≤ maxDist blocks, so it must agree
    * EXACTLY on at least one block — candidate recall is provably 100%.
    * Returns (offset, width) per block. */
  def pigeonholeBlocks(bits: Int, maxDist: Int): Seq[(Int, Int)] = {
    val nb = maxDist + 1
    val widths = Seq.tabulate(nb)(i => bits / nb + (if (i < bits % nb) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Near-dup pairs by Hamming distance ≤ maxDist via pigeonhole
    * blocking: union of per-block equi-joins (block id, block value)
    * followed by exact bit_count verification. Unlike a single fixed
    * bucket, this misses no pair ≤ maxDist, and each join key is
    * ~bits/(maxDist+1) bits wide so within-bucket fan-out stays tiny
    * at corpus scale (the standard simhash sharding scheme). */
  def hammingPairs(simhashes: DataFrame, maxDist: Int,
                   bits: Int = 32): DataFrame = {
    val blocks = array(pigeonholeBlocks(bits, maxDist).map { case (off, w) =>
      shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
    }: _*)
    // materialize before the self-join so both sides reuse the sketch
    val blocked = simhashes
      .select(col("id"), col("simhash"), posexplode(blocks).as(Seq("blk", "blk_val")))
      .cache()
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair may agree on several blocks
  }

  /** Connected components over a near-dup pair graph: the step a real
    * dedup pipeline ships — pairs become clusters with a canonical
    * (min-id) representative, so "keep one per cluster" is a single
    * filter. Iterative min-label propagation: each round every node
    * takes the min of its own and its neighbors' labels; converges in
    * ≤ diameter rounds. Near-dup graphs are dup-GROUPS (diameter 2-3),
    * so the round count stays tiny; a pointer-halving variant (label →
    * label-of-label self-join per round) was measured 5× slower here —
    * the extra per-round join dwarfs any round savings below diameter
    * ~8, so the simple loop is the default. Each round is one
    * equi-join + hash agg on the edge list — the scalable alternative
    * to driver-side union-find; per-round results are cached so
    * lineage stays flat (at cluster scale, checkpointed).
    * Input pairs (id_a, id_b); output (id, cluster) for every node
    * that appears in a pair. */
  def clusters(pairs: DataFrame, maxIter: Int = 20,
               driverThreshold: Long = 1000000L): DataFrame = {
    // The pair graph is the OUTPUT of near-dup filtering — orders of
    // magnitude smaller than the corpus. Below the threshold, resolve
    // components with a driver union-find over one collect of the
    // already-small edge list (exactly what a coordinator does in
    // production CC systems); the distributed label-propagation loop
    // below is the path for genuinely huge pair sets.
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq("id_a", "id_b").forall(c => pairs.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }), "clusters() requires integral id_a/id_b columns (map string ids " +
        "to a dense numeric key first, e.g. hash56 or zipWithIndex)")
    }
    // one bounded collect decides the path AND feeds the driver path:
    // at most t + 1 edges reach the driver, so t + 1 rows means "over
    // the threshold". The limit runs through the plan's RDD (a local
    // limit per partition, one single-partition shuffle) — one job
    // past the pair lineage's own stages, where `limit(n).collect()`
    // scans partitions in growing rounds, one job each
    val t = math.min(driverThreshold, Int.MaxValue - 1L).toInt
    val bounded = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit(t + 1).queryExecution
    val es = SQLExecution.withNewExecutionId(bounded, Some("collect")) {
      bounded.toRdd.map(r => (r.getLong(0), r.getLong(1))).collect()
    }
    if (es.length <= driverThreshold) return clustersDriver(pairs.sparkSession, es)
    // the distributed path reads the pairs on both union sides: cache
    // so the pair lineage runs once more, not twice
    val cached = pairs.cache()
    val edges = cached.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(cached.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    edges.count()
    cached.unpersist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).cache()
    // convergence watches sum(cluster): labels only ever decrease, so
    // the sum strictly drops until fixpoint — one single-table agg per
    // round instead of a join against the previous labels
    var curSum = labels.agg(sum(col("cluster"))).head().getLong(0)
    var converged = false
    var iter = 0
    val verbose = sys.env.contains("GRAFT_CLUSTERS_VERBOSE")
    while (!converged && iter < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("ncluster")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("ncluster")).as("ncluster"))
        .withColumnRenamed("src", "id")
      val step = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("ncluster"), col("cluster"))).as("cluster"))
      // cache keeps each round's result hot, but lineage still CHAINS
      // across rounds — an executor loss late in the loop would replay
      // every previous round. Truncate it periodically: localCheckpoint
      // materializes the labels and cuts the plan at executor storage
      // cost only (no checkpoint dir needed).
      val next =
        if ((iter + 1) % 5 == 0) step.localCheckpoint(true) else step.cache()
      val newSum = next.agg(sum(col("cluster"))).head().getLong(0)
      converged = newSum == curSum
      curSum = newSum
      labels.unpersist()
      labels = next
      iter += 1
      if (verbose)
        println(s"[clusters] round $iter sum=$newSum t=${System.nanoTime() / 1000000}")
    }
    edges.unpersist()
    if (!converged)
      // never silently return a non-fixpoint: a partially propagated
      // labeling splits one component into several "canonical" ids
      throw new IllegalStateException(
        s"clusters() did not converge in $maxIter rounds — raise maxIter " +
          "(component diameter exceeds it)")
    labels
  }

  /** The step every dedup pipeline actually ships: drop all non-
    * canonical cluster members from the corpus. `clusterLabels` is
    * [[clusters]] output (id, cluster); docs not in any cluster are
    * untouched (a doc with no near-dup never appears in a pair). The
    * non-canonical id set is |clustered docs| − |clusters| rows —
    * usually far smaller than the corpus, but on heavily duplicated
    * crawls it can be 30-50% of it, so the broadcast decision is left
    * to the planner/AQE (a forced broadcast() would OOM the driver
    * exactly when dedup matters most). */
  def keepCanonical(docs: DataFrame, idCol: String,
                    clusterLabels: DataFrame): DataFrame = {
    val losers = clusterLabels.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Driver union-find with path compression + union-by-min: the
    * small-graph fast path of [[clusters]] (same output contract:
    * (id, cluster = component min id)). */
  private def clustersDriver(spark: org.apache.spark.sql.SparkSession,
                             es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- es) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /** Embedding-cosine near-dup within blocks: pairs with cosine ≥ tau,
    * joined only inside the blocking column. General primitive — the
    * caller supplies the block; for a data-independent block use
    * [[cosinePairsLsh]] (a semantic column like `label` keeps test data
    * small but a block at corpus scale is millions of rows). */
  def cosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                  blockCol: String, tau: Double): DataFrame =
    embs.as("a").join(embs.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(VectorFunctions.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")), 6)
          .as("score"))
      .filter(col("score") >= tau)

  /** Embedding-cosine near-dup blocked on random-hyperplane LSH buckets
    * (data-INDEPENDENT key — bucket population is ~n/2^bits per table
    * regardless of label skew): candidates share ≥1 (table, bucket),
    * verified with the exact cosine kernel. Exact duplicates (cosine 1)
    * collide in every table, so dup recall is 100%; near-dups at
    * cosine ≥ 0.95 collide with ≈1−(1−0.9^bits)^tables probability.
    * The scale path for q34-style sweeps. */
  def cosinePairsLsh(embs: DataFrame, idCol: String, vecCol: String,
                     tau: Double, tables: Int = 4, bits: Int = 6): DataFrame = {
    val sig = embs.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"),
        posexplode(VectorFunctions.hyperplaneBuckets(col(vecCol), tables, bits))
          .as(Seq("tbl", "bucket")))
      .cache() // reused by both self-join sides
    sig.as("a").join(sig.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(VectorFunctions.cosine(col("a.vec"), col("b.vec")), 6).as("score"))
      .filter(col("score") >= tau)
      .distinct() // a pair may collide in several tables
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space and removing
    * ε-similar neighbors WITHIN each cluster — the technique that
    * scales pairwise semantic comparison to web corpora by never
    * comparing across clusters.
    *
    * Deterministic variant (engine-reproducible, so the DuckDB oracle
    * can replay it exactly):
    *   - centroids = the `k` corpus vectors with the smallest
    *     `md5(id)` (a hash-random sample; no Lloyd iterations whose
    *     float accumulation order could diverge between engines);
    *   - assignment = argmax of the 6-rounded cosine, ties to the
    *     smallest centroid id;
    *   - removal rule = a vector is dropped iff SOME same-cluster
    *     vector with a smaller id is ε-similar (keep-first at pair
    *     granularity; the paper keeps one random member per ε-group —
    *     min-id is the deterministic stand-in, same cardinality
    *     behavior on transitive groups of exact copies).
    *
    * Scale: the centroid table is k rows — broadcast; assignment is
    * one map-side pass (k·d flops per row, zero shuffle on the corpus
    * side); the verification join shuffles on `cluster_id` only and
    * its fan-out is bounded by the cluster size — pick k ∝ n (the
    * paper's own stance: clusters sized so within-cluster pairwise
    * work fits a worker). Reference role: the embedding near-dup pass
    * of a curation pipeline (complements [[cosinePairsLsh]], which
    * finds pairs; this one makes keep/drop decisions).
    *
    * Input: (id, vec). Output: (id, cluster_id, keep). */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
               k: Int, eps: Double): DataFrame =
    semDedupImpl(embs, idCol, vecCol, k, eps)

  /** [[semDedup]] with k derived from the corpus size — the contract
    * the scale note above states (k ∝ n keeps within-cluster pairwise
    * work constant as the corpus grows). One count action sizes
    * k = ceil(n / targetClusterSize), floored at `minK` so toy corpora
    * keep multiple clusters. Pass explicit k via [[semDedup]] only for
    * replayable gates and experiments. */
  def semDedupAuto(embs: DataFrame, idCol: String, vecCol: String,
                   eps: Double, targetClusterSize: Long = 1024L,
                   minK: Int = 8): DataFrame = {
    val n = embs.count()
    val k = math.max(minK.toLong,
      (n + targetClusterSize - 1) / targetClusterSize).min(Int.MaxValue).toInt
    semDedupImpl(embs, idCol, vecCol, k, eps)
  }

  private def semDedupImpl(embs: DataFrame, idCol: String, vecCol: String,
                           k: Int, eps: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // k-row frame: the global window after limit(k) is tiny by
    // construction (never a corpus-wide single-partition sort)
    val cents = e
      .select(col("id").as("sid"), col("vec").as("cvec"),
        md5(col("id").cast("string")).as("h"))
      .orderBy(col("h"), col("sid")).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("h"), col("sid"))).cast("long"))
      .select(col("cid"), col("cvec"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"), col("vec"),
        round(VectorFunctions.cosine(col("vec"), col("cvec")), 6).as("s"))
    // argmax via max(struct): highest score, then lowest cid — a
    // partial-aggregable reduction, no per-id window
    val assigned = scored
      .groupBy(col("id"))
      .agg(max(struct(col("s"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("id"), (-col("m.ncid")).as("cluster_id"))
    val av = assigned.join(e, "id")
    val removed = av.as("a").join(av.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.id") < col("b.id"))
      .filter(round(VectorFunctions.cosine(col("a.vec"), col("b.vec")), 6)
        >= eps)
      .select(col("b.id").as("id")).distinct()
    av.join(removed.withColumn("rm", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("rm").isNull.as("keep"))
  }
}
