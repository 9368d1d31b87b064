package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.CurationStream

/** Streaming-curation scale rehearsal (VERDICT r6 ask #7): the
  * [[CurationStream.curateBatch]] contract is per-batch cost
  * O(batch + candidate pairs), NEVER O(curated corpus). This tool
  * measures it: seed curated state at two sizes (sf0.1 ≈ 5k docs and
  * sf1-shaped ≈ 10× via [[ScaleUp.replicate]]), then time identical
  * fresh micro-batches against each. Flat probe times across a 10×
  * state are the empirical pin recorded in BASELINE.md.
  *
  * Usage: StreamBench [sfDir] [probeBatches] [probeSize]
  * Prints one JSON line:
  * {"<seedN>":{"seed_sec":…,"probe_secs":[…]}, …}
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nProbes = args.lift(1).map(_.toInt).getOrElse(5)
    val probeSize = args.lift(2).map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_SCOPED=1: run the x-factor rehearsal through the
    // tenant-scoped identity (scope column on seeds AND probes) — the
    // controlled comparison isolating what scoping itself costs
    val scoped = sys.env.contains("SPARK_GRAFT_SCOPED")
    def withScope(df: org.apache.spark.sql.DataFrame) =
      if (scoped) df.withColumn("scope", lit("org_bench")) else df
    val base = withScope(graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id").as("id"),
        concat(col("text"), lit(".")).as("text")))

    // distinct synthetic filler (60 unique hex words per doc): bulks
    // the curated STATE without tripping the near-dup drop — a
    // replica-salted corpus would (correctly) dedup back to 1× and the
    // state would never grow. Both states also seed the real sf docs,
    // so identical probe batches hit identical candidate sets and the
    // only variable is state size.
    def synthetic(n: Long) = withScope(spark.range(n)
      .select((col("id") + 5000000000L).as("id"),
        concat(concat_ws(" ", transform(sequence(lit(1), lit(60)),
          j => substring(md5(concat(col("id"), lit("_"), j)), 1, 8))),
          lit(".")).as("text")))

    // SPARK_GRAFT_LONGRUN=<nBatches>: the hands-off endurance run —
    // N micro-batches through curateBatch with AUTO-compaction on
    // (threshold SPARK_GRAFT_AUTOCOMPACT, default 40 delta files) and
    // NO manual maintenance. The pin: probe times stay flat (no
    // creeping per-batch cost from accumulating delta files or leaked
    // blocks) and the keys-table file count stays bounded (compaction
    // genuinely fires and absorbs). Batches that trigger a compaction
    // include its O(state) cost — visible as periodic spikes, not a
    // trend.
    sys.env.get("SPARK_GRAFT_LONGRUN").foreach { nStr =>
      val nBatches = nStr.toInt
      val threshold = sys.env.getOrElse("SPARK_GRAFT_AUTOCOMPACT", "40").toInt
      val cfg = CurationStream.Cfg(autoCompactMinDeltaFiles = threshold)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_longrun").toString
      CurationStream.curateBatch(base, stateDir, cfg) // real-corpus seed
      def keysFiles(): Int = {
        val d = new java.io.File(s"$stateDir/keys")
        Option(d.listFiles).map(_.count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))).getOrElse(0)
      }
      def persistedRdds(): Int = spark.sparkContext.getPersistentRDDs.size
      val rows = (1 to nBatches).map { i =>
        // 80% batch-unique synthetic docs (the state must actually
        // GROW for compaction to have deltas to absorb) + 20%
        // near-dups of the seeded corpus (the LSH + Jaccard drop path
        // runs every batch)
        val fresh = withScope(spark.range(probeSize * 4L / 5)
          .select((lit(7000000000L) + lit(i.toLong * 100000L) + col("id")).as("id"),
            concat(concat_ws(" ", transform(sequence(lit(1), lit(40)),
              j => substring(md5(concat(col("id"), lit(s"_lr${i}_"), j)), 1, 8))),
              lit(" end.")).as("text")))
        val nearDups = withScope(base.limit(probeSize / 5)
          .select((col("id") + 8000000000L + i.toLong * 1000000L).as("id"),
            concat(col("text"), lit(s" longrun batch $i suffix ends.")).as("text")))
        val probe = fresh.unionByName(nearDups)
        val t = time { CurationStream.curateBatch(probe, stateDir, cfg) }
        (t, keysFiles(), persistedRdds())
      }
      val gen = CurationStream.readStateManifest(spark, stateDir)
        .map(_.gen).getOrElse(0)
      // deep-generation pins (the ≥5-generation soak): only the
      // one-flip-grace pair v_{n-1}/v_n may remain on disk, the lease
      // must be released (no lock file), and the tier memo must hold
      // only the LIVE generation's frames (≤3 — eager eviction on
      // supersede, not LRU aging)
      val tierDirs = Option(new java.io.File(s"$stateDir/_compacted")
        .listFiles).map(_.filter(_.isDirectory).map(_.getName).sorted.toSeq)
        .getOrElse(Nil)
      val lockLeft =
        new java.io.File(s"$stateDir/_compaction.lock").exists()
      println(s"""{"longrun":{"batches":$nBatches,"threshold":$threshold,""" +
        s""""compactions":$gen,"max_keys_files":${rows.map(_._2).max},""" +
        s""""final_keys_files":${rows.last._2},""" +
        s""""max_persisted_rdds":${rows.map(_._3).max},""" +
        s""""tier_dirs":[${tierDirs.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""lock_left":$lockLeft,""" +
        s""""tier_memo_entries":${CurationStream.tierMemoSize},""" +
        s""""probe_secs":[${rows.map(r => f"${r._1}%.2f").mkString(",")}]}}""")
      spark.stop()
      return
    }

    // SPARK_GRAFT_FACTORS=1,10,100 overrides the state sizes; the
    // default pair reproduces the r7 pin. COMPACT_STATE mode (below)
    // wants the biggest state it can seed.
    val factors = sys.env.get("SPARK_GRAFT_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 10))
    // SPARK_GRAFT_PRUNE_MIN overrides the tier-prune engagement
    // threshold for the probe batches (0 = always prune) — the knob
    // the prune-crossover rehearsal sweeps
    val probeCfg = sys.env.get("SPARK_GRAFT_PRUNE_MIN")
      .map(b => CurationStream.Cfg(statePruneMinBytes = b.toLong))
      .getOrElse(CurationStream.Cfg())
    val results = factors.map { factor =>
      val nBase = base.count()
      val stateDir = java.nio.file.Files
        .createTempDirectory(s"graft_streambench_$factor").toString
      val seedSec = time {
        if (factor > 1)
          CurationStream.curateBatch(synthetic(nBase * (factor - 1)), stateDir)
        CurationStream.curateBatch(base, stateDir)
      }
      val seedN = spark.read.parquet(s"$stateDir/docs").count()
      // fresh probe batches: ids far above every seeded id, texts
      // salted per batch — near-dup-ish of corpus content, so the LSH
      // delta path and Jaccard verification genuinely run
      def probeRound(tag: String) = (1 to nProbes).map { i =>
        val probe = withScope(base.limit(probeSize)
          .select((col("id") + 9000000000L + i.toLong * 1000000L +
            (if (tag == "c") 500000L else 0L)).as("id"),
            concat(col("text"),
              lit(s" probe batch $tag$i distinct suffix ends.")).as("text")))
        time { CurationStream.curateBatch(probe, stateDir, probeCfg) }
      }
      val probes = probeRound("")
      // SPARK_GRAFT_COMPACT_STATE=1: compact the state into the
      // bucket-partitioned tier, then probe again — the delta between
      // the two probe rounds is what per-batch bucket pruning saves at
      // this state size (plus the one-time O(state) compaction cost)
      val compacted =
        if (!sys.env.contains("SPARK_GRAFT_COMPACT_STATE")) None
        else {
          val cSec = time { CurationStream.compactState(spark, stateDir) }
          Some((cSec, probeRound("c")))
        }
      (factor, seedN, seedSec, probes, compacted)
    }

    val json = results.map { case (f, n, s, ps, c) =>
      s""""x$f":{"seed_docs":$n,"seed_sec":${f"$s%.2f"},""" +
        s""""probe_secs":[${ps.map(p => f"$p%.2f").mkString(",")}]""" +
        c.map { case (cs, cps) =>
          s""","compact_sec":${f"$cs%.2f"},""" +
            s""""probe_secs_compacted":[${cps.map(p => f"$p%.2f").mkString(",")}]"""
        }.getOrElse("") + "}"
    }.mkString("{", ",", "}")
    println(json)

    // curate→serve composed rehearsal (SPARK_GRAFT_SERVE=1): the
    // CurationStream.curateToServeStream batch body — curate the batch
    // against the cumulative state, index the survivors into the
    // serving store — timed at two serving-store sizes. Both per-batch
    // terms are individually pinned flat (curation: above; ingest: the
    // since-removed ServeBench); this pins their COMPOSITION, where a
    // hidden cross-term (e.g. a survivor join against the store) would
    // surface as growth in store size.
    if (sys.env.contains("SPARK_GRAFT_SERVE")) {
      val serveResults = Seq(500, 2000).map { n =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_streamserve_$n").toString
        val svc = new graft.serve.QueryService(spark, root)
        val stateDir = java.nio.file.Files
          .createTempDirectory(s"graft_streamserve_state_$n").toString
        val seed = graft.Tables(spark, sfDir, "documents").limit(n)
          .select(concat(lit("doc_"), col("doc_id"), lit(".md")).as("filename"),
            concat(col("text"), lit(".")).as("text"),
            lit("org_bench").as("organization_id"))
        svc.ingestBatch(seed)
        // seed SCOPED (same tenant as the probes): scoped and unscoped
        // identities don't mix — an unscoped seed would leave the
        // probes zero corpus candidates and the rehearsal would time a
        // strictly lighter workload than production
        CurationStream.curateBatch(
          graft.Tables(spark, sfDir, "documents").limit(n)
            .select(col("doc_id").as("id"),
              concat(col("text"), lit(".")).as("text"),
              lit("org_bench").as("scope")),
          stateDir)
        val probes = (1 to 3).map { i =>
          // 20 fresh docs per probe: half near-dup-ish of seeded
          // content (the curation drop path runs), half unique salted
          val probe = graft.Tables(spark, sfDir, "documents")
            .filter(col("doc_id") % 97 === i).limit(20)
            .select(
              concat(lit(s"probe_${i}_"), col("doc_id"), lit(".md")).as("filename"),
              when(col("doc_id") % 2 === 0,
                concat(col("text"), lit(s". probe $i tail line.")))
                .otherwise(concat(lit(s"unique probe $i payload "),
                  md5(concat(col("doc_id"), lit(i))), lit(" "), col("text"),
                  lit(s" salted $i."))).as("text"),
              lit("org_bench").as("organization_id"))
          time {
            // the curateToServeStream batch body verbatim: survivors
            // (tenant-scoped) → serve ingest → deferred state commit
            val withId = probe.withColumn("id",
              xxhash64(col("organization_id"), col("filename"), col("text")))
            val out = CurationStream.curateSurvivorsDeferred(
              withId.select(col("id"), col("text"),
                col("organization_id").as("scope")), stateDir)
            if (out.n > 0) {
              val keep = withId.join(broadcast(out.survivors.select(col("id"))),
                Seq("id"), "left_semi").drop("id")
              svc.ingestBatch(keep); ()
            }
            out.commit()
            out.release()
          }
        }
        n -> probes
      }
      println(serveResults.map { case (n, ps) =>
        s""""serve_$n":{"probe_secs":[${ps.map(p => f"$p%.2f").mkString(",")}]}"""
      }.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
