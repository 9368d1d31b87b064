package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ingest.HierarchicalChunker
import graft.operators.{Chunker, Fusion}

/** I5 hierarchical chunking invariants + J1/A3 RRF properties. */
class ChunkerFusionSpec extends SparkSpec {
  import spark.implicits._

  val contract =
    """SERVICES AGREEMENT
      |
      |This Agreement is entered into as of January 1, 2024.
      |
      |ARTICLE 1: DEFINITIONS
      |1.1 "Company" means ABC Corporation, a Delaware corporation.
      |1.2 "Services" means the consulting services described in Exhibit A.
      |1.3 "Term" means the period from the Effective Date until termination.
      |
      |ARTICLE 2: SCOPE OF SERVICES
      |2.1 The Company shall provide Services to Client as described herein.
      |2.2 Services shall be performed in a professional manner with industry standards.
      |
      |ARTICLE 3: COMPENSATION
      |3.1 Client shall pay Company the fee of $50,000 per month.
      |3.2 Payment is due within 30 days of invoice receipt.""".stripMargin

  test("hierarchical chunker emits all levels with id conventions (I5)") {
    val chunks = new HierarchicalChunker().chunk(contract, "doc1", "org_acme")
    val byLevel = chunks.groupBy(_.level)
    assert(byLevel.contains("document"))
    assert(byLevel.contains("section"))
    assert(byLevel.contains("paragraph"))
    assert(byLevel.contains("sentence"))
    assert(chunks.exists(_.id == "doc1_doc"))
    assert(chunks.exists(_.id.matches("doc1_sec_\\d+")))
    assert(chunks.exists(_.id.matches("doc1_sec_\\d+_para_\\d+")))
    // parent links are consistent
    val ids = chunks.map(_.id).toSet
    assert(chunks.flatMap(_.parent_id).forall(ids.contains))
    // every chunk carries the tenant (unified_chunk.py:133-134)
    assert(chunks.forall(_.organization_id == "org_acme"))
    // sentences are >= 20 chars (hierarchical_chunker.py:528)
    assert(chunks.filter(_.level == "sentence").forall(_.text.length >= 20))
  }

  test("paragraph packing respects budget and overlap (I4 fallback)") {
    val paras = (1 to 10).map(i => s"Paragraph number $i with some words.")
    val packed = Chunker.paragraphPack(paras.mkString("\n\n"), 100)
    assert(packed.nonEmpty)
    // each paragraph's content appears in some chunk
    paras.foreach(p => assert(packed.exists(_.contains(p))))
    // oversize paragraph becomes its own chunk
    val big = "x" * 500
    val packed2 = Chunker.paragraphPack(s"short one\n\n$big", 100)
    assert(packed2.exists(_.contains(big)))
  }

  test("RRF hand-computed values (J1: w/(k+rank), k=60)") {
    val bm = Seq(("a", 1), ("b", 2)).toDF("id", "rank")
    val dn = Seq(("b", 1), ("c", 2)).toDF("id", "rank")
    val fused = Fusion.rrf(Seq((bm, 0.3), (dn, 0.5)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(fused("a") - 0.3 / 61) < 1e-12)
    assert(math.abs(fused("b") - (0.3 / 62 + 0.5 / 61)) < 1e-12)
    assert(math.abs(fused("c") - 0.5 / 62) < 1e-12)
  }

  test("RRF monotonicity: better rank in every list ⇒ ≥ score (property)") {
    val prop = Prop.forAll(Gen.choose(1, 50), Gen.choose(1, 50)) { (r1: Int, r2: Int) =>
      val better = 0.3 / (60 + math.min(r1, r2)) + 0.5 / (60 + math.min(r1, r2))
      val worse = 0.3 / (60 + math.max(r1, r2)) + 0.5 / (60 + math.max(r1, r2))
      better >= worse
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("driver RRF twin equals fuseTopK row for row, rounding included (property)") {
    // "x\uFF21" and "x\uD835\uDD38" (U+1D538) order one way by UTF-8
    // bytes (Spark) and the other by UTF-16 units (String.compareTo)
    val ids = Seq("a", "b", "c", "d", "e", "x", "x\uFF21", "x\uD835\uDD38")
    def spark(ms: Seq[(Seq[(String, Int)], Double)], limit: Int): Seq[(String, Double)] =
      Fusion.fuseTopK(ms.map { case (l, w) => (l.toDF("id", "rank"), w) }, limit)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // an equal-score tie settled by that id order
    val tie = Seq((Seq("x\uD835\uDD38" -> 1, "a" -> 2), 0.5), (Seq("x\uFF21" -> 1), 0.5))
    assert(Fusion.fuseTopKLocal(tie, 3).map(_._1) == Seq("x\uFF21", "x\uD835\uDD38", "a"))
    assert(Fusion.fuseTopKLocal(tie, 3) == spark(tie, 3))

    // ranked lists: distinct ids per list, overlapping across lists,
    // repeated ranks, weights including 0
    val list: Gen[Seq[(String, Int)]] = for {
      n <- Gen.choose(0, ids.size)
      picked <- Gen.pick(n, ids)
      ranks <- Gen.listOfN(n, Gen.choose(1, 8))
    } yield picked.toSeq.zip(ranks)
    val methods = Gen.choose(2, 3).flatMap(m =>
      Gen.listOfN(m, Gen.zip(list, Gen.oneOf(0.0, 0.2, 0.3, 0.5, 1.0))))
    val prop = Prop.forAll(methods, Gen.choose(1, 10)) { (ms, limit) =>
      Fusion.fuseTopKLocal(ms, limit) == spark(ms, limit)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop).passed)
  }

  test("semantic strategy breaks at topic shifts; sentence strategy is budget-only (I4)") {
    import graft.ingest.SemanticChunker
    val a1 = "Spark shuffle moves data between partitions across the cluster."
    val a2 = "Shuffle partitions determine how data spreads across the cluster."
    val b1 = "Pasta sauce needs garlic tomatoes basil and fresh olive oil."
    val b2 = "Simmer the tomatoes garlic and basil gently in olive oil."
    val text = Seq(a1, a2, b1, b2).mkString(" ")
    val semantic = SemanticChunker.chunk(text, "semantic")
    val sentence = SemanticChunker.chunk(text, "sentence")
    // semantic: boundary at the topic switch; sentence: one budget group
    assert(semantic == Seq(s"$a1 $a2", s"$b1 $b2"))
    assert(sentence == Seq(text))
    assert(semantic != sentence)
  }

  test("SDPM skip-window merge re-joins a topic split by a digression (I4)") {
    import graft.ingest.SemanticChunker
    val a1 = "Spark shuffle moves data between partitions across the cluster."
    val a2 = "Shuffle partitions determine how data spreads across the cluster."
    val b = "Pasta sauce needs garlic tomatoes basil and fresh olive oil."
    val a3 = "Partition counts tune how shuffle data moves across the cluster."
    val text = Seq(a1, a2, b, a3).mkString(" ")
    val semantic = SemanticChunker.chunk(text, "semantic")
    val sdpm = SemanticChunker.chunk(text, "sdpm")
    assert(semantic.size == 3) // [a1 a2], [b], [a3]
    assert(sdpm == Seq(text)) // skip-window merge absorbs the digression
    assert(sdpm != semantic)
  }

  test("strategy router covers every quality tier label (I4)") {
    import graft.ingest.{QualityAnalyzer, SemanticChunker}
    val text = "Spark shuffle moves data between partitions across the cluster. " +
      "Shuffle partitions determine how data spreads across the cluster."
    for (strategy <- QualityAnalyzer.strategyMap.values.toSeq.distinct) {
      val chunks = SemanticChunker.chunk(text, strategy)
      assert(chunks.nonEmpty, s"strategy $strategy")
      // every strategy preserves all content words in order
      assert(chunks.mkString(" ").split("\\s+").toSeq ==
        text.split("\\s+").toSeq, s"strategy $strategy")
    }
  }

  test("token windows cover all tokens with the configured overlap") {
    val toks = (1 to 100).map(i => s"t$i")
    val df = Seq(("d", toks)).toDF("doc_id", "toks")
    val chunks = Chunker.tokenWindows(df, "doc_id", "toks", 32, 8)
      .orderBy($"chunk_index").collect()
    // stride 24: starts 0,24,48,72 → 4 chunks; last covers t73..t100
    assert(chunks.length == 4)
    assert(chunks.map(_.getLong(2)).take(3).forall(_ == 32L))
    val lastText = chunks.last.getString(3)
    assert(lastText.endsWith("t100"))
    assert(lastText.startsWith("t73"))
  }
}
