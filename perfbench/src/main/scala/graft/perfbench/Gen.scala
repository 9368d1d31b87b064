package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every input the benchmark feeds the engine
  * comes from here, and the same seed gives byte-identical inputs: each
  * input family draws from its own stream, split off the seed by a
  * fixed salt, so adding draws to one family never shifts another.
  *
  * Text is prose-shaped (capitalised sentences of function words and
  * content words, paragraphs split by blank lines) so the quality
  * analyser routes it through hierarchical chunking rather than the
  * garbage path. Content words are synthetic, drawn per tenant with a
  * Zipf skew, so queries built from a tenant's vocabulary have real
  * BM25 and dense matches inside that tenant.
  */
final class Gen(val seed: Long) {
  import Gen._

  private def stream(salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Synthetic content-word lexicon: letters only, five or more
    * letters, no stopword, no repeats. */
  val lexicon: IndexedSeq[String] = {
    val r = stream(1)
    val stops = graft.functions.TextFunctions.stopwords.toSet
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < LexiconSize) {
      val n = 2 + r.nextInt(3)
      val w = (0 until n).map { _ =>
        Onsets(r.nextInt(Onsets.length)) + Vowels(r.nextInt(Vowels.length))
      }.mkString + Codas(r.nextInt(Codas.length))
      if (w.length >= 5 && !stops.contains(w)) seen += w
    }
    seen.toIndexedSeq
  }

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Per-tenant topic vocabularies: disjoint-ish slices of the lexicon
    * (tenants share a common pool, each adds its own topic words). */
  def tenantVocab(t: Int): IndexedSeq[String] = {
    val r = stream(100 + t)
    val own = (0 until TopicWords).map(i => lexicon(CommonWords + (t * TopicWords + i) % (LexiconSize - CommonWords)))
    val shared = (0 until 40).map(_ => lexicon(r.nextInt(CommonWords)))
    own ++ shared
  }

  /** One prose document over `vocab` (Zipf-ranked). */
  def prose(r: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf,
            paragraphs: Int): String = {
    val sb = new StringBuilder
    (0 until paragraphs).foreach { p =>
      if (p > 0) sb.append("\n\n")
      val sentences = 3 + r.nextInt(3)
      (0 until sentences).foreach { s =>
        if (s > 0) sb.append(' ')
        sb.append(sentence(r, vocab, zipf))
      }
    }
    sb.toString
  }

  def sentence(r: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf): String = {
    val n = 8 + r.nextInt(7)
    val words = (0 until n).map { i =>
      if (i % 2 == 1 && r.nextInt(3) > 0) Function(r.nextInt(Function.length))
      else vocab(zipf.draw(r))
    }
    val first = words.head
    (first.head.toUpper +: first.tail) + words.tail.map(" " + _).mkString + "."
  }

  /** Tenant sizes for `docs` documents over `tenants` tenants with a
    * Zipf(`skew`) share per tenant; every tenant holds at least 2. */
  def tenantSizes(docs: Int, tenants: Int, skew: Double): IndexedSeq[Int] = {
    val w = (1 to tenants).map(k => 1.0 / math.pow(k, skew))
    val raw = w.map(x => math.max(2, (x / w.sum * docs).toInt))
    val short = docs - raw.sum
    raw.updated(0, raw(0) + short)
  }

  def org(t: Int): String = f"org$t%02d"

  /** Serving corpus: (filename, text, organization_id) rows. */
  def servingDocs(docs: Int, tenants: Int, skew: Double,
                  salt: Long): IndexedSeq[(String, String, String)] = {
    val r = stream(1000 + salt)
    val zipf = new Zipf(TopicWords + 40, 1.0)
    tenantSizes(docs, tenants, skew).zipWithIndex.flatMap { case (n, t) =>
      val vocab = tenantVocab(t)
      (0 until n).map { i =>
        (s"s${salt}_t${t}_d$i.md", prose(r, vocab, zipf, 1 + r.nextInt(3)), org(t))
      }
    }
  }

  /** A query of 2 to 6 terms from tenant `t`'s vocabulary. */
  def query(r: SplittableRandom, t: Int): String = {
    val vocab = tenantVocab(t)
    val zipf = new Zipf(vocab.length, 1.0)
    (0 until 2 + r.nextInt(5)).map(_ => vocab(zipf.draw(r))).mkString(" ")
  }

  def rng(salt: Long): SplittableRandom = stream(salt)

  /** Curation corpus: `n` prose documents, one sentence per line, with
    * planted exact duplicates, near-duplicates (a few words changed)
    * and documents that embed a whole evaluation document. Each
    * contaminated document embeds a different evaluation document, so
    * line dedup cannot strip the planted overlap from a later copy. */
  def curateCorpus(n: Int, salt: Long): Gen.Corpus = {
    val r = stream(5000 + salt)
    val zipf = new Zipf(TopicWords + 40, 1.0)
    def lines(t: Int, paragraphs: Int): String =
      prose(r, tenantVocab(t), zipf, paragraphs).replace(". ", ".\n")
    val eval = (0 until EvalDocs).map(i => lines(i % 20, 2))
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val exact = scala.collection.mutable.LinkedHashMap.empty[Long, List[Long]]
    var near, contaminated = List.empty[Long]
    var nextEval = 0
    (0 until n).foreach { i =>
      val t = r.nextInt(20)
      val stratum = s"src${t % 5}"
      val roll = r.nextDouble()
      if (roll < ExactShare && originals.nonEmpty) {
        val o = originals(r.nextInt(originals.size))
        docs += ((i.toLong, docs(o)._2, docs(o)._3))
        exact(o.toLong) = i.toLong :: exact.getOrElse(o.toLong, Nil)
      } else if (roll < ExactShare + NearShare && originals.nonEmpty) {
        val o = originals(r.nextInt(originals.size))
        val words = docs(o)._2.split(" ")
        (0 until 2).foreach { _ =>
          val k = r.nextInt(words.length)
          if (!words(k).contains("\n")) words(k) = lexicon(r.nextInt(LexiconSize))
        }
        docs += ((i.toLong, words.mkString(" "), docs(o)._3))
        near ::= i.toLong
      } else if (roll < ExactShare + NearShare + ContamShare && nextEval < eval.size) {
        docs += ((i.toLong, lines(t, 1) + "\n" + eval(nextEval), stratum))
        nextEval += 1
        contaminated ::= i.toLong
      } else {
        originals += i
        docs += ((i.toLong, lines(t, 2 + r.nextInt(2)), stratum))
      }
    }
    Gen.Corpus(docs.toIndexedSeq, eval,
      exact.map { case (o, cs) => o :: cs }.toSeq, near.reverse, contaminated.reverse)
  }

  /** Streaming batches: `size` documents each, about 30% of every batch
    * after the first being redeliveries of earlier documents (same id,
    * same text) or near-duplicates of them under a new id. */
  def streamBatches(batches: Int, size: Int, salt: Long): IndexedSeq[IndexedSeq[(Long, String)]] = {
    val r = stream(7000 + salt)
    val zipf = new Zipf(TopicWords + 40, 1.0)
    val sent = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var nextId = 0L
    (0 until batches).map { b =>
      (0 until size).map { _ =>
        val roll = r.nextDouble()
        val doc =
          if (b > 0 && roll < 0.15) sent(r.nextInt(sent.size))
          else if (b > 0 && roll < 0.30) {
            val words = sent(r.nextInt(sent.size))._2.split(" ")
            words(r.nextInt(words.length)) = lexicon(r.nextInt(LexiconSize))
            nextId += 1; (nextId, words.mkString(" "))
          } else {
            nextId += 1
            (nextId, prose(r, tenantVocab(r.nextInt(20)), zipf, 1 + r.nextInt(2)).replace(". ", ".\n"))
          }
        sent += doc
        doc
      }.distinctBy(_._1)
    }
  }

  /** SHA-256 over every input this seed generates for `workload`. */
  def digest(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {
  final case class Corpus(docs: IndexedSeq[(Long, String, String)],
                          eval: IndexedSeq[String],
                          exactGroups: Seq[Seq[Long]],
                          near: Seq[Long], contaminated: Seq[Long]) {
    def bytes: Long = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
  }
  val ExactShare = 0.05
  val NearShare = 0.10
  val ContamShare = 0.02
  val EvalDocs = 40
  val LexiconSize = 4000
  val CommonWords = 400
  val TopicWords = 120
  private val Onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "br", "kr", "st", "pl", "tr", "gl", "sn")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
  private val Codas = Array("", "n", "r", "s", "l", "m", "nd", "rt", "sk")
  val Function = Array("the", "of", "and", "to", "in", "for", "with", "on",
    "by", "from", "that", "is", "as", "at", "an", "was", "are")
}
