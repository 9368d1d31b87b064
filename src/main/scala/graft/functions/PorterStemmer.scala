package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The Porter stemming algorithm (M.F. Porter, 1980 — the published
  * original), as the reference's optional BM25 tokenizer stage
  * (`src/storage/bm25_store.py:73-75,97-98`; NLTK's PorterStemmer with
  * its default extensions differs from the paper in a few suffix rules
  * — this implementation follows the paper and is the engine's single
  * definition for both the JVM and the column form). Off by default,
  * exactly as in the reference, so index/oracle token streams are
  * unchanged unless a caller opts in.
  */
object PorterStemmer {

  /** Stem one lowercase word. Words of length ≤ 2 pass through. */
  def stem(s: String): String = {
    if (s == null || s.length <= 2) return s
    val st = new State(s.toCharArray)
    st.run()
    new String(st.b, 0, st.k + 1)
  }

  /** UTF8String adapter: the `porter_stem` kernel ([[Kernels]]), so the
    * column, JVM and codegen paths are one implementation. */
  def stemUTF8(s: UTF8String): UTF8String =
    UTF8String.fromString(stem(s.toString))

  private final class State(val b: Array[Char]) {
    var k: Int = b.length - 1
    private var j: Int = 0

    private def cons(i: Int): Boolean = b(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => if (i == 0) true else !cons(i - 1)
      case _ => true
    }

    /** Measure of the stem b[0..j]: number of VC sequences. */
    private def m(): Int = {
      var n = 0
      var i = 0
      while (i <= j && cons(i)) i += 1
      if (i > j) return n
      i += 1
      while (true) {
        while (i <= j && !cons(i)) i += 1
        if (i > j) return n
        i += 1
        n += 1
        while (i <= j && cons(i)) i += 1
        if (i > j) return n
        i += 1
      }
      n
    }

    private def vowelInStem(): Boolean = {
      var i = 0
      while (i <= j) { if (!cons(i)) return true; i += 1 }
      false
    }

    private def doublec(i: Int): Boolean =
      i >= 1 && b(i) == b(i - 1) && cons(i)

    /** consonant-vowel-consonant ending, last consonant not w/x/y. */
    private def cvc(i: Int): Boolean = {
      if (i < 2 || !cons(i) || cons(i - 1) || !cons(i - 2)) return false
      val ch = b(i)
      ch != 'w' && ch != 'x' && ch != 'y'
    }

    private def ends(s: String): Boolean = {
      val l = s.length
      val o = k - l + 1
      if (o < 0) return false
      var i = 0
      while (i < l) { if (b(o + i) != s.charAt(i)) return false; i += 1 }
      j = k - l
      true
    }

    private def setTo(s: String): Unit = {
      val l = s.length
      var i = 0
      while (i < l) { b(j + 1 + i) = s.charAt(i); i += 1 }
      k = j + l
    }

    private def r(s: String): Unit = if (m() > 0) setTo(s)

    /** Step 1a/1b: plurals and -ed/-ing. */
    private def step1(): Unit = {
      if (b(k) == 's') {
        if (ends("sses")) k -= 2
        else if (ends("ies")) setTo("i")
        else if (b(k - 1) != 's') k -= 1
      }
      if (ends("eed")) { if (m() > 0) k -= 1 }
      else if ((ends("ed") || ends("ing")) && vowelInStem()) {
        k = j
        if (ends("at")) setTo("ate")
        else if (ends("bl")) setTo("ble")
        else if (ends("iz")) setTo("ize")
        else if (doublec(k)) {
          k -= 1
          val ch = b(k)
          if (ch == 'l' || ch == 's' || ch == 'z') k += 1
        } else if (m() == 1 && cvc(k)) setTo("e")
      }
    }

    /** Step 1c: y → i when a vowel precedes. */
    private def step2(): Unit =
      if (ends("y") && vowelInStem()) b(k) = 'i'

    /** Step 2 (paper): double suffixes → single. */
    private def step3(): Unit = {
      if (k == 0) return
      (b(k - 1): @annotation.switch) match {
        case 'a' =>
          if (ends("ational")) r("ate")
          else if (ends("tional")) r("tion")
        case 'c' =>
          if (ends("enci")) r("ence")
          else if (ends("anci")) r("ance")
        case 'e' =>
          if (ends("izer")) r("ize")
        case 'l' =>
          if (ends("abli")) r("able")
          else if (ends("alli")) r("al")
          else if (ends("entli")) r("ent")
          else if (ends("eli")) r("e")
          else if (ends("ousli")) r("ous")
        case 'o' =>
          if (ends("ization")) r("ize")
          else if (ends("ation")) r("ate")
          else if (ends("ator")) r("ate")
        case 's' =>
          if (ends("alism")) r("al")
          else if (ends("iveness")) r("ive")
          else if (ends("fulness")) r("ful")
          else if (ends("ousness")) r("ous")
        case 't' =>
          if (ends("aliti")) r("al")
          else if (ends("iviti")) r("ive")
          else if (ends("biliti")) r("ble")
        case _ =>
      }
    }

    /** Step 3 (paper): -ic-, -full, -ness etc. */
    private def step4(): Unit =
      (b(k): @annotation.switch) match {
        case 'e' =>
          if (ends("icate")) r("ic")
          else if (ends("ative")) r("")
          else if (ends("alize")) r("al")
        case 'i' =>
          if (ends("iciti")) r("ic")
        case 'l' =>
          if (ends("ical")) r("ic")
          else if (ends("ful")) r("")
        case 's' =>
          if (ends("ness")) r("")
        case _ =>
      }

    /** Step 4 (paper): strip -ant, -ence etc. when m > 1. */
    private def step5(): Unit = {
      if (k == 0) return
      val matched = (b(k - 1): @annotation.switch) match {
        case 'a' => ends("al")
        case 'c' => ends("ance") || ends("ence")
        case 'e' => ends("er")
        case 'i' => ends("ic")
        case 'l' => ends("able") || ends("ible")
        case 'n' => ends("ant") || ends("ement") || ends("ment") || ends("ent")
        case 'o' => (ends("ion") && j >= 0 && (b(j) == 's' || b(j) == 't')) || ends("ou")
        case 's' => ends("ism")
        case 't' => ends("ate") || ends("iti")
        case 'u' => ends("ous")
        case 'v' => ends("ive")
        case 'z' => ends("ize")
        case _ => false
      }
      if (matched && m() > 1) k = j
    }

    /** Step 5 (paper): tidy final -e and double -ll. */
    private def step6(): Unit = {
      j = k
      if (b(k) == 'e') {
        val a = m()
        if (a > 1 || (a == 1 && !cvc(k - 1))) k -= 1
      }
      if (b(k) == 'l' && doublec(k) && m() > 1) k -= 1
    }

    def run(): Unit = {
      step1(); step2(); step3(); step4(); step5(); step6()
    }
  }
}
