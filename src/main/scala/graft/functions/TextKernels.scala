package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenizer kernel: maximal runs of non-ASCII-whitespace
  * characters, byte-identical to
  * `filter(split(trim(c), "\s+"), t => length(t) > 0)` (Java-regex
  * `\s` = the six ASCII whitespace chars; `trim`'s removed spaces only
  * ever produce empty fragments the filter drops anyway). One char
  * scan instead of a regex split per row — this feeds the langid /
  * quality / token-count / fingerprint / chunker family. */
object WsTokensKernel {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def tokenize(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[Object]()
    var i = 0
    var start = -1
    while (i <= n) {
      if (i < n && !isWs(s.charAt(i))) {
        if (start < 0) start = i
      } else if (start >= 0) {
        out.add(UTF8String.fromString(s.substring(start, i)))
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Language-ID kernel: per-language function-word hit counts + the
  * priority argmax, in one pass over the token array. Byte-identical
  * to the column program it replaced (per-language
  * `size(filter(toks, array_contains(words, t)))` + nested whens; the
  * DuckDB oracle twin is still generated from that declarative form,
  * parity pinned by spec). A token in several languages' lists counts
  * for each, exactly as the per-language filters did. */
object LangIdKernel {
  private val langs: Array[String] = TextFunctions.langWords.map(_._1).toArray
  private val wordLang: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    for ((lang, words) <- TextFunctions.langWords; w <- words) {
      val i = langs.indexOf(lang)
      val prev = m.get(w)
      m.put(w, if (prev == null) Array(i) else prev :+ i)
    }
    m
  }
  private val und = UTF8String.fromString("und")
  private val langU8: Array[UTF8String] = langs.map(UTF8String.fromString)

  def eval(toks: ArrayData): UTF8String = {
    val counts = new Array[Int](langs.length)
    var total = 0
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val tok = toks.getUTF8String(i) // null element = no hit, as in the
      val hit = if (tok == null) null else wordLang.get(tok.toString) // filter program
      if (hit != null) {
        var j = 0
        while (j < hit.length) { counts(hit(j)) += 1; total += 1; j += 1 }
      }
      i += 1
    }
    if (total == 0) return und
    // first language (priority order) whose count >= max of later ones
    var best = langs.length - 1
    var k = langs.length - 2
    while (k >= 0) {
      if (counts(k) >= counts(best)) best = k
      k -= 1
    }
    langU8(best)
  }
}

/** Word n-gram shingle kernel: one output string per start position
  * 0..len-n, each the space-join of n consecutive tokens — the codegen
  * replacement for `transform(sequence(0, size-n), i ->
  * array_join(slice(toks, i+1, n), " "))`, whose lambda re-sliced and
  * re-joined interpreted per position. Byte-identical, including the
  * column program's edges: fewer than n tokens ⇒ empty array, null
  * elements are SKIPPED by the join exactly as `array_join` skips them
  * (no doubled delimiter). Null input arrays are handled at the column
  * wrapper ([[TextFunctions.shingles]] yields an empty array there —
  * the `when(size >= n)` fall-through). */
object ShinglesKernel {
  private val space = UTF8String.fromString(" ")
  def eval(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      var first = true
      var s: UTF8String = UTF8String.EMPTY_UTF8
      var j = i
      while (j < i + n) {
        if (!toks.isNullAt(j)) {
          val t = toks.getUTF8String(j)
          s = if (first) t else UTF8String.concat(s, space, t)
          first = false
        }
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Adjacent-pair (bigram) kernel: one struct<w1,w2> per position —
  * the codegen replacement for `transform(sequence(1, size-1), i ->
  * struct(element_at(toks, i), element_at(toks, i+1)))`, whose lambda
  * boxed two element_at calls interpreted per position. Byte-identical
  * (null elements pass through as null struct fields). Arrays shorter
  * than 2 are the caller's guard (the column program's
  * `filter(size >= 2)` — sequence(1, 0) would DESCEND otherwise);
  * the kernel returns an empty array for them. */
object BigramsKernel {
  def eval(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 1)
    var prev: UTF8String = if (toks.isNullAt(0)) null else toks.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      out(i - 1) = InternalRow(prev, cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Sorted run-length statistics kernel for the repetition signals: sort
  * the array (binary order, nulls last — `array_sort`'s order), then
  * one pass computing the longest equal-run and the distinct count —
  * the codegen replacement for the interpreted `aggregate(array_sort(
  * bg), struct(prev,run,best,d), …)` fold that evaluated per element
  * (~O(shingles) lambda evals per document). Replicates the fold's
  * exact edge semantics: the initial `prev` is the EMPTY STRING (so a
  * leading "" element continues the phantom run and is not counted
  * distinct), and a null element never equals anything (run resets,
  * distinct increments), exactly as `===`'s null propagation fell
  * through to the otherwise-branch. */
object RunStatsKernel {
  def eval(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) { a(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i); i += 1 }
    // array_sort: ascending binary order, nulls last
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) =>
      if (x eq y) 0 else if (x == null) 1 else if (y == null) -1 else x.compareTo(y))
    var prev: UTF8String = UTF8String.EMPTY_UTF8
    var run = 0L; var best = 0L; var d = 0L
    i = 0
    while (i < n) {
      val x = a(i)
      val same = x != null && prev != null && x.equals(prev)
      run = if (same) run + 1 else 1L
      if (run > best) best = run
      if (!same) d += 1
      prev = x
      i += 1
    }
    InternalRow(best, d)
  }
}

/** Sorted double sum: sort ascending (java.lang.Double total order —
  * identical to `array_sort` on doubles: NaN last, -0.0 < 0.0) and
  * fold left-to-right in IEEE order — the codegen replacement for the
  * interpreted `aggregate(array_sort(xs), 0.0, (acc, x) -> acc + x)`
  * engine-stability fold (DSIR log-weights, LM logp, temperature
  * denominators). Initial accumulator 0.0 included (first op is
  * 0.0 + min). A null element poisons the sum to null exactly as the
  * fold's `acc + null` did (null sorts LAST in array_sort, so the
  * poisoned tail still nulls the total regardless of position). */
object SumSortedKernel {
  def eval(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    val a = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      a(i) = arr.getDouble(i)
      i += 1
    }
    java.util.Arrays.sort(a)
    var s = 0.0
    i = 0
    while (i < n) { s += a(i); i += 1 }
    java.lang.Double.valueOf(s)
  }
}

/** Σ length(token) kernel (code points, like `length`): the codegen
  * replacement for `aggregate(toks, 0L, (a, t) -> a + length(t))`.
  * A null element poisons the sum to null exactly as the fold's
  * `acc + null` did. */
object SumLenKernel {
  def eval(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      s += arr.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}

/** Fixed-set membership counters and the lowercase-word filter — the
  * codegen replacements for three interpreted HOF patterns:
  *
  *  - `size(filter(typedLit(set), s -> array_contains(arr, s)))`
  *    scanned the WHOLE token array once per set element (O(set ×
  *    tokens) interpreted scans per row — the Gopher stop-hits term);
  *    [[setHits]] makes one pass over the tokens against a hash set.
  *  - `size(filter(arr, x -> array_contains(lit(set), x)))` counted
  *    tokens that are set members; [[countIn]] is the same hash-set
  *    pass (the classifier's weak-label stop count).
  *  - `filter(words, w -> w.rlike("^[a-z]+$"))` ran an interpreted
  *    regex per token; [[filterLowerAlpha]] keeps non-empty all-
  *    ASCII-lowercase tokens (identical: wsTokens tokens contain no
  *    line terminators, so Java's `$` is the string end).
  *
  * Null elements are skipped exactly as each filter predicate's null
  * fell through to false. */
object SetKernels {
  def setHits(arr: ArrayData, words: Words): Long = {
    val set = words.utf8
    // one pass over the tokens building a membership set, then each
    // ORIGINAL list element tested once — duplicates in the list count
    // twice, exactly as the filter-over-literal-list program did
    val toks = new java.util.HashSet[UTF8String]()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks.add(arr.getUTF8String(i))
      i += 1
    }
    var c = 0L
    var j = 0
    while (j < set.length) {
      if (toks.contains(set(j))) c += 1
      j += 1
    }
    c
  }

  def countIn(arr: ArrayData, words: Words): Long = {
    val set = words.set
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def filterLowerAlpha(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Object](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val s = t.toString
        var ok = s.length > 0
        var j = 0
        while (ok && j < s.length) {
          val c = s.charAt(j)
          if (c < 'a' || c > 'z') ok = false
          j += 1
        }
        if (ok) out.add(t)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** count of elements containing an ASCII letter — `rlike("[a-zA-Z]")`
    * is an unanchored find, i.e. "contains". */
  def countAlpha(arr: ArrayData): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        var j = 0
        var hit = false
        while (!hit && j < s.length) {
          val ch = s.charAt(j)
          if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')) hit = true
          j += 1
        }
        if (hit) c += 1
      }
      i += 1
    }
    c
  }
}

/** Unicode NFC kernel: canonical composition via the JDK's
  * `java.text.Normalizer` — both the JVM and DuckDB's `nfc_normalize`
  * implement the Unicode-conformant NFC transform, so outputs are
  * byte-identical for any valid input (the parity foundation for the
  * text-normalization operator, [[graft.operators.Clean]]). The
  * already-normalized fast path (`isNormalized`, a scan without
  * allocation) matters because real corpora are overwhelmingly NFC. */
object NfcKernel {
  def eval(in: UTF8String): UTF8String = {
    val s = in.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) in
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** Histogram-entropy perplexity kernel — the fused codegen form of the
  * staged [[graft.operators.Curation.withPplScore]] column program
  * (sort → run-boundary filter → run-length transform → ascending
  * sort → interpreted Σ c·ln c fold → round(exp(ln n − Σ/n), 4)),
  * every stage of which evaluated HOF lambdas interpreted per element.
  * Bit-for-bit replication of the staged program's semantics:
  *
  *  - tokens sort in `array_sort` order (binary ascending, nulls
  *    last);
  *  - a run boundary exists at position 0 and wherever BOTH neighbors
  *    are non-null and unequal — the staged `s[i] =!= s[i-1]` predicate
  *    was null for a null neighbor and fell through the filter, so a
  *    null element EXTENDS the preceding run (unreachable for the
  *    wsTokens inputs, which carry containsNull = false);
  *  - run lengths fold ascending (java.util.Arrays.sort on doubles =
  *    array_sort), acc + c·Math.log(c) left-to-right (Spark's `log`
  *    IS Math.log);
  *  - the result rounds exactly as Spark's `round(x, 4)`
  *    (BigDecimal.valueOf, HALF_UP);
  *  - an empty array yields 1.0 (the `when(size > 0)` fall-through);
  *    a null ARRAY is the column wrapper's coalesce (also 1.0). */
object PplScoreKernel {
  def eval(arr: ArrayData): Double = {
    val n = arr.numElements()
    if (n == 0) return 1.0
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      a(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) =>
      if (x eq y) 0 else if (x == null) 1 else if (y == null) -1
      else x.compareTo(y))
    // run lengths between boundaries (sentinel n closes the last run)
    val lens = new java.util.ArrayList[java.lang.Double]()
    var runStart = 0
    i = 1
    while (i < n) {
      val boundary = a(i) != null && a(i - 1) != null && !a(i).equals(a(i - 1))
      if (boundary) {
        lens.add((i - runStart).toDouble)
        runStart = i
      }
      i += 1
    }
    lens.add((n - runStart).toDouble)
    val cs = new Array[Double](lens.size())
    i = 0
    while (i < cs.length) { cs(i) = lens.get(i); i += 1 }
    java.util.Arrays.sort(cs)
    var s = 0.0
    i = 0
    while (i < cs.length) { s += cs(i) * java.lang.Math.log(cs(i)); i += 1 }
    val x = java.lang.Math.exp(java.lang.Math.log(n.toDouble) - s / n)
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** C4 line-clean kernel — one pass over a document replacing the
  * per-LINE interpreted lambda `filter(split(text, "\n"), l ->
  * keepLine(l))`, whose predicate re-evaluated an expression tree
  * (regex split for the word count, rlike, two lowercases, three
  * contains) interpreted per line. Byte-identical stage by stage:
  *
  *  - lines = `UTF8String.split("\n", -1)` — the exact call Spark's
  *    `split` makes (regex, trailing empty strings kept);
  *  - word gate: `size(split(trim(l), "\s+")) >= minWords`, where
  *    `trim` is UTF8String.trim (ASCII space 0x20 only — Java's
  *    String.trim would also strip controls) and the Java-regex split
  *    at limit −1 yields (maximal-\s-run count) + 1 elements — a
  *    leading run contributes a leading "" exactly as Pattern.split
  *    does, and the empty string splits to [""] (count 1). `\s` is the
  *    six ASCII whitespace chars, single bytes in UTF-8, so the runs
  *    are counted on raw bytes;
  *  - terminal punctuation: the same `[.!?]"?$` Java regex, `find()`
  *    on the trimmed line (RLike's call), compiled once per JVM;
  *  - blocklist: UTF8String.toLowerCase / contains — the Lower and
  *    Contains kernels' own methods.
  *
  * Returns struct(n_lines, kept): the full split length plus the kept
  * lines, so one kernel call serves lineClean's n_lines / n_kept /
  * cleaned projections. */
object KeptLinesKernel {
  private val NL = UTF8String.fromString("\n")
  private val PUNCT = java.util.regex.Pattern.compile("[.!?]\"?$")
  private val LOREM = UTF8String.fromString("lorem ipsum")
  private val JS = UTF8String.fromString("javascript")
  private val BRACE = UTF8String.fromString("{")

  private def isWsByte(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** `split(trimmed, "\s+")` element count at limit −1: maximal
    * whitespace runs + 1. */
  private def wordCount(t: UTF8String): Int = {
    val nb = t.numBytes()
    var runs = 0
    var inRun = false
    var i = 0
    while (i < nb) {
      val ws = isWsByte(t.getByte(i))
      if (ws && !inRun) runs += 1
      inRun = ws
      i += 1
    }
    runs + 1
  }

  private def keep(l: UTF8String, minWords: Int): Boolean = {
    val t = l.trim()
    if (wordCount(t) < minWords) return false
    if (!PUNCT.matcher(t.toString).find()) return false
    val lo = l.toLowerCase
    if (lo.contains(LOREM) || lo.contains(JS)) return false
    !l.contains(BRACE)
  }

  def eval(text: UTF8String, minWords: Int): InternalRow = {
    val lines = text.split(NL, -1)
    val out = new java.util.ArrayList[Object](lines.length)
    var i = 0
    while (i < lines.length) {
      if (keep(lines(i), minWords)) out.add(lines(i))
      i += 1
    }
    InternalRow(lines.length, new GenericArrayData(out.toArray))
  }
}

/** Rolling polynomial fingerprint fold — the codegen form of
  * `aggregate(hashes, 0L, (acc, h) -> (acc*31 + h%P) % P)` with
  * P = 1e9+7 (the q38 fingerprint). Same left-to-right fold, same
  * JVM long arithmetic (`%` is the sign-preserving remainder both
  * ways; hash56 values are non-negative); a null element poisons the
  * result to null exactly as the fold's `acc + null` did. */
object FpFoldKernel {
  val P = 1000000007L
  def eval(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc = (acc * 31L + (arr.getLong(i) % P)) % P
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** Gopher per-line counters — one pass over a document replacing three
  * interpreted per-LINE HOFs in [[graft.operators.Curation.gopherRules]]:
  * `filter(transform(split(text, "\n"), trim), l -> l =!= "")` (the
  * non-empty trimmed line list), the bullet-lead count
  * (`substring(l, 1, 1).isin(bullets)`) and the ellipsis-tail count
  * (`endswith(l, "...") || endswith(l, "…")`). Byte-identical pieces:
  * UTF8String.split("\n", -1) (Spark's split call), UTF8String.trim
  * (ASCII space only), first CODE POINT via UTF8String.substring(0, 1)
  * (= `substring(l, 1, 1)`), byte-suffix endsWith. Returns
  * struct(n_lines, bullets, ells) over the non-empty trimmed lines —
  * exactly the three counts the column program derived. */
object LineStatsKernel {
  private val NL = UTF8String.fromString("\n")
  private val Ell3 = UTF8String.fromString("...")
  private val EllU = UTF8String.fromString("…")

  def eval(text: UTF8String, bulletList: Words): InternalRow = {
    val bullets = bulletList.utf8
    val parts = text.split(NL, -1)
    var n = 0
    var b = 0
    var e = 0
    var i = 0
    while (i < parts.length) {
      val t = parts(i).trim()
      if (t.numBytes() > 0) {
        n += 1
        val first = t.substring(0, 1)
        var j = 0
        var hit = false
        while (!hit && j < bullets.length) {
          if (first.equals(bullets(j))) hit = true
          j += 1
        }
        if (hit) b += 1
        if (t.endsWith(Ell3) || t.endsWith(EllU)) e += 1
      }
      i += 1
    }
    InternalRow(n, b, e)
  }
}

/** Covered-position scrub kernel — the fused codegen form of the span
  * scrubber's reassembly: `array_join(transform(array_except(
  * sequence(0, n-1), cov), p -> element_at(toks, p + 1)), " ")`, whose
  * gather lambda evaluated an interpreted element_at per KEPT token
  * (most of the corpus). One pass: a hash set of the covered positions
  * (array_except's build), then the kept tokens joined left-to-right
  * with a single space — order-preserving like the sequence, null
  * tokens skipped exactly as array_join skips null elements (the
  * wsTokens inputs carry none). An empty token array yields "" (the
  * empty sequence branch); covered positions outside [0, n) are
  * ignored exactly as array_except ignores non-members. A null `cov`
  * is the caller's coalesce-to-empty. */
object ScrubJoinKernel {
  private val Space = UTF8String.fromString(" ")

  def eval(toks: ArrayData, cov: ArrayData): UTF8String = {
    val n = toks.numElements()
    val covered = new java.util.HashSet[Integer]()
    val m = cov.numElements()
    var i = 0
    while (i < m) {
      if (!cov.isNullAt(i)) covered.add(Integer.valueOf(cov.getInt(i)))
      i += 1
    }
    var s: UTF8String = UTF8String.EMPTY_UTF8
    var first = true
    i = 0
    while (i < n) {
      if (!covered.contains(Integer.valueOf(i)) && !toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        s = if (first) t else UTF8String.concat(s, Space, t)
        first = false
      }
      i += 1
    }
    s
  }
}

/** Ordered line reassembly for the repeated-line dedup: sort an
  * array<struct<pos:int, line:string>> in `array_sort`'s order (struct
  * fields compared in sequence, ascending, nulls first within a field;
  * null ELEMENTS last) and join the line fields with "\n" — the fused
  * codegen form of `array_join(transform(array_sort(collect_list(
  * struct(pos, line))), s -> s.getField("line")), "\n")`, whose gather
  * evaluated an interpreted getField per line post-shuffle. Positions
  * are distinct per document (posexplode), so the line tie-break is
  * unreachable but replicated anyway; a null line field is skipped by
  * the join exactly as array_join skips null elements. */
object JoinSortedLinesKernel {
  private val NL = UTF8String.fromString("\n")

  def eval(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val rows = new Array[InternalRow](n)
    var nulls = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nulls += 1
      else rows(i - nulls) = arr.getStruct(i, 2).copy()
      i += 1
    }
    val m = n - nulls
    val slice = java.util.Arrays.copyOfRange(rows, 0, m)
    java.util.Arrays.sort(slice, (a: InternalRow, b: InternalRow) => {
      val an = a.isNullAt(0); val bn = b.isNullAt(0)
      val c =
        if (an && bn) 0
        else if (an) -1
        else if (bn) 1
        else java.lang.Integer.compare(a.getInt(0), b.getInt(0))
      if (c != 0) c
      else {
        val al = a.isNullAt(1); val bl = b.isNullAt(1)
        if (al && bl) 0
        else if (al) -1
        else if (bl) 1
        else a.getUTF8String(1).compareTo(b.getUTF8String(1))
      }
    })
    var s: UTF8String = UTF8String.EMPTY_UTF8
    var first = true
    i = 0
    while (i < m) {
      if (!slice(i).isNullAt(1)) {
        val t = slice(i).getUTF8String(1)
        s = if (first) t else UTF8String.concat(s, NL, t)
        first = false
      }
      i += 1
    }
    s
  }
}

/** Int8 max-abs quantization kernel — the fused codegen form of the
  * two-transform program `scale = array_max(transform(v, abs));
  * codes = transform(v, x -> when(scale > 0, floor(x/scale*127 + 0.5))
  * .otherwise(0.0))`, whose lambdas evaluated interpreted per element
  * (2·dim per row). Edge semantics replicated exactly:
  *
  *  - scale = max |x| over non-null elements (array_max skips nulls);
  *    null when the vector is empty or all-null;
  *  - a non-positive or null scale sends EVERY code to 0.0 (the
  *    `when`'s condition short-circuits before the element is read);
  *  - with scale > 0 a null element yields a null code (the when's
  *    value branch), and floor's long result widens back to double in
  *    the branch coercion — Math.floor is the same value. */
object QuantizeI8Kernel {
  def eval(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var scale = 0.0
    var any = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = java.lang.Math.abs(v.getDouble(i))
        if (!any || a > scale) scale = a
        any = true
      }
      i += 1
    }
    val codes = new Array[Any](n)
    val pos = any && scale > 0
    i = 0
    while (i < n) {
      codes(i) =
        if (!pos) java.lang.Double.valueOf(0.0)
        else if (v.isNullAt(i)) null
        else java.lang.Double.valueOf(
          java.lang.Math.floor(v.getDouble(i) / scale * 127 + 0.5))
      i += 1
    }
    InternalRow(new GenericArrayData(codes),
      if (any) java.lang.Double.valueOf(scale) else null)
  }
}
