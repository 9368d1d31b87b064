package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text kernels shared by the BM25 / dedup / analysis operators.
  *
  * Each primitive exists twice, generated from ONE Scala definition:
  * as a Spark `Column` program and as a DuckDB SQL fragment (the
  * driver's oracle). That guarantees engine and oracle can't drift.
  *
  * Tokenizer semantics follow the reference's `TextPreprocessor`
  * (`src/storage/bm25_store.py:38-100`): lowercase → strip punctuation
  * (`[^\w\s]` → space) → whitespace split → drop stopwords (the
  * reference's 137-word list, `bm25_store.py:56-71`) → drop tokens
  * shorter than 2 chars.
  */
object TextFunctions {

  /** Reference stopword list, `src/storage/bm25_store.py:56-71`. */
  val stopwords: Seq[String] = Seq(
    "a", "an", "the", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "up", "about", "into", "through", "during",
    "before", "after", "above", "below", "between", "under", "again",
    "further", "then", "once", "here", "there", "when", "where", "why",
    "how", "all", "each", "few", "more", "most", "other", "some", "such",
    "no", "nor", "not", "only", "own", "same", "so", "than", "too", "very",
    "can", "will", "just", "should", "now", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "having", "do", "does",
    "did", "doing", "would", "could", "might", "must", "shall", "this",
    "that", "these", "those", "i", "me", "my", "myself", "we", "our",
    "ours", "ourselves", "you", "your", "yours", "yourself", "yourselves",
    "he", "him", "his", "himself", "she", "her", "hers", "herself", "it",
    "its", "itself", "they", "them", "their", "theirs", "themselves",
    "what", "which", "who", "whom")

  private def sqlList(xs: Seq[String]): String =
    xs.mkString("['", "', '", "']")

  /** BM25 tokenizer as a Column — the single-pass codegen kernel
    * ([[TokenizeKernel]]), byte-identical to the regex column program
    * it replaced (`filter(split(regexp_replace(lower(c), "[^\w\s]",
    * " "), "\s+"), …)`; parity pinned in TokenizerBm25Spec).
    *
    * Regex-fidelity note (SURVEY §7 risk 3): Java and DuckDB-RE2 treat
    * `\w` as ASCII, while the reference's CPython `re` is Unicode-aware
    * — so "naïve" tokenizes to ["na","ve"] here but ["naïve"] in the
    * reference. Engine and oracle agree with each other on all inputs;
    * the divergence vs the reference only affects non-ASCII letters. */
  def tokenize(c: Column): Column = Kernels.tokenize(c)

  /** Same tokenizer as a DuckDB SQL fragment over column expr `col`. */
  def tokenizeSql(col: String): String =
    s"list_filter(regexp_split_to_array(regexp_replace(lower($col), '[^\\w\\s]', ' ', 'g'), '\\s+'), " +
      s"t -> length(t) >= 2 AND NOT list_contains(${sqlList(stopwords)}, t))"

  /** Porter-stemmed token column (reference `bm25_store.py:73-75`,
    * optional-off): applied AFTER stopword/length filtering, exactly
    * as the reference's TextPreprocessor orders its stages. */
  def porterStem(c: Column): Column = Kernels.porterStem(c)

  /** Tokenizer with the reference's optional stemming stage. The
    * default (stem = false) is byte-identical to [[tokenize]], keeping
    * every existing index and oracle stable. */
  def tokenize(c: Column, stem: Boolean): Column =
    if (stem) transform(tokenize(c), t => porterStem(t)) else tokenize(c)

  /** JVM twin of the stemming tokenizer. */
  def tokenizeJvm(text: String, stem: Boolean): Seq[String] =
    if (stem) tokenizeJvm(text).map(PorterStemmer.stem) else tokenizeJvm(text)

  /** Whitespace tokenizer (no stopword/length filtering) — used by the
    * quality/token-count analyses where raw words matter. Single-pass
    * kernel, byte-identical to `filter(split(trim(c), "\s+"), len>0)`
    * (parity pinned in TokenizerBm25Spec). */
  def wsTokens(c: Column): Column = Kernels.wsTokens(c)

  def wsTokensSql(col: String): String =
    s"list_filter(regexp_split_to_array(trim($col), '\\s+'), t -> length(t) > 0)"

  /** Unicode NFC canonical composition (codegen kernel; DuckDB twin is
    * the built-in `nfc_normalize`). */
  def nfcNormalize(c: Column): Column = Kernels.nfcNormalize(c)

  /** C4/CCNet-style text normalization as a deterministic regex chain
    * over the NFC form — the step a multilingual pre-training pipeline
    * runs BEFORE any tokenize/hash stage so that byte-level variants of
    * the same text (decomposed accents, CRLF, control noise, tab runs)
    * collapse to one canonical form and downstream dedup keys agree:
    *   1. NFC compose;  2. CR/CRLF → LF;  3. strip C0/C1-ish control
    *   chars (keep \n, \t);  4. collapse space/tab runs to one space;
    *   5. trim spaces around newlines and at both ends.
    * Every step is a char-class regex with identical semantics in Java
    * regex and RE2, so the DuckDB twin ([[normalizeTextSql]]) is the
    * same chain verbatim. Row-local, zero shuffle. */
  def normalizeText(c: Column): Column = {
    val nfc = nfcNormalize(c)
    val lf = regexp_replace(nfc, "\\r\\n?", "\n")
    val ctrl = regexp_replace(lf, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val sp = regexp_replace(ctrl, "[ \\t]+", " ")
    val nl = regexp_replace(sp, " ?\\n ?", "\n")
    trim(nl, " \n")
  }

  /** DuckDB twin of [[normalizeText]] — same chain, same regexes. */
  def normalizeTextSql(col: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |nfc_normalize($col), '\\r\\n?', chr(10), 'g'),
       |'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
       |'[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'), ' ' || chr(10))"""
      .stripMargin.replaceAll("\n", "")

  // ---- portable hashing -------------------------------------------------

  /** 56-bit stable hash: first 14 hex digits of md5, as a BIGINT. The
    * one hash both Spark and DuckDB (`'0x'||…::BIGINT`) compute
    * identically — the foundation for minhash/simhash/fingerprint
    * oracle parity. Engine side runs the [[Hash56OneKernel]] (value
    * composed from the top 7 digest bytes); the former
    * `conv(substring(md5(c), 1, 14), 16, 10)` column program is
    * bit-identical by construction (HashKernelSpec pins it) but
    * rendered, substring'd and re-parsed 32 hex chars per row. */
  def hash56(c: Column): Column = Kernels.hash56(c)

  def hash56Sql(col: String): String =
    s"(('0x' || substr(md5($col), 1, 14))::BIGINT)"

  /** JVM twin of [[hash56]] for driver-side values (query embedding,
    * id generation) — byte-identical to the column/SQL forms. */
  def hash56Jvm(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(14)
    java.lang.Long.parseLong(hex, 16)
  }

  /** JVM twin of [[tokenize]] (reference `bm25_store.py:82-100`). */
  def tokenizeJvm(text: String): Seq[String] = {
    val stops = stopwords.toSet
    text.toLowerCase
      .replaceAll("[^\\w\\s]", " ")
      .split("\\s+")
      .filter(t => t.length >= 2 && !stops.contains(t))
      .toSeq
  }

  /** hash56 folded into the Mersenne-31 field (minhash universe). */
  val P31 = 2147483647L
  def hashMod(c: Column): Column = hash56(c) % P31
  def hashModSql(col: String): String = s"(${hash56Sql(col)} % 2147483647)"

  /** Word n-gram shingles ("w1 w2 w3") from a token array: one shingle
    * per start position 0..len-n (empty when len < n). Single codegen
    * pass ([[ShinglesKernel]]) — the former `transform(sequence(…),
    * i -> array_join(slice(…)))` re-sliced and re-joined INTERPRETED
    * per position; byte-identical (parity pinned in TextKernelSpec),
    * null token arrays still yield the empty array (the `when`
    * fall-through the column program had). */
  def shingles(toks: Column, n: Int): Column =
    coalesce(Kernels.shingles(toks, n), array().cast("array<string>"))

  /** Σ length(token) over a token array (code points) — codegen kernel
    * replacing `aggregate(toks, 0L, (a, t) -> a + length(t))`. */
  def sumLen(toks: Column): Column = Kernels.sumLen(toks)

  /** (best run, distinct count) over the sorted array — codegen kernel
    * replacing the interpreted sorted-run `aggregate` fold. */
  def runStats(arr: Column): Column = Kernels.runStats(arr)

  /** Adjacent-pair structs (w1, w2) per position — codegen kernel
    * replacing the interpreted `transform(sequence(1, size-1), i ->
    * struct(element_at…, element_at…))`. Caller guards size >= 2. */
  def bigrams(toks: Column): Column = Kernels.bigrams(toks)

  /** Count of `set` list elements present in `arr` — one token pass
    * instead of one whole-array scan per set element. A null `arr`
    * yields 0, exactly as `size(filter(typedLit(set), s ->
    * array_contains(arr, s)))` did (the filtered list is the never-
    * null literal; a null arr just fails every contains). */
  def setHits(arr: Column, set: Seq[String]): Column =
    coalesce(Kernels.setHits(arr, Words(set)), lit(0L))

  /** Count of `arr` elements that are `set` members. */
  def countIn(arr: Column, set: Seq[String]): Column = Kernels.countIn(arr, Words(set))

  /** Count of elements containing an ASCII letter (`rlike("[a-zA-Z]")`). */
  def countAlpha(arr: Column): Column = Kernels.countAlpha(arr)

  /** Elements matching ^[a-z]+$ — the interpreted per-token rlike. */
  def filterLowerAlpha(arr: Column): Column = Kernels.filterLowerAlpha(arr)

  /** Ascending-sorted IEEE left-to-right double sum — the codegen form
    * of `aggregate(array_sort(xs), 0.0, (acc, x) -> acc + x)`, the
    * engine-stability fold convention. */
  def sumSorted(xs: Column): Column = Kernels.sumSorted(xs)

  /** Histogram-entropy perplexity surrogate, fused — the codegen form
    * of the staged `withPplScore` chain (sort → boundaries → sorted
    * run-length fold → round-4), bit-for-bit (see [[PplScoreKernel]]).
    * A null token array yields 1.0 — the staged program's
    * `when(size > 0, …).otherwise(1.0)` null fall-through. */
  def pplScore(toks: Column): Column =
    coalesce(Kernels.pplScore(toks), lit(1.0))

  /** struct(n_lines, kept) of the C4 line-keep rules over a raw
    * document — the fused codegen form of `split` + the per-line
    * interpreted keepLine filter (see [[KeptLinesKernel]]). */
  def keptLines(text: Column, minWords: Int): Column = Kernels.keptLines(text, minWords)

  /** Rolling polynomial fingerprint fold over a hash array — the
    * codegen form of `aggregate(hs, 0L, (acc, h) -> (acc*31 + h%P) %
    * P)` (see [[FpFoldKernel]]). */
  def fpFold(hashes: Column): Column = Kernels.fpFold(hashes)

  /** struct(codes, scale) int8 max-abs quantization — the fused form
    * of the two-transform program (see [[QuantizeI8Kernel]]). */
  def quantizeI8(vec: Column): Column = Kernels.quantizeI8(vec)

  /** Sort struct<pos,line> elements and join the line fields with
    * "\n" — the repeated-line dedup reassembly as one kernel pass
    * (see [[JoinSortedLinesKernel]]). */
  def joinSortedLines(arr: Column): Column = Kernels.joinSortedLines(arr)

  /** struct(n_lines, bullets, ells) over the non-empty trimmed lines —
    * the fused Gopher per-line counters (see [[LineStatsKernel]]). */
  def lineStats(text: Column, bullets: Seq[String]): Column =
    Kernels.lineStats(text, Words(bullets))

  /** Tokens at positions NOT in `cov`, joined with " " — the span
    * scrubber's reassembly as one kernel pass (see [[ScrubJoinKernel]]).
    * Null toks yields "" — the column program's empty-sequence
    * fall-through. */
  def scrubJoin(toks: Column, cov: Column): Column =
    coalesce(Kernels.scrubJoin(toks, coalesce(cov, array())), lit(""))

  def shinglesSql(toks: String, n: Int): String =
    s"list_transform(range(greatest(len($toks) - ${n - 1}, 0)), i -> array_to_string(list_slice($toks, i + 1, i + $n), ' '))"

  // ---- language-ID word lists (n-gram/function-word heuristic) ----------

  /** Function-word lists for the language-ID heuristic. Deterministic
    * argmax with fixed priority order en > de > es > fr > zh. */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "you", "that",
      "was", "for", "on", "are", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "ich", "sie", "von", "zu", "den"),
    "es" -> Seq("el", "los", "las", "que", "y", "un", "es", "por", "del",
      "se", "con", "para"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "qui",
      "pour", "au", "pas", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  def langHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(words.toArray), t)))

  def langHitsSql(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> list_contains(${sqlList(words)}, t)))"
}
