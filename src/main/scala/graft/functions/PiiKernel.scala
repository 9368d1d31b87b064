package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass PII scrub kernel (VERDICT r13 ask #2).
  *
  * Byte-identical to the sequential column program it replaces
  * (`graft.operators.Pii`: 4 `regexp_count` + 4 `regexp_replace`
  * passes, pattern i counted/replaced on the text with patterns
  * 0..i-1 already redacted) but fused: ONE String materialization and
  * at most 4 matcher passes per row — each pass counts matches WHILE
  * building the replacement — instead of 8 passes over 5 partial
  * strings. Two cheap pre-gates skip whole pattern families: email
  * requires '@', the numeric patterns require a digit, and redaction
  * only ever REMOVES those characters (placeholders are digit- and
  * @-free), so a gate computed on the raw text is a sound superset.
  * On a 100 TB corpus most rows carry no PII; those rows cost one
  * character scan and zero regex work.
  *
  * The patterns are the engine/oracle-portable set defined here and
  * re-exported by `graft.operators.Pii` (restricted to the Java/RE2
  * intersection so DuckDB executes them identically).
  */
object PiiKernel {

  /** (name, pattern, placeholder) in redaction order — most-specific
    * first; see `graft.operators.Pii.patterns` for the ordering
    * contract (SSN before phone; email before IPv4). */
  val patterns: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("email",
      """[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{1,3}(?:\.\d{1,3}){3})""",
      "<EMAIL>"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("ssn", """\b\d{3}-\d{2}-\d{4}\b""", "<SSN>"),
    ("phone", """\b\d{3}-\d{3}-\d{4}\b""", "<PHONE>"))

  private val compiled: Array[Pattern] =
    patterns.map(p => Pattern.compile(p._2)).toArray
  private val placeholders: Array[String] = patterns.map(_._3).toArray

  // Matcher is stateful and not thread-safe; reuse one per task thread
  // via reset() instead of allocating 4 per row
  private val matchers = new ThreadLocal[Array[Matcher]] {
    override def initialValue(): Array[Matcher] =
      compiled.map(_.matcher(""))
  }

  val scrubType: StructType = StructType(Seq(
    StructField("n_email", LongType, nullable = false),
    StructField("n_ipv4", LongType, nullable = false),
    StructField("n_ssn", LongType, nullable = false),
    StructField("n_phone", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  /** email needs '@'; ipv4/ssn/phone need a digit. One char scan. */
  @inline private def gates(s: String): (Boolean, Boolean) = {
    var hasAt = false; var hasDigit = false
    var i = 0; val n = s.length
    while (i < n && !(hasAt && hasDigit)) {
      val c = s.charAt(i)
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      i += 1
    }
    (hasAt, hasDigit)
  }

  /** Count + redact pattern p over s in one matcher pass; appends the
    * rewritten text to a builder only when there IS a match. Returns
    * (count, redacted-or-same-instance). */
  @inline private def pass(m: Matcher, s: String, ph: String): (Long, String) = {
    m.reset(s)
    var cnt = 0L
    var sb: java.lang.StringBuilder = null
    var last = 0
    while (m.find()) {
      cnt += 1
      if (sb == null) sb = new java.lang.StringBuilder(s.length + 8)
      sb.append(s, last, m.start()).append(ph)
      last = m.end()
    }
    if (sb == null) (0L, s)
    else { sb.append(s, last, s.length); (cnt, sb.toString) }
  }

  /** Fused scan: (n_email, n_ipv4, n_ssn, n_phone, redacted). */
  def scrub(in: UTF8String): InternalRow = {
    val s0 = in.toString
    val (hasAt, hasDigit) = gates(s0)
    val ms = matchers.get()
    val counts = new Array[Long](4)
    var s = s0
    var p = 0
    while (p < 4) {
      if (if (p == 0) hasAt else hasDigit) {
        val (c, out) = pass(ms(p), s, placeholders(p))
        counts(p) = c
        s = out
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](counts(0), counts(1), counts(2),
      counts(3), if (s eq s0) in else UTF8String.fromString(s)))
  }

  /** Redaction only — the production TrainingPipeline hot path scrubs
    * EVERY row's text without needing the counts. */
  def redact(in: UTF8String): UTF8String = {
    val s0 = in.toString
    val (hasAt, hasDigit) = gates(s0)
    val ms = matchers.get()
    var s = s0
    var p = 0
    while (p < 4) {
      if (if (p == 0) hasAt else hasDigit)
        s = pass(ms(p), s, placeholders(p))._2
      p += 1
    }
    if (s eq s0) in else UTF8String.fromString(s)
  }

  /** Exact hit test, find-first early-exit — EQUIVALENT to
    * `sum(counts) > 0` of [[scrub]]: (⇐) a count can only be nonzero
    * if its pattern matched a partial, and a partial differs from the
    * raw text only by digit-free/@-free placeholders written over
    * spans an EARLIER pattern matched in ITS partial — inducting down,
    * some pattern matched the raw text; (⇒) if pattern p matches the
    * raw text, either the span survives to p's pass (counted) or part
    * of it was redacted by an earlier pattern's match (counted
    * earlier). Lets `Pii.scan`'s filter be pushed to the parquet scan
    * as a CHEAP predicate instead of Catalyst duplicating the full
    * scrub into the filter (pushdown would otherwise evaluate the
    * kernel twice per surviving row). */
  def hasPii(in: UTF8String): Boolean = {
    val s = in.toString
    val (hasAt, hasDigit) = gates(s)
    if (!hasAt && !hasDigit) return false
    val ms = matchers.get()
    var p = 0
    while (p < 4) {
      if (if (p == 0) hasAt else hasDigit) {
        val m = ms(p); m.reset(s)
        if (m.find()) return true
      }
      p += 1
    }
    false
  }
}
