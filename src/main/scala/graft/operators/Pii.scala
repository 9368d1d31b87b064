package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Kernels

/** PII detection and redaction — the scrubbing pass every large-scale
  * training-data pipeline runs before anything else sees the text
  * (cf. the C4/ROOTS-style regex scrub stage). Not a reference
  * operator: the reference corpus is enterprise documents behind
  * tenant ACLs; a 100 TB web/training corpus needs the scrub.
  *
  * Design: pure row-local column programs over Spark's codegen'd
  * regexp kernels (`regexp_count` / `regexp_replace`) — zero shuffle,
  * embarrassingly parallel, no UDFs. Patterns are restricted to the
  * regex intersection both Java (Spark) and RE2 (DuckDB) execute
  * identically — ASCII classes, bounded quantifiers, `\b` — so the
  * exact per-type counts AND the redacted bytes are oracle-checkable.
  */
object Pii {

  /** (type, pattern, placeholder), in redaction order (most-specific
    * first: SSN's 3-2-4 shape before phone's 3-3-4 so neither can
    * shadow the other; email before IPv4 so a dotted-digit mailbox
    * host is consumed as part of the email match, exactly once).
    * The email host alternation admits IP-literal hosts
    * (`root@10.0.0.1`) so the ordering contract holds for them too —
    * both Java regex and RE2 resolve the alternation leftmost-first,
    * so the two engines agree byte-for-byte. Defined once in
    * [[graft.functions.PiiKernel]] (the fused single-pass kernel that
    * executes them) and re-exported here for the oracle builder. */
  val patterns: Seq[(String, String, String)] =
    graft.functions.PiiKernel.patterns

  /** Per-type non-overlapping match counts, as (n_<type>, count) —
    * the COMPOSED-regex reference twin the kernel is parity-pinned
    * against (PiiSpec): pattern i is counted on the text with patterns
    * 0..i-1 already redacted, so a span consumed by an earlier,
    * more-specific pattern (the host of `root@10.0.0.1`) is never
    * double-counted by a later one. Placeholders are digit-free, so
    * they can never re-match. Production paths use the kernel. */
  def scanColumns(text: Column): Seq[(String, Column)] = {
    val partials = patterns.scanLeft(text) { case (c, (_, pat, ph)) =>
      regexp_replace(c, pat, ph)
    }
    patterns.zip(partials).map { case ((name, pat, _), c) =>
      (s"n_$name", regexp_count(c, lit(pat)).cast("long"))
    }
  }

  /** All PII spans replaced by typed placeholders, in [[patterns]]
    * order — each rewrite hides its spans from later patterns. One
    * fused kernel pass ([[graft.functions.PiiKernel.redact]]). */
  def redact(text: Column): Column = Kernels.piiRedact(text)

  /** struct(n_email, n_ipv4, n_ssn, n_phone, redacted): the fused
    * count+redact pass ([[graft.functions.PiiKernel.scrub]]). */
  def scrub(text: Column): Column = Kernels.piiScrub(text)

  /** Exact `any pattern matches` test, find-first
    * ([[graft.functions.PiiKernel.hasPii]]). */
  def has(text: Column): Column = Kernels.piiHas(text)

  /** The 4-pass `regexp_replace` twin of [[redact]], kept for the
    * kernel parity spec. */
  def redactColumns(text: Column): Column =
    patterns.foldLeft(text) { case (c, (_, pat, ph)) =>
      regexp_replace(c, pat, ph)
    }

  /** Scan a corpus: (id, n_email, n_ipv4, n_ssn, n_phone, redacted)
    * for documents containing any PII — the hit set is the thing a
    * pipeline quarantines or rewrites, and it is small relative to the
    * corpus, so downstream "replace the dirty docs" is a broadcast-
    * size join against these ids.
    *
    * Two kernel calls, each evaluated once per row: a CHEAP exact
    * hit filter (`pii_has`, find-first + pre-gates — Catalyst pushes
    * it to the scan, where most of a 100 TB corpus exits after one
    * character scan) and the full fused count+redact struct
    * ([[graft.functions.PiiKernel.scrub]]) on survivors only. The
    * filter must NOT reference the scrub struct: predicate pushdown
    * through the projection would duplicate the expensive kernel into
    * the filter and evaluate it twice per surviving row. */
  def scan(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.filter(has(col(textCol)))
      .select(col(idCol), scrub(col(textCol)).as("__pii"))
      .select(col(idCol) +:
        patterns.map(p => col(s"__pii.n_${p._1}").as(s"n_${p._1}")) :+
        col("__pii.redacted").as("redacted"): _*)
  }

  // ---- gate query ---------------------------------------------------------

  /** q63: scrub documents with deterministically injected PII. The
    * corpus text is synthetic and PII-free, so the gate plants one
    * email / IPv4 / phone / SSN / IP-host email on interleaved doc_id
    * residue classes
    * (both engines build the identical string) and checks the per-type
    * counts plus the md5 of the redacted text — pinning match counts,
    * non-overlap, redaction order, and the exact rewritten bytes. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val injected = concat(
      $"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" email user"), $"doc_id".cast("string"),
          lit("@mail.example.com"))).otherwise(""),
      when($"doc_id" % 4 === 0,
        concat(lit(" ip 10."), ($"doc_id" % 200).cast("string"),
          lit(".0."), ($"doc_id" % 250).cast("string"))).otherwise(""),
      when($"doc_id" % 5 === 0,
        concat(lit(" phone 415-555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(""),
      when($"doc_id" % 7 === 0,
        concat(lit(" ssn 123-45-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(""),
      when($"doc_id" % 11 === 0,
        concat(lit(" root"), $"doc_id".cast("string"), lit("@10."),
          ($"doc_id" % 200).cast("string"), lit(".0."),
          ($"doc_id" % 250).cast("string"))).otherwise(""))
    scan(Tables(spark, dir, "documents").select($"doc_id", injected.as("text")),
        "doc_id", "text")
      .withColumn("redacted", md5($"redacted"))
      .withColumnRenamed("redacted", "redacted_md5")
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_pii_scrub" -> (piiScrub _))

  val oracle: Map[String, String] = {
    val Seq(email, ipv4, ssn, phone) = patterns.map(_._2)
    Map("q63_pii_scrub" ->
      s"""WITH s AS (SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' email user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' phone 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' root' || CAST(doc_id AS VARCHAR) || '@10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
         |    AS t FROM documents),
         |r AS (SELECT doc_id, t AS t0,
         |    regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1,
         |    regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g') AS t2,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'),
         |      '$ssn', '<SSN>', 'g') AS t3,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |      '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'),
         |      '$ssn', '<SSN>', 'g'), '$phone', '<PHONE>', 'g') AS t4
         |  FROM s),
         |c AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t0, '$email')) AS BIGINT) AS n_email,
         |    CAST(len(regexp_extract_all(t1, '$ipv4')) AS BIGINT) AS n_ipv4,
         |    CAST(len(regexp_extract_all(t2, '$ssn')) AS BIGINT) AS n_ssn,
         |    CAST(len(regexp_extract_all(t3, '$phone')) AS BIGINT) AS n_phone,
         |    md5(t4) AS redacted_md5
         |  FROM r)
         |SELECT * FROM c WHERE n_email + n_ipv4 + n_ssn + n_phone > 0
         |ORDER BY doc_id""".stripMargin)
  }
}
