package graft

import org.apache.spark.sql.functions._

import graft.operators.Pii

/** PII scrubbing: per-type counts, placeholder redaction, ordering
  * guarantees (SSN before phone, email before IPv4), and the
  * PII-free-doc filter. */
class PiiSpec extends SparkSpec {
  import spark.implicits._

  test("scan counts and redacts each type; clean docs drop out") {
    val df = Seq(
      (1L, "mail john.doe+spam@sub.example.co.uk or 192.168.0.1 today"),
      (2L, "ssn 123-45-6789 phone 415-555-0042"),
      (3L, "clean text with numbers 12345 and version 1.2"),
      (4L, "two mails a@b.io c%d@e-f.org")).toDF("id", "text")
    val out = Pii.scan(df, "id", "text").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // columns: id, n_email, n_ipv4, n_ssn, n_phone, redacted
    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4)) ==
      ((1L, 1L, 0L, 0L)))
    assert(r1.getString(5) == "mail <EMAIL> or <IP> today")
    val r2 = out(1)
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3), r2.getLong(4)) ==
      ((0L, 0L, 1L, 1L)))
    assert(r2.getString(5) == "ssn <SSN> phone <PHONE>")
    val r4 = out(2)
    assert(r4.getLong(1) == 2L)
    assert(r4.getString(5) == "two mails <EMAIL> <EMAIL>")
  }

  test("SSN and phone shapes do not shadow each other") {
    val df = Seq((1L, "415-555-0042 then 123-45-6789")).toDF("id", "text")
    val r = Pii.scan(df, "id", "text").head()
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L)
    assert(r.getString(5) == "<PHONE> then <SSN>")
  }

  test("an email with a dotted-digit host is consumed as ONE email") {
    // email is redacted first, so the digits never surface as an IP
    val df = Seq((1L, "root@10.0.0.1 mailed you")).toDF("id", "text")
    val r = Pii.scan(df, "id", "text").head()
    assert(r.getLong(1) == 1L)
    assert(r.getLong(2) == 0L)
    assert(r.getString(5) == "<EMAIL> mailed you")
  }

  test("counts come from the original text, not the redacted text") {
    // placeholder bytes must not re-match later patterns
    val df = Seq((1L, "a@b.co 1.2.3.4 123-45-6789 415-555-0042")).toDF("id", "text")
    val r = Pii.scan(df, "id", "text").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((1L, 1L, 1L, 1L)))
    assert(r.getString(5) == "<EMAIL> <IP> <SSN> <PHONE>")
  }

  test("fused kernel ≡ composed regex program: counts, bytes, hit set") {
    // adversarial shapes first: boundary shifts the redaction CREATES
    // (a@b.co1.2.3.4 → '<EMAIL>1.2.3.4' where raw 'co1.2.3.4' has no
    // \b), missing boundaries, near-miss shapes, empties, and corpus
    // text with the gate-style injections appended
    val adversarial = Seq(
      "a@b.co1.2.3.4 redaction-created ipv4 boundary",
      "x1.2.3.4 no leading word boundary",
      "999.999.999.999 shape matches out-of-range",
      "1.2.3.4.5 five octets", "1.2.3 three octets",
      "root@10.0.0.1 ip-literal host", "user@10.300.0.1x trailing",
      "12-345-6789 and 1234-56-7890 near-miss ssn",
      "415-555-0042415-555-9999 glued phones",
      "a@b.co 1.2.3.4 123-45-6789 415-555-0042",
      "", "@", ".", "no pii at all", "digits 12345 only",
      "a@@b.co double at", "trailing dot a@b.co.")
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(200).collect()
      .map(r => (100000L + r.getLong(0),
        r.getString(1) + s" u${r.getLong(0)}@ex.io 10.${r.getLong(0) % 200}.0.1"))
    val df = (adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      ++ corpus).toSeq.toDF("id", "text")

    val twin = df.select(col("id") +:
      Pii.scanColumns(col("text")).map { case (n, c) => c.as(n) } :+
      Pii.redactColumns(col("text")).as("redacted"): _*)
      .orderBy("id").collect()
    val fused = df.select(col("id"),
      Pii.scrub(col("text")).as("p"),
      Pii.has(col("text")).as("hit"))
      .select($"id", $"p.n_email", $"p.n_ipv4", $"p.n_ssn", $"p.n_phone",
        $"p.redacted", $"hit")
      .orderBy("id").collect()

    assert(twin.length == fused.length)
    twin.zip(fused).foreach { case (t, f) =>
      val id = t.getLong(0)
      (1 to 4).foreach { i =>
        assert(t.getLong(i) == f.getLong(i), s"id=$id count col $i") }
      assert(t.getString(5) == f.getString(5), s"id=$id redacted bytes")
      val total = (1 to 4).map(t.getLong).sum
      assert(f.getBoolean(6) == (total > 0), s"id=$id hasPii vs total")
    }
  }
}
