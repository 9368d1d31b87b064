package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.operators.TmpDirs
import graft.serve.QueryService

/** Enhanced search has no lazy reference plan, so its served results
  * are pinned: ids and scores for every dense mode, on a plain query, a
  * precision query ("table 3" adds a boosted BM25 lookup) and a query
  * whose filter empties the base result, so the keyword and
  * filterless retries run (with an acronym, so the retry's query
  * differs from the expanded base query). The pins were taken from
  * the request path before it read tenant slices on the driver. */
class EnhancedPinSpec extends SparkSpec {

  implicit private val formats: Formats = DefaultFormats

  private lazy val svc = {
    val s = new QueryService(spark, TmpDirs.create("graft_enh_pin"))
    def doc(fn: String, text: String) = s"""{"filename":"$fn","text":"$text"}"""
    val docs = Seq(
      doc("ledger.md", "# Ledger Policy\\n\\nThe ledger reconciles invoices against payments every month. Auditors review the ledger and the invoice archive each quarter."),
      doc("tables.md", "# Payment Schedule\\n\\nTable 3 lists the payments due each quarter. The schedule in table 3 is reconciled against the ledger.\\n\\n## Penalties\\n\\nLate payments accrue interest at the rate in Table 4."),
      doc("audit.md", "# IRS Audit Notes\\n\\nThe Internal Revenue Service audit reviewed payroll filings. The auditors asked for the ledger and every payment record."),
      doc("lease.md", "# Lease Agreement\\n\\nThe tenant shall pay monthly rent to the landlord. The deposit and the invoices for repairs are reconciled at termination."))
    val r = parse(s.handle(s"""{"op":"ingest","organization_id":"org_e","docs":[${docs.mkString(",")}]}"""))
    assert((r \ "status").extract[String] == "completed", r)
    s
  }

  private val queries = Seq(
    "plain" -> ("ledger invoices payments", ""),
    "precision" -> ("payments in table 3", ""),
    "fallback" -> ("IRS audit ledger", ""","filters":{"document_type":"no_such_type"}"""))

  private def served(mode: String, q: String, f: String): Seq[(String, Double)] = {
    val r = parse(svc.handle(
      s"""{"op":"search","organization_id":"org_e","query":"$q","limit":5,"dense_mode":"$mode","enhanced":true$f}"""))
    (r \ "results").extract[List[JValue]].map(x =>
      ((x \ "id").extract[String].stripPrefix("org_e::"), (x \ "score").extract[Double]))
  }

  private val pins: Map[(String, String), Seq[(String, Double)]] = Map(
    ("exact", "plain") -> Seq(
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.013115,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.012775,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012574,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.008065),
    ("exact", "precision") -> Seq(
      "tables.md_9aee5bd10621_doc" -> 2.0074,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 2.0074,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.005132,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.005051,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.004972),
    ("exact", "fallback") -> Seq(
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.013115,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.012903,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012698,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.007813),
    ("ann", "plain") -> Seq(
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.013115,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.012775,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012574,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.008065),
    ("ann", "precision") -> Seq(
      "tables.md_9aee5bd10621_doc" -> 2.0074,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 2.0074,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.005132,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.005051,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.004972),
    ("ann", "fallback") -> Seq(
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.013115,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.012903,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012698),
    ("quantized", "plain") -> Seq(
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.013115,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.012775,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012574,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.008065),
    ("quantized", "precision") -> Seq(
      "tables.md_9aee5bd10621_doc" -> 2.0074,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 2.0074,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.005132,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.005051,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.004972),
    ("quantized", "fallback") -> Seq(
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.013115,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.012903,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012698,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.007813),
    ("ivfpq", "plain") -> Seq(
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.013115,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.004839,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.004762),
    ("ivfpq", "precision") -> Seq(
      "tables.md_9aee5bd10621_doc" -> 2.0074,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 2.0074),
    ("ivfpq", "fallback") -> Seq(
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.013115,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.004839,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.004762),
    ("hnsw", "plain") -> Seq(
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.013115,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.012775,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012574,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.008065),
    ("hnsw", "precision") -> Seq(
      "tables.md_9aee5bd10621_doc" -> 2.0074,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 2.0074,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.005132,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.005051,
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.004972),
    ("hnsw", "fallback") -> Seq(
      "audit.md_9f343cd00a30_sec_0_para_0" -> 0.013115,
      "ledger.md_cc5b30e2edeb_sec_0_para_0" -> 0.012903,
      "tables.md_9aee5bd10621_sec_0_para_0" -> 0.012698,
      "lease.md_ade55c119a06_sec_0_para_0" -> 0.007813))

  test("enhanced results equal their pins: every dense mode, precision and fallback queries") {
    for (mode <- Seq("exact", "ann", "quantized", "ivfpq", "hnsw"); (name, (q, f)) <- queries) {
      val got = served(mode, q, f)
      assert(got == pins((mode, name)), (mode, name))
    }
  }
}
