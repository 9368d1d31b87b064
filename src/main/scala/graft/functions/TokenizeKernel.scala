package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass BM25 tokenizer kernel (`bm25_tokenize`).
  *
  * Byte-identical to the composed column program
  * `filter(split(regexp_replace(lower(c), "[^\w\s]", " "), "\s+"), …)`
  * (reference `TextPreprocessor`, `bm25_store.py:82-100`) but one tight
  * char scan instead of two regex passes + a HOF filter: after Unicode
  * lowercasing (the same `UTF8String.toLowerCase` Spark's `lower` uses)
  * every kept character is an ASCII `[a-z0-9_]` — Java-regex `\w` minus
  * the uppercase range the lowercasing already removed — and EVERY
  * other character (ASCII space or not, non-ASCII letter or not) is a
  * token boundary, exactly as the regex pipeline treats it. Tokens
  * shorter than 2 chars and stopwords are dropped in the same pass.
  *
  * Tokenization runs inside whole-stage codegen under every BM25 /
  * dedup / ingest query — on a 100 TB corpus the regex engine is the
  * single hottest call; this kernel removes it.
  */
object TokenizeKernel {
  private val stops = new java.util.HashSet[String]()
  TextFunctions.stopwords.foreach(stops.add)

  def tokenize(in: UTF8String): ArrayData = {
    val s = in.toLowerCase.toString
    val n = s.length
    val out = new java.util.ArrayList[Object]()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i <= n) {
      val c = if (i < n) s.charAt(i) else ' '
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
        sb.append(c)
      } else if (sb.length > 0) {
        if (sb.length >= 2) {
          val t = sb.toString
          if (!stops.contains(t)) out.add(UTF8String.fromString(t))
        }
        sb.setLength(0)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
