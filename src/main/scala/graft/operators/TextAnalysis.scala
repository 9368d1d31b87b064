package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text-analysis operators for the training-data pipeline: language ID
  * (function-word heuristic), quality scoring (reference
  * `src/quality/document_quality.py:181-296` metric family), token
  * counting, and rolling-hash document fingerprinting. All pure scalar
  * column programs — no shuffle, fully pushdown/codegen friendly.
  */
object TextAnalysis {

  /** Language ID: argmax of function-word hit counts with deterministic
    * priority en > de > es > fr > zh; no hits ⇒ "und". Single-pass
    * kernel ([[graft.functions.LangIdKernel]]); the declarative
    * per-language filter + nested-when program it replaced lives on as
    * [[langIdColumnProgram]] (spec parity) and as the shape the DuckDB
    * twin [[langIdSql]] is generated from. */
  def langId(toks: Column): Column = graft.functions.Kernels.langId(toks)

  /** The original declarative form of [[langId]] — kept as the parity
    * reference for the kernel and the template of the SQL twin. */
  def langIdColumnProgram(toks: Column): Column = {
    val hits = TextFunctions.langWords.map { case (lang, words) =>
      lang -> TextFunctions.langHits(toks, words)
    }
    val total = hits.map(_._2).reduce(_ + _)
    // argmax with priority order: lang wins if its count >= all later ones
    val ordered = hits.map(_._1)
    def pick(rest: List[String]): Column = rest match {
      case lang :: Nil => lit(lang)
      case lang :: tail =>
        val mine = hits.toMap.apply(lang)
        val laterMax = tail.map(hits.toMap.apply).reduce(greatest(_, _))
        when(mine >= laterMax, lit(lang)).otherwise(pick(tail))
      case Nil => lit("und")
    }
    when(total === 0, lit("und")).otherwise(pick(ordered.toList))
  }

  /** DuckDB twin of [[langId]] over a token-list SQL expression. */
  def langIdSql(toks: String): String = {
    val hits = TextFunctions.langWords.map { case (lang, words) =>
      lang -> TextFunctions.langHitsSql(toks, words)
    }
    val total = hits.map(_._2).mkString(" + ")
    def pick(rest: List[(String, String)]): String = rest match {
      case (lang, _) :: Nil => s"'$lang'"
      case (lang, h) :: tail =>
        val laterMax = tail.map(_._2).mkString("greatest(", ", ", ")")
        s"CASE WHEN $h >= $laterMax THEN '$lang' ELSE ${pick(tail)} END"
      case Nil => "'und'"
    }
    s"CASE WHEN ($total) = 0 THEN 'und' ELSE ${pick(hits.toList)} END"
  }

  /** Quality metric bundle (A6/I2 family): returns the named columns
    * n_chars, n_words, n_unique, unique_ratio, avg_word_len,
    * digit_ratio, alpha_ratio, quality_score. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = TextFunctions.wsTokens(text)
    val nChars = length(text)
    val nWords = size(toks)
    val nUnique = size(array_distinct(toks))
    val sumLen = TextFunctions.sumLen(toks)
    val digits = length(regexp_replace(text, "[^0-9]", ""))
    val alphas = length(regexp_replace(lower(text), "[^a-z]", ""))
    // zero-guarded ratios: empty/whitespace-only docs score 0, not DIV0
    // (Spark 4 runs ANSI mode; DuckDB would return inf/NULL — the CASE
    // keeps both engines identical)
    val uniqueRatio = when(nWords === 0, lit(0.0))
      .otherwise(nUnique.cast("double") / nWords)
    val avgWordLen = when(nWords === 0, lit(0.0))
      .otherwise(sumLen.cast("double") / nWords)
    val digitRatio = when(nChars === 0, lit(0.0))
      .otherwise(digits.cast("double") / nChars)
    val alphaRatio = when(nChars === 0, lit(0.0))
      .otherwise(alphas.cast("double") / nChars)
    val score =
      lit(0.25) * least(lit(1.0), nChars / lit(500.0)) +
        lit(0.2) * least(lit(1.0), nWords / lit(80.0)) +
        lit(0.3) * uniqueRatio +
        lit(0.25) * alphaRatio
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_words" -> nWords.cast("long"),
      "n_unique" -> nUnique.cast("long"),
      "unique_ratio" -> round(uniqueRatio, 6),
      "avg_word_len" -> round(avgWordLen, 6),
      "digit_ratio" -> round(digitRatio, 6),
      "alpha_ratio" -> round(alphaRatio, 6),
      "quality_score" -> round(score, 6))
  }

  /** DuckDB twin of [[qualityColumns]] as (alias → SQL expr). */
  def qualitySql(text: String): Seq[(String, String)] = {
    val toks = TextFunctions.wsTokensSql(text)
    val nChars = s"length($text)"
    val nWords = s"len($toks)"
    val nUnique = s"len(list_distinct($toks))"
    val sumLen = s"CAST(list_sum(list_transform($toks, t -> length(t))) AS BIGINT)"
    val digits = s"length(regexp_replace($text, '[^0-9]', '', 'g'))"
    val alphas = s"length(regexp_replace(lower($text), '[^a-z]', '', 'g'))"
    val uniqueRatio = s"(CASE WHEN $nWords = 0 THEN 0.0 ELSE CAST($nUnique AS DOUBLE) / $nWords END)"
    val avgWordLen = s"(CASE WHEN $nWords = 0 THEN 0.0 ELSE CAST($sumLen AS DOUBLE) / $nWords END)"
    val digitRatio = s"(CASE WHEN $nChars = 0 THEN 0.0 ELSE CAST($digits AS DOUBLE) / $nChars END)"
    val alphaRatio = s"(CASE WHEN $nChars = 0 THEN 0.0 ELSE CAST($alphas AS DOUBLE) / $nChars END)"
    val score = s"0.25 * least(1.0, $nChars / 500.0) + 0.2 * least(1.0, $nWords / 80.0) + 0.3 * $uniqueRatio + 0.25 * $alphaRatio"
    Seq(
      "n_chars" -> s"CAST($nChars AS BIGINT)",
      "n_words" -> s"CAST($nWords AS BIGINT)",
      "n_unique" -> s"CAST($nUnique AS BIGINT)",
      "unique_ratio" -> s"round($uniqueRatio, 6)",
      "avg_word_len" -> s"round($avgWordLen, 6)",
      "digit_ratio" -> s"round($digitRatio, 6)",
      "alpha_ratio" -> s"round($alphaRatio, 6)",
      "quality_score" -> s"round($score, 6)")
  }

  /** Rolling polynomial fingerprint over whitespace tokens:
    * acc ← (31·acc + (h56(tok) mod p)) mod p, p = 1e9+7. */
  val FpP = 1000000007L
  def fingerprint(toks: Column): Column =
    // fp_fold = the former interpreted `aggregate` fold as one codegen
    // kernel call (same left-to-right (acc*31 + h%P) % P arithmetic;
    // parity pinned in TextKernelSpec)
    graft.functions.TextFunctions.fpFold(
      graft.functions.HashFunctions.hash56Map(toks))

  def fingerprintSql(toks: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform($toks, t -> ${TextFunctions.hash56Sql("t")})), (a, b) -> (a * 31 + (b % ${FpP})) % ${FpP})"
}
