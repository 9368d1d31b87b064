package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Line-level corpus cleaning — the C4-style scrub + cross-document
  * boilerplate dedup stage of a web-scale training pipeline (not a
  * reference operator; builder-mandated training-data extension,
  * cf. the C4 paper's §2.1 heuristics and its three-sentence span
  * dedup).
  *
  * Scale stance:
  *  - [[lineClean]] is a pure row-local column program (split →
  *    filter → rejoin inside one codegen'd projection) — zero shuffle
  *    at any corpus size.
  *  - [[dedupRepeatedLines]] keys every shuffle on the 128-bit md5 of
  *    the line, never the raw line bytes (a 56-bit key would collide a
  *    few times per billion distinct lines — at web-corpus scale that
  *    silently drops real, non-duplicate lines; 128 bits make a chance
  *    collision astronomically unlikely): the line-frequency aggregate is
  *    algebraic (count + min — partial-agg'd map-side, so corpus-wide
  *    boilerplate lines are hot KEYS but not skewed GROUPS), and the
  *    join back to occurrences is hash → stats, broadcast-able when
  *    the duplicate set is small. Document reassembly groups by doc id
  *    — the only corpus-sized shuffle, keyed on the natural partition
  *    key.
  */
object Clean {

  /** C4 §2.1-style line rules: keep a line iff it has ≥ `minWords`
    * whitespace words, ends in terminal punctuation (optionally
    * quoted), and matches no blocklist phrase ("lorem ipsum",
    * "javascript", curly braces — the code/boilerplate tells). */
  def keepLine(l: Column, minWords: Int): Column =
    (size(split(trim(l), "\\s+")) >= minWords) &&
      trim(l).rlike("[.!?]\"?$") &&
      !lower(l).contains("lorem ipsum") &&
      !lower(l).contains("javascript") &&
      !l.contains("{")

  /** Row-local line cleanup: (id, n_lines, n_kept, cleaned). One
    * codegen kernel pass per document ([[graft.functions
    * .KeptLinesKernel]]) — the former `filter(split(text, "\n"), l =>
    * keepLine(l))` re-evaluated the keep predicate's expression tree
    * (regex word split, rlike, two lowers, three contains) as an
    * interpreted lambda per LINE. The kernel is staged behind one
    * column so its three consumers (n_lines / n_kept / cleaned) share
    * a single evaluation (CollapseProject keeps non-cheap exprs
    * staged); byte parity vs the filter program is pinned in
    * TextKernelSpec, and the q80 oracle replays the rules in DuckDB. */
  def lineClean(docs: DataFrame, idCol: String, textCol: String,
                minWords: Int = 3, keep: Seq[String] = Nil): DataFrame =
    docs.withColumn("__kl",
        graft.functions.TextFunctions.keptLines(col(textCol), minWords))
      .select(
        col(idCol) +:
          col("__kl.n_lines").cast("long").as("n_lines") +:
          size(col("__kl.kept")).cast("long").as("n_kept") +:
          array_join(col("__kl.kept"), "\n").as("cleaned") +: keep.map(col): _*)

  /** Cross-document repeated-line dedup, keep-first: a line occurring
    * in more than one place survives only at its smallest (id, pos)
    * occurrence (C4's span-dedup semantics at line granularity).
    * Returns (id, n_kept, cleaned) with each doc's surviving lines
    * rejoined in original order, plus the `keep` columns of `docs`
    * passed through unchanged (as in [[lineClean]]). Empty lines are
    * not dedup keys (a blank separator is not boilerplate). */
  def dedupRepeatedLines(docs: DataFrame, idCol: String,
                         textCol: String,
                         keep: Seq[String] = Nil): DataFrame = {
    val occ = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    // algebraic per-line-hash stats: occurrence count + first occurrence
    val stats = occ.groupBy(col("lh"))
      .agg(count(lit(1)).as("occ_n"),
        min(struct(col("__id"), col("pos"))).as("first_occ"))
    val survivors = occ.join(stats, Seq("lh"))
      .filter(col("occ_n") === 1 ||
        trim(col("line")) === "" ||
        (col("first_occ.__id") === col("__id") &&
          col("first_occ.pos") === col("pos")))
      .groupBy(col("__id"))
      .agg(count(when(trim(col("line")) =!= "", 1)).as("n_kept"),
        // join_sorted_lines kernel: the former array_sort + getField
        // transform evaluated an interpreted lambda per line after the
        // shuffle (parity pinned in TextKernelSpec)
        graft.functions.TextFunctions.joinSortedLines(
          collect_list(struct(col("pos"), col("line")))).as("cleaned"))
    // a doc whose every line was boilerplate still exists — as empty
    docs.select(col(idCol).as("__id") +: keep.map(col): _*)
      .join(survivors, Seq("__id"), "left")
      .select(col("__id").as(idCol) +:
        coalesce(col("n_kept"), lit(0L)).as("n_kept") +:
        coalesce(col("cleaned"), lit("")).as("cleaned") +: keep.map(col): _*)
  }

  /** Cross-document repeated-SPAN scrub: remove every token covered by
    * a `w`-token window that appears verbatim in ≥ `minDocs` distinct
    * documents — the span-granular boilerplate dedup of web-scale
    * training pipelines (the exact-substring dedup class of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", at fixed-window granularity: license headers, shared
    * disclaimers, template preambles vanish while each document's
    * unique prose survives — finer than [[dedupRepeatedLines]], which
    * only catches line-aligned boilerplate).
    *
    * Shape: whitespace tokens (reconstruction-safe) → sliding-window
    * 56-bit span keys (one row-local transform) → distinct-doc counts
    * per key (algebraic aggregate, partial-agg'd map-side) → coverage
    * explode of the boilerplate HITS only (w× that subset, never the
    * corpus) → anti-join on (doc, token-pos) → ordered reassembly
    * grouped on the doc id. Nothing is ever pairwise: like the
    * MinHash/Jaccard paths, the self-similarity computation is keyed
    * on span hashes, so cost tracks corpus + boilerplate volume.
    * Returns (id, n_tokens, n_removed, scrubbed). */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         w: Int = 10, minDocs: Int = 3): DataFrame = {
    // tokenization feeds FOUR consumers (sh twice — the boilerplate
    // aggregation and the coverage join — plus kept and the final
    // n_tokens join) and the span-hash projection feeds two; without
    // caching, both whole-corpus computations re-run per consumer.
    // Cache lifecycle is the CALLER's (Bench/Verify clearCache between
    // entries; a long-lived session should clearCache or unpersist
    // after materializing the result — the frames are plan-keyed, so
    // repeat calls on the same input reuse rather than accumulate)
    val toksDf = docs.select(col(idCol).as("__id"),
      graft.functions.TextFunctions.wsTokens(col(textCol)).as("toks"))
      .cache()
    // span keys = hash56 of each w-token window — exactly hash56_map ∘
    // shingles_k (both codegen kernels, parity-pinned): the former
    // `transform(sequence(…), i -> hash56(concat_ws(" ", slice(…))))`
    // re-sliced and re-hashed INTERPRETED per position (concat_ws and
    // ShinglesKernel share the null-skip join rule; len < w yields the
    // empty array through the shingles wrapper, as the `when` did)
    val sh = toksDf.select(col("__id"),
      posexplode(
        graft.functions.HashFunctions.hash56Map(
          graft.functions.TextFunctions.shingles(col("toks"), w)))
        .as(Seq("pos", "sh")))
      .cache()
    val boiler = sh.groupBy(col("sh"))
      .agg(countDistinct(col("__id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("sh"))
    val covered = sh.join(boiler, Seq("sh"))
      .select(col("__id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tp"))
      .distinct()
    // scrub ROW-LOCALLY against the per-doc covered-position set: the
    // former shape exploded EVERY corpus token through a shuffle and
    // rebuilt each document with collect_list+array_sort — shuffle
    // volume ∝ total tokens. Here the only shuffled rows are the
    // covered positions themselves (∝ boilerplate hits), and the kept
    // string is a codegen'd filter over the already-held token array.
    val coveredAgg = covered.groupBy(col("__id"))
      .agg(collect_list(col("tp")).as("cov")) // distinct upstream
    // reassembly via the scrub_join kernel: hash-set of covered
    // positions + one join pass (the former array_except + gather
    // lambda evaluated an interpreted element_at per KEPT token — most
    // of the corpus; an array_contains-per-token scan would go
    // quadratic on a mostly-boilerplate document, the operator's own
    // target case). Parity pinned in TextKernelSpec.
    toksDf.join(coveredAgg, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        graft.functions.TextFunctions.scrubJoin(col("toks"), col("cov"))
          .as("scrubbed"))
  }

  // ---- gate queries ------------------------------------------------------

  /** Injected five-line docs (the corpus text is single-line word
    * salad): one good line, one blocklisted, one without terminal
    * punctuation, one too short, one good quoted line — both engines
    * build the identical string from `text` slices. */
  private def injectedLines: Column = concat(
    substring(col("text"), 1, 60), lit(" end of part one."),
    lit("\nlorem ipsum dolor sit amet for padding purposes."),
    lit("\n"), substring(col("text"), 61, 40),
    lit("\nShort stub."),
    lit("\n"), substring(col("text"), 101, 30), lit(" closing words?\""))

  /** q80: the line-clean rules over injected docs. */
  def lineCleanGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineClean(
        Tables(spark, dir, "documents").select($"doc_id", injectedLines.as("text")),
        "doc_id", "text")
      .select($"doc_id", $"n_lines", $"n_kept", md5($"cleaned").as("cleaned_md5"))
      .orderBy($"doc_id")
  }

  private val lineCleanOracle: String = {
    val inj = "substr(text, 1, 60) || ' end of part one.'" +
      " || chr(10) || 'lorem ipsum dolor sit amet for padding purposes.'" +
      " || chr(10) || substr(text, 61, 40)" +
      " || chr(10) || 'Short stub.'" +
      " || chr(10) || substr(text, 101, 30) || ' closing words?\"'"
    // the same keep rule in DuckDB; NB trim + \s+ word split like Spark
    val keep = "len(regexp_split_to_array(trim(l), '\\s+')) >= 3" +
      " AND regexp_matches(trim(l), '[.!?]\"?$')" +
      " AND NOT contains(lower(l), 'lorem ipsum')" +
      " AND NOT contains(lower(l), 'javascript')" +
      " AND NOT contains(l, '{')"
    s"""WITH inj AS (SELECT doc_id, $inj AS t FROM documents),
       |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM inj),
       |cl AS (SELECT doc_id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    list_filter(lines, l -> $keep) AS kept FROM ls)
       |SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
       |  md5(list_aggregate(kept, 'string_agg', chr(10))) AS cleaned_md5
       |FROM cl ORDER BY doc_id""".stripMargin
  }

  /** Injected three-line docs for q81: a per-doc unique line, a global
    * boilerplate footer (survives only in the minimum doc), and a
    * residue-class line shared by doc_id % 50 (survives only at each
    * class's minimum doc). */
  private def sharedLines: Column = concat(
    substring(col("text"), 1, 80), lit(" unique tail."),
    lit("\nGlobal boilerplate footer line."),
    lit("\nclass "), (col("doc_id") % 50).cast("string"),
    lit(" shared disclaimer text."))

  /** q81: cross-document keep-first dedup over the injected corpus. */
  def dedupLinesGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupRepeatedLines(
        Tables(spark, dir, "documents").select($"doc_id", sharedLines.as("text")),
        "doc_id", "text")
      .select($"doc_id", $"n_kept", md5($"cleaned").as("cleaned_md5"))
      .orderBy($"doc_id")
  }

  private val dedupLinesOracle: String = {
    val inj = "substr(text, 1, 80) || ' unique tail.'" +
      " || chr(10) || 'Global boilerplate footer line.'" +
      " || chr(10) || 'class ' || CAST(doc_id % 50 AS VARCHAR) || ' shared disclaimer text.'"
    s"""WITH inj AS (SELECT doc_id, $inj AS t FROM documents),
       |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM inj),
       |occ AS (SELECT doc_id, CAST(u.p - 1 AS BIGINT) AS pos, lines[u.p] AS line
       |  FROM ls, unnest(range(1, len(lines) + 1)) AS u(p)),
       |stats AS (SELECT line, COUNT(*) AS occ_n,
       |    min(struct_pack(i := doc_id, p := pos)) AS first_occ
       |  FROM occ GROUP BY line),
       |keep AS (SELECT o.doc_id, o.pos, o.line FROM occ o JOIN stats s USING (line)
       |  WHERE s.occ_n = 1 OR trim(o.line) = ''
       |    OR (s.first_occ.i = o.doc_id AND s.first_occ.p = o.pos)),
       |grouped AS (SELECT doc_id,
       |    CAST(COUNT(*) FILTER (WHERE trim(line) != '') AS BIGINT) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
       |  FROM keep GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(g.n_kept, 0) AS n_kept,
       |  md5(COALESCE(g.cleaned, '')) AS cleaned_md5
       |FROM documents d LEFT JOIN grouped g USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Injected corpus for q93: a global license header shared by EVERY
    * doc (fully scrubbed: its windows have df = corpus size), a
    * per-doc unique salad slice (kept: every window touching it has
    * df 1), and a residue-class disclaimer shared by doc_id % 25
    * (scrubbed: df = class size ≥ minDocs). Windows BRIDGING unique
    * and shared tokens have df 1, so span boundaries are exercised on
    * both sides. */
  private def spanDocs: Column = concat(
    lit("All rights reserved worldwide by the publisher and distributed " +
      "strictly under license terms granted herein. "),
    substring(col("text"), 1, 120),
    lit(" Standard disclaimer block number "),
    (col("doc_id") % 25).cast("string"),
    lit(" applies to this category of documents without exception here."))

  /** q93: cross-document span scrub over the injected corpus. */
  def spanScrubGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scrubRepeatedSpans(
        Tables(spark, dir, "documents").select($"doc_id", spanDocs.as("text")),
        "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"n_removed",
        md5($"scrubbed").as("scrubbed_md5"))
      .orderBy($"doc_id")
  }

  private val spanScrubOracle: String = {
    val w = 10
    val inj = "'All rights reserved worldwide by the publisher and distributed " +
      "strictly under license terms granted herein. '" +
      " || substr(text, 1, 120)" +
      " || ' Standard disclaimer block number '" +
      " || CAST(doc_id % 25 AS VARCHAR)" +
      " || ' applies to this category of documents without exception here.'"
    val spanKey = graft.functions.TextFunctions.hash56Sql(
      s"list_aggregate(toks[u.i + 1 : u.i + $w], 'string_agg', ' ')")
    s"""WITH inj AS (SELECT doc_id, $inj AS t FROM documents),
       |tk AS (SELECT doc_id, ${graft.functions.TextFunctions.wsTokensSql("t")} AS toks FROM inj),
       |sh AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, $spanKey AS sh
       |  FROM tk, unnest(range(0, greatest(len(toks) - $w + 1, 0))) u(i)),
       |boiler AS (SELECT sh FROM (
       |    SELECT sh, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY sh) b
       |  WHERE df >= 3),
       |cov AS (SELECT DISTINCT s.doc_id, s.pos + u.k AS tp
       |  FROM sh s JOIN boiler USING (sh), unnest(range(0, $w)) u(k)),
       |tokpos AS (SELECT doc_id, CAST(u.p - 1 AS BIGINT) AS tp, toks[u.p] AS tok
       |  FROM tk, unnest(range(1, len(toks) + 1)) u(p)),
       |kept AS (SELECT t.doc_id, t.tp, t.tok FROM tokpos t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
       |  WHERE c.tp IS NULL),
       |g AS (SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY tp) AS scrubbed
       |  FROM kept GROUP BY doc_id)
       |SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(tk.toks) - COALESCE(g.n_kept, 0) AS BIGINT) AS n_removed,
       |  md5(COALESCE(g.scrubbed, '')) AS scrubbed_md5
       |FROM tk LEFT JOIN g USING (doc_id)
       |ORDER BY tk.doc_id""".stripMargin
  }

  /** Injected byte-noise for q99: decomposed accents (e + combining
    * acute), CRLF line breaks, a BEL control char, tab runs and double
    * spaces — the byte-level variant classes NFC + the regex chain must
    * collapse; built identically in both engines. */
  private def noisyText: Column = concat(
    substring(col("text"), 1, 50),
    lit(" Cafe\u0301 menu"), // decomposed e+acute; NFC composes it
    lit("\r\nline two\ttab  runs"), // CRLF + tab + double space
    lit("\r\u0007bell "),       // bare CR + BEL (escaped: survives tooling) + trailing space
    substring(col("text"), 51, 30))

  /** q99: text normalization over the injected noisy corpus — the
    * canonical form plus before/after byte lengths (the shrink is the
    * observable). */
  def normalizeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", noisyText.as("raw"))
      .select($"doc_id",
        octet_length($"raw").cast("long").as("n_bytes_raw"),
        graft.functions.TextFunctions.normalizeText($"raw").as("norm"))
      .select($"doc_id", $"n_bytes_raw",
        octet_length($"norm").cast("long").as("n_bytes_norm"),
        md5($"norm").as("norm_md5"))
      .orderBy($"doc_id")
  }

  private val normalizeOracle: String = {
    val inj = "substr(text, 1, 50) || ' Cafe' || chr(769) || ' menu'" +
      " || chr(13) || chr(10) || 'line two' || chr(9) || 'tab  runs'" +
      " || chr(13) || chr(7) || 'bell '" +
      " || substr(text, 51, 30)"
    val norm = graft.functions.TextFunctions.normalizeTextSql("raw")
    s"""WITH inj AS (SELECT doc_id, $inj AS raw FROM documents),
       |n AS (SELECT doc_id,
       |  CAST(octet_length(encode(raw)) AS BIGINT) AS n_bytes_raw,
       |  $norm AS norm FROM inj)
       |SELECT doc_id, n_bytes_raw,
       |  CAST(octet_length(encode(norm)) AS BIGINT) AS n_bytes_norm,
       |  md5(norm) AS norm_md5
       |FROM n ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_line_clean" -> (lineCleanGate _),
    "q81_line_dedup" -> (dedupLinesGate _),
    "q93_span_scrub" -> (spanScrubGate _),
    "q99_normalize_text" -> (normalizeGate _))

  val oracle: Map[String, String] = Map(
    "q80_line_clean" -> lineCleanOracle,
    "q81_line_dedup" -> dedupLinesOracle,
    "q93_span_scrub" -> spanScrubOracle,
    "q99_normalize_text" -> normalizeOracle)
}
