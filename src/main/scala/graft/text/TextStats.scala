package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Text-analysis kit for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  * Extension beyond the reference surface (SURVEY §7.6 north-star); all
  * pure Catalyst expressions → whole-stage codegen, no UDFs, scales
  * linearly with input splits.
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword-token estimate: count word chunks + digits + punctuation
    * marks separately (a deterministic regex proxy for a real tokenizer). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Punctuation ratio: punctuation chars / total chars. */
  def punctRatio(text: Column, scale: Int = 4): Column =
    round(size(regexp_extract_all(text, lit("[\\.,;:!\\?\"'`\\-\\(\\)\\[\\]]"), lit(0)))
      / greatest(length(text), lit(1)).cast("double"), scale)

  /** Uppercase ratio. */
  def upperRatio(text: Column, scale: Int = 4): Column =
    round(size(regexp_extract_all(text, lit("[A-Z]"), lit(0)))
      / greatest(length(text), lit(1)).cast("double"), scale)

  /** Mean word length (non-whitespace chars / non-empty words). */
  def meanWordLen(text: Column, scale: Int = 4): Column = {
    val words = filter(split(trim(text), "\\s+"), w => w =!= "")
    round(length(regexp_replace(text, "\\s+", "")) /
      greatest(size(words), lit(1)).cast("double"), scale)
  }

  private val stopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "was", "for", "on", "with", "as", "at", "by", "be")
  private val stopwordsEs = Seq("el", "la", "los", "las", "un", "una", "y", "o",
    "de", "del", "que", "en", "es", "por", "con", "para", "se", "su", "al")

  /** Stopword ratio against a small embedded English list: fraction of
    * tokens that are stopwords. */
  def stopwordRatio(text: Column, scale: Int = 4): Column = {
    val tokens = filter(split(lower(text), "[^a-z]+"), t => t =!= "")
    val hits = size(filter(tokens, t => t.isInCollection(stopwordsEn)))
    round(hits / greatest(size(tokens), lit(1)).cast("double"), scale)
  }

  /** Composite quality score in [0,1]: penalize too-short docs, extreme
    * punctuation, and absent stopwords (C4/Gopher-style heuristics). */
  def qualityScore(text: Column, scale: Int = 4): Column = {
    val lenScore  = least(length(text) / lit(500.0), lit(1.0))
    val punctPen  = lit(1.0) - least(punctRatio(text, 6) * 4, lit(1.0))
    val stopScore = least(stopwordRatio(text, 6) * 5, lit(1.0))
    round((lenScore + punctPen + stopScore) / 3, scale)
  }

  /** N-gram-heuristic language ID (en/es/unknown) from stopword evidence —
    * the classic profile-intersection approach, done set-wise per row. */
  def langId(text: Column): Column = {
    val tokens = filter(split(lower(text), "[^a-záéíóúñü]+"), t => t =!= "")
    val en = size(filter(tokens, t => t.isInCollection(stopwordsEn)))
    val es = size(filter(tokens, t => t.isInCollection(stopwordsEs)))
    when(en === 0 && es === 0, "unknown")
      .when(en >= es, "en").otherwise("es")
  }

  /** Document fingerprint: 64-bit stable hash of whitespace-normalized,
    * lowercased text (xxhash64 — content-defined identity for exact dedup
    * and incremental re-crawl detection). */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Portable document fingerprint: md5 hex of the same normalized text —
    * ~2× the cost of [[fingerprint]] but replayable verbatim by ANY engine
    * (md5 is universal; xxhash64 is Spark-only), so external systems can
    * re-derive content identity for audit/lineage without Spark. */
  def portableFingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** The eight required stopwords of the Gopher quality rules (Rae et al.
    * 2021, A1.1): a kept document must contain at least two. */
  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality-rule battery (Rae et al. 2021, A1.1) as explicit
    * per-rule booleans — the standard web-crawl filter battery every
    * large-scale pipeline runs before training. Every ratio rule is an
    * INTEGER cross-multiplication (`10·symbols < words` instead of
    * `symbols/words < 0.1`), so the verdicts are bit-exact in any engine —
    * no float thresholds, no rounding rules.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10] chars (3n ≤ chars ≤ 10n); symbol-to-word ratio < 0.1
    * (`#` + ellipsis); ≥ 80 % of words contain a letter; ≤ 90 % of lines
    * start with a bullet; ≤ 30 % of lines end with an ellipsis; ≥ 2 of
    * the eight required stopwords present (exact lowercase token match).
    * `pass` = all rules hold.
    *
    * Scale: one projection over the scan — map-only, zero shuffle; the
    * word array is staged behind a projection barrier (CLAUDE.md
    * invariant 6) so the tokenizer runs once per row, not once per rule. */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val staged = df
      .withColumn("__words", filter(split(trim(t), "\\s+"), w => w =!= ""))
      .withColumn("__lines", split(t, "\n"))
    val counted = staged.select(
      col(idCol),
      size(col("__words")).as("n_words"),
      length(regexp_replace(t, "\\s+", "")).as("n_chars_nws"),
      (size(regexp_extract_all(t, lit("#"), lit(0))) +
        size(regexp_extract_all(t, lit("\\.\\.\\.|…"), lit(0)))).as("n_symbols"),
      size(filter(col("__words"), w => w.rlike("[A-Za-z]"))).as("n_alpha_words"),
      size(array_intersect(
        array_distinct(transform(col("__words"), w => lower(w))),
        array(gopherStopwords.map(lit): _*))).as("n_req_stopwords"),
      size(col("__lines")).as("n_lines"),
      size(filter(col("__lines"), l => ltrim(l).rlike("^(•|\\*\\s|-\\s)")))
        .as("n_bullet_lines"),
      size(filter(col("__lines"), l => rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .as("n_ellipsis_lines"))
    counted.select(
      col(idCol), col("n_words"), col("n_chars_nws"), col("n_symbols"),
      col("n_alpha_words"), col("n_req_stopwords"),
      (col("n_words") >= minWords && col("n_words") <= maxWords)
        .as("r_word_count"),
      (lit(3) * col("n_words") <= col("n_chars_nws") &&
        col("n_chars_nws") <= lit(10) * col("n_words")).as("r_mean_word_len"),
      (lit(10) * col("n_symbols") < col("n_words")).as("r_symbol_ratio"),
      (lit(5) * col("n_alpha_words") >= lit(4) * col("n_words"))
        .as("r_alpha_words"),
      (lit(10) * col("n_bullet_lines") <= lit(9) * col("n_lines"))
        .as("r_bullet_lines"),
      (lit(10) * col("n_ellipsis_lines") <= lit(3) * col("n_lines"))
        .as("r_ellipsis_lines"),
      (col("n_req_stopwords") >= 2).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_alpha_words") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_stopwords"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2) — the other
    * canonical web-curation battery, applied per LINE then rolled up to a
    * page verdict: a line survives iff it ends in terminal punctuation
    * (`.` `!` `?` `"`), has ≥ 5 whitespace words, and does not mention
    * "javascript" (case-insensitive); the page survives iff it contains
    * neither "lorem ipsum" nor `{` and keeps ≥ 3 lines. Returns
    * per-doc `n_lines`, `n_lines_kept`, the REBUILT `clean_text` (kept
    * lines re-joined with newlines), the two page flags, and `keep_page`.
    *
    * Deterministic string surgery only — every verdict and the rebuilt
    * text replay exactly in any engine. Scale: one map-only projection
    * (array HOFs over the line split), zero shuffle. */
  def c4LineFilter(df: DataFrame, textCol: String, idCol: String,
                   minWordsPerLine: Int = 5,
                   minLinesKept: Int = 3): DataFrame = {
    val t = col(textCol)
    val lineOk: Column => Column = l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), w => w =!= "")) >= minWordsPerLine &&
        !lower(l).contains("javascript")
    df.withColumn("__lines", split(t, "\n"))
      .withColumn("__kept", filter(col("__lines"), lineOk))
      .select(
        col(idCol),
        size(col("__lines")).as("n_lines"),
        size(col("__kept")).as("n_lines_kept"),
        array_join(col("__kept"), "\n").as("clean_text"),
        lower(t).contains("lorem ipsum").as("has_lorem_ipsum"),
        t.contains("{").as("has_brace"))
      .withColumn("keep_page",
        !col("has_lorem_ipsum") && !col("has_brace") &&
          col("n_lines_kept") >= minLinesKept)
  }

  /** Per-group corpus datasheet — the "data card" rollup (Gebru et al.,
    * "Datasheets for Datasets", CACM 2021) every curated training corpus
    * ships with: volume, length extrema/mean, exact-duplicate mass, and
    * the distinct-value breadth of each declared categorical facet
    * (languages, licenses, …) per source group.
    *
    * All columns are exact integers — counts, sums of integer lengths,
    * `mean_chars_x100 = total·100 div n` (fixed-point, tie-free) — and
    * duplicate mass is counted against [[portableFingerprint]] identity,
    * so the whole card replays bit-for-bit in any engine with md5.
    *
    * Returns one row per group:
    * `(groupCol, n_docs, total_chars, min_chars, max_chars,
    *   mean_chars_x100, n_distinct_texts, n_dup_docs,
    *   n_distinct_<facet>…)`.
    *
    * Scale: ONE aggregation over the scan — map-side partial aggregates
    * per group key; the only non-trivially-combinable pieces are the
    * distinct counts, which shuffle (group, value) pairs, bounded by the
    * distinct-value mass, not corpus rows. No windows, no joins, no
    * second scan. */
  def dataCard(df: DataFrame, textCol: String, groupCol: String,
               facetCols: Seq[String] = Nil): DataFrame = {
    val len = length(col(textCol))
    val facets = facetCols.map(c =>
      countDistinct(col(c)).cast("int").as(s"n_distinct_$c"))
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(len.cast("long")).as("total_chars"),
      min(len).cast("int").as("min_chars"),
      max(len).cast("int").as("max_chars"),
      countDistinct(portableFingerprint(col(textCol))).as("__nfp")) ++ facets
    df.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("mean_chars_x100",
        expr("CAST((total_chars * 100) DIV n_docs AS BIGINT)"))
      .withColumn("n_distinct_texts", col("__nfp").cast("int"))
      .withColumn("n_dup_docs", (col("n_docs") - col("__nfp")).cast("int"))
      .drop("__nfp")
  }

  /** Per-doc compressibility signals on the native
    * [[graft.functions.CharEntropy]] kernel: code-point count, distinct
    * code points, exact fixed-point character entropy (nats ×1e6) and
    * `compress_ratio_x10000` — the entropy-bound estimate of (compressed /
    * original) size assuming 1-byte characters:
    * `entropy_bits / 8 = entropy_nats / (8·ln 2)`, computed all-integer as
    * `entropy_nats_x1e6 · 10000 div 5545176` (5545176 = 8·floor(ln 2·1e6)+8·…
    * — precisely 8 · 693147, the micro-unit ln 2). Low values flag
    * degenerate/repetitive docs, values near the ceiling flag binary-ish
    * noise — the Gopher-family compressibility gate in replayable form.
    * For the literal zlib number, [[withDeflateRatio]].
    *
    * Scale: MAP-ONLY — one kernel call per row, no per-character explode
    * (one shuffle row per input byte at 100 TB), no shuffle at all. The
    * struct output is staged behind a ≥3-reference projection barrier so
    * CollapseProject cannot duplicate the kernel call. */
  def withCompressionSignals(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("__ce",
        GraftFunctions.charEntropy(col(textCol).cast("string")))
      .withColumn("n_chars", col("__ce.n_chars"))
      .withColumn("n_distinct_chars", col("__ce.n_distinct_chars"))
      .withColumn("entropy_nats_x1e6", col("__ce.entropy_nats_x1e6"))
      .withColumn("compress_ratio_x10000",
        expr("CAST((entropy_nats_x1e6 * 10000) DIV 5545176 AS BIGINT)"))
      .drop("__ce")
  }

  /** Literal zlib compression ratio ×10000 (`deflate(level 6)` bytes ÷
    * UTF-8 bytes) via the native [[graft.functions.DeflateLen]] probe —
    * spec-verified (no cross-engine oracle replays zlib's bitstream; the
    * oracle-checked form is [[withCompressionSignals]]). Map-only. */
  def withDeflateRatio(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("deflate_bytes",
        GraftFunctions.deflateLen(col(textCol).cast("string")))
      .withColumn("__obytes", greatest(octet_length(col(textCol)), lit(1)).cast("long"))
      .withColumn("deflate_ratio_x10000",
        expr("CAST((CAST(deflate_bytes AS BIGINT) * 10000) DIV __obytes AS BIGINT)"))
      .drop("__obytes")
  }
}
