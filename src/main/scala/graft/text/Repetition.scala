package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Gopher-style repetition quality filters (Rae et al. 2021, "Scaling
  * Language Models", appendix A1.1): documents dominated by repeated lines
  * or repeated n-grams are low-quality training data and get filtered by
  * thresholding these fractions. Extension beyond the reference surface
  * (SURVEY §2.11 training-data scope).
  *
  * Two families, two scale profiles:
  *
  *  - SEGMENT metrics (duplicate lines/words): pure Catalyst array
  *    expressions per row — whole-stage codegen, zero shuffle, scales as a
  *    map over input splits.
  *  - N-GRAM metrics (top/duplicate n-gram character fractions): one tagged
  *    explode over both gram sizes, one partial-aggregated groupBy (all
  *    grams of a doc sit in one partition, so map-side combine collapses to
  *    distinct-grams-per-doc BEFORE the shuffle), one per-doc aggregation,
  *    then a left join back to preserve gram-less (short) documents. The
  *    shuffle carries scalars only — (id, gram xxhash64, gram length) —
  *    never gram text. (64-bit gram-hash collisions would merge two gram
  *    counts; at ≤1e5 distinct grams per doc the per-doc collision odds are
  *    ~1e-9 — documented, not handled.)
  *
  * Determinism (driver hash-compare vs DuckDB): the "top n-gram" metric is
  * defined as max over grams of count×length (maximum covered characters)
  * rather than "chars of the most frequent gram" — the latter is
  * tie-ambiguous when two grams share the top count, the max of products is
  * a deterministic scalar. All fractions are ratios of exact ints rounded
  * via floor(x·10⁴+0.5)/10⁴ on both engines.
  */
object Repetition {

  /** Non-empty segments of `text` split by regex `delim`. */
  private def segsCol(text: Column, delim: String): Column =
    filter(split(text, delim), s => s =!= "")

  private def detRound4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  private def charSum(arr: Column): Column =
    aggregate(arr, lit(0), (acc, x) => acc + length(x))

  /** Adjacent-repeat token scrub: collapse runs of the SAME whitespace
    * token to one occurrence ("the the the" → "the") — the stutter
    * artifact of OCR output, scraped marquees, and decode loops, fixed in
    * place rather than merely measured (the removal counterpart of
    * [[withSegmentRepetition]]'s report). Returns the input columns plus
    * `text_scrubbed` (single-space rejoined) and `n_removed`.
    *
    * Runs on the native [[graft.functions.ScrubRepeats]] kernel — one
    * byte-level pass, codegen'd, no intermediate token arrays (the earlier
    * `zip_with` composition was CodegenFallback; kept as
    * [[scrubAdjacentRepeatsHof]] for the differential spec). The struct
    * output is staged behind a ≥2-reference projection barrier (both fields
    * read) so CollapseProject cannot duplicate the kernel call.
    * Scale: MAP-ONLY, zero shuffle. */
  def scrubAdjacentRepeats(df: DataFrame, textCol: String,
                           idCol: String): DataFrame = {
    val sc = GraftFunctions.scrubRepeats(col(textCol).cast("string"))
    df.withColumn("__sc", sc)
      // null text → "" scrubbed / null n_removed: the contract of the HOF
      // form (concat_ws over a null array is ""; size(null) is null)
      .withColumn("text_scrubbed",
        coalesce(col("__sc.text_scrubbed"), lit("")))
      .withColumn("n_removed", col("__sc.n_removed"))
      .drop("__sc")
  }

  /** Composed-HOF reference form of [[scrubAdjacentRepeats]] — built from
    * `zip_with(tokens, shifted-tokens)` + `array_compact`, NOT an index
    * lambda reading `tokens[i-1]` from the enclosing row — a lambda
    * referencing the token ARRAY re-evaluates the split per ELEMENT once an
    * optimizer rule inlines the alias (the [[Dedup.docNovelty]] hazard);
    * here every HOF argument is evaluated once per row. Retained as the
    * spec oracle for the native kernel (`zip_with` is CodegenFallback —
    * interpreted per row — which is why the kernel replaced it on the hot
    * path). */
  def scrubAdjacentRepeatsHof(df: DataFrame, textCol: String,
                              idCol: String): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    // prev[i] = toks[i-1], with a "" sentinel at position 0 ("" is never a
    // token — empties are filtered — so the first token always survives)
    val prev = concat(array(lit("")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    val kept = array_compact(
      zip_with(toks, prev, (t, p) => when(t.isNotNull && !(t <=> p), t)))
    df.withColumn("__kept", kept)
      .withColumn("__ntok", size(toks))
      .withColumn("text_scrubbed", concat_ws(" ", col("__kept")))
      .withColumn("n_removed", (col("__ntok") - size(col("__kept"))).cast("int"))
      .drop("__kept", "__ntok")
  }

  /** Duplicate-segment fractions in two staged projections (`__segs` and
    * `__dsegs` are each referenced ≥2 times downstream, so CollapseProject
    * keeps the barrier and the split/distinct run once per row — see
    * [[Dedup]] class doc for the measured re-evaluation hazard):
    *
    *  - `dup_<prefix>_frac`: fraction of segments that are repeat
    *    occurrences (1 − distinct/total);
    *  - `dup_<prefix>_char_frac`: fraction of segment characters sitting in
    *    repeat occurrences.
    *
    * `delim` defaults to newline (Gopher's duplicate-line filter); pass
    * `"\\s+"` for word-granularity repetition on unstructured text. */
  def withSegmentRepetition(df: DataFrame, textCol: String,
                            delim: String = "\n", prefix: String = "line")
      : DataFrame = {
    val staged = df
      .withColumn("__segs", segsCol(col(textCol), delim))
      .withColumn("__dsegs", array_distinct(col("__segs")))
    val n      = size(col("__segs"))
    val nDist  = size(col("__dsegs"))
    val chars  = charSum(col("__segs"))
    val dChars = charSum(col("__dsegs"))
    staged
      .withColumn(s"dup_${prefix}_frac",
        detRound4((n - nDist) / greatest(n, lit(1)).cast("double")))
      .withColumn(s"dup_${prefix}_char_frac",
        detRound4((chars - dChars) / greatest(chars, lit(1)).cast("double")))
      .drop("__segs", "__dsegs")
  }

  // ---------------------------------------------------- boilerplate removal

  /** Corpus-level boilerplate segments: segments (lines; words with
    * delim="\\s+") whose DOCUMENT frequency is ≥ `minDocFrac` of the corpus
    * — navigation chrome, license headers, cookie banners. Returns
    * `(segment, doc_freq)`.
    *
    * Scale note: the result is SMALL by construction — a segment needs
    * ≥ minDocFrac·N docs to qualify, and total (doc, distinct segment)
    * incidences are ≤ N·avgSegs, so at most avgSegs/minDocFrac distinct
    * segments qualify (e.g. ≤ 100·avgSegs for 1%) regardless of corpus
    * size. That bound is what makes the broadcast form of
    * [[removeBoilerplate]] safe at 100 TB. */
  def boilerplateSegments(df: DataFrame, textCol: String, idCol: String,
                          delim: String, minDocFrac: Double): DataFrame = {
    val nDocs = df.count()
    df.select(col(idCol), explode(segsCol(col(textCol), delim)).as("segment"))
      .groupBy("segment")
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .where(col("doc_freq") >= lit(minDocFrac) * lit(nDocs))
  }

  /** Strip boilerplate segments from every document, preserving the order
    * and multiplicity of the surviving segments. Adds `text_clean` (the
    * surviving segments re-joined with `joinDelim`) and `n_removed`.
    *
    * The qualifying set is collected into ONE single-row array frame and
    * broadcast-cross-joined (safe — see [[boilerplateSegments]] size
    * bound); each row then filters its own segment array in place: order-
    * preserving, duplicate-preserving, zero extra shuffle of the corpus.
    * Per-token cost is O(|bad|) — for pathological thresholds that make the
    * set large, use [[removeBoilerplateViaJoin]]. */
  def removeBoilerplate(df: DataFrame, textCol: String, idCol: String,
                        delim: String = "\n", minDocFrac: Double = 0.5,
                        joinDelim: String = " "): DataFrame = {
    val badArr = boilerplateSegments(df, textCol, idCol, delim, minDocFrac)
      .agg(coalesce(collect_list(col("segment")),
        array().cast("array<string>")).as("__bad"))
    val staged = df.withColumn("__segs", segsCol(col(textCol), delim))
      .crossJoin(broadcast(badArr))
      .withColumn("__clean",
        filter(col("__segs"), s => !array_contains(col("__bad"), s)))
    staged
      .withColumn("text_clean", array_join(col("__clean"), joinDelim))
      .withColumn("n_removed", (size(col("__segs")) - size(col("__clean"))))
      .drop("__segs", "__bad", "__clean")
  }

  /** Shuffle-join form of [[removeBoilerplate]] for thresholds low enough
    * that the qualifying set no longer fits a broadcast: posexplode →
    * left-anti join on the segment value → order-restoring reassembly
    * (array_sort over (pos, segment) structs). Same output contract. */
  def removeBoilerplateViaJoin(df: DataFrame, textCol: String, idCol: String,
                               delim: String = "\n", minDocFrac: Double = 0.5,
                               joinDelim: String = " "): DataFrame = {
    val bad = boilerplateSegments(df, textCol, idCol, delim, minDocFrac)
      .select(col("segment"))
    val staged = df.withColumn("__segs", segsCol(col(textCol), delim))
    val kept = staged
      .select(col(idCol), posexplode(col("__segs")).as(Seq("__pos", "segment")))
      .join(bad, Seq("segment"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("segment"))))
        .as("__kept"))
      .select(col(idCol),
        transform(col("__kept"), s => s.getField("segment")).as("__clean"))
    staged.join(kept, Seq(idCol), "left")
      .withColumn("__clean2",
        coalesce(col("__clean"), array().cast("array<string>")))
      .withColumn("text_clean", array_join(col("__clean2"), joinDelim))
      .withColumn("n_removed", (size(col("__segs")) - size(col("__clean2"))))
      .drop("__segs", "__clean", "__clean2")
  }

  /** NON-distinct word n-grams (repetition counting needs occurrence
    * multiplicity; [[Dedup.ngramsFromTokens]] is distinct-by-design for set
    * similarity). Empty when the doc has fewer than `n` tokens. */
  private def allNgrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Adds `top_<topN>gram_char_frac` (fraction of normalized-doc characters
    * covered by the highest-coverage topN-gram) and
    * `dup_<dupN>gram_char_frac` (fraction of dupN-gram characters occurring
    * in grams seen more than once). Docs too short for a gram get 0.0.
    *
    * MAP-ONLY since r11: the metric is per-document local, so the whole
    * computation runs in the [[graft.functions.RepetitionStats]] kernel —
    * one struct per row, referenced 4× behind a projection barrier, no
    * explode (whose inferred `size > 0` filter re-evaluated the gram
    * builder per row — invariant 6; measured 28 s → map-only at sf0.1) and
    * no gram shuffle (which aggregated only within each doc anyway).
    * [[withNgramRepetitionShuffle]] keeps the old topology as the
    * differential-spec reference. */
  def withNgramRepetition(df: DataFrame, textCol: String, idCol: String,
                          topN: Int = 2, dupN: Int = 3): DataFrame = {
    require(topN >= 1 && dupN >= 1, "gram sizes must be >= 1")
    val st = GraftFunctions.repetitionStats(Dedup.tokensCol(col(textCol)), topN, dupN)
    df.withColumn("__rep", st)
      .withColumn(s"top_${topN}gram_char_frac",
        coalesce(detRound4(col("__rep.top_cover")
          / greatest(col("__rep.nchars"), lit(1)).cast("double")), lit(0.0)))
      .withColumn(s"dup_${dupN}gram_char_frac",
        coalesce(detRound4(col("__rep.dup_chars")
          / greatest(col("__rep.tot_chars"), lit(1)).cast("double")), lit(0.0)))
      .drop("__rep")
  }

  /** Pre-r11 tagged-explode topology of [[withNgramRepetition]] — kept
    * ONLY as the independent reference for the kernel's differential spec
    * (RepetitionSpec asserts row-identical output on real docs). */
  private[graft] def withNgramRepetitionShuffle(
      df: DataFrame, textCol: String, idCol: String,
      topN: Int = 2, dupN: Int = 3): DataFrame = {
    require(topN >= 1 && dupN >= 1, "gram sizes must be >= 1")
    // Stage tokens behind a projection barrier (referenced 3×: nchars + two
    // gram builders), then the tagged gram union (referenced by explode).
    val tagged = df
      .withColumn("__toks", Dedup.tokensCol(col(textCol)))
      .select(
        col(idCol),
        length(array_join(col("__toks"), " ")).as("__nchars"),
        (if (topN == dupN) transform(allNgrams(col("__toks"), topN),
            g => struct(lit(topN).as("n"), g.as("gram")))
         else concat(
           transform(allNgrams(col("__toks"), topN),
             g => struct(lit(topN).as("n"), g.as("gram"))),
           transform(allNgrams(col("__toks"), dupN),
             g => struct(lit(dupN).as("n"), g.as("gram"))))).as("__tagged"))

    val exploded = tagged
      .select(col(idCol), col("__nchars"), explode(col("__tagged")).as("__g"))
      .select(col(idCol), col("__nchars"),
        col("__g.n").as("__n"),
        xxhash64(col("__g.gram")).as("__gh"),
        length(col("__g.gram")).as("__glen"))

    val gramCounts = exploded
      .groupBy(col(idCol), col("__n"), col("__gh"))
      .agg(count(lit(1)).as("__cnt"),
        first(col("__glen")).as("__glen"),
        first(col("__nchars")).as("__nchars"))

    val cover = col("__cnt") * col("__glen")
    val perDoc = gramCounts
      .groupBy(col(idCol))
      .agg(
        max(when(col("__n") === topN, cover)).as("__topCover"),
        sum(when(col("__n") === dupN && col("__cnt") > 1, cover)).as("__dupChars"),
        sum(when(col("__n") === dupN, cover)).as("__totChars"),
        first(col("__nchars")).as("__nchars2"))

    df.join(perDoc, Seq(idCol), "left")
      .withColumn(s"top_${topN}gram_char_frac",
        coalesce(detRound4(col("__topCover")
          / greatest(col("__nchars2"), lit(1)).cast("double")), lit(0.0)))
      .withColumn(s"dup_${dupN}gram_char_frac",
        coalesce(detRound4(col("__dupChars")
          / greatest(col("__totChars"), lit(1)).cast("double")), lit(0.0)))
      .drop("__topCover", "__dupChars", "__totChars", "__nchars2")
  }
}
