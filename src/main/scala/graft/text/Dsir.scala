package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023): score
  * every raw document by how much its hashed-n-gram profile looks like a
  * small TARGET corpus relative to the raw corpus itself, then keep the
  * highest-scoring fraction. The standard recipe for carving a
  * domain-matched training subset ("give me the Wikipedia-like 10 %") out
  * of a web-scale crawl. Extension beyond the reference surface
  * (SURVEY §2.11); the reference's closest analog is config-driven row
  * filtering (`src/packages/preprocessing/filter/filters.py:10-40`), which
  * has no notion of distributional similarity.
  *
  * Features are hashed unigram+bigram counts over `buckets` buckets — the
  * same md5-prefix bucket gate as [[graft.features.Features.hashEncode]],
  * so any engine replays the bucketing exactly. Two weight scales per
  * bucket:
  *
  *  - `weight` (INT) — ORACLE-GRADE integer log-ratio in decades:
  *    `digits(rawTotal DIV (rawCnt+1)) − digits(tgtTotal DIV (tgtCnt+1))`,
  *    the same decimal-digit-count ⌈−log₁₀ p⌉ bucketing as
  *    [[UnigramLM.withRarityScore]]. Positive ⇔ the bucket is relatively
  *    more frequent in the target. Per-doc sums are exact-integer, so the
  *    DuckDB hash matches bit-for-bit.
  *  - `weight_log` (DOUBLE) — the continuous
  *    `ln p_target(b) − ln p_raw(b)` the paper uses (add-1 smoothed),
  *    det-rounded to 6 dp at the BUCKET level (one value per bucket, like
  *    `woeTable`); per-doc float sums are partition-order dependent, so
  *    this scale is spec-tested, not hash-compared.
  *
  * Scale (100 TB): the n-gram stream is map-only off the scan; the two
  * distributions are `buckets`-row aggregates (map-side combine, shuffle =
  * B rows per partition regardless of corpus size); weights broadcast back
  * (B rows); per-doc scoring is one scalar-only shuffle keyed by doc id.
  * The smoothed totals are a broadcast 1-row aggregate inside the plan, so
  * the whole fit is one job and the driver never sees any data. The
  * resampling step composes with the existing deterministic samplers
  * ([[graft.ops.Filters.topFractionByGroup]] per shard/source keeps the
  * top-k% without a global sort).
  */
object Dsir {

  /** Map-only `(idCol?, bucket)` stream of hashed grams. Null/empty/
    * non-latin text yields zero grams (null-propagating tokenizer).
    * Bucketing runs in the [[graft.functions.DsirBuckets]] native kernel
    * (one array-in/array-out pass; same md5 gate bit-for-bit) — the
    * readable Column form it replaced (per exploded gram, now DsirSpec's
    * reference) cost ~4× the rest of the DSIR entries at sf0.1. */
  private def bucketStream(df: DataFrame, textCol: String,
                           keepCols: Seq[String], buckets: Int): DataFrame = {
    df.withColumn("__toks",
        Dedup.tokensNeCol(col(textCol)))
      .select(keepCols.map(col) :+
        explode(GraftFunctions.dsirBuckets(col("__toks"), buckets)).as("bucket"): _*)
  }

  /** Raw gram-occurrence counts per bucket, densified to ALL `buckets`
    * rows (zero-count buckets included — smoothing needs them). */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame = {
    val counts = bucketStream(df, textCol, Seq.empty, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    df.sparkSession.range(buckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Per-bucket importance weights of `target` relative to `raw` (add-1
    * smoothed): integer `weight` decades + continuous `weight_log` (see
    * class doc). Returns `buckets` rows `(bucket, weight, weight_log)`.
    * When the target IS a partition of `raw` prefer
    * [[importanceWeightsByFlag]] — one gram pass instead of two. */
  def importanceWeights(target: DataFrame, raw: DataFrame, textCol: String,
                        buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val t = bucketCounts(target, textCol, buckets).withColumnRenamed("cnt", "tcnt")
    val r = bucketCounts(raw, textCol, buckets).withColumnRenamed("cnt", "rcnt")
    weightsFromCounts(t.join(r, Seq("bucket")), buckets)
  }

  /** [[importanceWeights]] for the common case where the target corpus is
    * a PARTITION of the raw corpus (`targetFlag` over `raw`'s own rows —
    * "score everything against the English/wiki-like slice"): the gram
    * stream is hashed ONCE, carrying the flag, and both distributions fall
    * out of one conditional aggregate. Identical result to
    * `importanceWeights(raw.where(targetFlag), raw, …)` by construction
    * (spec-pinned); halves the dominant cost of the DSIR fit. */
  def importanceWeightsByFlag(raw: DataFrame, targetFlag: Column,
                              textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val counts = bucketStream(raw.withColumn("__tgt", targetFlag),
        textCol, Seq("__tgt"), buckets)
      .groupBy("bucket").agg(
        count(when(col("__tgt"), 1)).as("tcnt"),
        count(lit(1)).as("rcnt"))
    val dense = raw.sparkSession.range(buckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("tcnt"), lit(0L)).as("tcnt"),
        coalesce(col("rcnt"), lit(0L)).as("rcnt"))
    weightsFromCounts(dense, buckets)
  }

  /** Shared tail of the two fit forms: smoothed totals (broadcast 1-row
    * agg crossed back — the fit stays a single job with no driver action)
    * → integer decade weight + det-rounded continuous weight. */
  private def weightsFromCounts(joined: DataFrame, buckets: Int): DataFrame = {
    val totals = joined.agg(
      (sum("tcnt") + lit(buckets.toLong)).as("__tt"),
      (sum("rcnt") + lit(buckets.toLong)).as("__rt"))
    joined.crossJoin(broadcast(totals)).select(
      col("bucket"),
      (length(expr("CAST(__rt DIV (rcnt + 1L) AS STRING)")) -
        length(expr("CAST(__tt DIV (tcnt + 1L) AS STRING)"))).as("weight"),
      (floor((log((col("tcnt") + 1L) / col("__tt").cast("double")) -
        log((col("rcnt") + 1L) / col("__rt").cast("double"))) * 1e6 + 0.5) / 1e6)
        .as("weight_log"))
  }

  /** MEASURED-NEGATIVE r16, not shipped: a combined fit+score that hashed
    * the gram stream ONCE into a pinned per-(doc, flag, bucket) count
    * table read by both the weights rollup and the per-doc score rollup
    * (saving the second tokenize+md5 kernel pass the fit-then-score
    * pipelines pay) LOST 15–20 % on every DSIR entry at sf0.1
    * (interleaved A/B, min-of-3: q_dsir_score 1.25→1.49 s, q_dsir_resample
    * 1.66→2.09 s, q_curate_tiers 1.93→2.25 s). Reason: in the two-call
    * form NEITHER aggregation ever shuffles gram-level rows — the fit's
    * bucket rollup collapses map-side to ≤`buckets` rows per partition and
    * the score's doc rollup to ~1 row per doc per partition — so the
    * "redundant" kernel pass is pure map-side CPU on native kernels,
    * cheaper than materializing and shuffling the ~docs×buckets count
    * table the sharing requires. The two-pass shape below is the fast one.
    *
    * Adds `n_grams` (INT) and the integer-exact `dsir_score` (BIGINT, sum
    * of per-occurrence bucket weights) plus the continuous
    * `dsir_score_log` (DOUBLE, sum of `weight_log`) to `df`. Docs with no
    * grams score 0 / 0.0. `weights` is broadcast — it is `buckets` rows by
    * construction. */
  def withImportanceScore(df: DataFrame, weights: DataFrame, textCol: String,
                          idCol: String, buckets: Int): DataFrame = {
    val perDoc = bucketStream(df, textCol, Seq(idCol), buckets)
      .join(broadcast(weights.select("bucket", "weight", "weight_log")),
        Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), sum("weight").as("__s"),
        sum("weight_log").as("__sl"))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("__n"), lit(0L)).cast("int"))
      .withColumn("dsir_score", coalesce(col("__s"), lit(0L)).cast("long"))
      .withColumn("dsir_score_log", coalesce(col("__sl"), lit(0.0)))
      .drop("__n", "__s", "__sl")
  }
}
