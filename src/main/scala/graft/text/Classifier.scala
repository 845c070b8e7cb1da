package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Trainable hashed-bag-of-words quality classifier — the fastText-shaped
  * linear scorer every large-scale pipeline runs to label documents
  * (quality, language, toxicity) before filtering. Training is the
  * closed-form Naive-Bayes log-count-ratio (the NBSVM feature weights of
  * Wang & Manning 2012): one aggregation pass over the labeled corpus, no
  * gradient loop. Extension beyond the reference surface (SURVEY §2.11);
  * the reference's closest analog is the CASE-mapping categorizer
  * (`src/packages/preprocessing/transformers/feature_generation.py:121-192`),
  * which scores single columns, not token bags.
  *
  * Determinism contract: weights are fixed to integer MICRO-UNITS at the
  * bucket level — `w_micro(b) = ⌊ln(p̂(b|pos)/p̂(b|neg))·10⁶ + 0.5⌋` (one
  * det-rounded value per bucket, the `woeTable` 6-dp-ln precedent) — so
  * per-document scores are exact BIGINT sums that any engine reproduces
  * bit-for-bit. Tokens bucket through the same portable md5 gate as
  * [[graft.functions.DsirBuckets]].
  *
  * Scale (100 TB): training is one map-only token stream → `buckets`-row
  * conditional aggregate (map-side combine; shuffle = B rows per
  * partition); the model is B rows, broadcast for inference; scoring is
  * one scalar-only shuffle keyed by doc id. Driver never sees row data.
  */
object Classifier {

  /** Closed-form NB log-count-ratio weights from boolean-labeled docs:
    * `(bucket, n_pos, n_neg, w_micro)` over ALL `buckets` rows, add-1
    * smoothed. Positive `w_micro` ⇔ the bucket is evidence for the
    * positive class. */
  def trainNbWeights(df: DataFrame, textCol: String, labelCol: String,
                     buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val flag = col(labelCol).cast("boolean")
    // token bucketing via the native unigram kernel (bit-identical md5
    // gate; see DsirBuckets doc) — the per-token Column md5 chain it
    // replaced dominated the classifier entries' runtime
    val stream = df
      .withColumn("__toks", Dedup.tokensNeCol(col(textCol)))
      .select(explode(GraftFunctions.tokenBuckets(col("__toks"), buckets)).as("bucket"),
        flag.as("__pos"))
    val counts = stream.groupBy("bucket").agg(
      count(when(col("__pos"), 1)).as("n_pos"),
      count(when(!col("__pos"), 1)).as("n_neg"))
    val dense = df.sparkSession.range(buckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"))
    // smoothed class totals stay IN the plan (broadcast 1-row agg crossed
    // back) — the fit is a single job with no driver action.
    val totals = dense.agg(
      (sum("n_pos") + lit(buckets.toLong)).as("__pt"),
      (sum("n_neg") + lit(buckets.toLong)).as("__nt"))
    dense.crossJoin(broadcast(totals))
      .withColumn("w_micro",
        floor((log((col("n_pos") + 1L) / col("__pt").cast("double")) -
          log((col("n_neg") + 1L) / col("__nt").cast("double"))) * 1e6 + 0.5)
          .cast("long"))
      .drop("__pt", "__nt")
  }

  /** Scores `df` against a trained (or literal) `(bucket, w_micro)` model:
    * adds `n_tokens` (INT), `logit_micro` (BIGINT — Σ w_micro over token
    * occurrences, exact) and `pred` (BOOLEAN — `logit_micro > 0`, the NB
    * decision at equal priors). Docs with no tokens score 0 / false.
    * The model is broadcast — it is `buckets` rows by construction. */
  def scoreDocs(df: DataFrame, weights: DataFrame, textCol: String,
                idCol: String, buckets: Int): DataFrame = {
    val perDoc = df
      .withColumn("__toks", Dedup.tokensNeCol(col(textCol)))
      .select(col(idCol),
        explode(GraftFunctions.tokenBuckets(col("__toks"), buckets)).as("bucket"))
      .join(broadcast(weights.select("bucket", "w_micro")), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), sum("w_micro").as("__s"))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("__n"), lit(0L)).cast("int"))
      .withColumn("logit_micro", coalesce(col("__s"), lit(0L)).cast("long"))
      .withColumn("pred", col("logit_micro") > 0)
      .drop("__n", "__s")
  }

  /** Calibration (reliability) table over a SCORED frame: docs binned by
    * the SIGNED MAGNITUDE DECADE of `logitCol`
    * (`sign · digit-count(|logit|)`, 0 for logit 0 — deliberately no
    * signed division: integer `div` truncates toward zero in Spark but
    * floors in DuckDB, so negative-logit bins would disagree), each bin
    * reporting `(n_docs, n_true, true_rate_x10000)` against the boolean
    * `labelCol`. The model-trust report read before wiring `pred` into a
    * curation pipeline.
    *
    * Scale: one ~20-row aggregation over the scored frame (map-side
    * combine); all outputs exact integers. */
  def calibrationTable(scored: DataFrame, logitCol: String,
                       labelCol: String): DataFrame =
    scored
      .withColumn("bin",
        when(col(logitCol) === 0, lit(0))
          .otherwise((signum(col(logitCol)) *
            length(abs(col(logitCol)).cast("string"))).cast("int")))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_true"))
      .withColumn("true_rate_x10000", expr("n_true * 10000 div n_docs"))
}
