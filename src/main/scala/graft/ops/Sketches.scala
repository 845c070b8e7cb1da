package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import graft.functions.GraftFunctions

/** Approximate-query sketch kit — the operators a 100 TB pipeline reaches
  * for when exact answers would shuffle the world: HyperLogLog++
  * cardinality, quantile sketches, Count-Min frequency, and Bloom-filter
  * join pruning. Extension beyond the reference surface (which is exact
  * smalls-scale batch); all built on Spark's own sketch implementations so
  * partials merge map-side and the driver only ever sees a fixed-size
  * sketch, never the data.
  */
object Sketches {

  /** HLL++ distinct count per group: fixed-size state per (group, sketch) —
    * the scalable form of `countDistinct` (whose exact form is a full
    * shuffle of the distinct values). `rsd` = target relative error. */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     rsd: Double = 0.05, as: String = "approx_distinct"): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(as))

  /** Quantile sketch per group (Greenwald-Khanna via `percentile_approx`):
    * one pass, mergeable partials, bounded memory — vs an exact
    * percentile's full sort. `accuracy` trades memory for error
    * (1.0/accuracy relative rank error). */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      probabilities: Seq[Double],
                      accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        array(probabilities.map(lit): _*), lit(accuracy)).as("quantiles"))

  /** Count-Min frequency sketch of a column, built distributed
    * (mergeable per-partition sketches; `eps`/`confidence` bound the
    * overestimate). Query it driver-side for heavy-hitter estimates. */
  def countMin(df: DataFrame, valueCol: String,
               eps: Double = 0.001, confidence: Double = 0.99,
               seed: Int = 42): CountMinSketch =
    df.stat.countMinSketch(valueCol, eps, confidence, seed)

  /** ENGINE-PORTABLE Count-Min sketch, materialized as a cell table
    * (Cormode & Muthukrishnan, "An improved data stream summary: the
    * count-min sketch and its applications", J. Algorithms 2005): row d's
    * hash of item x is the first `hexChars` hex digits of
    * `md5(d || '|' || x)` — width 16^hexChars buckets per row, and the
    * whole construction (md5 → hex-prefix bucket → cell count) replays
    * bit-for-bit in any SQL engine, unlike [[countMin]]'s JVM-seeded
    * driver-side sketch. The PERSISTABLE form: store the ≤ depth·width
    * cell rows, answer later frequency queries without the raw data, and
    * union-merge sketches of table increments by summing cell counts.
    *
    * Scale: this is the sketch whose aggregation CANNOT blow up — keys
    * are (d, bucket) with at most depth·16^hexChars values, so map-side
    * partial aggregation collapses every partition to that bound before
    * the shuffle; the exchange carries cells, never the distinct-item
    * universe (an exact per-item count shuffles every key — the thing a
    * 100 TB heavy-hitter probe must not do). */
  def cmsCells(df: DataFrame, itemCol: String,
               depth: Int = 4, hexChars: Int = 2): DataFrame = {
    require(depth >= 1, "depth must be >= 1")
    require(hexChars >= 1 && hexChars <= 8, "hexChars must be in 1..8")
    // NULL items are excluded (symmetrically in cmsEstimate): md5/concat
    // propagate null into a null bucket the estimate join could never
    // match, which would return 0 for an item the sketch had counted —
    // an undercount, the one thing CMS must never do
    // All `depth` bucket ids per item in ONE native kernel call
    // (CmsBuckets — bit-identical to the Column chain the oracle
    // replays; the probe side in [[cmsEstimate]] keeps the Column form,
    // and the two must agree for any estimate to bound an exact count,
    // which the spec + q_sketch_cms oracle pin). spreadSmallScan: the
    // digest loop is CPU-bound and a small single-file scan would run
    // it on 1-2 cores (same fix as bootstrapReplicates, r12).
    // posexplode_OUTER keeps InferFiltersFromGenerate from planting a
    // size() probe that re-runs the kernel (CLAUDE.md invariant 6);
    // the array is always length `depth`, so outer ≡ inner.
    val buckets = GraftFunctions.cmsBuckets(col("__x"), depth, hexChars)
    Scale.spreadSmallScan(
        df.where(col(itemCol).isNotNull)
          .select(col(itemCol).cast("string").as("__x")))
      .select(posexplode_outer(buckets).as(Seq("d", "bucket")))
      .groupBy("d", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-query a [[cmsCells]] sketch: each probe item's estimate is the
    * MIN over the depth rows of its cell counts — `true ≤ est ≤ true +
    * collisions`, never an undercount. NULL probes are dropped (nulls are
    * excluded from the sketch — see [[cmsCells]]). The cell table is
    * broadcast (≤ depth·width rows by construction), so probing is
    * map-only over the probe set. */
  def cmsEstimate(cells: DataFrame, probes: DataFrame, itemCol: String,
                  depth: Int = 4, hexChars: Int = 2): DataFrame = {
    require(depth >= 1, "depth must be >= 1")
    require(hexChars >= 1 && hexChars <= 8, "hexChars must be in 1..8")
    val p = probes.select(col(itemCol)).where(col(itemCol).isNotNull).distinct()
      .select(col(itemCol), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .withColumn("bucket", substring(
        md5(concat(col("d").cast("string"), lit("|"),
          col(itemCol).cast("string"))), 1, hexChars))
    p.join(broadcast(cells), Seq("d", "bucket"), "left")
      .groupBy(itemCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Bloom filter over a (small-ish) key set, built distributed. */
  def keyBloom(df: DataFrame, keyCol: String, expectedItems: Long,
               fpp: Double = 0.01): BloomFilter =
    df.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Bloom-filter join pruning: pre-filter the BIG side of a join with a
    * bloom of the small side's keys before the shuffle — rows that cannot
    * match never enter the exchange (false positives are later dropped by
    * the real join; false negatives are impossible). This is the manual
    * form of AQE's runtime bloom pushdown
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), for when the
    * build side isn't a scan Catalyst can see through. */
  /** Mergeable per-(group, bucket) HLL sketches (Apache DataSketches via
    * Spark's hll_sketch_agg): the PERSISTABLE intermediate of an
    * incremental distinct-count profile — build one binary sketch per
    * day/partition as data lands, answer "distinct users this quarter"
    * later by unioning stored sketches with [[hllUnionEstimate]] instead
    * of rescanning a quarter of raw events. Sketch state is a register
    * MAX, so the estimate is order/layout-independent and
    * union-of-parts ≡ sketch-of-whole (spec-pinned).
    *
    * Scale: the raw table is touched once per increment; every later
    * question over any bucket combination is an agg over #groups ×
    * #buckets rows of ~KB sketches. */
  def hllDailySketches(df: DataFrame, groupCols: Seq[String], bucketCol: String,
                       valueCol: String, lgConfigK: Int = 12): DataFrame =
    df.groupBy((groupCols :+ bucketCol).map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("hll_sketch"))

  /** Union stored sketches per group and estimate the distinct count —
    * the read side of [[hllDailySketches]]. */
  def hllUnionEstimate(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch")))
        .as("approx_distinct"))

  def bloomPruneJoin(large: DataFrame, largeKey: String,
                     small: DataFrame, smallKey: String,
                     expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = keyBloom(small, smallKey, expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    // native codegen predicate (graft_bloom_might_contain) — integral or
    // string keys, type-checked instead of silently cast; the serialized
    // filter ships with the plan like Spark's own runtime bloom pushdown
    // (task binaries are broadcast once per executor, so the cost is plan
    // size, not per-task payload — for very large expectedItems keep the
    // filter tens of MB, not hundreds: ~1.2 GB per 1e9 items at fpp 0.01)
    large.where(GraftFunctions.bloomMightContain(col(largeKey), out.toByteArray))
      .join(small, large(largeKey) === small(smallKey))
  }

  /** Approximate top-k heavy hitters per group via the native SpaceSaving
    * aggregate ([[graft.functions.TopKSketch]]): each group's result is an
    * exploded `(item, cnt, err)` ranking. Fixed `capacity`-sized mergeable
    * partials combine map-side — the shuffle carries `capacity` triples
    * per (partition, group), NEVER the distinct-key universe, which is the
    * whole point at 100 TB (an exact top-k shuffles every distinct key).
    * `cnt − err ≤ true ≤ cnt`; any item with true count > group_total /
    * capacity is guaranteed present. */
  def topKApprox(df: DataFrame, groupCols: Seq[String], itemCol: String,
                 k: Int, capacity: Int): DataFrame = {
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(GraftFunctions.topK(col(itemCol).cast("string"), k, capacity).as("__top"))
    agg.select(groupCols.map(col) :+ posexplode(col("__top")).as(Seq("rank", "t")): _*)
      .select(groupCols.map(col) ++ Seq(col("rank").cast("int").as("rank"),
        col("t.item").as("item"), col("t.cnt").as("cnt"), col("t.err").as("err")): _*)
  }
}
