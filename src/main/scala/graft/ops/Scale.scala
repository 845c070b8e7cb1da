package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pins

/** Scale utilities: skew-salted joins, bucketed co-located joins, and
  * partition-layout helpers — the knobs a 1000-executor / 100 TB deployment
  * turns that local tests can still assert on.
  *
  * These are extensions beyond the reference surface (which delegates all
  * physical strategy to Catalyst — SURVEY §4): at reference scale none of
  * this matters; at 100 TB a single hot key or an unbucketed fact-fact join
  * dominates the job.
  */
object Scale {

  /** Skew-salted equi-join (large skewed `left` ⋈ smaller `right`):
    * left rows get a random salt in [0, saltFactor); right rows are
    * replicated across ALL salt values (explode of a literal range — a
    * saltFactor× blowup of the SMALL side only). The join key becomes
    * (key, salt), splitting each hot key into `saltFactor` reducers.
    *
    * AQE's skew-join handles sort-merge skew automatically; explicit
    * salting remains the tool when the skew sits in an aggregation feeding
    * the join or AQE splitting is defeated (e.g. bucketed inputs). */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltFactor: Int, how: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // Replicating the right side saltFactor× would emit each unmatched
    // right row saltFactor times under right/full outer joins — restrict to
    // the join types whose semantics survive replication of the build side.
    val normalized = how.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")(normalized),
      s"saltedJoin supports inner/left/left_semi/left_anti joins, not '$how' " +
        "(right/full outer would duplicate unmatched right rows saltFactor times)")
    // deterministic salt: hash of the full left row, not rand() — keeps
    // retries/speculative tasks consistent
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(saltFactor)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    // shuffle_hash on the replicated small side (invariant 12): SMJ would
    // SORT the big salted fact stream — the side salting exists to
    // protect; hash-building the small side (salting's own contract says
    // it is replicable, so per-partition build = small·saltFactor/parts)
    // streams the fact unsorted. Spark supports build-right SHJ for all
    // the left-shaped joins this method admits.
    saltedLeft.join(saltedRight.hint("shuffle_hash"), keys :+ "__salt", how)
      .drop("__salt")
  }

  /** Per-key aggregation with two-phase salting: partial aggregate on
    * (key, salt), then final aggregate on key — splits a hot GROUP BY key
    * across `saltFactor` reducers. `partials` and `finals` must be a
    * decomposable pair (e.g. partial sum → final sum; partial count →
    * final sum). */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFactor: Int,
                partials: Seq[(String, Column)], finals: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(saltFactor)).cast("int"))
    val phase1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(partials.head._2.as(partials.head._1),
        partials.tail.map { case (n, c) => c.as(n) }: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(finals.head._2.as(finals.head._1),
        finals.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Write both sides bucketed by the join key into the session catalog —
    * subsequent equi-joins on `keys` with matching bucket counts plan as
    * zero-Exchange sort-merge joins (co-located). The local-warehouse
    * equivalent of pre-partitioned production tables. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Number of shuffle Exchange operators in the executed plan — the
    * assertion primitive for co-location tests. AQE-aware: descends into
    * `AdaptiveSparkPlanExec` (whose inner plan is not a child) and
    * `QueryStageExec` wrappers, so counts are meaningful with adaptive
    * execution on (Spark 4 default); ReusedExchange does NOT count (it is
    * precisely a shuffle that did not happen again). */
  def countExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Deterministic ordered bucketing for the prefix-sum topologies
    * (median / CDF / gini / lorenz / quartiles): adds an INT `__part`
    * column that is a MONOTONE function of the numeric `valueCol` —
    * linear interpolation of the value against its broadcast (min, max)
    * bounds into 4 buckets per shuffle partition. This serves exactly the
    * role [[rangeSlices]] plays (an ordered partition of the value domain
    * for [[sliceOffsets]] + per-bucket local windows) WITHOUT its three
    * fixed costs: the range sampling pass, the nondeterministic partition
    * ids, and the invariant-7 `localCheckpoint` those ids force (measured
    * r15: sampling + checkpoint jobs were most of q_feat_mad's 3.3 s at
    * sf0.1 — the data itself is a value-distinct count table). The
    * bucket expression is deterministic, so both consuming subtrees may
    * recompute it freely.
    *
    * Monotone and SKEW-RESILIENT (r16; VERDICT r15 #5): interpolation
    * runs in the signed-log domain — `m(v) = sign(v)·ln(1+|v|)`, strictly
    * monotone over all reals — so one heavy outlier stretches the bucket
    * range only LOGARITHMICALLY instead of linearly (r15's raw-value
    * interpolation collapsed to ~1 effective bucket when one value sat
    * orders of magnitude above the mass; in log domain a 10^12 outlier
    * over a 10^3 mass still leaves ~25 % of the buckets on the mass).
    * Still not row-balanced: true quantile boundaries were tried first
    * r16 and REJECTED — they require an EXTRA eager approx_percentile job
    * per call (boundaries must be plan literals: a per-subtree
    * re-aggregated sketch could merge partials in a different order and
    * bucket the same value differently across the offsets/cumsum
    * subtrees), and interleaved sf0.1 A/B showed the structural extra job
    * never paying for itself (stats-family deltas stayed inside the box's
    * ±15 % drift; see OPTIMIZATION_r16.md). The log transform buys the
    * worst-case fix with NO extra pass. Never wrong, only parallelism:
    * equal values share a bucket by construction (pure deterministic
    * function of v and the broadcast bounds). Values must be non-null. */
  def orderedBuckets(df: DataFrame, valueCol: String): DataFrame = {
    val buckets = 4 * df.sparkSession.sessionState.conf.numShufflePartitions
    def m(c: Column): Column = signum(c) * log1p(abs(c))
    val v = m(col(valueCol).cast("double"))
    val bounds = broadcast(df.agg(
      min(v).as("__lo"), max(v).as("__hi")))
    df.crossJoin(bounds)
      .withColumn("__part",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(
            floor((v - col("__lo")) / (col("__hi") - col("__lo")) * buckets),
            lit(buckets - 1L)).cast("int")))
      .drop("__lo", "__hi")
  }

  /** Range slices for the distributed prefix sum — the two-phase scan of
    * Blelloch ("Prefix Sums and Their Applications", 1990), never one
    * unpartitioned window that serializes the data through a single
    * task: `repartitionByRange` on `order` into the session's shuffle
    * partitions (slices hold contiguous ranges, so slice order ⊂ global
    * order), rows tagged with their INT slice `__part` and, when
    * `sorted`, sorted by `order` within it (for a row-position rank read
    * off the stream).
    *
    * Pinned with `localCheckpoint`: the range boundaries are SAMPLED and
    * `spark_partition_id` is no function of the row, so the offsets and
    * the local subtree must read ONE materialization — correctness never
    * rests on exchange reuse. This is the one place a sampled range
    * partitioning is pinned. */
  def rangeSlices(df: DataFrame, order: Seq[Column], sorted: Boolean = false): DataFrame = {
    val ranged = df.repartitionByRange(
      df.sparkSession.sessionState.conf.numShufflePartitions, order: _*)
    Pins.pin((if (sorted) ranged.sortWithinPartitions(order: _*) else ranged)
      .withColumn("__part", spark_partition_id()))
  }

  /** The offsets phase of the distributed prefix sum over a sliced frame
    * ([[rangeSlices]] or [[orderedBuckets]]): each named aggregate of
    * `sums` per (`__part`, `groupBy`…) slice, a #slices(×groups)-row
    * table holding, per name, `<name>_before` — its total over the
    * group's EARLIER slices (0 for the first) — and `<name>_total`, the
    * group's grand total, broadcast and joined back on the slice keys.
    * The only global windows run over that table; a slice-local running
    * window plus `<name>_before` is the global prefix, independent of
    * where the slice boundaries fall. */
  def sliceOffsets(sliced: DataFrame, sums: Seq[(String, Column)],
                   groupBy: Seq[String] = Nil): DataFrame = {
    require(sums.nonEmpty, "sliceOffsets needs at least one sum")
    val keys = "__part" +: groupBy
    val group = Window.partitionBy(groupBy.map(col): _*)
    val earlier = group.orderBy("__part").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sliced.groupBy(keys.map(col): _*)
      .agg(sums.head._2.as(sums.head._1), sums.tail.map { case (n, c) => c.as(n) }: _*)
      .select(keys.map(col) ++
        sums.map { case (n, _) => coalesce(sum(n).over(earlier), lit(0)).as(s"${n}_before") } ++
        sums.map { case (n, _) => sum(n).over(group).as(s"${n}_total") }: _*)
    sliced.join(broadcast(offsets), keys)
  }

  /** The running sums over a value-bucketed count table
    * ([[orderedBuckets]] on `__v`, distinct values): for each
    * `(cum, name, value)`, [[sliceOffsets]]' `<name>_before` and
    * `<name>_total` of `sum(value)`, and `cum` — the global running sum
    * of `value` in `__v` order, a bucket-local window plus the earlier
    * buckets' total. */
  def cumulativeCounts(ranged: DataFrame, sums: Seq[(String, String, Column)]): DataFrame = {
    val local = Window.partitionBy("__part").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    sums.foldLeft(sliceOffsets(ranged, sums.map { case (_, name, v) => name -> sum(v) })) {
      case (df, (cum, name, v)) => df.withColumn(cum, sum(v).over(local) + col(s"${name}_before"))
    }
  }

  /** The 1-based global row position under `order` — a TOTAL order, the
    * one the frame was [[rangeSlices]]-sliced on, after `groupBy` — of a
    * [[sliceOffsets]] frame counting `__rows`: the rows of the group's
    * earlier slices plus a slice-local `row_number`. */
  def sliceRank(order: Seq[Column], groupBy: Seq[String] = Nil): Column =
    col("__rows_before") + row_number().over(
      Window.partitionBy(("__part" +: groupBy).map(col): _*).orderBy(order: _*))

  /** The `(group, score)` histogram of `df` — `__c` rows per distinct
    * score — with `above`, the count of the group's rows scoring strictly
    * higher (the exclusive running count in descending score order). The
    * window runs over distinct scores, never over rows. */
  def scoreHistogram(df: DataFrame, groupCol: String, scoreCol: String,
                     above: String): DataFrame =
    df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn(above, coalesce(sum("__c").over(
        Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

  /** SQL `ntile(nBuckets)` of the 1-based `rank` among `rows` rows, as
    * arithmetic: ntile front-loads the remainder, so the first
    * `rows mod nBuckets` tiles hold one row more. Exact below 2^52 rows
    * (the floor runs on a double quotient). */
  def ntileOf(rank: Column, rows: Column, nBuckets: Int): Column = {
    val q = floor(rows / nBuckets)
    val r = rows % nBuckets
    val cut = r * (q + 1)
    when(rank <= cut, floor((rank - 1) / (q + 1)) + 1)
      .otherwise(r + floor((rank - cut - 1) / greatest(q, lit(1L))) + 1)
  }

  /** Spread a CPU-bound stage (native digest kernels: bootstrap weights,
    * CMS buckets, minhash) across the cores when — and ONLY when — the
    * input scan is too small to feed them: a single small parquet file
    * plans as 1-2 input partitions, which runs the whole per-row kernel
    * loop on one core (measured r12: q_stat_bootstrap spent ~3 s of 3.1 s
    * single-threaded behind a 2.6 MB scan). At real scale the scan
    * already carries thousands of partitions and the extra exchange
    * would be pure cost, so the gate reads the optimizer's size estimate
    * (`optimizedPlan.stats` — a pure optimizer pass, ~ms; never
    * `.rdd.getNumPartitions`, which physical-plans and codegens a second
    * copy of the query per call). */
  def spreadSmallScan(df: DataFrame, perCoreBytes: Long = 16L << 20): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(para.toLong * perCoreBytes)
    if (small) df.repartition(para) else df
  }

  /** Morton (Z-order) value: interleaves the low `bits` bits of each of
    * the given non-negative integral columns (column i contributes bit b
    * to output position `b·k + i`, k = #columns). Sorting / range-
    * partitioning by this value clusters rows that are close in EVERY
    * dimension into the same files, so min/max footer stats prune
    * multi-dimensional predicates — the data-skipping layout (Morton 1966;
    * the OPTIMIZE ZORDER BY idea) for tables queried on several columns
    * at once.
    *
    * Pure unrolled shift/mask/or expression — whole-stage codegen'd,
    * replayable verbatim in any SQL engine with bit ops. `bits·k` must fit
    * in 63 bits. */
  def zOrderValue(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, "z-order needs at least two columns")
    require(bits > 0 && bits * k <= 63, s"bits*$k must be in (0, 63]")
    val terms = for {
      b <- 0 until bits; (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * k + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Range-partition by the Morton value of `cols` and sort within
    * partitions — each output file then covers a small hyper-rectangle of
    * the key space, so a scan with predicates on ANY subset of `cols`
    * skips most files on footer min/max alone. At 100 TB this is the
    * difference between reading 100 TB and reading the ~one-in-
    * `numPartitions` slice a point query touches. */
  def zOrderRepartition(df: DataFrame, cols: Seq[String], bits: Int,
                        numPartitions: Int): DataFrame = {
    val z = zOrderValue(cols.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
