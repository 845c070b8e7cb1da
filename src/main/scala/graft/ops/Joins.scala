package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pins

/** Join operator kit.
  *
  * Reference semantics: `src/packages/preprocessing/merge_tables/joins.py`
  * (generic equi-join :11-112, point-in-time join :115-238, anti-exclusion
  * :241-268), scaffold cross join (`fs_cus_demographic.py:108-113`), union
  * (`union.py:8-23`), full-outer validation join (`monitor.py:397-407`).
  *
  * Scale design — the PIT join is the one operator whose reference shape
  * (theta join `left.t >= right.t` + window dedup) explodes at scale:
  * O(rows × history) intermediate tuples. `pointInTimeJoin` below is the
  * union-tag rewrite (SURVEY §4): ONE hash shuffle by entity key, one sort,
  * zero row blowup — the standard as-of-join trick used by large-scale
  * feature stores. The naive shape is kept as `pointInTimeJoinNaive` for
  * small broadcastable dimensions and as a differential-test oracle.
  */
object Joins {

  /** Row-count bound above which [[pointInTimeJoinSkewSafe]]'s per-slice
    * carry table is too large to broadcast (≈ tens of MB of (key, slice,
    * payload) rows) and the carry join falls back to a shuffled left
    * join on the same (keys…, __slice) layout. */
  private[graft] val CarryBroadcastMaxRows = 1000000L

  /** J1 — scaffold join: entity × month-scaffold, kept where scaffold date ≥
    * entity start date (`fs_cus_demographic.py:108-113`). The scaffold is a
    * few hundred rows → Catalyst broadcasts it (BroadcastNestedLoopJoin);
    * the big side never shuffles. */
  def scaffoldJoin(entities: DataFrame, scaffold: DataFrame,
                   scaffoldDate: String, entityStartDate: String): DataFrame =
    entities.crossJoin(broadcast(scaffold))
      .where(col(scaffoldDate) >= col(entityStartDate))

  /** J2 — generic equi-join with key renaming and duplicate-column resolution,
    * left wins (`joins.py:11-112`). */
  def equiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               how: String = "inner", rightRenames: Map[String, String] = Map.empty,
               dropNaSubset: Seq[String] = Nil): DataFrame = {
    val r0 = rightRenames.foldLeft(right) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    // duplicate non-key columns: left wins (reference drops the right copy)
    val dups = r0.columns.toSet.intersect(left.columns.toSet) -- keys
    val r = dups.foldLeft(r0)((d, c) => d.drop(c))
    val joined = left.join(r, keys, how)
    if (dropNaSubset.nonEmpty) joined.na.drop(dropNaSubset) else joined
  }

  /** J3 (reference shape) — as-of join via theta join + window dedup
    * (`joins.py:115-238`): keys equal ∧ right.t <= left.t, keep the latest
    * right row per (keys, left.t). Correct but O(n×history) — use only when
    * one side is small.
    *
    * Tie semantics (identical to [[pointInTimeJoin]]): multiple right rows
    * at the same (keys, t) resolve to the GREATEST payload tuple
    * (field-order lexicographic over (rightTime, payload...)) — a
    * deterministic, layout-independent winner instead of partition order
    * (JoinsPitSpec pins it on duplicate-timestamp snapshots). */
  def pointInTimeJoinNaive(left: DataFrame, right: DataFrame, keys: Seq[String],
                           leftTime: String, rightTime: String): DataFrame = {
    val lt = col("l." + leftTime)
    val rt = col("r." + rightTime)
    val keyEq = keys.map(k => col("l." + k) === col("r." + k)).reduce(_ && _)
    val l = left.alias("l")
    val r = right.alias("r")
    val joined = l.join(r, keyEq && rt <= lt, "left")
    val rightPayload = right.columns.filterNot(c => keys.contains(c)).toSeq
    // same field order as the scale form's __payload struct, so both forms
    // agree on the tie winner (struct comparison is field-wise)
    val tieBreak = struct((col("r." + rightTime) +:
      rightPayload.filterNot(_ == rightTime).map(c => col("r." + c))): _*)
    val w = Window.partitionBy(keys.map(k => col("l." + k)) :+ lt: _*)
      .orderBy(rt.desc, tieBreak.desc)
    joined.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(left.columns.map(c => col("l." + c)).toSeq ++
              rightPayload.map(c => col("r." + c)): _*)
  }

  /** The as-of joins' tagged union: right rows carry `__src = 0`, their
    * time as `__t` and `__payload = struct(rightTime, payload…)` with the
    * left columns null; left rows carry `__src = 1`, a null payload and
    * their own columns. `time(c)` is the `__t` of time column `c`.
    * Returns the union and the payload column names. */
  private def asofTagged(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTime: String, rightTime: String,
                         time: String => Column): (DataFrame, Seq[String]) = {
    val payloadCols = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    val rTagged = right.select(
      keys.map(col) ++ Seq(
        time(rightTime).as("__t"), lit(0).as("__src"),
        struct((col(rightTime).as(rightTime) +: payloadCols.map(col)): _*).as("__payload")) ++
      leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val lTagged = left.select(
      keys.map(col) ++ Seq(
        time(leftTime).as("__t"), lit(1).as("__src"),
        lit(null).cast(rTagged.schema("__payload").dataType).as("__payload")) ++
      leftCols.map(col): _*)
    (rTagged.unionByName(lTagged), payloadCols)
  }

  /** The as-of joins' output: the left columns, then the matched right
    * row's time (`<rightTime>_right` when the left has that name) and its
    * payload columns the left does not have, read from struct `matched`,
    * then `extra`. */
  private def asofOutput(merged: DataFrame, left: DataFrame, keys: Seq[String],
                         rightTime: String, payloadCols: Seq[String],
                         matched: String, extra: Column*): DataFrame = {
    val rightTimeOut = if (left.columns.contains(rightTime)) rightTime + "_right" else rightTime
    merged.select(
      keys.map(col) ++
      left.columns.filterNot(keys.contains).map(col) ++
      Seq(col(s"$matched.$rightTime").as(rightTimeOut)) ++
      payloadCols.filterNot(left.columns.contains).map(c => col(s"$matched.$c").as(c)) ++
      extra: _*)
  }

  /** J3 (scale shape) — as-of join via union-tag + last(ignoreNulls) over a
    * per-key running window. Semantics identical to the naive form (inclusive
    * `right.t <= left.t`, latest right row wins); cost is one shuffle on
    * `keys` + one sort, independent of history depth.
    *
    * Tie semantics: right rows at the same (keys, t) sort by their payload
    * struct ascending, so `last` picks the GREATEST payload tuple
    * (field-order lexicographic over (rightTime, payload...)) — the same
    * deterministic winner as the naive form's desc tie-break. */
  def pointInTimeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String): DataFrame = {
    val (tagged, payloadCols) = asofTagged(left, right, keys, leftTime, rightTime, col)
    // right rows sort before left rows at equal time (src 0 < 1) → inclusive
    // asof; equal-(keys, t) right rows order by payload asc → last() takes
    // the greatest payload tuple (deterministic, layout-independent)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__src"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = tagged
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__src") === 1)
    asofOutput(merged, left, keys, rightTime, payloadCols, "__asof")
  }

  /** J3 (SKEW-SAFE shape) — [[pointInTimeJoin]] for HOT entities: the
    * union-tag form puts each key's entire timeline in ONE window task
    * (a window partition cannot be split — AQE skew handling applies to
    * joins, not windows), so one entity with 10⁹ history rows
    * single-tasks at 100 TB. This form applies the two-phase grouped
    * prefix pattern ([[graft.text.Packing]]'s construction) to
    * `last(ignoreNulls)`:
    *
    *  1. range-partition the tagged union by the FULL window order
    *     `(keys…, t, src, payload)` — a hot key's timeline lands split
    *     across consecutive time-slice partitions, each bounded by the
    *     range partitioner's balancing, then pin ONE materialization
    *     (`localCheckpoint` — the sampled boundaries feed two subtrees,
    *     invariant 7);
    *  2. per (key, slice): a LOCAL running `last(payload)` window — task
    *     size is the slice, never the key;
    *  3. per (key, slice): the slice's greatest right row as a
    *     `max(struct(t, src, payload))` aggregate, prefix-maxed over
    *     earlier slices of the same key (a #slices-per-key-sized window)
    *     and broadcast back as each slice's carry-in;
    *  4. `asof = coalesce(local last, carry-in)` — equal to the global
    *     running last because the range order IS the window order.
    *
    * Output contract identical to [[pointInTimeJoin]] (OpsSpec pins
    * row-equality on skewed frames); cost is two bounded shuffles + a
    * dimension-sized carry table instead of one unbounded window task. */
  def pointInTimeJoinSkewSafe(left: DataFrame, right: DataFrame,
                              keys: Seq[String], leftTime: String,
                              rightTime: String,
                              partitions: Int = 0): DataFrame = {
    val (tagged, payloadCols) = asofTagged(left, right, keys, leftTime, rightTime, col)
    val nParts = if (partitions > 0) partitions
      else left.sparkSession.sessionState.conf.numShufflePartitions
    val orderCols = keys.map(col) ++ Seq(col("__t"), col("__src"), col("__payload"))
    val sliced = tagged
      .repartitionByRange(nParts, orderCols: _*)
      .withColumn("__slice", spark_partition_id())
    val ranged = Pins.pin(sliced)
    val localW = Window
      .partitionBy((keys.map(col) :+ col("__slice")): _*)
      .orderBy(col("__t"), col("__src"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged.withColumn("__asof_local",
      last(col("__payload"), ignoreNulls = true).over(localW))
    // per-(key, slice) greatest right row; prefix-max over EARLIER slices
    // of the same key = the carry-in. Struct max is lexicographic over
    // (t, src, payload) — exactly the window order restricted to right
    // rows, so the carry is the right row the global window would see.
    val bounds = ranged
      .groupBy((col("__slice") +: keys.map(col)): _*)
      .agg(max(when(col("__payload").isNotNull,
        struct(col("__t"), col("__src"), col("__payload")))).as("__lastr"))
    val carryW = Window.partitionBy(keys.map(col): _*).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bounds
      .withColumn("__carry", max(col("__lastr")).over(carryW))
      .select((col("__slice") +: keys.map(col)) :+
        col("__carry.__payload").as("__carry_payload"): _*)
    // The carry has one row per (key, slice) PRESENT in a slice — it is
    // "dimension-sized" only while the key domain is small (each key
    // appearing in ≥1 slice means ~#distinct-keys rows when cardinality
    // is high). Broadcasting an unbounded-cardinality carry would OOM
    // the driver (r11 advice), so gate the hint on a measured row count:
    // `ranged` is already localCheckpoint-pinned, making the probe one
    // cheap aggregate over materialized partitions. Past the bound, fall
    // back to a shuffled left join on (keys…, __slice) — both sides hash
    // to the same layout, and correctness never depended on the hint.
    val carryRows = bounds.count()
    val carryJoinable =
      if (carryRows <= Joins.CarryBroadcastMaxRows) broadcast(carry) else carry
    val merged = local
      .join(carryJoinable, keys :+ "__slice", "left")
      .withColumn("__asof", coalesce(col("__asof_local"), col("__carry_payload")))
      .where(col("__src") === 1)
    asofOutput(merged, left, keys, rightTime, payloadCols, "__asof")
  }

  /** J11 (extension) — NEAREST-event join: for each left row, the right
    * row whose time is CLOSEST to the left time within `tolerance` —
    * backward or forward — where [[pointInTimeJoin]] only looks back
    * (sensor fusion, nearest-quote alignment, log correlation). ONE
    * union-tag pass computes both directions: `last(payload)` over the
    * preceding frame is the latest right ≤ t, `first(payload)` over the
    * following frame the earliest right > t; the nearer wins (exact ties
    * → the backward match) and a winner farther than `tolerance` nulls
    * out. Emits the left columns + matched right time/payload +
    * `asof_dist` (|Δ| in the internal time unit; null when unmatched).
    *
    * Times: TIMESTAMP columns are compared in exact integer MICROSECONDS
    * (`tolerance` and `asof_dist` are micros); any numeric column is
    * compared in its own units. Equal-time right rows resolve
    * deterministically: backward picks the GREATEST payload tuple (the
    * [[pointInTimeJoin]] rule), forward the SMALLEST — one window
    * ordering cannot give both directions the same tie rule; spec-pinned.
    *
    * Scale: identical to [[pointInTimeJoin]] — ONE hash shuffle on the
    * keys + one in-partition sort, zero row blowup, cost independent of
    * history depth. Reference analog: `joins.py:115-238` (backward-only
    * as-of). */
  def nearestEventJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTime: String, rightTime: String,
                       tolerance: Double): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    require(tolerance >= 0, "tolerance must be non-negative")
    def toNum(c: Column, isTs: Boolean): Column =
      if (isTs) unix_micros(c).cast("double") else c.cast("double")
    val rIsTs = right.schema(rightTime).dataType == TimestampType
    val lIsTs = left.schema(leftTime).dataType == TimestampType
    // a TIMESTAMP on one side against a raw numeric on the other would
    // silently compare microseconds to arbitrary units — garbage matches
    require(lIsTs == rIsTs,
      s"nearestEventJoin time columns must share a unit: $leftTime is " +
        s"${left.schema(leftTime).dataType.simpleString} but $rightTime is " +
        s"${right.schema(rightTime).dataType.simpleString}")
    // both times share one unit (checked above)
    val (tagged, payloadCols) = asofTagged(left, right, keys, leftTime, rightTime,
      c => toNum(col(c), rIsTs))
    val ord = Seq(col("__t"), col("__src"), col("__payload"))
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    // the payload struct leads with rightTime, so its numeric form is
    // recoverable from the match itself
    def pt(p: Column): Column = toNum(p.getField(rightTime), rIsTs)
    val merged = tagged
      .withColumn("__prev", last(col("__payload"), ignoreNulls = true).over(wPrev))
      .withColumn("__next", first(col("__payload"), ignoreNulls = true).over(wNext))
      .where(col("__src") === 1)
      .withColumn("__dp", col("__t") - pt(col("__prev")))
      .withColumn("__dn", pt(col("__next")) - col("__t"))
      .withColumn("__best",
        when(col("__prev").isNotNull &&
            (col("__next").isNull || col("__dp") <= col("__dn")), col("__prev"))
          .otherwise(col("__next")))
      .withColumn("__dist", abs(pt(col("__best")) - col("__t")))
      .withColumn("__match",
        when(col("__dist") <= tolerance, col("__best")))
      .withColumn("asof_dist", when(col("__match").isNotNull, col("__dist")))
    asofOutput(merged, left, keys, rightTime, payloadCols, "__match", col("asof_dist"))
  }

  /** J4 — left-anti exclusion on distinct-projected keys (`joins.py:241-268`). */
  def antiExclude(df: DataFrame, exclusions: DataFrame, keys: Seq[String]): DataFrame =
    df.join(exclusions.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** J5 — dimension resolve join; dimension side broadcast (`date.py:319-354`). */
  def dimJoin(df: DataFrame, dim: DataFrame, key: String): DataFrame =
    df.join(broadcast(dim), Seq(key))

  /** J6 — agg-join-back done the windowed way: the grouped aggregate is
    * attached via `agg.over(partitionBy(keys))` — one shuffle instead of the
    * reference's groupBy + re-join (`aggregation.py:147-156`). */
  def aggOver(df: DataFrame, keys: Seq[String], aggs: Seq[(String, String, String)]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val cols = aggs.map { case (op, c, alias) =>
      graft.core.Exprs.resolve1(op)(col(c)).over(w).as(alias) }
    df.select(col("*") +: cols: _*)
  }

  /** J7 — full-outer validation join, null counts → 0 (`monitor.py:397-407`). */
  def outerCompare(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.join(b, Seq(key), "outer").na.fill(0)

  /** J8 — union by name tolerating missing columns (`union.py:8-23`). */
  def unionTables(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** J10 (extension) — skew-salted equi-join: result-identical to
    * [[equiJoin]] `inner`, but a hot key on the probe side no longer lands
    * in one reducer. The probe row's salt is derived from its WHOLE row
    * (`xxhash64` over every column, mod `nSalts`) so rows sharing a hot key
    * spread across `nSalts` sub-partitions; the build side replicates each
    * row `nSalts`× (explode over the salt range) so every (key, salt)
    * shuffle cell still sees its full match set — each output pair is
    * produced exactly once, under exactly one salt.
    *
    * When to use: AQE's runtime skew-join split (SURVEY §4) already covers
    * sort-merge joins, but it cannot re-split a join that must preserve a
    * bucketed layout, and it reacts after a straggler materializes; manual
    * salting is the plan-time form. Cost: build side ×`nSalts` shuffle
    * volume — keep `nSalts` near (hot-key rows / average-key rows), not
    * larger. The salt is deterministic (pure column function, no rand()),
    * so reruns and retried tasks agree — a task retry under a
    * nondeterministic salt could otherwise lose or duplicate rows.
    *
    * Reference analog: `joins.py:11-112` equi-join; the reference inherits
    * its engine's skew handling — this is the Spark-native mitigation for
    * layouts AQE cannot touch.
    *
    * Caveat: the salt is a hash of the WHOLE probe row, so probe rows that
    * are fully identical (every column equal) all land on the same salt —
    * for them the mitigation degrades to the unsalted join. If the hot key
    * arrives as exact duplicate rows, add a distinguishing column (a stable
    * unique id) before salting; `monotonically_increasing_id` is ruled out
    * (nondeterministic across retries → lost/duplicated rows). */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                     nSalts: Int = 8): DataFrame = {
    require(nSalts > 0, s"nSalts must be positive, got $nSalts")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(nSalts)).cast("int"))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    // duplicate non-key columns: left wins (same contract as equiJoin)
    val dups = replicatedRight.columns.toSet
      .intersect(saltedLeft.columns.toSet) -- keys - "__salt"
    val r = dups.foldLeft(replicatedRight)((d, c) => d.drop(c))
    saltedLeft.join(r, keys :+ "__salt").drop("__salt")
  }

  /** J9 (extension) — interval/range join `left.v ∈ [right.lo, right.hi)`,
    * executed as an EQUI join: both sides are binned to `floor(x / binWidth)`
    * (each interval exploded over the bins it covers), hash-joined on the
    * bin, then filtered on the exact containment predicate. Each (row,
    * interval) pair meets in exactly ONE bin — the bin of `v` — so no
    * dedup pass is needed.
    *
    * Without this rewrite Catalyst plans a non-equi join as
    * BroadcastNestedLoopJoin — O(|L|·|R|) and driver-bound on the broadcast;
    * binned, it is a shuffle hash join that scales like any other equi join.
    * Pick `binWidth` near the median interval width: the interval side
    * explodes by ~(width / binWidth + 1)×, the bin side stays 1×. */
  def rangeJoin(left: DataFrame, valueCol: String,
                right: DataFrame, loCol: String, hiCol: String,
                binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val binned = left.withColumn("__bin", floor(col(valueCol) / binWidth).cast("long"))
    val exploded = right.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    binned.join(exploded, Seq("__bin"))
      .where(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bin")
  }

  /** J12 (extension) — interval OVERLAP join: every pair with
    * `[l.lo, l.hi) ∩ [r.lo, r.hi) ≠ ∅` (i.e. `l.lo < r.hi && r.lo <
    * l.hi`), the two-sided generalization of [[rangeJoin]] (maintenance
    * windows × activity spans, session × outage, ad flight × pageview
    * span). Column names of the two frames must be disjoint.
    *
    * Both sides explode over the bins their interval covers and
    * hash-join on the bin. An overlapping pair shares every bin of the
    * intersection — recall-complete — and is kept ONLY in its canonical
    * meeting bin, the bin of `max(l.lo, r.lo)` (which both intervals
    * provably cover), so each pair survives exactly once with NO
    * dedup/distinct pass.
    *
    * Scale: a non-equi overlap predicate plans as
    * BroadcastNestedLoopJoin — O(|L|·|R|) and driver-bound; binned it is
    * an ordinary shuffle hash equi-join. Each side explodes by
    * ~(interval width / binWidth + 1)× — pick `binWidth` near the median
    * interval width so fan-out stays small on both sides; a single
    * pathologically long interval costs its own fan-out, never a cross
    * product. */
  def intervalOverlapJoin(left: DataFrame, lLoCol: String, lHiCol: String,
                          right: DataFrame, rLoCol: String, rHiCol: String,
                          binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val l = left.withColumn("__bin",
      explode(sequence(floor(col(lLoCol) / binWidth).cast("long"),
        floor(col(lHiCol) / binWidth).cast("long"))))
    val r = right.withColumn("__bin",
      explode(sequence(floor(col(rLoCol) / binWidth).cast("long"),
        floor(col(rHiCol) / binWidth).cast("long"))))
    // non-empty guards: an inverted span (lo > hi) is the EMPTY interval
    // — it overlaps nothing, but without the guard the pairwise predicate
    // alone would still admit it (sequence() silently iterates descending
    // bins), silently joining corrupted rows
    l.join(r, Seq("__bin"))
      .where(col(lLoCol) < col(lHiCol) && col(rLoCol) < col(rHiCol) &&
        col(lLoCol) < col(rHiCol) && col(rLoCol) < col(lHiCol) &&
        col("__bin") ===
          floor(greatest(col(lLoCol), col(rLoCol)) / binWidth).cast("long"))
      .drop("__bin")
  }

  /** Join-key health report — the diagnostic to read BEFORE shipping a
    * fact⋈dim join at scale: one row
    * `(n_fact, n_dim, n_fact_null_key, n_dim_dup_keys, n_orphan_fact,
    * max_fanout, avg_fanout_micros)` where orphans are fact rows whose
    * key has no dim match, dup keys are dim keys appearing more than
    * once (a silent row-multiplier), and fanout is fact rows per
    * MATCHED dim key — `max_fanout` spots the skewed key that will
    * stall one reducer, `avg_fanout_micros` sizes the join output.
    *
    * Scale: one key-keyed aggregate per side (map-side combine → two
    * key-dimension tables), one outer join between the AGGREGATES
    * (dim-sized both sides), one scalar rollup. The fact table is
    * scanned once, only the key column read. */
  def joinHealth(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String): DataFrame = {
    val f = fact.groupBy(col(factKey).as("__k"))
      .agg(count(lit(1)).as("__fc"))
    val d = dim.groupBy(col(dimKey).as("__k"))
      .agg(count(lit(1)).as("__dc"))
    f.join(d, Seq("__k"), "full_outer")
      .agg(
        sum(when(col("__k").isNotNull, coalesce(col("__fc"), lit(0L)))
          .otherwise(lit(0L))).as("__fact_keyed"),
        sum(when(col("__k").isNull, coalesce(col("__fc"), lit(0L)))
          .otherwise(lit(0L))).as("n_fact_null_key"),
        sum(coalesce(col("__dc"), lit(0L))).as("n_dim"),
        count(when(col("__k").isNotNull && col("__dc") > 1, 1))
          .as("n_dim_dup_keys"),
        sum(when(col("__dc").isNull && col("__k").isNotNull, col("__fc")))
          .as("__orph"),
        max(when(col("__dc").isNotNull, col("__fc"))).as("__maxf"),
        sum(when(col("__dc").isNotNull, coalesce(col("__fc"), lit(0L))))
          .as("__matched"),
        count(when(col("__dc").isNotNull && col("__fc").isNotNull, 1))
          .as("__mkeys"))
      .select(
        (col("__fact_keyed") + col("n_fact_null_key")).as("n_fact"),
        col("n_dim"),
        col("n_fact_null_key"),
        col("n_dim_dup_keys"),
        coalesce(col("__orph"), lit(0L)).as("n_orphan_fact"),
        coalesce(col("__maxf"), lit(0L)).as("max_fanout"),
        when(col("__mkeys") > 0,
          expr("(__matched * 1000000L) div __mkeys"))
          .cast("long").as("avg_fanout_micros"))
  }
}
