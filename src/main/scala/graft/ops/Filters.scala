package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Exprs

/** Filter / null-handling / dedup operator kit.
  *
  * Reference semantics: expression filters (`filters.py:10-40`,
  * `dataframe.py:12-116`), max-value filter (`filters.py:43-64`), NA ops
  * (`transform_column.py:90-129`, `data_quality.py:10-112`), ingest
  * predicates (`fs_cus_demographic.py:113-115`).
  */
object Filters {

  /** P5 — AND-fold of SQL expression strings (`filters.py:10-40`). All
    * conjuncts land in one Filter node → full pushdown eligibility. */
  def exprFilter(df: DataFrame, conditions: Seq[String]): DataFrame =
    if (conditions.isEmpty) df
    else df.where(conditions.map(expr).reduce(_ && _))

  /** P6 — the ingest predicate shape: id not null and not the sentinel. */
  def validIds(df: DataFrame, idCol: String, sentinel: String = "999999999"): DataFrame =
    df.where(col(idCol).isNotNull && col(idCol) =!= sentinel)

  /** P7 — keep rows carrying the max value of a column (`filters.py:43-64`).
    * The scalar max is computed as a one-row aggregate broadcast against
    * the input — no driver round-trip (unlike the reference's
    * collect-then-filter) and no single-partition global window (which
    * would serialize the table through one task at scale). */
  def maxValueFilter(df: DataFrame, c: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(c)).as("__max"))))
      .where(col(c) === col("__max")).drop("__max")

  /** P7 variant — per-group latest row (used for latest-snapshot reads). */
  def latestPerGroup(df: DataFrame, keys: Seq[String], timeCol: String): DataFrame =
    df.withColumn("__max", max(col(timeCol)).over(Window.partitionBy(keys.map(col): _*)))
      .where(col(timeCol) === col("__max")).drop("__max")

  /** P8 — null fill with per-column values (`transform_column.py:90-129`). */
  def fillNa(df: DataFrame, values: Map[String, Any]): DataFrame = df.na.fill(values)

  /** P9 — dedup (`data_quality.py:78-112`). */
  def dedup(df: DataFrame, subset: Seq[String] = Nil): DataFrame =
    if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset)

  /** P10 — sentinel strings → NULL across given columns (`data_quality.py:10-38`). */
  def standardizeNa(df: DataFrame, cols: Seq[String], sentinels: Seq[String]): DataFrame =
    df.select(df.columns.map { n =>
      if (cols.contains(n)) graft.core.Exprs.naStandardize(col(n), sentinels).as(n)
      else col(n)
    }.toIndexedSeq: _*)

  /** In [0, 1): position of the key's hash on the unit interval. */
  private def hashU(keyCols: Seq[String], salt: Int) =
    pmod(xxhash64((keyCols.map(col) :+ lit(salt)): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** Deterministic hash sample (extension): keep a row iff the key's hash
    * lands below `fraction` on the unit interval. Unlike `df.sample()`
    * (rand-based: membership depends on partition layout and changes under
    * retries/repartition), this is a pure function of the key — stable
    * across runs, reproducible for train/eval splits, and the SAME rows are
    * kept when the pipeline reruns on appended data. */
  def hashSample(df: DataFrame, keyCols: Seq[String], fraction: Double,
                 salt: Int = 42): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.where(hashU(keyCols, salt) < fraction)
  }

  /** Cross-engine-portable deterministic sample: the gate hash is
    * `md5(concat_ws('|', keys…, salt))`'s first 15 hex digits read as an
    * integer, mod 1e9 — every SQL engine can replay it verbatim (md5 and
    * hex-parse are universal; xxhash64 above is Spark-only), so an external
    * auditor can re-derive EXACTLY which rows a training set kept. Same
    * stability properties as [[hashSample]]; ~2× slower per row (md5 vs
    * xxhash64), so prefer [[hashSample]] when the sample never leaves
    * Spark. */
  def portableHashSample(df: DataFrame, keyCols: Seq[String], fraction: Double,
                         salt: Int = 42): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.where(u9(keyCols.map(col) :+ lit(salt.toString)) < (fraction * 1e9).toLong)
  }

  /** Position in [0, 1e9) of the portable md5 gate over `parts`. */
  private[ops] def u9(parts: Seq[Column]): Column =
    Exprs.md5Gate(Exprs.md5Key(parts)) % 1000000000L

  /** The train/val/test label of gate position `h` (in [0, 1e9)) cut at
    * per-mille boundaries: `[0, train)`, `[train, train + val)`, rest. */
  private def permilleSplit(h: Column, trainPermille: Int, valPermille: Int): Column = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000,
      "per-mille budgets must be non-negative and sum to <= 1000")
    when(h < trainPermille * 1000000L, "train")
      .when(h < (trainPermille + valPermille) * 1000000L, "val")
      .otherwise("test")
  }

  /** Per-row weighted deterministic sample: keep a row iff its portable
    * md5 unit-interval position falls below `weightCol` (a keep
    * probability in [0,1] — importance/quality-weighted downsampling,
    * e.g. keep high-quality documents with probability ∝ score). Pure
    * function of (keys, salt, weight): layout-independent, rerun-stable,
    * replayable by any engine with md5 — the weighted extension of
    * [[portableHashSample]]. Map-only, no shuffle. */
  def weightedHashSample(df: DataFrame, keyCols: Seq[String], weightCol: String,
                         salt: Int = 42): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val u = u9(keyCols.map(col) :+ lit(salt.toString)).cast("double") / 1e9
    df.where(u < col(weightCol))
  }

  /** Deterministic disjoint split (train/eval): rows with hash < `fraction`
    * go left, the rest right. The two sides partition the input exactly. */
  def hashSplit(df: DataFrame, keyCols: Seq[String], fraction: Double,
                salt: Int = 42): (DataFrame, DataFrame) = {
    val u = hashU(keyCols, salt)
    (df.where(u < fraction), df.where(u >= fraction))
  }

  /** Deterministic 3-way train/val/test labeling: every row gets a
    * `split` column from the portable md5 gate ([[portableHashSample]]'s
    * hash — replayable verbatim by any engine), cut at integer per-mille
    * boundaries (`trainPermille`, `valPermille`, remainder = test). A
    * pure function of (keys, salt): layout-independent, rerun-stable on
    * appended data, and — because the hash is independent of every data
    * column — automatically proportionate within any stratum (language,
    * source, time bucket) without per-stratum bookkeeping. Map-only,
    * no shuffle.
    *
    * Reference analog: the reference splits train/eval by date filters
    * (`fs_cus_credit_risk.py:59-83` ingest predicates); hash-split
    * labeling is the leakage-safe extension for entity-keyed corpora. */
  def threeWaySplit(df: DataFrame, keyCols: Seq[String],
                    trainPermille: Int = 800, valPermille: Int = 100,
                    salt: Int = 42): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    df.withColumn("split", permilleSplit(u9(keyCols.map(col) :+ lit(salt.toString)),
      trainPermille, valPermille))
  }

  /** Near-dup-LEAKAGE-SAFE split: split membership is decided per duplicate
    * CLUSTER, not per document — all members of a near-dup cluster land in
    * the same train/val/test bucket, so a test document can never have a
    * near-copy in train (the contamination mode a plain per-id
    * [[threeWaySplit]] cannot prevent). `clusters` is a
    * [[graft.text.Dedup.duplicateClusters]] frame (`id`, `cluster_id`,
    * covering only docs WITH duplicates); singletons key by their own id.
    * Same md5 per-mille gate as [[threeWaySplit]] over the cluster key.
    *
    * Scale: the cluster table covers only duplicate-involved docs (a small
    * fraction by construction — it is the pair list's node set), so the
    * join broadcasts or hash-joins on the id without touching corpus
    * layout; the gate itself is map-only. */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       trainPermille: Int = 800, valPermille: Int = 100,
                       salt: Int = 42): DataFrame = {
    val split = permilleSplit(
      u9(Seq(coalesce(col("__cluster"), col(idCol)), lit(salt.toString))),
      trainPermille, valPermille)
    val c = clusters.select(col("id").as("__cid"),
      col("cluster_id").as("__cluster"))
    df.join(c, df(idCol) === c("__cid"), "left")
      .withColumn("split", split)
      .drop("__cid", "__cluster")
  }

  /** Deterministic stratified sample: per-stratum keep fractions (strata
    * missing from the map are dropped). The scalable form of
    * `df.stat.sampleBy`, with hash determinism instead of rand. */
  def stratifiedHashSample(df: DataFrame, strataCol: String,
                           fractions: Map[String, Double],
                           keyCols: Seq[String], salt: Int = 42): DataFrame = {
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, f).otherwise(acc)
    }
    df.where(hashU(keyCols, salt) < frac)
  }

  /** Keep the top `fraction` of rows per group, ranked by `scoreCol`
    * descending with `tieCol` as a deterministic tiebreak — the per-source
    * quality-quantile cut every curation pipeline ends with ("keep the best
    * 20% of each crawl"). Integer rank semantics (`row_number ≤
    * ceil(fraction·group_size)`), so the kept set is exact and engine-
    * independent — no percent_rank float edge cases, and every non-empty
    * group keeps ≥1 row.
    *
    * Scale: ONE hash shuffle on the group key + one in-partition sort.
    * CAVEAT — a window partition is one task: with few, huge groups
    * (corpus sharded into a handful of sources) this becomes a
    * task-per-source bottleneck AQE cannot split. For integer scores use
    * [[topFractionByGroupExact]], which never windows the full frame. */
  def topFractionByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                         fraction: Double, tieCol: String): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    val cnt = Window.partitionBy(col(groupCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      .where(col("__rn") <= ceil(lit(fraction) * col("__n")))
      .drop("__rn", "__n")
  }

  /** Scale form of [[topFractionByGroup]] for INTEGER (or any exactly
    * comparable) scores — bit-identical kept set, but the full frame is
    * never sorted inside a group-keyed window:
    *
    *  1. `(group, score)` histogram — one map-side-combined aggregate;
    *     shuffle volume = distinct scores per partition, not rows.
    *  2. Per-group threshold off the HISTOGRAM (window partitions are
    *     distinct-score counts, not corpus rows): `T` = the score where
    *     the descending cumulative count first reaches `k = ceil(f·n)`,
    *     plus how many of the `score == T` ties fit (`k − |score > T|`).
    *  3. Thresholds (one row per group) broadcast back: `score > T` rows
    *     pass map-only; `score == T` rows rank by `idCol` in a window
    *     over ONLY the boundary ties.
    *
    * Equivalent keep rule to the window form's (score DESC, id ASC)
    * row_number — the tie spill at the boundary goes to the smallest ids.
    * Degenerate case: a group where ALL rows tie at `T` makes step 3's
    * window group-sized again — with real-valued enough scores (DSIR sums,
    * logits) boundary ties are a vanishing fraction. `scoreCol` must be
    * non-null. */
  def topFractionByGroupExact(df: DataFrame, groupCol: String,
                              scoreCol: String, fraction: Double,
                              idCol: String): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val whole = Window.partitionBy(col(groupCol))
    val th = Scale.scoreHistogram(df, groupCol, scoreCol, "__above")
      .withColumn("__k", ceil(lit(fraction) * sum("__c").over(whole)))
      .where(col("__above") < col("__k") &&
        col("__k") <= col("__above") + col("__c"))
      .select(col(groupCol), col(scoreCol).as("__t"),
        (col("__k") - col("__above")).as("__takeAtT"))
    val tagged = df.join(broadcast(th), Seq(groupCol))
    val above = tagged.where(col(scoreCol) > col("__t"))
      .drop("__t", "__takeAtT")
    val boundary = tagged.where(col(scoreCol) === col("__t"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col(idCol))))
      .where(col("__rn") <= col("__takeAtT"))
      .drop("__rn", "__t", "__takeAtT")
    above.unionByName(boundary)
  }

  /** Per-group quality-rank buckets (`ntile` semantics): bucket 1 holds
    * the best rows of each group by `scoreCol` descending (`tieCol`
    * breaks ties deterministically). The curriculum / quality-tier
    * assignment step — downstream samplers draw per-bucket rates instead
    * of re-sorting the corpus.
    *
    * Scale: ONE hash shuffle on the group key + in-partition sort —
    * never a global single-partition window (callers wanting corpus-wide
    * tiers should bucket within shards and stratify, or accept the group
    * key being a corpus-level constant is a scale bug, not a plan
    * feature). */
  def rankBuckets(df: DataFrame, groupCol: String, scoreCol: String,
                  nBuckets: Int, tieCol: String,
                  bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    df.withColumn(bucketCol, ntile(nBuckets).over(
      Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc, col(tieCol))))
  }

  /** Scale form of [[rankBuckets]] for exactly comparable (integer)
    * scores: bit-identical `ntile` tiers without sorting any group inside
    * a single window task. SQL ntile front-loads the remainder — with
    * `q = n DIV B`, `r = n mod B`, the first r buckets hold q+1 rows —
    * so the tile of 1-based rank i in (score DESC, id ASC) order is
    * `⌊(i−1)/(q+1)⌋+1` inside the first `(q+1)·r` ranks and
    * `r + ⌊(i−(q+1)·r−1)/q⌋ + 1` after:
    *
    *  1. `(group, score)` histogram + per-group descending cumulative —
    *     every histogram row knows its rank interval `[a+1, a+c]`.
    *  2. Rows whose WHOLE score-tie interval lands in one tile get that
    *     tile map-only after a `(group, score)`-keyed equi-join (hash
    *     partitions = tie groups — evenly spread, AQE-splittable, unlike
    *     one window task per group).
    *  3. Only tie intervals STRADDLING a tile boundary rank their ids in
    *     a window over the `(group, score)` tie group (≤ B−1 straddling
    *     scores per group, each bounded by its tie count).
    *
    * `scoreCol` must be non-null. Rank arithmetic goes through double
    * floor-division — exact below 2^52 rows per group (any real corpus). */
  def rankBucketsExact(df: DataFrame, groupCol: String, scoreCol: String,
                       nBuckets: Int, idCol: String,
                       bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    def tileOf(i: Column): Column = Scale.ntileOf(i, col("__n"), nBuckets)
    val ranked = Scale.scoreHistogram(df, groupCol, scoreCol, "__a")
      .withColumn("__n", sum("__c").over(Window.partitionBy(col(groupCol))))
      .withColumn("__tileLo", tileOf(col("__a") + lit(1L)))
      .withColumn("__tileHi", tileOf(col("__a") + col("__c")))
      .select(col(groupCol), col(scoreCol), col("__a"), col("__n"),
        col("__tileLo"), col("__tileHi"))
    val tagged = df.join(ranked, Seq(groupCol, scoreCol))
    val whole = tagged.where(col("__tileLo") === col("__tileHi"))
      .withColumn(bucketCol, col("__tileLo").cast("int"))
    val straddle = tagged.where(col("__tileLo") =!= col("__tileHi"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol), col(scoreCol)).orderBy(col(idCol))))
      .withColumn(bucketCol, tileOf(col("__a") + col("__rn")).cast("int"))
      .drop("__rn")
    whole.unionByName(straddle)
      .drop("__a", "__n", "__tileLo", "__tileHi")
  }

  /** Exactly-n-per-group deterministic sample: keep the first `n` rows of
    * each group in portable-hash order (`md5(key)` ascending, key as the
    * final tiebreak) — the distributed replacement for per-group reservoir
    * sampling. Hash order is a pure function of the key columns, so the
    * kept set is independent of partition layout, stable across reruns,
    * and replayable by ANY engine with md5 (the audit property of
    * [[portableHashSample]], with exact per-group cardinality instead of
    * a probabilistic fraction).
    *
    * Scale: ONE hash shuffle on the group key + in-partition sort —
    * identical topology to [[topFractionByGroup]]. No driver state, no
    * per-group reservoir merging.
    */
  def groupSampleExact(df: DataFrame, groupCols: Seq[String], n: Int,
                       keyCols: Seq[String], salt: Int = 42): DataFrame = {
    require(n > 0, "n must be positive")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val h = Exprs.md5Key(keyCols.map(col) :+ lit(salt.toString))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(h +: keyCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Chronological train/validation/test assignment: rows strictly before
    * `valStart` are `train`, before `testStart` are `val`, the rest
    * `test` — the leakage-safe split for temporal data (random splits let
    * the model peek at the future; the reference trains on history and
    * scores the current month for exactly this reason,
    * `notebooks/utils.py` date-bounded ingestion). Boundaries are
    * half-open: `[_, valStart) [valStart, testStart) [testStart, _]`.
    *
    * Scale: map-only — a projection over the time column; no shuffle at
    * any data size. */
  def timeSplit(df: DataFrame, timeCol: String, valStart: String,
                testStart: String, splitCol: String = "split"): DataFrame = {
    require(valStart < testStart, "valStart must precede testStart")
    df.withColumn(splitCol,
      when(col(timeCol) < lit(valStart), "train")
        .when(col(timeCol) < lit(testStart), "val")
        .otherwise("test"))
  }

  /** Rebalance a corpus to a target source mixture: given per-group
    * weights (fractions of the OUTPUT), keep the largest total T such
    * that no group is over-drawn (`T = min_g floor(count_g / w_g)`), then
    * keep the best `floor(w_g · T)` rows of each group by `scoreCol`
    * descending. Groups absent from `weights` are dropped. This is the
    * data-mixture step of a pretraining pipeline ("50% web, 25% books,
    * 25% code") executed as exact per-group top-n — deterministic, no
    * sampling noise.
    *
    * Scale: per-group counts are one k-row aggregate (k = number of
    * sources, driver-sized by definition); selection is the same single
    * group-key shuffle as [[topFractionByGroup]]. Weights should be exact
    * binary fractions if the keep-set must be engine-reproducible (the
    * floor sits on a float product). */
  def rebalanceMixture(df: DataFrame, groupCol: String,
                       weights: Map[String, Double],
                       scoreCol: String, tieCol: String): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    // keyed on the string form of the group (the weights' key type): a
    // non-string column would otherwise CCE on getString
    val key = col(groupCol).cast("string")
    val counts = df.groupBy(key).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = weights.collect { case (g, w) if counts.contains(g) =>
      math.floor(counts(g) / w).toLong
    } match {
      case ts if ts.isEmpty => 0L
      case ts => ts.min
    }
    val keepN = typedLit(weights.map { case (g, w) => g -> math.floor(w * total).toLong })
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    df.where(element_at(keepN, key).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= element_at(keepN, key))
      .drop("__rn")
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): split a total training budget across
    * groups with the greedy water-filling pass — visit groups
    * SMALLEST-first; each receives `min(cap · n_g, remaining budget /
    * groups left)` units, so low-resource groups are capped at
    * `capX100/100` epochs (no over-repetition) and whatever they cannot
    * absorb flows on to the larger groups. The third mixture policy next
    * to [[rebalanceMixture]] (explicit target fractions) and
    * [[temperatureSample]] (n^α damping): budget-exact with an explicit
    * repetition ceiling.
    *
    * All arithmetic is integer — units are rows/chars/tokens, the epoch
    * cap is the `capX100/100` fixed point, quotas truncate — so the
    * allocation, including `epochs_x10000 = alloc·10000 div n`, replays
    * bit-for-bit in any engine (the DuckDB oracle is a recursive CTE over
    * the same greedy). Budget is `total_units · budgetFracX100 div 100`,
    * a fraction so ONE scan supplies both totals and budget. If every
    * group hits its cap the leftover stays unallocated (epochs cannot
    * exceed the cap by construction).
    *
    * Returns one row per group: `(groupCol, n_units, alloc_units,
    * epochs_x10000)`.
    *
    * Scale: one distributed aggregation (map-side combine, one row per
    * group); the greedy itself is inherently sequential and runs on the
    * driver over the collected per-group totals — k rows, the same
    * bounded-driver-state contract as
    * [[graft.sim.Similarity.collectCentroids]]. */
  def unimaxAllocation(df: DataFrame, groupCol: String, unitsCol: String,
                       budgetFracX100: Int, capX100: Int): DataFrame = {
    require(budgetFracX100 > 0 && capX100 > 0,
      "budgetFracX100 and capX100 must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // group key is cast to string for the driver-side greedy (a non-string
    // key — int language id, date bucket — would otherwise CCE on getString);
    // null keys sort first among equal-n groups
    val totals = df.groupBy(col(groupCol).cast("string").as(groupCol))
      .agg(sum(col(unitsCol).cast("long")).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (g, n) => (n, g != null, if (g == null) "" else g) }
    var rem = totals.map(_._2).sum * budgetFracX100 / 100
    val k = totals.length
    val rows = totals.zipWithIndex.map { case ((g, n), i) =>
      val quota = rem / (k - i)
      val alloc = math.min(n * capX100 / 100, quota)
      rem -= alloc
      (g, n, alloc, if (n == 0) 0L else alloc * 10000L / n)
    }
    // restore the caller's group-key type: the string rendering exists only
    // for the driver-side greedy. Leaving it string would both change the
    // visible schema and make downstream equi-joins against the original
    // column coerce string-vs-numeric through DOUBLE (exactness lost above
    // 2^53 for long keys → silent mis-joins).
    rows.toSeq.toDF(groupCol, "n_units", "alloc_units", "epochs_x10000")
      .withColumn(groupCol, col(groupCol).cast(df.schema(groupCol).dataType))
  }

  /** MATERIALIZE a [[unimaxAllocation]]: per-document repetition counts
    * that realize each group's budget — `n_repeats = alloc div n` full
    * epochs for every document, plus one extra repeat for the portable
    * md5-order prefix of documents covering the remainder
    * `alloc mod n`. The remainder rounds UP to a document boundary (a
    * loader repeats whole documents), so a group's materialized units
    * land in `[alloc, alloc + max_doc_units)`; a zero allocation yields
    * `n_repeats = 0` (excluded). The plan is a pure function of
    * (keys, salt) — rerun-stable, engine-replayable, and the epoch-cap
    * guarantee survives: no document repeats more than
    * `ceil(capX100/100)` times.
    *
    * Scale: the within-group md5-order running sum is NOT one window per
    * group (a language at 100 TB is one un-splittable task) — it is the
    * grouped prefix sum of [[Scale.rangeSlices]] + [[Scale.sliceOffsets]]
    * over (group, md5key) slices. The allocation itself rides
    * [[unimaxAllocation]] (k-row driver greedy) and joins back as a
    * broadcast. */
  def unimaxRepetitionPlan(df: DataFrame, groupCol: String, unitsCol: String,
                           budgetFracX100: Int, capX100: Int,
                           keyCols: Seq[String], salt: Int = 42): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val alloc = broadcast(
      unimaxAllocation(df, groupCol, unitsCol, budgetFracX100, capX100)
        .withColumn("__full", when(col("n_units") === 0, lit(0L))
          .otherwise(expr("alloc_units div n_units")))
        .withColumn("__rem", col("alloc_units") - col("__full") * col("n_units"))
        .select(col(groupCol), col("__full"), col("__rem")))
    val keyed = df.withColumn("__h", Exprs.md5Key(keyCols.map(col) :+ lit(salt.toString)))
    val sliced = Scale.rangeSlices(keyed, col(groupCol) +: col("__h") +: keyCols.map(col))
    val units = col(unitsCol).cast("long")
    val localW = Window.partitionBy(col("__part"), col(groupCol))
      .orderBy(col("__h") +: keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    Scale.sliceOffsets(sliced, Seq("__units" -> sum(units)), groupBy = Seq(groupCol))
      .withColumn("__cb",
        col("__units_before") + coalesce(sum(units).over(localW), lit(0L)))
      .join(alloc, Seq(groupCol))
      .withColumn("n_repeats",
        (col("__full") + when(col("__cb") < col("__rem"), 1L).otherwise(0L))
          .cast("long"))
      .drop("__part", "__units_before", "__units_total", "__h", "__cb", "__full", "__rem")
  }

  /** Temperature-flattened mixture sampling: keep
    * `min(n_g, floor(c · n_g^(alphaQuarters/4)))` rows of each group,
    * chosen in portable-hash order — the sublinear domain-rebalancing
    * draw of multilingual/multi-source pretraining (exponent-smoothed
    * sampling p ∝ n^α, as popularized for language balancing in
    * multilingual model training): big domains are damped, small ones
    * kept (nearly) whole, and `c` sets the overall budget.
    *
    * Unlike [[rebalanceMixture]] (explicit target fractions, score-ranked
    * keeps) the mixture here is DERIVED from the observed counts, and
    * selection is an unbiased deterministic draw (md5 order, the
    * [[groupSampleExact]] audit property) rather than quality-ranked.
    *
    * `α` is restricted to quarters (`alphaQuarters` ∈ 1..4) so the weight
    * is an exact IEEE-754 composition: `n^(1/4) = sqrt(sqrt(n))`,
    * `n^(2/4) = sqrt(n)`, `n^(3/4) = sqrt(n)·sqrt(sqrt(n))`, `n^1 = n` —
    * sqrt and multiply are correctly-rounded in every IEEE engine, so
    * `floor(c·w)` lands on the same integer everywhere (a free-form
    * `pow(n, α)` is NOT correctly rounded and may differ in the last ulp
    * across engines — see Queries.scala determinism rules).
    *
    * Scale: ONE scan, ONE hash shuffle on the group key — the per-group
    * count rides the selection window's own partitioning (an unordered
    * count(*) frame over the same Window spec, so both resolve against a
    * single Exchange + sort; the [[topFractionByGroup]] shape) instead of
    * a second counting scan + broadcast join. Few-huge-group corpora hit
    * the same window-task caveat as [[groupSampleExact]] — shard the
    * group key first if a single group exceeds one task's budget. */
  def temperatureSample(df: DataFrame, groupCol: String, c: Double,
                        alphaQuarters: Int, keyCols: Seq[String],
                        salt: Int = 42): DataFrame = {
    require(c > 0, "c must be positive")
    require(alphaQuarters >= 1 && alphaQuarters <= 4,
      "alphaQuarters must be in 1..4")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val n = col("__n").cast("double")
    val weight = alphaQuarters match {
      case 1 => sqrt(sqrt(n))
      case 2 => sqrt(n)
      case 3 => sqrt(n) * sqrt(sqrt(n))
      case 4 => n
    }
    val h = Exprs.md5Key(keyCols.map(col) :+ lit(salt.toString))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(h +: keyCols.map(col): _*)
    val cnt = Window.partitionBy(col(groupCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      .where(col("__rn") <=
        least(col("__n"), floor(lit(c) * weight).cast("long")))
      .drop("__rn", "__n")
  }
}
