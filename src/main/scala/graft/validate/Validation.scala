package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.TableStore

/** Data-validation layer: cross-checking counts, outdatedness (freshness),
  * and the validation log — the `src/packages/data_validation` surface.
  *
  * Reference semantics: `monitor.py:327-520` (per-month counts of the
  * incoming source vs the previously saved target, full-outer joined,
  * ±threshold tolerance on dimensional tables), `outdateness.py:20-169`
  * (max event date + per-table availability lag vs the current month),
  * `monitor.py:530-663` (summary/detail validation tables appended with
  * explicit schemas).
  */
object Validation {

  final case class CountMismatch(monthDt: String, sourceCnt: Long, targetCnt: Long)

  /** Historical cross-check (`monitor.py:327-470`): per-month row counts of
    * source vs previously-saved target; any divergent month is a finding.
    * Ascending by month, null months first.
    *
    * One aggregation over the union of both sides' months, tagged by side:
    * one shuffle, at most #months result rows. The mismatch filter and the
    * order run on the driver over those rows. A null month never matches
    * across sides (an outer join on month keeps each side's null group
    * apart), so its per-side counts come out as separate findings, the
    * source's first. */
  def crossCheckHistorical(source: DataFrame, target: DataFrame,
                           sourceDate: String, targetDate: String): Seq[CountMismatch] = {
    def months(df: DataFrame, date: String, isSource: Boolean) =
      df.select(col(date).cast("date").as("month_dt"), lit(isSource).as("is_source"))
    val counts = months(source, sourceDate, isSource = true)
      .unionByName(months(target, targetDate, isSource = false))
      .groupBy("month_dt")
      .agg(count(when(col("is_source"), 1)).as("source_cnt"),
        count(when(!col("is_source"), 1)).as("target_cnt"))
      .collect()
      .map(r => (Option(r.getDate(0)), r.getLong(1), r.getLong(2)))
    counts.toSeq.sortBy(_._1.map(_.getTime)).flatMap {
      case (None, s, t) =>
        Seq(CountMismatch("null", s, 0L), CountMismatch("null", 0L, t)).filter(m =>
          m.sourceCnt + m.targetCnt > 0)
      case (Some(d), s, t) if s != t => Seq(CountMismatch(d.toString, s, t))
      case _ => Nil
    }
  }

  /** Dimensional cross-check (`monitor.py:472-520`): total counts within a
    * relative tolerance (reference threshold 5%). Returns (ok, srcN, tgtN). */
  def crossCheckDimensional(source: DataFrame, target: DataFrame,
                            tolerance: Double = 0.05): (Boolean, Long, Long) = {
    val srcN = source.count()
    val tgtN = target.count()
    val ok = tgtN == 0 || math.abs(srcN - tgtN).toDouble / math.max(tgtN, 1) <= tolerance
    (ok, srcN, tgtN)
  }

  final case class Outdatedness(table: String, maxEventDt: String,
                                expectedThrough: String, monthsLate: Int) {
    def isOutdated: Boolean = monthsLate > 0
  }

  /** Freshness check (`outdateness.py:20-169`): latest event month +
    * declared availability lag must reach the current month. `now` is
    * injected for testability (the reference reads the wall clock). */
  def outdatedness(df: DataFrame, table: String, dateCol: String,
                   availabilityLagMonths: Int, now: java.time.LocalDate): Outdatedness = {
    val expected = now.withDayOfMonth(1).minusMonths(availabilityLagMonths)
    // max() over an empty frame (or all-null dates) yields null — report
    // that as maximally outdated rather than throwing.
    Option(df.agg(max(col(dateCol).cast("date"))).first().getDate(0)) match {
      case None =>
        Outdatedness(table, "no data", expected.toString, Int.MaxValue)
      case Some(d) =>
        val maxDt = d.toLocalDate.withDayOfMonth(1)
        val monthsLate = java.time.temporal.ChronoUnit.MONTHS.between(maxDt, expected).toInt
        Outdatedness(table, maxDt.toString, expected.toString, math.max(monthsLate, 0))
    }
  }

  /** Per-table availability-lag CONFIG TABLE — the operator-maintained
    * `shift_tables` pattern (`outdateness.py:38-56`): each row declares a
    * table's date column and `real_disponibilization_in_months`. Expected
    * columns: (table STRING, date_column STRING, availability_lag_months INT).
    * Like the reference, only tables present in the config are validated
    * (the filter-IN at `outdateness.py:39-42`), and a config row with a
    * NULL lag fails hard ("si no tiene un valor, se tiene que caer",
    * `outdateness.py:52`). The config read is a tiny table scan; each
    * freshness probe is one max() aggregate. */
  def outdatednessFromConfig(store: TableStore, configTable: String,
                             tables: Map[String, DataFrame],
                             now: java.time.LocalDate): Seq[Outdatedness] = {
    val names = tables.keys.toSeq
    store.read(configTable)
      .select(col("table"), col("date_column"), col("availability_lag_months"))
      .where(col("table").isin(names: _*))
      .collect().toSeq
      .map { r =>
        val t = r.getString(0)
        val lag = Option(r.get(2)).map(_.asInstanceOf[Number].intValue).getOrElse(
          sys.error(s"shift config for '$t' has no availability_lag_months value"))
        outdatedness(tables(t), t, r.getString(1), lag, now)
      }
  }

  /** Validation-log schemas (`monitor.py:530-557,645-662`). */
  val summarySchema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("validation", StringType, nullable = false),
    StructField("passed", BooleanType, nullable = false),
    StructField("detail", StringType, nullable = true),
    StructField("executed_at", TimestampType, nullable = false)))

  /** Append a validation result to the monitoring table (idempotent by
    * (table, validation, executed_at) is NOT required — the reference
    * appends, `monitor.py:557`). */
  def logResult(spark: SparkSession, store: TableStore, logTable: String,
                tableName: String, validation: String, passed: Boolean,
                detail: String, executedAt: java.sql.Timestamp): Unit = {
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(tableName, validation, passed, detail, executedAt)),
      summarySchema)
    store.append(logTable, row, primaryKeys = Seq("table_name", "validation", "executed_at"))
  }

  /** Column profile — the data-quality snapshot a monitor stores per
    * refresh (row count, null count, exact distinct count, numeric
    * min/max, string min/max per column). Long format: one row per
    * profiled column.
    *
    * TWO aggregations over the scan, SPLIT deliberately (r16): min/max
    * over a STRING column carries an immutable (variable-length) buffer
    * field, which disqualifies HashAggregateExec — one combined
    * multi-distinct aggregate therefore planned as THREE SortAggregates
    * whose first sorted the full rows×(cols+1) Expand stream on the
    * (cols, gid) key (measured r16 at sf0.1: q_v_profile 2.4 s, nearly
    * all in those sorts). Split, the distinct-count aggregate's buffers
    * are all longs → pure HashAggregate over the Expand (the gid=0
    * full-row branch also drops out of it), and the null/extrema/count
    * aggregate is keyless so its SortAggregate sorts NOTHING (grouping
    * key is empty; one partial row per partition). The two single-row
    * results cross-join back together — same values, same single shuffle
    * count, no full-width sort anywhere. At 100 TB swap exact distincts
    * for `approx_count_distinct` — one pass, no Expand; exact is kept
    * here because the oracle replays it. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val numeric = cols.filter(c => df.schema(c).dataType match {
      case _: NumericType => true
      case _ => false
    }).toSet
    val basicAggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"__null_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"__min_$c"),
            max(col(c)).cast("double").as(s"__max_$c"))
        else
          Seq(min(col(c)).cast("string").as(s"__smin_$c"),
            max(col(c)).cast("string").as(s"__smax_$c")))
    } :+ count(lit(1)).as("__n")
    val distinctAggs = cols.map(c => countDistinct(col(c)).as(s"__dist_$c"))
    val stats = df.agg(basicAggs.head, basicAggs.tail: _*)
      .crossJoin(broadcast(df.agg(distinctAggs.head, distinctAggs.tail: _*)))
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"),
        (if (numeric(c)) col(s"__min_$c") else lit(null).cast("double")).as("min_num"),
        (if (numeric(c)) col(s"__max_$c") else lit(null).cast("double")).as("max_num"),
        (if (numeric(c)) lit(null).cast("string") else col(s"__smin_$c")).as("min_str"),
        (if (numeric(c)) lit(null).cast("string") else col(s"__smax_$c")).as("max_str"))
    }
    stats.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Quarantine split — route rows failing any ingest check into a
    * rejected frame carrying WHICH checks failed (comma-joined, stable
    * order), instead of failing the job or silently dropping (the
    * productionized form of the reference's pre-save validations: bad rows
    * land in a quarantine table for replay after upstream repair). Returns
    * (valid, rejected-with-failed_checks).
    *
    * Checks are pure row predicates → both outputs are map-only filters
    * over the same scan; nothing shuffles. */
  def quarantine(df: DataFrame, checks: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, DataFrame) = {
    require(checks.nonEmpty, "checks must be non-empty")
    val failed = array_compact(array(checks.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    }: _*))
    val tagged = df.withColumn("failed_checks",
      array_join(failed, ","))
    (tagged.where(col("failed_checks") === "").drop("failed_checks"),
      tagged.where(col("failed_checks") =!= ""))
  }

  /** Temporal-leakage audit of an assembled training set: for each
    * feature-timestamp column, how many rows carry a feature snapshot
    * STRICTLY AFTER the label time (any n_leaky > 0 means the model
    * trains on the future — the one bug point-in-time joins exist to
    * prevent, and the property [[graft.features.TrainingSet.build]]
    * guarantees by construction; this check catches hand-rolled joins
    * that don't). Null feature times (no snapshot matched) are counted
    * separately — legitimate, but worth seeing.
    *
    * Scale: one map-side-combined scalar aggregate over the training
    * frame — #featureTimeCols result rows, no shuffle of the data. */
  def leakageCheck(df: DataFrame, labelTimeCol: String,
                   featureTimeCols: Seq[String]): DataFrame = {
    require(featureTimeCols.nonEmpty, "featureTimeCols must be non-empty")
    // ONE aggregate pass: totaling in the same job keeps n_rows consistent
    // with the population the leak counts were taken from even when the
    // input is nondeterministic (a second df.count() could drift)
    val aggs = featureTimeCols.flatMap { c =>
      Seq(count(when(col(c) > col(labelTimeCol), 1)).as(s"__leak_$c"),
        count(when(col(c).isNull, 1)).as(s"__null_$c"))
    } :+ count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val spark = df.sparkSession
    import spark.implicits._
    val r = row.first()
    val total = r.getAs[Long]("__total")
    featureTimeCols.map(c =>
      (c, r.getAs[Long](s"__leak_$c"), r.getAs[Long](s"__null_$c"), total))
      .toDF("feature_time_col", "n_leaky", "n_unmatched", "n_rows")
  }
}
