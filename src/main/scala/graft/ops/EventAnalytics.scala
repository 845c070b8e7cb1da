package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pins

/** Ordered-event analytics over an event stream: funnel step completion
  * and cohort retention — the two rollups every behavioral warehouse
  * query eventually becomes (extension beyond the reference surface,
  * sibling of the sessionize/drift operators over the same events table).
  *
  * Both are built from plain aggregations so Catalyst keeps them
  * shuffle-minimal; nothing is per-entity driver state.
  */
object EventAnalytics {

  /** First-completion time per funnel step and entity: `stepN_ts` is the
    * earliest `timeCol` of an event of type `steps(N-1)` STRICTLY AFTER
    * the entity's `step(N-1)_ts` (same-instant events of the next type
    * do not count — simultaneous steps are not an ordered funnel).
    * Entities missing a step carry null from that step on.
    *
    * Scale: one entity-keyed aggregation per step (k aggs over the
    * events for a k-step funnel), each producing a #entities-row frame
    * joined back on the entity key — never a per-entity sort or
    * collect; the conditional-min form is exactly what map-side combine
    * eats. */
  def funnelTimes(events: DataFrame, entityCol: String, timeCol: String,
                  typeCol: String, steps: Seq[String],
                  maxGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(maxGapSeconds.forall(_ > 0), "maxGapSeconds must be positive")
    var acc = events.groupBy(col(entityCol))
      .agg(min(when(col(typeCol) === steps.head, col(timeCol))).as("step1_ts"))
    steps.tail.zipWithIndex.foreach { case (s, i) =>
      val prev = s"step${i + 1}_ts"
      val cur = s"step${i + 2}_ts"
      // conversion-window variant: the next step must also land within
      // maxGapSeconds of the previous one (a funnel with no deadline
      // counts a purchase years after the view)
      val inWindow = maxGapSeconds match {
        case Some(g) => col(timeCol) <= col(prev) + expr(s"INTERVAL $g SECONDS")
        case None => lit(true)
      }
      val next = events
        .join(acc.select(col(entityCol), col(prev)), Seq(entityCol))
        .groupBy(col(entityCol))
        .agg(min(when(col(typeCol) === s && col(timeCol) > col(prev) && inWindow,
          col(timeCol))).as(cur))
      acc = acc.join(next, Seq(entityCol))
    }
    acc
  }

  /** Funnel rollup: one row per step with the entity count that reached
    * it (a reach count is monotonically non-increasing by construction). */
  def funnelSummary(times: DataFrame, steps: Seq[String]): DataFrame = {
    val counts = times.agg(
      count(lit(1)).as("__n"),
      steps.indices.map(i => count(col(s"step${i + 1}_ts")).as(s"__c${i + 1}")): _*)
    counts.select(explode(array(steps.indices.map(i =>
      struct(lit(i + 1).as("step_no"), lit(steps(i)).as("step"),
        col(s"__c${i + 1}").as("n_reached"))): _*)).as("r"))
      .select("r.step_no", "r.step", "r.n_reached")
  }

  /** Cohort retention: entities are cohorted by the period of their FIRST
    * event (`trunc(timeCol, period)`), and each (cohort, offset) cell
    * counts the entities active `offset` periods after their cohort
    * period, with the retention rate against the cohort size. `period`
    * is a Spark trunc unit ("month", "week"); offsets are exact integer
    * period differences, rates exact integer quotients.
    *
    * Scale: distinct (entity, period) activity + a first-period
    * aggregate, joined on the entity key, then a (cohort, offset) rollup
    * — three shuffles of entity/scalar rows, output is
    * #cohorts × #offsets. */
  def cohortRetention(events: DataFrame, entityCol: String, timeCol: String,
                      period: String = "month"): DataFrame = {
    val activity = events
      .select(col(entityCol), trunc(col(timeCol).cast("date"), period).as("__p"))
      .distinct()
    val cohorts = activity.groupBy(col(entityCol))
      .agg(min(col("__p")).as("cohort_period"))
    val sizes = cohorts.groupBy(col("cohort_period"))
      .agg(count(lit(1)).as("cohort_size"))
    val offsetExpr: Column = period match {
      case "month" => months_between(col("__p"), col("cohort_period")).cast("int")
      case "week" => (datediff(col("__p"), col("cohort_period")) / 7).cast("int")
      case other => sys.error(s"unsupported period: $other")
    }
    activity.join(cohorts, Seq(entityCol))
      .withColumn("period_offset", offsetExpr)
      .groupBy(col("cohort_period"), col("period_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_period"))
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
  }

  /** Seasonal-naive forecast backtest over per-(series, day) counts:
    * forecast(day) = actual(day − `seasonDays`), joined BY DATE (not by
    * row offset — gapped series must not slip the season), then exact
    * fixed-point error metrics per series: WAPE and MAPE in micro-units
    * (`mape_micros = (Σ |err|·10⁶ div actual) div n_days` — per-day
    * integral division, replayable bit-for-bit). The standard sanity
    * gate before shipping any forecasting feature.
    *
    * Scale: one (series, day) aggregate of the event stream (map-side
    * combine), one self-join of the day-dim-sized count table on the
    * shifted date, one series-keyed rollup. The fact table is touched
    * once. */
  def seasonalNaiveBacktest(events: DataFrame, seriesCol: String,
                            timeCol: String, seasonDays: Int = 7): DataFrame = {
    val daily = Pins.pin(events
      .groupBy(col(seriesCol).as("series"),
        to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).as("actual"))) // feeds both sides of the shifted self-join
    val fc = daily.select(col("series"),
      date_add(col("day"), seasonDays).as("day"),
      col("actual").as("forecast"))
    daily.join(fc, Seq("series", "day"))
      .withColumn("__abs_err", abs(col("actual") - col("forecast")))
      .groupBy("series")
      .agg(count(lit(1)).as("n_days"),
        sum("actual").as("total_actual"),
        expr("(sum(__abs_err) * 1000000L) div sum(actual)")
          .as("wape_micros"),
        expr("sum((__abs_err * 1000000L) div actual) div count(1)")
          .as("mape_micros"))
  }

  /** Kaplan–Meier survival table over per-subject `(duration, observed)`
    * rows — the churn/retention curve with right-censoring done
    * correctly (a subject still alive at the observation end must NOT
    * count as churned; dropping censored subjects biases survival down).
    * One row per distinct duration:
    * `(duration, n_risk, n_events, n_censored, survival_micros)` with
    * the product-limit estimate in fixed-point micro-units —
    * `S(t) = S(t⁻) · (n_t − d_t) div n_t`, each step one truncating
    * integral division over exact counts (BigInt intermediate, no
    * overflow), so the curve is deterministic under any layout and
    * replayable by a SQL engine as a recursive CTE.
    *
    * Scale: ONE duration-keyed aggregate of the subject frame (map-side
    * combine → one row per distinct duration); the cumulative product is
    * inherently sequential, so it runs on the DRIVER over the
    * duration-dimension — bounded by the observation window in days
    * (same bounded-driver-state contract as
    * [[graft.ops.Filters.unimaxAllocation]]'s k-group greedy), never by
    * data size. Null durations are excluded. */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
                  observedCol: String): DataFrame = {
    val spark = subjects.sparkSession
    import spark.implicits._
    val obs = col(observedCol).cast("boolean")
    val perDay = subjects
      .where(col(durationCol).isNotNull)
      .groupBy(col(durationCol).cast("int").as("duration"))
      .agg(count(when(obs, 1)).as("d"), count(when(!obs, 1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var atRisk = perDay.map(t => t._2 + t._3).sum
    var s = 1000000L
    val rows = perDay.map { case (t, d, c) =>
      val n = atRisk
      s = (BigInt(s) * (n - d) / n).toLong
      atRisk -= (d + c)
      (t, n, d, c, s)
    }
    rows.toSeq
      .toDF("duration", "n_risk", "n_events", "n_censored", "survival_micros")
  }

  /** Multi-touch attribution: for every entity that CONVERTS (first
    * event of `conversionType`), credit the touches that preceded the
    * conversion under three standard models — first-touch, last-touch,
    * and linear — and roll the credits up per channel (`typeCol`).
    * Credits are exact integer micro-units; the linear model hands each
    * touch `10⁶ div n` and distributes the remainder one micro-unit at a
    * time to the EARLIEST touches, so every converting entity WITH at
    * least one qualifying touch (a non-conversion event strictly before
    * its conversion) contributes exactly 10⁶ per model — totals
    * reconcile to `10⁶ · n_converters_with_touches`; zero-touch
    * converters (conversion is their first event) have nothing to
    * credit and contribute no rows.
    *
    * Scale: one entity-keyed aggregate for the conversion times, one
    * entity-keyed join + the standard per-entity window pair (ordered
    * row_number + unordered count share the entity partitioning), then a
    * channel-keyed rollup that collapses map-side to k channel rows. */
  def attribution(events: DataFrame, entityCol: String, timeCol: String,
                  typeCol: String, conversionType: String,
                  tieBreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = events.where(col(typeCol) === conversionType)
      .groupBy(col(entityCol)).agg(min(col(timeCol)).as("__conv_ts"))
    val touches = events.join(conv, Seq(entityCol))
      .where(col(timeCol) < col("__conv_ts") &&
        col(typeCol) =!= conversionType)
    val ordered = Window.partitionBy(entityCol)
      .orderBy((timeCol +: tieBreakCols).map(col): _*)
    val entity = Window.partitionBy(entityCol)
    touches
      .withColumn("__pos", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(entity))
      .select(col(typeCol).as("channel"),
        when(col("__pos") === 1, 1000000L).otherwise(0L).as("__f"),
        when(col("__pos") === col("__n"), 1000000L).otherwise(0L).as("__l"),
        expr("(1000000L div __n) + " +
          "(CASE WHEN __pos <= 1000000L % __n THEN 1L ELSE 0L END)").as("__lin"))
      .groupBy("channel")
      .agg(sum("__f").as("first_micros"), sum("__l").as("last_micros"),
        sum("__lin").as("linear_micros"), count(lit(1)).as("n_touches"))
  }

  /** First-order Markov transition matrix over the per-entity event-type
    * sequence: for every observed (current, next) type pair, the
    * transition count and an ENGINE-EXACT fixed-point probability
    * `n(cur,next)·10⁶ div n(cur,·)` (integer micro-units — the repo's
    * oracle-portable arithmetic, see `text/InvertedIndex.bm25Fixed`).
    * The behavioral prior every sequence model starts from.
    *
    * Scale: one entity-keyed Window (the lead) — the same single shuffle
    * every W-family op pays — then a groupBy on (cur, next) whose
    * map-side partials collapse to at most k² rows for k event types;
    * the per-cur totals come from a k-row window over the k²-row
    * aggregate, not a second scan. */
  def transitionMatrix(events: DataFrame, entityCol: String, timeCol: String,
                       typeCol: String,
                       tieBreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(entityCol)
      .orderBy((timeCol +: tieBreakCols).map(col): _*)
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("cur_type"), col("__next").as("next_type"))
      .agg(count(lit(1)).as("n_pairs"))
    pairs
      .withColumn("__cur_total",
        sum(col("n_pairs")).over(Window.partitionBy(col("cur_type"))))
      .withColumn("p_micros",
        expr("(n_pairs * 1000000L) div __cur_total"))
      .drop("__cur_total")
  }
}
