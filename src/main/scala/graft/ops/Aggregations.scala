package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operator kit.
  *
  * Reference semantics: fixed grouped aggs (`fs_cus_credit_risk.py:213-261`),
  * config-driven aggs with optional pivot/join-back (`aggregation.py:60-159`),
  * manual conditional pivot incl. the `LIT` boolean-indicator op
  * (`fs_cus_holding_products.py:199-305`).
  *
  * Scale design: everything here is plain `groupBy(...).agg(...)` — Spark
  * plans partial (map-side) + final hash aggregation automatically, so a
  * 100 TB input shuffles only the partially-combined per-key state. The
  * conditional pivot deliberately stays ONE aggregation over N conditional
  * columns (not N self-joined aggregations).
  */
object Aggregations {

  /** A2 — config-driven agg: `{col -> ops}` with default `{c}_{op}` aliases
    * (`aggregation.py:60-159`), optional join-back onto the input (J6). */
  def configAgg(df: DataFrame, keys: Seq[String], ops: Map[String, Seq[String]],
                joinBack: Boolean = false): DataFrame = {
    val cols = for { (c, fs) <- ops.toSeq.sortBy(_._1); f <- fs }
      yield graft.core.Exprs.resolve1(f)(col(c)).as(s"${c}_$f")
    val agg = df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    if (joinBack) df.join(agg, keys) else agg
  }

  /** One pivot measure: op("LIT" = boolean presence indicator), the measure
    * column ("1" allowed, like the reference's literal), and the name alias. */
  final case class PivotOp(operation: String, column: String, alias: String)

  /** A3 — the reference's generic `calculate_aggregations`
    * (`fs_cus_transactions.py:210-307`, used with pivot at
    * `fs_cus_holding_products.py:607-640`): grouped aggregation with
    *  - manual pivot via conditional aggregation: for each pivot value
    *    `v -> renaming` and each PivotOp: `op(CASE WHEN pivotCol='v' THEN
    *    col ELSE 0 END)` named `{renaming}_{alias}`; op "LIT" becomes
    *    `SUM(CASE WHEN pivotCol='v' THEN 1 ELSE 0 END) > 0` named
    *    `ind_{renaming}_{alias}`;
    *  - total numeric aggs named `{col}_{op}_m`;
    *  - optional na.fill.
    * Single aggregation over N conditional columns — one shuffle with
    * map-side partial aggregation, never N self-joins. */
  def calculateAggregations(df: DataFrame, groupbyColumns: Seq[String],
                            numericOps: Seq[(String, Seq[String])] = Nil,
                            pivotColumn: Option[String] = None,
                            pivotOps: Seq[PivotOp] = Nil,
                            catsToPivot: Seq[(String, String)] = Nil,
                            fillnaValue: Option[Any] = None): DataFrame = {
    require(pivotColumn.isDefined == pivotOps.nonEmpty &&
      pivotOps.nonEmpty == catsToPivot.nonEmpty,
      "pivotColumn, catsToPivot and pivotOps must all be defined or all empty")
    val pivoted = for {
      op <- pivotOps
      (value, renaming) <- catsToPivot
    } yield {
      val p = col(pivotColumn.get)
      if (op.operation.toUpperCase == "LIT")
        (sum(when(p === value, lit(1)).otherwise(lit(0))) > 0)
          .as(s"ind_${renaming}_${op.alias}")
      else {
        val m = if (op.column == "1") lit(1) else col(op.column)
        graft.core.Exprs.resolve1(op.operation.toLowerCase)(
          when(p === value, m).otherwise(lit(0))).as(s"${renaming}_${op.alias}")
      }
    }
    val totals = for { (c, ops) <- numericOps; op <- ops }
      yield graft.core.Exprs.resolve1(op)(col(c)).as(s"${c}_${op}_m")
    val all = pivoted ++ totals
    val out = df.groupBy(groupbyColumns.map(col): _*).agg(all.head, all.tail: _*)
    fillnaValue match {
      case Some(v: Int) => out.na.fill(v)
      case Some(v: Long) => out.na.fill(v)
      case Some(v: Double) => out.na.fill(v)
      case Some(v: String) => out.na.fill(v)
      case _ => out
    }
  }

  /** A1 (credit/payment form) — `calculate_aggregations(df, numeric_cols,
    * categorical_cols)` (`fs_cus_credit_risk.py:213-261`): count(*) as
    * credits_cnt, sum(c) as {c}_sum per numeric, max(c) as {c} per
    * categorical, grouped by (id_customer, release_dt). */
  def creditAggregations(df: DataFrame, numericCols: Seq[String],
                         categoricalCols: Seq[String],
                         keys: Seq[String] = Seq("id_customer", "release_dt")): DataFrame = {
    val aggs = Seq(count(lit(1)).as("credits_cnt")) ++
      numericCols.map(c => sum(col(c)).as(s"${c}_sum")) ++
      categoricalCols.map(c => max(col(c)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A4 — true pivot with explicit value list (`aggregation.py:142`).
    * Passing `values` avoids the extra distinct-collect job AND keeps the
    * output schema deterministic at any scale. */
  def pivot(df: DataFrame, keys: Seq[String], pivotCol: String,
            values: Seq[String], agg: Column): DataFrame =
    df.groupBy(keys.map(col): _*).pivot(pivotCol, values).agg(agg)

  /** A5 — global scalar agg → first row (`dataframe.py:67`, `monitor.py:368`). */
  def scalar(df: DataFrame, agg: Column): Any = df.agg(agg).first().get(0)

  /** A6 — per-group counts for cross-check validation (`monitor.py:377-383`). */
  def groupCounts(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).count()

  /** A7 — distinct values of a column (`feature_generation.py:263-266`). */
  def distinctValues(df: DataFrame, c: String): DataFrame = df.select(c).distinct()

  /** A8 — hierarchical subtotals via ROLLUP (extension: the OLAP rollup
    * of the reference's per-dimension monitor counts — detail rows plus
    * per-prefix subtotals plus the grand total in ONE pass).
    * `grouping_id` (0 = detail, ascending = coarser) disambiguates real
    * NULL key values from subtotal rows.
    *
    * Scale: Spark plans rollup as a single Expand + hash aggregate —
    * (levels+1) map-side replicas feeding one shuffle keyed by the
    * grouping-set id, with map-side combine; no per-level rescan of the
    * input. */
  def rollupAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && aggs.nonEmpty, "need grouping keys and aggregates")
    // grouping_id() is only resolvable INSIDE the rollup aggregate
    val withGid = aggs :+ grouping_id().cast("int").as("grouping_id")
    df.rollup(keys.map(col): _*)
      .agg(withGid.head, withGid.tail: _*)
  }

  /** A9 — full CUBE: every grouping-set combination (all 2^keys margins)
    * in one pass; same Expand + single-shuffle plan as [[rollupAgg]] with
    * 2^levels replicas — keep the key list short by construction. */
  def cubeAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && aggs.nonEmpty, "need grouping keys and aggregates")
    val withGid = aggs :+ grouping_id().cast("int").as("grouping_id")
    df.cube(keys.map(col): _*)
      .agg(withGid.head, withGid.tail: _*)
  }

  /** A10 — explicit GROUPING SETS: exactly the margin combinations the
    * report asks for, no more (ROLLUP's prefix ladder and CUBE's 2^k
    * explosion are both special cases; a dashboard wanting (region),
    * (segment), and (region, segment) but NOT the grand total says so
    * here). `sets` lists each grouping set as the subset of `keys` it
    * keeps; the empty Seq is the grand total.
    *
    * Same Expand + ONE-shuffle plan as rollup/cube — the input replicates
    * |sets|× through Spark's Expand node before a single hash
    * aggregation, so cost is |sets| scans' worth of aggregation input,
    * never |sets| separate jobs unioned (the naive form). grouping_id
    * disambiguates margins exactly as in [[rollupAgg]]. */
  def groupingSetsAgg(df: DataFrame, keys: Seq[String],
                      sets: Seq[Seq[String]], aggs: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && aggs.nonEmpty, "need grouping keys and aggregates")
    require(sets.nonEmpty, "need at least one grouping set")
    sets.foreach(s => require(s.forall(keys.contains),
      s"grouping set ${s.mkString("(", ",", ")")} not a subset of keys"))
    val withGid = aggs :+ grouping_id().cast("int").as("grouping_id")
    df.groupingSets(sets.map(_.map(col)), keys.map(col): _*)
      .agg(withGid.head, withGid.tail: _*)
  }
}
