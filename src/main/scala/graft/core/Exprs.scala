package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression kit: safe ratios, CASE mapping, binarization, and the
  * function-name registry that replaces the reference's reflection pattern.
  *
  * Reference semantics: ratio/pct helpers (`fs_cus_credit_risk.py:153-164,
  * 456-486`), CASE mapping (`fs_cus_demographic.py:176-193`,
  * `feature_generation.py:121-284`), binarize (`feature_generation.py:287-317`),
  * reflection `getattr(f, op)` (`aggregation.py:118-129`,
  * `feature_generation.py:12-118`).
  *
  * The Python reflection-over-`pyspark.sql.functions` idiom maps to typed
  * Scala registries (`Map[String, ...]`) — everything stays a Catalyst
  * expression, so whole-stage codegen is preserved (SURVEY §2.9).
  */
object Exprs {

  /** `when(den != 0, round(num/den, s)).otherwise(null)` as `{a}_to_{b}_ratio`
    * (`fs_cus_credit_risk.py:456-486`). */
  def safeRatio(num: Column, den: Column, scale: Int = 4): Column =
    when(den =!= 0, round(num / den, scale)).otherwise(lit(null))

  /** Percentage variant ×100, null on zero denominator. */
  def safePct(num: Column, den: Column, scale: Int = 4): Column =
    when(den =!= 0, round(num / den * 100, scale)).otherwise(lit(null))

  /** CASE-WHEN category mapping: value → value, with optional default
    * (`fs_cus_demographic.py:176-193`; generic `feature_generation.py:121-192`). */
  def caseMap(c: Column, mapping: Seq[(String, Any)], default: Any = null): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (k, v)) =>
      Some(acc.map(_.when(c === k, v)).getOrElse(when(c === k, v)))
    }.map(_.otherwise(lit(default))).getOrElse(lit(default))

  /** LIKE-pattern variant (`feature_generation.py:240-243`). */
  def caseMapLike(c: Column, mapping: Seq[(String, Any)], default: Any = null): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (pat, v)) =>
      Some(acc.map(_.when(c.like(pat), v)).getOrElse(when(c.like(pat), v)))
    }.map(_.otherwise(lit(default))).getOrElse(lit(default))

  /** Binarize: 1 iff value in positive set (`feature_generation.py:287-317`). */
  def binarize(c: Column, positives: Seq[Any]): Column =
    when(c.isin(positives: _*), 1).otherwise(0)

  /** NA standardization: sentinel strings → NULL (`data_quality.py:10-38`). */
  def naStandardize(c: Column, sentinels: Seq[String]): Column =
    when(c.isin(sentinels: _*), lit(null)).otherwise(c)

  /** Unary function registry — the `getattr(f, op)` pattern, typed.
    * (`aggregation.py:118-129`, `feature_generation.py:55-57`). */
  val fn1: Map[String, Column => Column] = Map(
    "sum" -> sum, "avg" -> avg, "mean" -> avg, "min" -> min, "max" -> max,
    "count" -> count, "countDistinct" -> (c => count_distinct(c)),
    "approx_count_distinct" -> (c => approx_count_distinct(c)),
    "stddev" -> stddev, "stddev_samp" -> stddev_samp, "stddev_pop" -> stddev_pop,
    "variance" -> variance, "first" -> first, "last" -> last,
    "abs" -> abs, "sqrt" -> sqrt, "exp" -> exp, "log" -> log,
    "lower" -> lower, "upper" -> upper, "trim" -> trim,
    "row_number" -> (_ => row_number()), "year" -> year, "month" -> month,
  )

  def resolve1(op: String): Column => Column =
    fn1.getOrElse(op, throw new IllegalArgumentException(s"unknown function: $op"))

  /** Typed constant column (`feature_generation.py:320-345`). */
  def litCol(v: Any, castTo: String): Column = lit(v).cast(castTo)

  /** The portable md5 order key `md5(concat_ws('|', parts…))` — a hex
    * string any SQL engine rebuilds verbatim. */
  def md5Key(parts: Seq[Column]): Column = md5(concat_ws("|", parts: _*))

  /** The portable md5 gate: the first 15 hex digits of an md5 hex
    * `digest` read as a non-negative long (the high 60 bits of the
    * digest). md5 and the base-16 parse are universal, so every engine
    * replays the gate bit for bit. */
  def md5Gate(digest: Column): Column =
    conv(substring(digest, 1, 15), 16, 10).cast("long")
}
