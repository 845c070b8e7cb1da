package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Date/time column functions.
  *
  * Reference semantics: `shift_date` (`/root/reference/notebooks/utils.py:482-534`),
  * `src/packages/preprocessing/transformers/date.py` (month assembly,
  * months_between variants, quarter-format repair).
  */
object Dates {

  /** `shift_date` (`utils.py:482-534`): parse → add days → *(iff days==0)*
    * truncate to month start → add months (+12·years).
    *
    * The truncation quirk is load-bearing (`utils.py:526-527`): month-floor
    * happens ONLY when `daysToAdd == 0`, and between `date_add` and
    * `add_months`. Reproduced exactly; property-tested in DatesSpec.
    */
  def shiftDate(c: Column, fmt: String = "yyyy-MM-dd",
                days: Int = 0, months: Int = 0, years: Int = 0): Column = {
    val parsed  = to_date(c.cast("string"), fmt)
    val shifted = date_add(parsed, days)
    val floored = if (days == 0) trunc(shifted, "month") else shifted
    add_months(floored, months + 12 * years)
  }

  /** Availability shift used by 4 of the 5 pipelines: event month + 1 month,
    * month-floored (`fs_cus_credit_risk.py:85-95` et al.). */
  def releaseDt(c: Column, fmt: String = "yyyy-MM"): Column =
    shiftDate(c, fmt, days = 0, months = 1)

  /** yyyy + MM (lpad) assembly → date (`date.py:57-96`). */
  def yearMonthToDate(year: Column, month: Column): Column =
    to_date(concat(year.cast("string"), lpad(month.cast("string"), 2, "0")), "yyyyMM")

  /** Quarter/half-month format repair: 'yyyy-MM-q1'→day 01, 'q2'→day 16
    * (`schemas.py:46-51`, `monitor.py:345-351`). */
  def repairHalfMonth(c: Column): Column =
    to_date(regexp_replace(regexp_replace(lower(c), "q1", "01"), "q2", "16"), "yyyy-MM-dd")

  /** Year-only format: anchor to Dec 1 of that year (`outdateness.py:80-90`). */
  def yearToDate(c: Column): Column =
    to_date(date_format(to_timestamp(c.cast("string"), "yyyy"), "yyyy-12-01"))

  /** `months_between` with the reference's roundOff variants (§2.8 F10). */
  def monthsBetweenRounded(a: Column, b: Column): Column = months_between(a, b, true)
  def monthsBetweenExact(a: Column, b: Column): Column = months_between(a, b, false)

  /** Month-scaffold: continuous month-start dates [start, end] inclusive —
    * the demographic pipeline's `release_dates` temp view
    * (`fs_cus_demographic.py:64-84`), built distributed via `sequence`
    * instead of a driver-side pandas date_range. */
  def monthScaffold(df: DataFrame, start: String, end: String): DataFrame = {
    df.sparkSession.sql(
      s"""SELECT explode(sequence(to_date('$start'), to_date('$end'),
         |interval 1 month)) AS release_dt""".stripMargin)
  }
}
