package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-sweep type coercions.
  *
  * Reference semantics: `decimals_to_floats` + `longs_to_ints`
  * (`/root/reference/notebooks/utils.py:538-564`) — every DECIMAL feature
  * column becomes FLOAT ("to avoid inconsistencies when dealing with
  * aggregations") and every LONG becomes INT. Applied as the last step of
  * every pipeline's `feature_output_standarize`.
  *
  * All coercions are emitted in ONE projection (not a withColumn per field).
  */
object Types {

  private def sweep(df: DataFrame)(pf: PartialFunction[DataType, DataType]): DataFrame = {
    val targets = df.schema.fields.collect {
      case f if pf.isDefinedAt(f.dataType) => f.name -> pf(f.dataType)
    }.toMap
    if (targets.isEmpty) df
    else df.select(df.columns.map { n =>
      targets.get(n).map(t => col(n).cast(t).as(n)).getOrElse(col(n))
    }.toIndexedSeq: _*)
  }

  /** DECIMAL(p,s) → FLOAT (`utils.py:538-548`; FloatType matches the executed
    * behavior, not the "DOUBLE" the notebook docstrings claim — SURVEY §7.5). */
  def decimalsToFloats(df: DataFrame): DataFrame =
    sweep(df) { case _: DecimalType => FloatType }

  /** LONG → INT (`utils.py:552-564`). */
  def longsToInts(df: DataFrame): DataFrame =
    sweep(df) { case LongType => IntegerType }

  /** The full `feature_output` coercion pass. */
  def standardize(df: DataFrame): DataFrame = longsToInts(decimalsToFloats(df))
}
