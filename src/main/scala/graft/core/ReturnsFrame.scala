package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SeriesAgg

/** Normalized view of a "returns frame": the reference's single table shape —
  * any numeric column is a return series, at most one temporal column is the
  * time axis (reference: alphastats/_utils.py:10-22).
  *
  * Normalization applied once at construction: NaN → null on every
  * floating-point column, so "missing" is uniformly null and every aggregate
  * skips it (reference: alphastats/_utils.py:34 `fill_nan(None)`).
  * A metric is one aggregate per column ([[aggAll]]) or one aggregation per
  * column over the [[long]] view, the only wide → long melt.
  */
final class ReturnsFrame private (
    val df: DataFrame,
    val numericCols: Seq[String],
    val temporalCol: Option[String]) {

  def requireTemporal: String = temporalCol.getOrElse(throw NoTemporalColumnError())

  /** One aggregate per numeric column, keyed by the original column name —
    * the reference's 1-row-frame output contract (alphastats/stats.py:39-41).
    */
  def aggAll(f: Column => Column): DataFrame =
    df.select(numericCols.map(c => f(col(c)).as(c)): _*)

  /** The long view of every numeric column ([[ReturnsFrame.long]]). */
  def long(extra: Column*): DataFrame = ReturnsFrame.long(df, numericCols, temporalCol, extra: _*)
}

object ReturnsFrame {
  val BenchmarkCol = "_benchmark_returns"

  private def isTemporal(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  def apply(input: DataFrame): ReturnsFrame = {
    val numeric = input.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq
    val temporal = input.schema.fields.collect {
      case f if isTemporal(f.dataType) => f.name
    }.toSeq
    if (temporal.length > 1) throw MultipleTemporalColumnsError(temporal)

    val cleaned = input.select(input.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
    new ReturnsFrame(cleaned, numeric, temporal.headOption)
  }

  /** Validate + normalize a benchmark frame: exactly one numeric column,
    * renamed to `_benchmark_returns` (reference: alphastats/_utils.py:44-57).
    */
  def prepareBenchmark(input: DataFrame): ReturnsFrame = {
    val rf = apply(input)
    rf.numericCols match {
      case Seq() => throw NoReturnColumnError()
      case Seq(one) =>
        val cols = rf.temporalCol.toSeq.map(col) :+ col(one).as(BenchmarkCol)
        new ReturnsFrame(rf.df.select(cols: _*), Seq(BenchmarkCol), rf.temporalCol)
      case many => throw AmbiguousBenchmarkReturnsError(many)
    }
  }

  /** The long view of a normalized wide frame: one row per (row of `df`,
    * column of `assets`) with the `time` column (if any); `__ord`, the
    * [[SeriesAgg.orderKey]] of `time`, else the ingestion id (the reference's
    * implicit row order); `__u`, a tie-break unique per row of `df`; the
    * `extra` columns; `__asset`, the column's name; and `__r`, its value as a
    * double. `__ord` and `__u` are fixed in a projection below the melt (in
    * the melt's own, an id is drawn per output row), so a row's assets share
    * them: a pivot on the pair restores the wide rows.
    */
  private[graft] def long(df: DataFrame, assets: Seq[String], time: Option[String],
      extra: Column*): DataFrame = {
    val ord = time.fold(monotonically_increasing_id())(t =>
      SeriesAgg.orderKey(col(t), df.schema(t).dataType))
    val keyed = df.select(time.map(col).toSeq ++
      Seq(ord.as("__ord"), monotonically_increasing_id().as("__u")) ++ extra ++ assets.map(col): _*)
    val melt = explode(map(assets.flatMap(c => Seq(lit(c), col(c).cast("double"))): _*))
    keyed.select(keyed.columns.toSeq.filterNot(assets.contains).map(col) :+
      melt.as(Seq("__asset", "__r")): _*)
  }
}
