package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.core.{Dist, Exprs, ReturnsFrame}

/** Autocorrelation penalty, smart ratios and the probabilistic Sharpe ratio
  * (reference: alphastats/stats.py:255-336, 1292-1361).
  *
  * Each call is ONE per-asset aggregation of the melted frame,
  * [[Stats.series]]: the [[graft.functions.SeriesAgg]] walk gives every
  * column's count, lag-1 correlation of consecutive non-null returns and
  * autocorrelation penalty, and the base ratio and moments ride along as
  * plain aggregates of the same `groupBy`. The N per-asset results are
  * collected and divided locally; no window is planned.
  */
object Smart {

  /** Per-column penalty √(1 + 2·Σ_{x=1}^{n-1} ((n−x)/n)·ρˣ), ρ = |lag-1 corr|;
    * NaN when n < 2 (also for a column without rows) or a slice variance
    * is 0 (alphastats/stats.py:1292-1315).
    */
  def autocorrPenalty(returns: DataFrame): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val series = Stats.series(rfm)
    localRow(returns, rfm.numericCols.map(c => series(c)._1.penalty), rfm.numericCols)
  }

  /** base-metric aggregate ÷ penalty per column, in the penalty's aggregation
    * (alphastats/stats.py:1334-1361).
    */
  def scaledByPenalty(returns: DataFrame, base: Column => Column): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val series = Stats.series(rfm, plain = Seq(base))
    localRow(returns, rfm.numericCols.map { c =>
      val (s, Seq(b)) = series(c)
      b / s.penalty
    }, rfm.numericCols)
  }

  /** QuantStats-compatible PSR (alphastats/stats.py:255-336), [[Dist.psr]]:
    * the Sharpe, skew and kurtosis ride in the walk's aggregation; `smart`
    * only divides the Sharpe by the penalty.
    */
  def psr(returns: DataFrame, rf: Double, periods: Int, annualize: Boolean,
      smart: Boolean): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val series = Stats.series(rfm, plain = Seq(
      Exprs.sharpe(_, 0.0, periods, annualize = false), Exprs.skew, Exprs.kurtosis))
    localRow(returns, rfm.numericCols.map { c =>
      val (s, Seq(b, sk, ku)) = series(c)
      Dist.psr(if (smart) b / s.penalty else b, sk, ku, s.n.toDouble, rf, annualize)
    }, rfm.numericCols)
  }

  private def localRow(returns: DataFrame, vals: Seq[Double], cols: Seq[String]): DataFrame = {
    val schema = StructType(cols.map(c => StructField(c, DoubleType, nullable = false)))
    returns.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(vals)), schema)
  }
}
