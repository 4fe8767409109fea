package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.core.ReturnsFrame
import graft.functions.SeriesAgg

/** Drawdown-episode metrics — the reference's loops
  * `_drawdown_period_lengths` / `avg_drawdown` (alphastats/stats.py:1570-1642),
  * run per asset by [[graft.functions.SeriesAgg]] over the melted frame, in
  * the same plan as the drawdown family of [[Stats]].
  *
  * An episode is a maximal run of rows with drawdown < 0 (a null return ends
  * one). Its length is calendar days (end − start).days + 1 when a temporal
  * column exists, else its row count (alphastats/stats.py:1578-1594). A
  * column without episodes gets 0.
  */
object DrawdownEpisodes {

  def longestDays(returns: DataFrame): DataFrame = build(returns, LongType)(_.longestEpisode)

  def avgDays(returns: DataFrame): DataFrame = build(returns, DoubleType)(_.avgEpisode)

  def avgDepth(returns: DataFrame): DataFrame = build(returns, DoubleType)(_.avgDepth)

  private def build(returns: DataFrame, dt: DataType)(pick: SeriesAgg.Result => Any): DataFrame =
    Stats.seriesRow(ReturnsFrame(returns), dt, nullable = false)(pick)
}
