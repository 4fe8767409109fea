package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.core.ReturnsFrame

/** Longest win/loss streaks — the reference's loop `_consecutive_count`
  * (alphastats/stats.py:1249-1289), run per asset by
  * [[graft.functions.SeriesAgg]] over the melted, optionally calendar-
  * bucketed frame. Nulls reset the streak (they form their own sign class),
  * matching alphastats/stats.py:1253-1255.
  */
object Streaks {

  /** Every column's longest run of the target sign from ONE per-asset
    * aggregation; 0 for a column without such a run.
    */
  def consecutive(returns: DataFrame, winning: Boolean,
      aggregate: Option[String], compounded: Boolean): DataFrame = {
    val rfm = ReturnsFrame(Calendar.simpleReturns(ReturnsFrame(returns), aggregate, compounded))
    Stats.seriesRow(rfm, LongType, nullable = false)(s =>
      if (winning) s.wins else s.losses)
  }
}
