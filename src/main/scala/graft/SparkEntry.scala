package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.GroupedStats
import graft.core.Exprs
import graft.queries.{Queries, Registry}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: per-asset risk panel (comp,
    * sharpe, max drawdown, ulcer, recovery) over returns derived from
    * lineitem. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sf = Queries.assetReturns(spark, "/root/testdata/sf0.001")
    GroupedStats.drawdownStats(sf, extra = Seq(
      "comp" -> Exprs.comp,
      "sharpe" -> (r => Exprs.sharpe(r, 0.0, 252, annualize = true)),
      "volatility" -> (r => Exprs.volatility(r, 252, annualize = true))))
  }

  /** One entry per implemented operator family (SURVEY.md §2), from
    * [[graft.queries.Registry]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(s => s.name -> s.run).toMap

  /** DuckDB-equivalent ANSI SQL for each query (same tables, same rounding). */
  def oracleSql: Map[String, String] =
    Registry.specs.map(s => s.name -> s.oracleSql).toMap
}
