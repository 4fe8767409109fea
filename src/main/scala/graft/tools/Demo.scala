package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.stats.Stats

/** End-to-end demo drive of the public Stats API over the driver testdata:
  * derives a daily market-returns frame from lineitem parquet and prints a
  * metric panel. `sbt "runMain graft.tools.Demo /root/testdata/sf0.001"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rev = li.groupBy(to_date(col("l_shipdate")).as("date"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val w = Window.orderBy("date")
    val returns = rev
      .select(col("date"), (col("rev") / lag("rev", 1).over(w) - 1).as("market"))
      .filter(col("market").isNotNull)

    println(s"rows=${returns.count()}")
    def show(name: String, v: Double): Unit = println(f"$name%-22s $v%.8f")
    show("comp", Stats.scalar(Stats.comp(returns)))
    show("cagr", Stats.scalar(Stats.cagr(returns)))
    show("sharpe", Stats.scalar(Stats.sharpe(returns)))
    show("sortino", Stats.scalar(Stats.sortino(returns)))
    show("volatility", Stats.scalar(Stats.volatility(returns)))
    show("max_drawdown", Stats.scalar(Stats.maxDrawdown(returns)))
    show("ulcer_index", Stats.scalar(Stats.ulcerIndex(returns)))
    show("win_rate", Stats.scalar(Stats.winRate(returns)))
    show("profit_factor", Stats.scalar(Stats.profitFactor(returns)))
    show("cvar", Stats.scalar(Stats.conditionalValueAtRisk(returns)))
    show("kurtosis", Stats.scalar(Stats.kurtosis(returns)))
    show("psr", Stats.scalar(Stats.probabilisticSharpeRatio(returns)))
    show("longest_dd_days", Stats.longestDrawdownDays(returns).head().getLong(0).toDouble)
    show("consecutive_wins", Stats.scalar(Stats.consecutiveWins(returns)))
    show("best_month", Stats.scalar(Stats.bestMonth(returns)))
    show("ytd", Stats.scalar(Stats.ytd(returns)))

    // benchmark-relative: market vs itself lagged → sanity for as-of join path
    val bench = returns.select(col("date"), col("market").as("bench"))
    show("beta_self", Stats.greeks(returns, bench).head().getStruct(0).getDouble(1))
    show("corr_self", Stats.scalar(Stats.correlation(returns, bench)))

    println("\n== weighted portfolio over per-flag returns ==")
    val assets = graft.queries.Queries.assetReturns(spark, sfDir)
    val port = graft.api.GroupedStats.portfolioReturns(assets,
      Map("A" -> 0.5, "N" -> 0.3, "R" -> 0.2), "asset")
    graft.api.GroupedStats.aggregate(port, Seq(
      "comp" -> graft.core.Exprs.comp,
      "sharpe" -> (c => graft.core.Exprs.sharpe(c, 0.0, 252, annualize = true))))
      .show(truncate = false)

    println("\n== IVF ANN over embeddings ==")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.ext.Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 3, nLists = 8, nProbe = 3, sampleSize = 200).show(6, truncate = false)

    graft.Graft.register(spark)
    returns.createOrReplaceTempView("returns")
    println("== SQL via graft_product ==")
    spark.sql("SELECT graft_product(1 + market) - 1 AS comp FROM returns").show()

    println("\n== full metrics report (vs benchmark) ==")
    graft.reports.Reports.metrics(returns, benchmark = Some(bench), mode = "full")
      .show(80, truncate = false)

    spark.stop()
  }
}
