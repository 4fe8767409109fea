package graft.queries

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.{AsOfJoin, Dist, Exprs}
import graft.core.Exprs.fdiv
import graft.functions.GraftProduct.product

/** The driver-facing query suite: every entry is a library-API Spark query
  * over `/root/testdata` parquet plus an equivalent ANSI SQL oracle for
  * DuckDB.
  *
  * Returns derivation (shared): daily revenue per `l_returnflag` asset,
  * cents-rounded so both engines see bit-identical revenue, then day-over-day
  * fractional return via a lag window (FIXTURES.md §B). Final metrics are
  * rounded to 6 decimals on BOTH sides to bridge last-ulp aggregation-order
  * differences between Spark partial aggregation and DuckDB sequential
  * execution.
  */
object Queries {

  private val Z05: String = Dist.invCdf(0.05).toString // -1.6448536269514726...
  private val S252: String = math.sqrt(252.0).toString

  // ---- shared derivations (Spark) ----------------------------------------

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")

  // The returns derivations are shared by every metric query in a run;
  // cache them once per (session, sf) like a materialized view — the
  // lineitem scan + groupBy + lag window then executes once, not 23 times.
  private val retCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), SeriesFrame]
  private val mktCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** (d, asset, r): per-returnflag daily returns. Projection pruning reaches
    * the parquet scan (4 of 11 lineitem columns read); the lag window
    * partitions by asset.
    */
  def assetReturns(spark: SparkSession, sfDir: String): SeriesFrame =
    retCache.getOrElseUpdate((spark, sfDir), {
      val rev = lineitem(spark, sfDir)
        .groupBy(to_date(col("l_shipdate")).as("d"), col("l_returnflag").as("asset"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"))
      val w = Window.partitionBy(col("asset")).orderBy(col("d"))
      val ret = rev
        .select(col("d"), col("asset"), (col("rev") / lag("rev", 1).over(w) - lit(1.0)).as("r"))
        .filter(col("r").isNotNull)
        .cache()
      SeriesFrame(ret, Seq("asset"), "d", "r")
    })

  /** (d, b): whole-market daily returns (benchmark). The lag window here is
    * deliberately unpartitioned: it runs AFTER the group-by-day aggregation,
    * on one row per calendar day — a bounded (~10³ rows/decade) single
    * ordered sequence regardless of input scale, not a scale hazard. (Every
    * other unpartitioned window in the suite is likewise bounded — the r14
    * audit table in OPTIMIZATION_r14.md lists each site with its row bound.)
    */
  def marketReturns(spark: SparkSession, sfDir: String): DataFrame =
    mktCache.getOrElseUpdate((spark, sfDir), {
      val rev = lineitem(spark, sfDir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"))
      rev.select(col("d"),
        (col("rev") / lag("rev", 1).over(Window.orderBy(col("d"))) - lit(1.0)).as("b"))
        .filter(col("b").isNotNull)
        .cache()
    })

  // ---- shared derivations (DuckDB SQL) ------------------------------------

  private[queries] val RetCte =
    """WITH rev AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d, l_returnflag AS asset,
      |         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |ret AS (
      |  SELECT d, asset, r FROM (
      |    SELECT d, asset, rev / LAG(rev) OVER (PARTITION BY asset ORDER BY d) - 1 AS r
      |    FROM rev) WHERE r IS NOT NULL)""".stripMargin

  /** [[RetCte]] + the per-asset value-rank window (rank under (r, d),
    * series length n) — shared by every oracle that needs per-asset order
    * statistics (q237 inverse-normal, q241 sketch certification), so the
    * melted rank derivation is written once.
    */
  private[queries] val RetRankCte: String =
    s"""$RetCte,
       |rk AS (
       |  SELECT asset, d, r,
       |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY r, d) AS rk,
       |         COUNT(*) OVER (PARTITION BY asset) AS n
       |  FROM ret)""".stripMargin

  private val BenchCte =
    """brev AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
      |  FROM lineitem GROUP BY 1),
      |bret AS (
      |  SELECT d, b FROM (
      |    SELECT d, rev / LAG(rev) OVER (ORDER BY d) - 1 AS b FROM brev)
      |  WHERE b IS NOT NULL)""".stripMargin

  /** Round a metric column to 6 decimals (cross-engine float bridging). */
  private def r6(c: Column): Column = round(c, 6)

  private def finish(df: DataFrame, metrics: Seq[String]): DataFrame =
    df.select(col("asset") +: metrics.map(m => r6(col(m)).as(m)): _*).orderBy("asset")

  // ---- queries ------------------------------------------------------------

  def q01Comp(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.aggregate(sf, Seq("comp" -> Exprs.comp)), Seq("comp"))
  }

  val q01Sql: String =
    s"""$RetCte
       |SELECT asset, ROUND(PRODUCT(1 + r) - 1, 6) AS comp
       |FROM ret GROUP BY asset ORDER BY asset""".stripMargin

  def q02Ratios(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.aggregate(sf, Seq(
      "sharpe" -> (r => Exprs.sharpe(r, 0.0, 252, annualize = true)),
      "sortino" -> (r => Exprs.sortino(r, 0.0, 252, annualize = true)),
      "volatility" -> (r => Exprs.volatility(r, 252, annualize = true)))),
      Seq("sharpe", "sortino", "volatility"))
  }

  val q02Sql: String =
    s"""$RetCte
       |SELECT asset,
       |  ROUND(AVG(r) / STDDEV_SAMP(r) * $S252, 6) AS sharpe,
       |  ROUND(AVG(r) / SQRT(AVG(POWER(CASE WHEN r < 0 THEN r ELSE 0 END, 2))) * $S252, 6) AS sortino,
       |  ROUND(STDDEV_SAMP(r) * $S252, 6) AS volatility
       |FROM ret GROUP BY asset ORDER BY asset""".stripMargin

  def q03TradeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.aggregate(sf, Seq(
      "win_rate" -> Exprs.winRate,
      "avg_return" -> Exprs.avgReturn,
      "avg_win" -> Exprs.avgWin,
      "avg_loss" -> Exprs.avgLoss,
      "payoff_ratio" -> Exprs.payoffRatio,
      "profit_factor" -> Exprs.profitFactor,
      "gain_to_pain" -> (r => Exprs.gainToPain(r, 0.0)))),
      Seq("win_rate", "avg_return", "avg_win", "avg_loss", "payoff_ratio",
        "profit_factor", "gain_to_pain"))
  }

  val q03Sql: String =
    s"""$RetCte
       |SELECT asset,
       |  ROUND(CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END), 6) AS win_rate,
       |  ROUND(AVG(CASE WHEN r <> 0 THEN r END), 6) AS avg_return,
       |  ROUND(AVG(CASE WHEN r > 0 THEN r END), 6) AS avg_win,
       |  ROUND(AVG(CASE WHEN r < 0 THEN r END), 6) AS avg_loss,
       |  ROUND(AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END)), 6) AS payoff_ratio,
       |  ROUND(SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)), 6) AS profit_factor,
       |  ROUND(SUM(r) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)), 6) AS gain_to_pain
       |FROM ret GROUP BY asset ORDER BY asset""".stripMargin

  def q04VarCvar(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.varCvar(sf), Seq("value_at_risk", "cvar"))
  }

  val q04Sql: String =
    s"""$RetCte,
       |v AS (
       |  SELECT asset, r,
       |         AVG(r) OVER (PARTITION BY asset)
       |           + ($Z05) * STDDEV_SAMP(r) OVER (PARTITION BY asset) AS var
       |  FROM ret)
       |SELECT asset,
       |  ROUND(ANY_VALUE(var), 6) AS value_at_risk,
       |  ROUND(COALESCE(AVG(CASE WHEN r < var THEN r END), ANY_VALUE(var)), 6) AS cvar
       |FROM v GROUP BY asset ORDER BY asset""".stripMargin

  def q05Distribution(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.aggregate(sf, Seq(
      "skew" -> Exprs.skew,
      "kurtosis" -> Exprs.kurtosis,
      "tail_ratio" -> (r => Exprs.tailRatio(r, 0.95)),
      "outlier_win_ratio" -> (r => Exprs.outlierWinRatio(r, 0.99)),
      "outlier_loss_ratio" -> (r => Exprs.outlierLossRatio(r, 0.01)),
      "common_sense_ratio" -> Exprs.commonSenseRatio)),
      Seq("skew", "kurtosis", "tail_ratio", "outlier_win_ratio",
        "outlier_loss_ratio", "common_sense_ratio"))
  }

  val q05Sql: String =
    s"""$RetCte,
       |mom AS (
       |  SELECT asset, CAST(COUNT(r) AS DOUBLE) AS n, AVG(r) AS m,
       |         AVG(r * r) AS p2, AVG(r * r * r) AS p3, AVG(r * r * r * r) AS p4,
       |         quantile_cont(r, 0.95) AS q95, quantile_cont(r, 0.05) AS q05,
       |         quantile_cont(r, 0.99) AS q99, quantile_cont(r, 0.01) AS q01,
       |         AVG(CASE WHEN r >= 0 THEN r END) AS pos_mean,
       |         AVG(CASE WHEN r < 0 THEN r END) AS neg_mean,
       |         SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) AS gains,
       |         ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) AS losses
       |  FROM ret GROUP BY asset)
       |SELECT asset,
       |  ROUND(SQRT(n * (n - 1)) / (n - 2) * ((p3 - 3 * m * p2 + 2 * m * m * m) / POWER(p2 - m * m, 1.5)), 6) AS skew,
       |  ROUND((n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * ((p4 - 4 * m * p3 + 6 * m * m * p2 - 3 * m * m * m * m) / ((p2 - m * m) * (p2 - m * m)) - 3) + 6), 6) AS kurtosis,
       |  ROUND(ABS(q95) / ABS(q05), 6) AS tail_ratio,
       |  ROUND(q99 / pos_mean, 6) AS outlier_win_ratio,
       |  ROUND(q01 / neg_mean, 6) AS outlier_loss_ratio,
       |  ROUND(gains / losses * (ABS(q95) / ABS(q05)), 6) AS common_sense_ratio
       |FROM mom ORDER BY asset""".stripMargin

  def q06Kelly(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    finish(GroupedStats.aggregate(sf, Seq(
      "kelly_criterion" -> Exprs.kellyCriterion,
      "risk_of_ruin" -> Exprs.riskOfRuin,
      "cpc_index" -> Exprs.cpcIndex,
      "exposure" -> Exprs.exposure,
      "omega" -> (r => Exprs.omega(r, 0.0)))),
      Seq("kelly_criterion", "risk_of_ruin", "cpc_index", "exposure", "omega"))
  }

  val q06Sql: String =
    s"""$RetCte,
       |t AS (
       |  SELECT asset,
       |         AVG(CASE WHEN r > 0 THEN r END) AS aw,
       |         ABS(AVG(CASE WHEN r < 0 THEN r END)) AS al,
       |         CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS wins,
       |         CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS losses,
       |         CAST(SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nonzero,
       |         CAST(COUNT(r) AS DOUBLE) AS n,
       |         SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) AS gains,
       |         ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) AS lsum,
       |         SUM(GREATEST(r, 0)) AS og, SUM(GREATEST(-r, 0)) AS ol
       |  FROM ret GROUP BY asset)
       |SELECT asset,
       |  ROUND(((aw / al) * (wins / nonzero) - (1 - wins / nonzero)) / (aw / al), 6) AS kelly_criterion,
       |  ROUND(POWER((1 - wins / nonzero) / (1 + wins / nonzero), n), 6) AS risk_of_ruin,
       |  ROUND((gains / lsum) * ((gains / wins) / (lsum / losses)) * (wins / nonzero), 6) AS cpc_index,
       |  ROUND(nonzero / n, 6) AS exposure,
       |  ROUND(og / ol, 6) AS omega
       |FROM t ORDER BY asset""".stripMargin

  def q07Drawdown(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val out = GroupedStats.drawdownStats(sf,
      extra = Seq("cagr" -> (r => Exprs.cagr(r, 0.0, compound = true, 252))))
      .withColumn("calmar", fdiv(col("cagr"), abs(col("max_drawdown"))))
    finish(out, Seq("cagr", "calmar", "max_drawdown", "ulcer_index", "recovery_factor"))
  }

  private val DdCte =
    s"""wl AS (
       |  SELECT asset, d, r,
       |         PRODUCT(1 + r) OVER (PARTITION BY asset ORDER BY d
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wealth
       |  FROM ret),
       |dd AS (
       |  SELECT asset, d, r,
       |         LEAST(wealth / MAX(wealth) OVER (PARTITION BY asset ORDER BY d
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 0) AS ddv
       |  FROM wl)""".stripMargin

  val q07Sql: String =
    s"""$RetCte,
       |$DdCte
       |SELECT asset,
       |  ROUND(POWER(PRODUCT(1 + r), 252.0 / COUNT(r)) - 1, 6) AS cagr,
       |  ROUND((POWER(PRODUCT(1 + r), 252.0 / COUNT(r)) - 1) / ABS(MIN(ddv)), 6) AS calmar,
       |  ROUND(MIN(ddv), 6) AS max_drawdown,
       |  ROUND(SQRT(SUM(ddv * ddv) / (COUNT(r) - 1)), 6) AS ulcer_index,
       |  ROUND(ABS(SUM(r)) / ABS(MIN(ddv)), 6) AS recovery_factor
       |FROM dd GROUP BY asset ORDER BY asset""".stripMargin

  def q08Episodes(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val out = GroupedStats.drawdownEpisodes(sf)
    out.select(col("asset"), col("longest_dd_days"),
      r6(col("avg_dd_days")).as("avg_dd_days"),
      r6(col("avg_drawdown")).as("avg_drawdown")).orderBy("asset")
  }

  val q08Sql: String =
    s"""$RetCte,
       |$DdCte,
       |fl AS (
       |  SELECT asset, d, ddv, (ddv < 0) AS ind,
       |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d)
       |           - ROW_NUMBER() OVER (PARTITION BY asset, (ddv < 0) ORDER BY d) AS island
       |  FROM dd),
       |ep AS (
       |  SELECT asset, island,
       |         CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT) AS len,
       |         MIN(ddv) AS depth
       |  FROM fl WHERE ind GROUP BY asset, island)
       |SELECT asset,
       |  CAST(COALESCE(MAX(len), 0) AS BIGINT) AS longest_dd_days,
       |  ROUND(COALESCE(AVG(len), 0), 6) AS avg_dd_days,
       |  ROUND(COALESCE(AVG(depth), 0), 6) AS avg_drawdown
       |FROM ep GROUP BY asset ORDER BY asset""".stripMargin

  def q09Streaks(spark: SparkSession, sfDir: String): DataFrame =
    GroupedStats.streaks(assetReturns(spark, sfDir)).orderBy("asset")

  val q09Sql: String =
    s"""$RetCte,
       |s AS (
       |  SELECT asset, d,
       |         CASE WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END AS sgn
       |  FROM ret),
       |i AS (
       |  SELECT asset, sgn,
       |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d)
       |           - ROW_NUMBER() OVER (PARTITION BY asset, sgn ORDER BY d) AS island
       |  FROM s),
       |runs AS (SELECT asset, sgn, island, COUNT(*) AS len FROM i GROUP BY 1, 2, 3)
       |SELECT asset,
       |  CAST(COALESCE(MAX(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT) AS consecutive_wins,
       |  CAST(COALESCE(MAX(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT) AS consecutive_losses
       |FROM runs GROUP BY asset ORDER BY asset""".stripMargin

  def q10Monthly(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val monthly = GroupedStats.calendarReturns(sf,
      Seq(t => year(t), t => month(t)), compounded = true)
    finish(GroupedStats.aggregate(monthly, Seq(
      "best_month" -> (r => max(r)),
      "worst_month" -> (r => min(r)),
      "win_month" -> Exprs.winRate,
      "expected_monthly" -> Exprs.expectedReturn)),
      Seq("best_month", "worst_month", "win_month", "expected_monthly"))
  }

  val q10Sql: String =
    s"""$RetCte,
       |mret AS (
       |  SELECT asset, YEAR(d) AS y, MONTH(d) AS mo, PRODUCT(1 + r) - 1 AS mr
       |  FROM ret GROUP BY asset, YEAR(d), MONTH(d))
       |SELECT asset,
       |  ROUND(MAX(mr), 6) AS best_month,
       |  ROUND(MIN(mr), 6) AS worst_month,
       |  ROUND(CAST(SUM(CASE WHEN mr > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / SUM(CASE WHEN mr <> 0 THEN 1 ELSE 0 END), 6) AS win_month,
       |  ROUND(POWER(PRODUCT(1 + mr), 1.0 / COUNT(mr)) - 1, 6) AS expected_monthly
       |FROM mret GROUP BY asset ORDER BY asset""".stripMargin

  def q11Trailing(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val maxD = sf.df.agg(max(col("d"))).head().getDate(0).toLocalDate
    val t = col("d")
    def condProd(cond: Column): Column =
      product(when(cond, sf.r + lit(1.0)).otherwise(lit(1.0)))
    def condCagr(cond: Column): Column =
      pow(condProd(cond), lit(252.0) / sum(when(cond, 1).otherwise(0))) - lit(1.0)
    val out = sf.df.groupBy(col("asset")).agg(
      (condProd(year(t) === maxD.getYear) - 1).as("ytd"),
      (condProd(year(t) === maxD.getYear && month(t) === maxD.getMonthValue) - 1).as("mtd"),
      (condProd(t >= lit(Date.valueOf(maxD.minusYears(1)))) - 1).as("one_year"),
      condCagr(t >= lit(Date.valueOf(maxD.minusYears(3)))).as("three_year"),
      (pow(product(sf.r + lit(1.0)), lit(252.0) / count(sf.r)) - lit(1.0)).as("all_time"))
    finish(out, Seq("ytd", "mtd", "one_year", "three_year", "all_time"))
  }

  val q11Sql: String =
    s"""$RetCte,
       |mx AS (SELECT MAX(d) AS md FROM ret)
       |SELECT asset,
       |  ROUND(PRODUCT(CASE WHEN YEAR(d) = YEAR(md) THEN 1 + r ELSE 1 END) - 1, 6) AS ytd,
       |  ROUND(PRODUCT(CASE WHEN YEAR(d) = YEAR(md) AND MONTH(d) = MONTH(md) THEN 1 + r ELSE 1 END) - 1, 6) AS mtd,
       |  ROUND(PRODUCT(CASE WHEN d >= md - INTERVAL 1 YEAR THEN 1 + r ELSE 1 END) - 1, 6) AS one_year,
       |  ROUND(POWER(PRODUCT(CASE WHEN d >= md - INTERVAL 3 YEAR THEN 1 + r ELSE 1 END),
       |        252.0 / SUM(CASE WHEN d >= md - INTERVAL 3 YEAR THEN 1 ELSE 0 END)) - 1, 6) AS three_year,
       |  ROUND(POWER(PRODUCT(1 + r), 252.0 / COUNT(r)) - 1, 6) AS all_time
       |FROM ret, mx GROUP BY asset ORDER BY asset""".stripMargin

  def q12Benchmark(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val out = GroupedStats.benchmarked(sf, marketReturns(spark, sfDir), "d", "b", 252)
    finish(out, Seq("alpha", "beta", "correlation", "r_squared",
      "treynor_ratio", "information_ratio"))
  }

  val q12Sql: String =
    s"""$RetCte,
       |$BenchCte,
       |j AS (SELECT ret.asset, ret.r, bret.b FROM ret JOIN bret USING (d))
       |SELECT asset,
       |  ROUND((AVG(r) - (COVAR_SAMP(r, b) / VAR_SAMP(b)) * AVG(b)) * 252, 6) AS alpha,
       |  ROUND(COVAR_SAMP(r, b) / VAR_SAMP(b), 6) AS beta,
       |  ROUND(CORR(r, b), 6) AS correlation,
       |  ROUND(CORR(r, b) * CORR(r, b), 6) AS r_squared,
       |  ROUND((PRODUCT(1 + r) - 1) / (COVAR_SAMP(r, b) / VAR_SAMP(b)), 6) AS treynor_ratio,
       |  ROUND(AVG(r - b) / STDDEV_SAMP(r - b), 6) AS information_ratio
       |FROM j GROUP BY asset ORDER BY asset""".stripMargin

  /** Backward as-of alignment of each asset's daily returns to the Monday
    * market returns. The weekly rows are copied once per asset so the join
    * runs with `partitionKeys = asset`: each series aligns in its own window
    * partition instead of one global window over the whole panel (q228's
    * pattern).
    */
  def q13AsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val weekly = marketReturns(spark, sfDir).filter(dayofweek(col("d")) === 2)
      .crossJoin(broadcast(sf.df.select(col("asset")).distinct()))
    val j = AsOfJoin.backward(sf.df, weekly, "d", "d", Seq("b"), partitionKeys = Seq("asset"))
    j.groupBy(col("asset")).agg(
      r6(corr(col("r"), col("b"))).as("asof_corr"),
      r6(avg(col("r") - col("b"))).as("avg_spread"),
      sum(when(col("b").isNull, 1L).otherwise(0L)).as("unmatched"))
      .orderBy("asset")
  }

  val q13Sql: String =
    s"""$RetCte,
       |$BenchCte,
       |bw AS (SELECT d, b FROM bret WHERE isodow(d) = 1),
       |ja AS (SELECT ret.asset, ret.d, ret.r, bw.b
       |       FROM ret ASOF LEFT JOIN bw ON ret.d >= bw.d)
       |SELECT asset,
       |  ROUND(CORR(r, b), 6) AS asof_corr,
       |  ROUND(AVG(r - b), 6) AS avg_spread,
       |  CAST(SUM(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched
       |FROM ja GROUP BY asset ORDER BY asset""".stripMargin

  /** The wide (reference-shaped) column exprs through the driver gate: pivot
    * the long returns into one column per asset and compute sharpe+volatility
    * for every asset in ONE distributed aggregation — same numbers the
    * `Stats.sharpe`/`Stats.volatility` entry points produce, but a single
    * job, no driver round-trips, no unpartitioned windows.
    */
  def q25WideRatios(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val wide = sf.df.groupBy(col("d")).pivot("asset", Seq("A", "N", "R"))
      .agg(first(col("r")))
    wide.agg(
      round(Exprs.sharpe(col("A"), 0.0, 252, annualize = true), 6).as("sharpe_a"),
      round(Exprs.sharpe(col("N"), 0.0, 252, annualize = true), 6).as("sharpe_n"),
      round(Exprs.volatility(col("A"), 252, annualize = true), 6).as("vol_a"),
      round(Exprs.volatility(col("N"), 252, annualize = true), 6).as("vol_n"))
  }

  val q25Sql: String =
    s"""$RetCte,
       |s AS (SELECT asset, AVG(r) / STDDEV_SAMP(r) * $S252 AS sh,
       |             STDDEV_SAMP(r) * $S252 AS vol
       |      FROM ret GROUP BY asset)
       |SELECT ROUND(MAX(CASE WHEN asset = 'A' THEN sh END), 6) AS sharpe_a,
       |       ROUND(MAX(CASE WHEN asset = 'N' THEN sh END), 6) AS sharpe_n,
       |       ROUND(MAX(CASE WHEN asset = 'A' THEN vol END), 6) AS vol_a,
       |       ROUND(MAX(CASE WHEN asset = 'N' THEN vol END), 6) AS vol_n
       |FROM s""".stripMargin

  /** Star-schema path: monthly revenue returns per customer market segment
    * (lineitem ⋈ orders ⋈ broadcast customer), then per-segment metrics at
    * monthly frequency. Exercises multi-table joins feeding the metric
    * algebra; the big fact side shuffles once on the join key, dimensions
    * broadcast.
    */
  def q27SegmentReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = lineitem(spark, sfDir)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    val rev = li.join(o.hint("shuffle_hash"), li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"),
        col("c_mktsegment").as("segment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"))
    val w = Window.partitionBy(col("segment")).orderBy(col("y"), col("mo"))
    val ret = rev.select(col("segment"),
      (col("rev") / lag("rev", 1).over(w) - lit(1.0)).as("r"))
      .filter(col("r").isNotNull)
    ret.groupBy("segment").agg(
      round(Exprs.comp(col("r")), 6).as("comp"),
      round(Exprs.sharpe(col("r"), 0.0, 12, annualize = true), 6).as("sharpe_m"),
      round(max(col("r")), 6).as("best_month"),
      round(min(col("r")), 6).as("worst_month"))
      .orderBy("segment")
  }

  private val S12: String = math.sqrt(12.0).toString

  val q27Sql: String =
    s"""WITH rev AS (
       |  SELECT YEAR(o.o_orderdate) AS y, MONTH(o.o_orderdate) AS mo,
       |         c.c_mktsegment AS segment,
       |         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2, 3),
       |ret AS (
       |  SELECT segment, r FROM (
       |    SELECT segment,
       |           rev / LAG(rev) OVER (PARTITION BY segment ORDER BY y, mo) - 1 AS r
       |    FROM rev) WHERE r IS NOT NULL)
       |SELECT segment,
       |  ROUND(PRODUCT(1 + r) - 1, 6) AS comp,
       |  ROUND(AVG(r) / STDDEV_SAMP(r) * $S12, 6) AS sharpe_m,
       |  ROUND(MAX(r), 6) AS best_month,
       |  ROUND(MIN(r), 6) AS worst_month
       |FROM ret GROUP BY segment ORDER BY segment""".stripMargin

  /** 63-row rolling sharpe per asset (full windows only), summarized per
    * asset — key-partitioned sliding frames, no cross-key traffic.
    */
  def q28RollingSharpe(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val rolled = GroupedStats.rolling(sf, 63,
      Seq("rs" -> GroupedStats.Rolling.sharpe(252)))
    val wRn = Window.partitionBy(col("asset")).orderBy(col("d"))
    rolled.withColumn("__rn", row_number().over(wRn))
      .filter(col("__rn") >= 63)
      .groupBy("asset")
      .agg(round(avg(col("rs")), 6).as("avg_rolling_sharpe"),
        round(max(col("rs")), 6).as("max_rolling_sharpe"),
        round(min(col("rs")), 6).as("min_rolling_sharpe"))
      .orderBy("asset")
  }

  val q28Sql: String =
    s"""$RetCte,
       |roll AS (
       |  SELECT asset,
       |         AVG(r) OVER w / STDDEV_SAMP(r) OVER w * $S252 AS rs,
       |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d) AS rn
       |  FROM ret
       |  WINDOW w AS (PARTITION BY asset ORDER BY d
       |               ROWS BETWEEN 62 PRECEDING AND CURRENT ROW))
       |SELECT asset,
       |  ROUND(AVG(rs), 6) AS avg_rolling_sharpe,
       |  ROUND(MAX(rs), 6) AS max_rolling_sharpe,
       |  ROUND(MIN(rs), 6) AS min_rolling_sharpe
       |FROM roll WHERE rn >= 63 GROUP BY asset ORDER BY asset""".stripMargin

  /** Top-5 deepest drawdown episodes per asset, as an inspectable table —
    * the episode segmentation made user-facing (start/end/days/depth).
    */
  def q29DrawdownDetails(spark: SparkSession, sfDir: String): DataFrame = {
    val details = GroupedStats.drawdownDetails(assetReturns(spark, sfDir))
    val w = Window.partitionBy(col("asset"))
      .orderBy(col("depth").asc, col("start").asc)
    details.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= 5)
      .select(col("asset"),
        col("start").cast("string").as("start"),
        col("end").cast("string").as("end"),
        col("days"), r6(col("depth")).as("depth"), col("n_periods"))
      .orderBy(col("asset"), col("depth").asc, col("start").asc)
  }

  val q29Sql: String =
    s"""$RetCte,
       |$DdCte,
       |fl AS (
       |  SELECT asset, d, ddv, (ddv < 0) AS ind,
       |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d)
       |           - ROW_NUMBER() OVER (PARTITION BY asset, (ddv < 0) ORDER BY d) AS island
       |  FROM dd),
       |ep AS (
       |  SELECT asset, MIN(d) AS start, MAX(d) AS "end",
       |         CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT) AS days,
       |         MIN(ddv) AS depth, COUNT(*) AS n_periods
       |  FROM fl WHERE ind GROUP BY asset, island),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY asset ORDER BY depth ASC, start ASC) AS rkn
       |  FROM ep)
       |SELECT asset, CAST(start AS VARCHAR) AS start, CAST("end" AS VARCHAR) AS "end",
       |       days, ROUND(depth, 6) AS depth, n_periods
       |FROM rk WHERE rkn <= 5 ORDER BY asset, depth ASC, start ASC""".stripMargin

  /** Smart family through the driver gate: per-asset autocorr penalty +
    * smart sharpe, fully distributed via `GroupedStats.smartSharpe` (the
    * penalty is a field of the per-key `SeriesAgg` walk, its closed-form
    * decay sum `SeriesAgg.penalty`). The oracle evaluates the identical
    * closed form in DuckDB.
    */
  def q30SmartSharpe(spark: SparkSession, sfDir: String): DataFrame =
    finish(GroupedStats.smartSharpe(assetReturns(spark, sfDir)),
      Seq("sharpe", "autocorr_penalty", "smart_sharpe"))

  // NOTE: plain LAG(r) (consecutive rows) matches the engine's
  // previous-NON-NULL lag ONLY because RetCte/assetReturns filter null
  // returns; reusing this oracle pattern on a frame with interior nulls
  // would diverge from both the engine and the reference semantics.
  val q30Sql: String =
    s"""$RetCte,
       |lagd AS (
       |  SELECT asset, r, LAG(r) OVER (PARTITION BY asset ORDER BY d) AS p FROM ret),
       |s AS (
       |  SELECT asset, COUNT(r) AS n, CORR(p, r) AS rho,
       |         AVG(r) / STDDEV_SAMP(r) * $S252 AS sh
       |  FROM lagd GROUP BY asset),
       |pen AS (
       |  SELECT asset, sh,
       |    SQRT(1.0 + 2.0 * (CASE
       |      WHEN ABS(rho) = 0 THEN 0.0
       |      WHEN ABS(1.0 - ABS(rho)) < 1e-12
       |        THEN (n - 1.0) - (n - 1.0) * ((n - 1.0) + 1.0) / (2.0 * n)
       |      ELSE ABS(rho) * (1.0 - POW(ABS(rho), n - 1.0)) / (1.0 - ABS(rho))
       |           - (ABS(rho) * (1.0 - ((n - 1.0) + 1.0) * POW(ABS(rho), n - 1.0)
       |                          + (n - 1.0) * POW(ABS(rho), n - 1.0) * ABS(rho))
       |              / ((1.0 - ABS(rho)) * (1.0 - ABS(rho)))) / n
       |      END)) AS penalty
       |  FROM s)
       |SELECT asset, ROUND(sh, 6) AS sharpe,
       |       ROUND(penalty, 6) AS autocorr_penalty,
       |       ROUND(sh / penalty, 6) AS smart_sharpe
       |FROM pen ORDER BY asset""".stripMargin

  /** Winsorized robust moments per asset: clip returns at the exact
    * linear-interp 1%/99% quantiles (same `percentile` semantics q05 uses),
    * then panel raw vs winsorized mean/vol next to the applied bounds — the
    * standard outlier-robust risk view. One keyed quantile aggregation, a
    * broadcast join of the per-asset bounds (3 rows), and one keyed moment
    * aggregation — no window, no driver round-trip, two shuffles total on
    * the asset key.
    */
  def q58Winsorized(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val bounds = sf.df.groupBy("asset").agg(
      percentile(col("r"), lit(0.01)).as("lo"),
      percentile(col("r"), lit(0.99)).as("hi"))
    sf.df.join(broadcast(bounds), "asset")
      .withColumn("w", least(greatest(col("r"), col("lo")), col("hi")))
      .groupBy("asset").agg(
        round(avg(col("r")), 6).as("mean_raw"),
        round(avg(col("w")), 6).as("mean_wins"),
        round(stddev_samp(col("r")), 6).as("vol_raw"),
        round(stddev_samp(col("w")), 6).as("vol_wins"),
        round(min(col("lo")), 6).as("lo"),
        round(max(col("hi")), 6).as("hi"))
      .orderBy("asset")
  }

  val q58Sql: String =
    s"""$RetCte,
       |b AS (
       |  SELECT asset, quantile_cont(r, 0.01) AS lo, quantile_cont(r, 0.99) AS hi
       |  FROM ret GROUP BY asset),
       |c AS (
       |  SELECT ret.asset, r, LEAST(GREATEST(r, lo), hi) AS w, lo, hi
       |  FROM ret JOIN b USING (asset))
       |SELECT asset,
       |  ROUND(AVG(r), 6) AS mean_raw, ROUND(AVG(w), 6) AS mean_wins,
       |  ROUND(STDDEV_SAMP(r), 6) AS vol_raw, ROUND(STDDEV_SAMP(w), 6) AS vol_wins,
       |  ROUND(MIN(lo), 6) AS lo, ROUND(MAX(hi), 6) AS hi
       |FROM c GROUP BY asset ORDER BY asset""".stripMargin

  /** Fixed-memory binned quantiles next to the exact ones, per asset:
    * Spark's exact `percentile` buffers every value per group — fine at
    * fixture scale, a non-starter at 100 TB. The scalable alternative bins
    * values at width 5e-4 (one keyed count aggregation, state = occupied
    * bins only) and takes the quantile as the lower edge of the bin where
    * the cumulative count crosses q·n. Accuracy contract (asserted in
    * QuerySpec): the reported edge is RANK-exact — the crossing order
    * statistic lies inside [edge, edge+width) — while the distance to the
    * INTERPOLATED quantile additionally depends on local sample spacing
    * (visible at p95 in this fat-tailed fixture, where tail samples sit
    * ~0.02 apart). The bin window partitions by asset — never global.
    */
  def q64BinnedQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 0.0005
    val sf = assetReturns(spark, sfDir)
    val bins = sf.df
      .groupBy(col("asset"), floor(col("r") / lit(w)).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("asset").orderBy("bin")
    val cum = bins.withColumn("cum", sum(col("c")).over(wb))
    val exact = sf.df.groupBy("asset").agg(
      count(lit(1)).as("n"),
      percentile(col("r"), lit(0.5)).as("p50_exact"),
      percentile(col("r"), lit(0.95)).as("p95_exact"))
    cum.join(exact, "asset")
      .groupBy("asset").agg(
        min(col("n")).as("n"),
        round(min(col("p50_exact")), 6).as("p50_exact"),
        round(min(when(col("cum") >= col("n") * lit(0.5), col("bin"))) * lit(w), 6)
          .as("p50_binned"),
        round(min(col("p95_exact")), 6).as("p95_exact"),
        round(min(when(col("cum") >= col("n") * lit(0.95), col("bin"))) * lit(w), 6)
          .as("p95_binned"))
      .orderBy("asset")
  }

  val q64Sql: String =
    s"""$RetCte,
       |bins AS (
       |  SELECT asset, CAST(FLOOR(r / 0.0005) AS BIGINT) AS bin, COUNT(*) AS c
       |  FROM ret GROUP BY 1, 2),
       |cum AS (
       |  SELECT asset, bin, SUM(c) OVER (PARTITION BY asset ORDER BY bin) AS cum
       |  FROM bins),
       |ex AS (
       |  SELECT asset, COUNT(*) AS n,
       |         quantile_cont(r, 0.5) AS p50_exact, quantile_cont(r, 0.95) AS p95_exact
       |  FROM ret GROUP BY asset)
       |SELECT c.asset, MIN(e.n) AS n,
       |  ROUND(MIN(e.p50_exact), 6) AS p50_exact,
       |  ROUND(MIN(CASE WHEN c.cum >= e.n * 0.5 THEN c.bin END) * 0.0005, 6) AS p50_binned,
       |  ROUND(MIN(e.p95_exact), 6) AS p95_exact,
       |  ROUND(MIN(CASE WHEN c.cum >= e.n * 0.95 THEN c.bin END) * 0.0005, 6) AS p95_binned
       |FROM cum c JOIN ex e USING (asset)
       |GROUP BY c.asset ORDER BY c.asset""".stripMargin

  /** Robust outlier panel per asset: median absolute deviation (exact
    * percentile both passes), the 0.6745-scaled modified z-score, and the
    * count/share of |z| > 3.5 outliers (Iglewicz-Hoban cutoff). Two keyed
    * aggregations with a broadcast join of the per-asset (median, mad)
    * bounds between them — same scale shape as q58's winsorization.
    */
  def q66MadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val med = sf.df.groupBy("asset")
      .agg(percentile(col("r"), lit(0.5)).as("med"))
    val withMed = sf.df.join(broadcast(med), "asset")
    val mad = withMed.groupBy("asset")
      .agg(percentile(abs(col("r") - col("med")), lit(0.5)).as("mad"),
        min(col("med")).as("med"))
    sf.df.join(broadcast(mad), "asset")
      .withColumn("z", lit(0.6745) * (col("r") - col("med")) / col("mad"))
      .groupBy("asset").agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("median"),
        round(min(col("mad")), 6).as("mad"),
        sum((abs(col("z")) > 3.5).cast("long")).as("n_outliers"),
        round(sum((abs(col("z")) > 3.5).cast("int")).cast("double")
          / count(lit(1)), 6).as("outlier_share"))
      .orderBy("asset")
  }

  val q66Sql: String =
    s"""$RetCte,
       |med AS (SELECT asset, quantile_cont(r, 0.5) AS med FROM ret GROUP BY asset),
       |mad AS (
       |  SELECT ret.asset, quantile_cont(ABS(r - med), 0.5) AS mad, MIN(med) AS med
       |  FROM ret JOIN med USING (asset) GROUP BY ret.asset),
       |z AS (
       |  SELECT ret.asset, r, 0.6745 * (r - med) / mad AS z
       |  FROM ret JOIN mad USING (asset))
       |SELECT asset, COUNT(*) AS n,
       |  ROUND(MIN(med), 6) AS median, ROUND(MIN(mad), 6) AS mad,
       |  CAST(SUM(CASE WHEN ABS(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ROUND(SUM(CASE WHEN ABS(z) > 3.5 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS outlier_share
       |FROM z JOIN mad USING (asset)
       |GROUP BY asset ORDER BY asset""".stripMargin

  /** Pairwise return-correlation matrix (upper triangle) across assets: the
    * cross-sectional risk view. One self-join co-partitioned on the date key
    * aligns the series, then CORR per (asset_i < asset_j) pair — at N assets
    * this is the standard shuffle-on-date + pair-keyed aggregation shape
    * (never a driver-side pivot).
    */
  def q67CorrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val a = sf.df.select(col("asset").as("a1"), col("d"), col("r").as("r1"))
    val b = sf.df.select(col("asset").as("a2"), col("d"), col("r").as("r2"))
    a.join(b, Seq("d")).filter(col("a1") < col("a2"))
      .groupBy("a1", "a2").agg(
        count(lit(1)).as("n"),
        round(corr(col("r1"), col("r2")), 6).as("corr"))
      .orderBy("a1", "a2")
  }

  val q67Sql: String =
    s"""$RetCte
       |SELECT a.asset AS a1, b.asset AS a2, COUNT(*) AS n,
       |       ROUND(CORR(a.r, b.r), 6) AS corr
       |FROM ret a JOIN ret b ON a.d = b.d AND a.asset < b.asset
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Data-quality audit over the star schema — the validation pass a
    * pipeline runs before anything downstream trusts a 100-TB drop:
    * referential integrity (orphaned lineitems/orders via anti-joins on the
    * key), duplicate primary keys, null keys, and domain checks (negative
    * quantity/price, discount outside [0,1]). One row per check with its
    * violation count; every check is a keyed aggregation or anti-join —
    * nothing collects to the driver.
    */
  def q68QualityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val l = lineitem(spark, sfDir)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    def chk(id: Int, name: String, cnt: DataFrame): DataFrame =
      cnt.select(lit(id.toLong).as("check_id"), lit(name).as("check_name"),
        coalesce(col("v"), lit(0L)).as("n_violations"))
    // the four scalar lineitem checks share ONE aggregation pass (a separate
    // job per check would rescan lineitem four times), exploded to rows
    val scalarChecks = l.agg(
      sum(col("l_orderkey").isNull.cast("long")).as("c5"),
      sum((col("l_quantity") < 0).cast("long")).as("c6"),
      sum((col("l_extendedprice") < 0).cast("long")).as("c7"),
      sum((col("l_discount") < 0 || col("l_discount") > 1).cast("long")).as("c8"))
      .select(explode(array(
        struct(lit(5L).as("check_id"), lit("lineitem_null_orderkey").as("check_name"),
          coalesce(col("c5"), lit(0L)).as("n_violations")),
        struct(lit(6L).as("check_id"), lit("lineitem_negative_quantity").as("check_name"),
          coalesce(col("c6"), lit(0L)).as("n_violations")),
        struct(lit(7L).as("check_id"), lit("lineitem_negative_price").as("check_name"),
          coalesce(col("c7"), lit(0L)).as("n_violations")),
        struct(lit(8L).as("check_id"), lit("lineitem_discount_range").as("check_name"),
          coalesce(col("c8"), lit(0L)).as("n_violations")))).as("e"))
      .select("e.check_id", "e.check_name", "e.n_violations")
    val checks = Seq(
      // orphan ROWS counted through per-key counts: the groupBy(l_orderkey)
      // map-side combine collapses ~4 lines/order BEFORE the shuffle, and the
      // anti-join then runs keys-vs-keys (15M vs 15M at sf10) instead of
      // sorting all 60M fact rows through a sort-merge anti
      chk(1, "lineitem_orphan_orderkey",
        l.groupBy(col("l_orderkey")).agg(count(lit(1)).as("rows_per_key"))
          .join(o.select(col("o_orderkey")).hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(sum(col("rows_per_key")).as("v"))),
      chk(2, "orders_orphan_custkey",
        o.join(broadcast(c.select(col("c_custkey"))),
            o("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("v"))),
      chk(3, "orders_dup_orderkey",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).agg(count(lit(1)).as("v"))),
      chk(4, "lineitem_dup_line",
        l.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).agg(count(lit(1)).as("v"))))
    (checks.reduce(_ unionByName _) unionByName scalarChecks).orderBy("check_id")
  }

  val q68Sql: String =
    """WITH checks AS (
      |  SELECT 1 AS check_id, 'lineitem_orphan_orderkey' AS check_name,
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
      |  UNION ALL SELECT 2, 'orders_orphan_custkey',
      |    (SELECT COUNT(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL SELECT 3, 'orders_dup_orderkey',
      |    (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
      |  UNION ALL SELECT 4, 'lineitem_dup_line',
      |    (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1))
      |  UNION ALL SELECT 5, 'lineitem_null_orderkey',
      |    (SELECT COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) FROM lineitem)
      |  UNION ALL SELECT 6, 'lineitem_negative_quantity',
      |    (SELECT COALESCE(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END), 0) FROM lineitem)
      |  UNION ALL SELECT 7, 'lineitem_negative_price',
      |    (SELECT COALESCE(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END), 0) FROM lineitem)
      |  UNION ALL SELECT 8, 'lineitem_discount_range',
      |    (SELECT COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) FROM lineitem))
      |SELECT CAST(check_id AS BIGINT) AS check_id, check_name,
      |       CAST(n_violations AS BIGINT) AS n_violations
      |FROM checks ORDER BY check_id""".stripMargin

  /** Incremental-aggregation identity in the gate: per-(asset, month)
    * PARTIAL moments (n, Σr, Σr²) — what a daily/monthly ingest would
    * materialize — are merged by plain addition into per-asset totals, and
    * mean/variance come off the merged partials. The oracle computes the
    * same quantities DIRECTLY over all rows, so the hash match proves the
    * partial-merge identity (the q62 sketch-cube argument, applied to exact
    * moments): appending a new month never requires rescanning history.
    */
  def q69IncrementalMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val partials = sf.df
      .groupBy(col("asset"), date_trunc("month", col("d")).as("m"))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("s"),
        sum(col("r") * col("r")).as("s2"))
    partials.groupBy("asset")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("s2")).as("s2"),
        count(lit(1)).as("n_partials"))
      .select(col("asset"), col("n"), col("n_partials"),
        round(col("s") / col("n"), 6).as("mean"),
        round((col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1), 6)
          .as("variance"))
      .orderBy("asset")
  }

  val q69Sql: String =
    s"""$RetCte
       |SELECT asset, COUNT(*) AS n,
       |  COUNT(DISTINCT date_trunc('month', d)) AS n_partials,
       |  ROUND(SUM(r) / COUNT(*), 6) AS mean,
       |  ROUND((SUM(r * r) - SUM(r) * SUM(r) / COUNT(*)) / (COUNT(*) - 1), 6) AS variance
       |FROM ret GROUP BY asset ORDER BY asset""".stripMargin

  /** Calendar resample + forward fill: build the full daily spine per asset
    * (min..max trading date), left-join the observed cumulative wealth level
    * (exact running `graft_product`, identical multiply order in the oracle's
    * windowed PRODUCT), forward-fill gaps with `last(ignoreNulls)`, and
    * panel gap structure plus time-weighted average wealth — the classic
    * series-completion op (Polars `upsample`/`fill_null(forward)`), done
    * with key-partitioned windows only. The spine explode is bounded by the
    * calendar range per key, not by data volume.
    */
  def q71ResampleFfill(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val w = Window.partitionBy("asset").orderBy("d")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lvl = sf.df.withColumn("level", product(col("r") + lit(1.0)).over(run))
    val rng = sf.df.groupBy("asset").agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    val spine = rng.select(col("asset"), explode(sequence(col("mn"), col("mx"))).as("d"))
    val ff = spine.join(lvl.select("asset", "d", "level"), Seq("asset", "d"), "left")
      .withColumn("ffl", last(col("level"), ignoreNulls = true).over(w))
    val gaps = sf.df.withColumn("pd", lag(col("d"), 1).over(w))
      .select(col("asset"), (datediff(col("d"), col("pd")) - 1).as("gap"))
      .groupBy("asset").agg(coalesce(max(col("gap")), lit(0)).cast("long").as("max_gap"))
    ff.groupBy("asset").agg(
      count(lit(1)).as("n_days"),
      sum(col("level").isNotNull.cast("long")).as("n_obs"),
      sum(col("level").isNull.cast("long")).as("n_gap_days"),
      round(avg(col("ffl")), 6).as("avg_level"),
      round(max_by(col("ffl"), col("d")), 6).as("end_level"))
      .join(gaps, "asset")
      .select(col("asset"), col("n_days"), col("n_obs"), col("n_gap_days"),
        col("max_gap"), col("avg_level"), col("end_level"))
      .orderBy("asset")
  }

  val q71Sql: String =
    s"""$RetCte,
       |lvl AS (
       |  SELECT asset, d,
       |         PRODUCT(1 + r) OVER (PARTITION BY asset ORDER BY d
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level
       |  FROM ret),
       |rng AS (SELECT asset, MIN(d) AS mn, MAX(d) AS mx FROM ret GROUP BY asset),
       |spine AS (
       |  SELECT asset, CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
       |    CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
       |  FROM rng),
       |ff AS (
       |  SELECT s.asset, s.d, l.level,
       |         LAST_VALUE(l.level IGNORE NULLS) OVER (PARTITION BY s.asset
       |           ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffl
       |  FROM spine s LEFT JOIN lvl l ON s.asset = l.asset AND s.d = l.d),
       |gaps AS (
       |  SELECT asset, COALESCE(MAX(date_diff('day', pd, d) - 1), 0) AS max_gap
       |  FROM (SELECT asset, d, LAG(d) OVER (PARTITION BY asset ORDER BY d) AS pd FROM ret)
       |  GROUP BY asset)
       |SELECT f.asset, COUNT(*) AS n_days,
       |  CAST(SUM(CASE WHEN f.level IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
       |  CAST(SUM(CASE WHEN f.level IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_days,
       |  CAST(MIN(g.max_gap) AS BIGINT) AS max_gap,
       |  ROUND(AVG(f.ffl), 6) AS avg_level,
       |  ROUND(MAX(CASE WHEN f.d = rng.mx THEN f.ffl END), 6) AS end_level
       |FROM ff f JOIN gaps g USING (asset) JOIN rng USING (asset)
       |GROUP BY f.asset ORDER BY f.asset""".stripMargin

  /** Regional revenue by part brand — the canonical multi-hop star join
    * (TPC-H Q5 shape) over the four previously-unused dimension tables:
    * lineitem ⋈ supplier ⋈ nation ⋈ region (dims all broadcast — the chain
    * never shuffles the fact side on a dim key) ⋈ part (broadcast) with the
    * revenue aggregation keyed on (region, brand). At 100 TB the fact scan
    * is the only large input; every dimension hop is a broadcast hash join,
    * which PlanSpec pins.
    */
  def q74StarJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val l = lineitem(spark, sfDir)
    val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val reg = spark.read.parquet(s"$sfDir/region.parquet")
    val prt = spark.read.parquet(s"$sfDir/part.parquet")
    // revenue in exact integer 1e-4 units: price and discount are 2-dp, so
    // round(x*100) recovers exact cents / basis points per row and the group
    // SUM is order-independent — a double sum over ~50k rows per group sits
    // close enough to a 2-dp rounding boundary to flip between engines
    // (observed at sf0.1: 244228519.30 vs .31)
    val revE4 = graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * 100) *
      (lit(100L) - graft.core.Exprs.roundHalfUpLong(col("l_discount") * 100))
    l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .join(broadcast(prt), l("l_partkey") === prt("p_partkey"))
      .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n_items"),
        // cents via INTEGER half-up division, then one exact double divide:
        // ROUND(sum/10000.0, 2) re-entered floating point and the sf1 sweep
        // caught an exact-decimal-half (…4350/10000 = x.435) rounding
        // differently per engine — integer arithmetic has no halves to lose
        (graft.ext.Layout.idiv(sum(revE4) + lit(50L), lit(100L)) / 100.0).as("revenue"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy("region", "brand")
  }

  val q74Sql: String =
    """SELECT r.r_name AS region, p.p_brand AS brand,
      |  COUNT(*) AS n_items,
      |  ((SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |         * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) + 50) // 100) / 100.0 AS revenue,
      |  COUNT(DISTINCT s.s_suppkey) AS n_suppliers
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Deep join-chain analytic (TPC-H Q5 shape): revenue per nation where the
    * supplier and the ordering customer share a nation ("local supplier"
    * volume). The one genuinely large join — lineitem ⋈ orders — shuffles
    * both sides exactly once, as a SHUFFLED HASH join (hinted: neither side
    * needs the sort-merge sort) with the local-supplier predicate INSIDE the
    * join condition: both facts are annotated with their nationkey through
    * broadcast dimension hops BEFORE the shuffle (supplier → lineitem,
    * customer → orders), so the join emits the ~1/nations matching rows
    * directly instead of materializing every orderkey match and filtering
    * after (at sf10: 2.4M rows out instead of 60M through two post-join
    * broadcast probes). Revenue sums in exact integer 1e-4 units (see q74)
    * for summation-order independence.
    */
  def q105RegionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val l = lineitem(spark, sfDir)
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val revE4 = graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * 100) *
      (lit(100L) - graft.core.Exprs.roundHalfUpLong(col("l_discount") * 100))
    val wr = Window.partitionBy(lit(0))
      .orderBy(col("revenue").desc, col("nation"))
    val liN = l.join(broadcast(sup.select(col("s_suppkey"), col("s_nationkey"))),
      l("l_suppkey") === col("s_suppkey"))
    val ordN = ord.join(broadcast(cust.select(col("c_custkey"), col("c_nationkey"))),
      ord("o_custkey") === cust("c_custkey"))
    liN.join(ordN.hint("shuffle_hash"),
        liN("l_orderkey") === ordN("o_orderkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        // exact-cents pattern, same reason as q74 (sf1 half-boundary flip)
        (graft.ext.Layout.idiv(sum(revE4) + lit(50L), lit(100L)) / 100.0).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("rank"), col("nation"), col("revenue"), col("n_orders"),
        col("n_customers"))
      .orderBy("rank")
  }

  val q105Sql: String =
    """WITH j AS (
      |  SELECT n.n_name AS nation, l.l_orderkey, o.o_custkey,
      |    CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev_e4
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE c.c_nationkey = s.s_nationkey),
      |g AS (
      |  SELECT nation,
      |    ((SUM(rev_e4) + 50) // 100) / 100.0 AS revenue,
      |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |  FROM j GROUP BY 1)
      |SELECT ROW_NUMBER() OVER (ORDER BY revenue DESC, nation) AS rank,
      |  nation, revenue, n_orders, n_customers
      |FROM g ORDER BY rank""".stripMargin

  // ---- q207 tail metrics: PSR / serenity / smart+adjusted sortino ----------

  /** Tail-metrics panel per asset — the last §2.b functions without a
    * DuckDB-oracle gate: probabilistic Sharpe ratio (reference:
    * alphastats/stats.py:255-336, incl. the "excess kurtosis minus 3 again"
    * quirk), serenity index (stats.py:1549-1567), and the
    * adjusted/smart sortino wrappers (stats.py:1364-1395: ÷√2 and
    * ÷autocorr-penalty of q02's gated sortino).
    *
    * One `groupBy(asset)`: the [[graft.functions.SeriesAgg]] walk of
    * [[GroupedStats.walk]] gives Σr, σ, n, Σdd², the dd-CVaR below the
    * dd-VaR and the autocorrelation penalty, and PSR's Sharpe and moments
    * and the sortino are plain aggregates beside it — no window. PSR's Φ
    * evaluates through [[graft.core.Dist.erfCol]] — builtin arithmetic
    * inside whole-stage codegen — and the oracle replays the identical Cody
    * rational approximation via [[graft.core.Dist.normCdfSql]].
    */
  def q207TailMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = assetReturns(spark, sfDir)
    val agg = GroupedStats.walk(sf, Seq(
      Exprs.sharpe(sf.r, 0.0, 252, annualize = false).as("b"),
      Exprs.sortino(sf.r, 0.0, 252, annualize = true).as("sortino"),
      Exprs.skew(sf.r).as("sk"),
      Exprs.kurtosis(sf.r).as("ku")))
    import GroupedStats.walked
    val pen = walked("penalty")
    val nd = walked("n").cast("double")
    val b = col("b")
    val sigma = sqrt((lit(1.0) + lit(0.5) * b * b - col("sk") * b +
      (col("ku") - lit(3.0)) / lit(4.0) * b * b) / (nd - lit(1.0)))
    val psr = Dist.normCdfCol(b / sigma)
    val ulcer = sqrt(walked("ddSquares") / (nd - lit(1.0)))
    val serenity = walked("sum") / (ulcer * (-walked("ddCvar") / walked("std")))
    agg.select(col("asset"),
        r6(psr).as("psr"),
        // the reference's annualize=True quirk multiplies the PROBABILITY
        // itself by √252 (stats.py:296-297) — yielding a value > 1;
        // reproduced verbatim
        r6(psr * lit(math.sqrt(252.0))).as("psr_annualized"),
        r6(serenity).as("serenity"),
        r6(col("sortino") / lit(math.sqrt(2.0))).as("adjusted_sortino"),
        r6(col("sortino") / pen).as("smart_sortino"),
        r6(col("sortino") / pen / lit(math.sqrt(2.0))).as("smart_adjusted_sortino"))
      .orderBy("asset")
  }

  /** SQL twin of [[Exprs.fdiv]]'s IEEE division (DuckDB's native double
    * division yields NaN for ANY x/0, where IEEE — and the engine — gives
    * signed infinity for x≠0). Guards the small-n degenerate moments so a
    * tiny asset diverges identically in both engines instead of
    * NaN-vs-Inf (round-8 advice). */
  private def fdivSql(a: String, b: String): String =
    s"""CASE WHEN ($b) = 0 THEN
       |      CASE WHEN ($a) = 0 THEN CAST('nan' AS DOUBLE)
       |           WHEN ($a) > 0 THEN CAST('infinity' AS DOUBLE)
       |           WHEN ($a) < 0 THEN CAST('-infinity' AS DOUBLE) END
       |      ELSE ($a) / ($b) END""".stripMargin

  val q207Sql: String = {
    val sqrt2 = math.sqrt(2.0).toString
    s"""$RetCte,
       |$DdCte,
       |lagd AS (
       |  SELECT asset, d, r, ddv,
       |         LAG(r) OVER (PARTITION BY asset ORDER BY d) AS p
       |  FROM dd),
       |s AS (
       |  SELECT asset, COUNT(r) AS n, CORR(p, r) AS rho,
       |         AVG(r) / STDDEV_SAMP(r) AS b,
       |         AVG(r) / SQRT(AVG(POWER(CASE WHEN r < 0 THEN r ELSE 0 END, 2))) * $S252 AS sortino,
       |         CAST(COUNT(r) AS DOUBLE) AS nd, AVG(r) AS m,
       |         AVG(r * r) AS p2, AVG(r * r * r) AS p3, AVG(r * r * r * r) AS p4,
       |         SUM(r) AS sumr, STDDEV_SAMP(r) AS sd,
       |         SUM(ddv * ddv) AS dd2,
       |         AVG(ddv) + ($Z05) * STDDEV_SAMP(ddv) AS ddvar
       |  FROM lagd GROUP BY asset),
       |cv AS (
       |  SELECT dd.asset,
       |         COALESCE(AVG(CASE WHEN dd.ddv < s.ddvar THEN dd.ddv END),
       |                  MIN(s.ddvar)) AS ddcvar
       |  FROM dd JOIN s USING (asset) GROUP BY dd.asset),
       |mo AS (
       |  SELECT s.*, cv.ddcvar,
       |    ${fdivSql("SQRT(nd * (nd - 1))", "nd - 2")} * ((p3 - 3 * m * p2 + 2 * m * m * m) / POWER(p2 - m * m, 1.5)) AS sk,
       |    ${fdivSql("nd - 1", "(nd - 2) * (nd - 3)")} * ((nd + 1) * ((p4 - 4 * m * p3 + 6 * m * m * p2 - 3 * m * m * m * m) / ((p2 - m * m) * (p2 - m * m)) - 3) + 6) AS ku,
       |    SQRT(1.0 + 2.0 * (CASE
       |      WHEN ABS(rho) = 0 THEN 0.0
       |      WHEN ABS(1.0 - ABS(rho)) < 1e-12
       |        THEN (n - 1.0) - (n - 1.0) * ((n - 1.0) + 1.0) / (2.0 * n)
       |      ELSE ABS(rho) * (1.0 - POW(ABS(rho), n - 1.0)) / (1.0 - ABS(rho))
       |           - (ABS(rho) * (1.0 - ((n - 1.0) + 1.0) * POW(ABS(rho), n - 1.0)
       |                          + (n - 1.0) * POW(ABS(rho), n - 1.0) * ABS(rho))
       |              / ((1.0 - ABS(rho)) * (1.0 - ABS(rho)))) / n
       |      END)) AS penalty
       |  FROM s JOIN cv USING (asset)),
       |zed AS (
       |  SELECT *,
       |    (b / SQRT((1.0 + 0.5 * b * b - sk * b + (ku - 3.0) / 4.0 * b * b) / (nd - 1.0))) / $sqrt2 AS y
       |  FROM mo),
       |yy AS (SELECT *, ABS(y) AS ay FROM zed)
       |SELECT asset,
       |  ROUND(${Dist.normCdfSql("y", "ay")}, 6) AS psr,
       |  ROUND((${Dist.normCdfSql("y", "ay")}) * SQRT(252.0), 6) AS psr_annualized,
       |  ROUND(sumr / (SQRT(dd2 / (nd - 1.0)) * (-ddcvar / sd)), 6) AS serenity,
       |  ROUND(sortino / $sqrt2, 6) AS adjusted_sortino,
       |  ROUND(sortino / penalty, 6) AS smart_sortino,
       |  ROUND(sortino / penalty / $sqrt2, 6) AS smart_adjusted_sortino
       |FROM yy ORDER BY asset""".stripMargin
  }

  // ---- registration ---------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_comp", q01Comp, q01Sql),
    QuerySpec("q02_ratios", q02Ratios, q02Sql),
    QuerySpec("q03_trade_stats", q03TradeStats, q03Sql),
    QuerySpec("q04_var_cvar", q04VarCvar, q04Sql),
    QuerySpec("q05_distribution", q05Distribution, q05Sql),
    QuerySpec("q06_kelly", q06Kelly, q06Sql),
    QuerySpec("q07_drawdown", q07Drawdown, q07Sql),
    QuerySpec("q08_episodes", q08Episodes, q08Sql),
    QuerySpec("q09_streaks", q09Streaks, q09Sql),
    QuerySpec("q10_monthly", q10Monthly, q10Sql),
    QuerySpec("q11_trailing", q11Trailing, q11Sql),
    QuerySpec("q12_benchmark", q12Benchmark, q12Sql),
    QuerySpec("q13_asof", q13AsOf, q13Sql),
    QuerySpec("q25_wide_ratios", q25WideRatios, q25Sql),
    QuerySpec("q27_segment_returns", q27SegmentReturns, q27Sql),
    QuerySpec("q28_rolling_sharpe", q28RollingSharpe, q28Sql),
    QuerySpec("q29_drawdown_details", q29DrawdownDetails, q29Sql),
    QuerySpec("q30_smart_sharpe", q30SmartSharpe, q30Sql),
    QuerySpec("q58_winsorized", q58Winsorized, q58Sql),
    QuerySpec("q64_binned_quantiles", q64BinnedQuantiles, q64Sql),
    QuerySpec("q66_mad_outliers", q66MadOutliers, q66Sql),
    QuerySpec("q67_corr_matrix", q67CorrMatrix, q67Sql),
    QuerySpec("q68_quality_audit", q68QualityAudit, q68Sql),
    QuerySpec("q69_incremental_moments", q69IncrementalMoments, q69Sql),
    QuerySpec("q71_resample_ffill", q71ResampleFfill, q71Sql),
    QuerySpec("q74_star_join", q74StarJoin, q74Sql),
    QuerySpec("q105_regional_revenue", q105RegionalRevenue, q105Sql),
    QuerySpec("q207_tail_metrics", q207TailMetrics, q207Sql))
}
