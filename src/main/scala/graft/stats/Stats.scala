package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.{AsOfJoin, Dist, Exprs, ReturnsFrame}
import graft.functions.SeriesAgg

/** The reference's public metric API (SURVEY.md §2.b), Spark-first.
  *
  * Contract: every function takes a DataFrame whose numeric columns are
  * return series (plus at most one temporal column) and returns a 1-row
  * DataFrame keyed by the original column names — the reference's shape
  * contract (alphastats/stats.py:120-121). `Stats.scalar` collapses a 1-row
  * 1-col result to Double for series-style use.
  *
  * The metric calls are written here, with their formulas in
  * [[graft.core.Exprs]], on three helpers (the trailing-period wrappers
  * call [[Calendar]]):
  *  - the scalar metrics are one wide aggregation (`ReturnsFrame.aggAll`:
  *    one scan, map-side partials, no row shuffle);
  *  - the benchmark-relative metrics are one `select` of aggregates over
  *    the returns aligned to the benchmark ([[vsBenchmark]]);
  *  - the ordered metrics — the drawdown family, CVaR, streaks, drawdown
  *    episodes, the autocorrelation penalty and the smart ratios — are one
  *    per-asset [[graft.functions.SeriesAgg]] over the frame's long view
  *    (`ReturnsFrame.long`, one row per (row, column); [[series]]), run
  *    eagerly: the N per-asset results are collected and returned as a
  *    1-row local frame.
  * Only [[toDrawdowns]] (row-level output) still runs ordered windows. This
  * wide API mirrors the reference's one-column-per-asset model; the scale
  * path for many assets is [[graft.api.GroupedStats]] (long format,
  * partitioned by asset key).
  */
object Stats {

  def scalar(res: DataFrame): Double = {
    val row = res.head()
    row.get(0) match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case null => Double.NaN
    }
  }

  // ---- core return / risk -------------------------------------------------

  /** Total compounded return Π(1+r) − 1 (reference: alphastats/stats.py:29-50). */
  def comp(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.comp)

  /** CAGR; requires a temporal column (reference: alphastats/stats.py:53-89). */
  def cagr(returns: DataFrame, rf: Double = 0.0, compound: Boolean = true,
      periods: Int = 252): DataFrame = {
    val rfm = ReturnsFrame(returns)
    rfm.requireTemporal
    rfm.aggAll(r => Exprs.cagr(r, rf, compound, periods))
  }

  def sharpe(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.sharpe(_, rf, periods, annualize))

  def sortino(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.sortino(_, rf, periods, annualize))

  /** Jack Schwager's Sortino / √2 (reference: alphastats/stats.py:1364-1380). */
  def adjustedSortino(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true, smart: Boolean = false): DataFrame = {
    val base =
      if (smart) smartSortino(returns, rf, periods, annualize)
      else sortino(returns, rf, periods, annualize)
    base.select(base.columns.map(c => (col(c) / math.sqrt(2.0)).as(c)): _*)
  }

  def smartAdjustedSortino(returns: DataFrame, rf: Double = 0.0,
      periods: Int = 252, annualize: Boolean = true): DataFrame =
    adjustedSortino(returns, rf, periods, annualize, smart = true)

  def volatility(returns: DataFrame, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.volatility(_, periods, annualize))

  def valueAtRisk(returns: DataFrame, sigma: Double = 1.0,
      confidence: Double = 0.95): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.valueAtRisk(_, sigma, confidence))

  /** CVaR / expected shortfall with VaR fallback when no returns fall below
    * VaR (reference: alphastats/stats.py:1223-1246): one of the ordered
    * metrics of [[series]], its VaR multiplier z·sigma held by the aggregate.
    */
  def conditionalValueAtRisk(returns: DataFrame, sigma: Double = 1.0,
      confidence: Double = 0.95): DataFrame = {
    val conf = if (confidence > 1) confidence / 100 else confidence
    ordered(ReturnsFrame(returns), Dist.invCdf(1 - conf) * sigma)(_.cvar)
  }

  // ---- trade stats --------------------------------------------------------

  def winRate(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(Exprs.winRate)

  def avgReturn(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(Exprs.avgReturn)

  def avgWin(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(Exprs.avgWin)

  def avgLoss(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(Exprs.avgLoss)

  def best(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(max)

  def worst(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(min)

  def expectedReturn(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    aggregated(returns, aggregate, compounded).aggAll(Exprs.expectedReturn)

  def payoffRatio(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.payoffRatio)

  def profitFactor(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.profitFactor)

  def cpcIndex(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.cpcIndex)

  def commonSenseRatio(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.commonSenseRatio)

  def tailRatio(returns: DataFrame, cutoff: Double = 0.95): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.tailRatio(_, cutoff))

  def outlierWinRatio(returns: DataFrame, quantile: Double = 0.99): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.outlierWinRatio(_, quantile))

  def outlierLossRatio(returns: DataFrame, quantile: Double = 0.01): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.outlierLossRatio(_, quantile))

  def kellyCriterion(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.kellyCriterion)

  def riskOfRuin(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.riskOfRuin)

  def gainToPainRatio(returns: DataFrame, rf: Double = 0.0): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.gainToPain(_, rf))

  /** Gain-to-pain over month-SUMMED returns (reference: alphastats/stats.py:1038-1048). */
  def gainToPainRatio1m(returns: DataFrame, rf: Double = 0.0): DataFrame =
    aggregated(returns, Some("month"), compounded = false)
      .aggAll(Exprs.gainToPain(_, rf))

  def exposure(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.exposure)

  def omega(returns: DataFrame, threshold: Double = 0.0): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.omega(_, threshold))

  def skew(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.skew)

  def kurtosis(returns: DataFrame): DataFrame =
    ReturnsFrame(returns).aggAll(Exprs.kurtosis)

  /** Annual → per-period risk-free rate (reference: alphastats/stats.py:1645-1647). */
  def riskFreeRate(rf: Double, periods: Int = 252): Double =
    math.pow(1 + rf, 1.0 / periods) - 1

  // ---- drawdowns ----------------------------------------------------------

  /** Shape-preserving returns→drawdowns transform (reference: alphastats/stats.py:388-416):
    * the long view's running drawdowns, pivoted back to the input rows on
    * (`__ord`, `__u`). Only the temporal and numeric columns are kept.
    */
  def toDrawdowns(returns: DataFrame): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val order = Seq(col("__ord"), col("__u"))
    val long = rfm.long().withColumn("__k", struct(order: _*))
    val dd = GroupedStats.withDrawdown(SeriesFrame(long, Seq("__asset"), "__k", "__r")).df
    val kept = rfm.df.columns.filter(c =>
      rfm.numericCols.contains(c) || rfm.temporalCol.contains(c))
    dd.groupBy(rfm.temporalCol.map(col).toSeq ++ order: _*)
      .pivot("__asset", rfm.numericCols).agg(first(col("__dd")))
      .orderBy(order: _*).select(kept.map(col).toSeq: _*)
  }

  def maxDrawdown(returns: DataFrame): DataFrame =
    ordered(ReturnsFrame(returns))(_.maxDrawdown)

  /** CAGR / |maxDD| (reference: alphastats/stats.py:474-506). */
  def calmar(returns: DataFrame, periods: Int = 252): DataFrame = {
    val rfm = ReturnsFrame(returns)
    rfm.requireTemporal
    ordered(rfm)(_.calmar(periods))
  }

  def ulcerIndex(returns: DataFrame): DataFrame =
    ordered(ReturnsFrame(returns))(_.ulcer)

  def recoveryFactor(returns: DataFrame, rf: Double = 0.0): DataFrame =
    ordered(ReturnsFrame(returns))(_.recovery(rf))

  /** Serenity = (Σr − rf) / (ulcer · pitfall), pitfall = −CVaR(dd)/σ(r)
    * (reference: alphastats/stats.py:1549-1567).
    */
  def serenityIndex(returns: DataFrame, rf: Double = 0.0): DataFrame =
    ordered(ReturnsFrame(returns))(_.serenity(rf))

  // ---- streaks ------------------------------------------------------------

  /** Longest win (loss) streak per column, optionally over calendar-bucketed
    * returns; 0 for a column without such a run. Nulls reset the streak: they
    * form their own sign class (reference `_consecutive_count`,
    * alphastats/stats.py:1249-1289).
    */
  def consecutiveWins(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    seriesRow(aggregated(returns, aggregate, compounded), LongType, nullable = false)(_._1.wins)

  def consecutiveLosses(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame =
    seriesRow(aggregated(returns, aggregate, compounded), LongType, nullable = false)(_._1.losses)

  // ---- drawdown episodes (reference: alphastats/stats.py:1570-1642) --------
  // An episode is a maximal run of rows with drawdown < 0 (a null return ends
  // one). Its length is calendar days (end − start).days + 1 with a temporal
  // column, else its row count. A column without episodes gets 0.

  def longestDrawdownDays(returns: DataFrame): DataFrame =
    seriesRow(ReturnsFrame(returns), LongType, nullable = false)(_._1.longestEpisode)

  def avgDrawdownDays(returns: DataFrame): DataFrame =
    seriesRow(ReturnsFrame(returns), DoubleType, nullable = false)(_._1.avgEpisode)

  def avgDrawdown(returns: DataFrame): DataFrame =
    seriesRow(ReturnsFrame(returns), DoubleType, nullable = false)(_._1.avgDepth)

  // ---- autocorrelation penalty and smart ratios -----------------------------
  // (reference: alphastats/stats.py:255-336, 1292-1361) Each call is one
  // `series` aggregation: the walk gives every column's count, lag-1 ρ and
  // penalty, and the base ratio and moments ride along as `plain` aggregates.

  /** Per-column penalty √(1 + 2·Σ_{x=1}^{n-1} ((n−x)/n)·ρˣ), ρ = |lag-1 corr|
    * of consecutive non-null returns; NaN when n < 2 (also for a column
    * without rows) or a slice variance is 0 (alphastats/stats.py:1292-1315).
    */
  def autocorrPenalty(returns: DataFrame): DataFrame =
    seriesRow(ReturnsFrame(returns), DoubleType, nullable = false)(_._1.penalty)

  def smartSharpe(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    penalized(returns, Exprs.sharpe(_, rf, periods, annualize))

  def smartSortino(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    penalized(returns, Exprs.sortino(_, rf, periods, annualize))

  /** QuantStats-compatible PSR ([[Dist.psr]]) from the walk's count and the
    * Sharpe, skew and kurtosis of the same aggregation; `smart` only divides
    * the Sharpe by the penalty (alphastats/stats.py:255-336).
    */
  def probabilisticSharpeRatio(returns: DataFrame, rf: Double = 0.0,
      periods: Int = 252, annualize: Boolean = false,
      smart: Boolean = false): DataFrame =
    seriesRow(ReturnsFrame(returns), DoubleType, nullable = false, plain = Seq(
      Exprs.sharpe(_, 0.0, periods, annualize = false), Exprs.skew, Exprs.kurtosis)) { cell =>
      val (s, Seq(b, sk, ku)) = cell
      Dist.psr(if (smart) b / s.penalty else b, sk, ku, s.n.toDouble, rf, annualize)
    }

  // ---- benchmark-relative (reference: alphastats/stats.py:419-579, 1398-1567) ----

  /** CAPM α/β per strategy column as struct{alpha, beta}. */
  def greeks(returns: DataFrame, benchmark: DataFrame, periods: Int = 252): DataFrame =
    vsBenchmark(returns, benchmark)(r =>
      struct(Exprs.alpha(r, Bench, periods).as("alpha"), Exprs.beta(r, Bench).as("beta")))

  def informationRatio(returns: DataFrame, benchmark: DataFrame,
      periods: Int = 252, annualize: Boolean = false): DataFrame =
    vsBenchmark(returns, benchmark)(Exprs.informationRatio(_, Bench, periods, annualize))

  def correlation(returns: DataFrame, benchmark: DataFrame): DataFrame =
    vsBenchmark(returns, benchmark)(Exprs.correlation(_, Bench))

  def rSquared(returns: DataFrame, benchmark: DataFrame): DataFrame =
    vsBenchmark(returns, benchmark)(Exprs.rSquared(_, Bench))

  /** (comp(r) − rf) / β. */
  def treynorRatio(returns: DataFrame, benchmark: DataFrame, rf: Double = 0.0): DataFrame =
    vsBenchmark(returns, benchmark)(Exprs.treynor(_, Bench, rf))

  // ---- internals ----------------------------------------------------------

  private val Bench = col(ReturnsFrame.BenchmarkCol)

  /** One aggregate `metric` of every strategy column against the benchmark,
    * in one `select` over the aligned frame: a backward as-of join on the
    * temporal columns, or a positional join when either side has none. The
    * join is on the time axis alone — this API has one series per column, so
    * there is no key to partition it by.
    */
  private def vsBenchmark(returns: DataFrame, benchmark: DataFrame)(
      metric: Column => Column): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val bm = ReturnsFrame.prepareBenchmark(benchmark)
    val j = (rfm.temporalCol, bm.temporalCol) match {
      case (Some(lt), Some(rt)) =>
        AsOfJoin.backward(rfm.df, bm.df, lt, rt, Seq(ReturnsFrame.BenchmarkCol))
      case _ => AsOfJoin.positional(rfm.df, bm.df.select(Bench))
    }
    j.select(rfm.numericCols.map(c => metric(col(c)).as(c)): _*)
  }

  /** A `base` ratio ÷ the autocorrelation penalty, per column. */
  private def penalized(returns: DataFrame, base: Column => Column): DataFrame =
    seriesRow(ReturnsFrame(returns), DoubleType, nullable = false, plain = Seq(base)) { cell =>
      val (s, Seq(b)) = cell
      b / s.penalty
    }

  /** Every ordered per-asset metric of every numeric column, collected as
    * column → (result, `plain` aggregates of its returns, NaN where null):
    * long view → `groupBy(asset).agg(SeriesAgg, plain)`. A column without rows,
    * i.e. of an empty frame, gets `Result.empty` and NaN aggregates. Every
    * caller without `plain` runs this same plan on a frame — `rz` lives in
    * the aggregate instance and every other parameter in the caller's
    * arithmetic on the collected results, not in a SQL literal — so the
    * calls share their generated classes.
    */
  private def series(rfm: ReturnsFrame, rz: Double = SeriesAgg.Z05,
      plain: Seq[Column => Column] = Nil): Map[String, (SeriesAgg.Result, Seq[Double])] = {
    val r = col("__r")
    val agg = SeriesAgg(SeriesAgg.span(rfm.temporalCol.map(rfm.df.schema(_).dataType)), rz)(
      col("__ord"), col("__u"), r)
    rfm.long().groupBy(col("__asset")).agg(agg, plain.map(_(r).cast("double")): _*).collect()
      .map(row => row.getString(0) -> ((SeriesAgg.Result(row.getStruct(1)),
        plain.indices.map(i => if (row.isNullAt(i + 2)) Double.NaN else row.getDouble(i + 2)))))
      .toMap.withDefaultValue((SeriesAgg.Result.empty, plain.map(_ => Double.NaN)))
  }

  /** The reference's 1-row wide shape of a per-column `cell` of [[series]]
    * (the walk's result and the `plain` aggregates), built on the driver:
    * only the N per-asset results were collected, never the rows.
    */
  private def seriesRow(rfm: ReturnsFrame, dt: DataType, nullable: Boolean,
      rz: Double = SeriesAgg.Z05, plain: Seq[Column => Column] = Nil)(
      cell: ((SeriesAgg.Result, Seq[Double])) => Any): DataFrame = {
    val results = series(rfm, rz, plain)
    rfm.df.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(rfm.numericCols.map(c => cell(results(c))))),
      StructType(rfm.numericCols.map(c => StructField(c, dt, nullable))))
  }

  /** A double metric of [[series]] per column, null where it is null. */
  private def ordered(rfm: ReturnsFrame, rz: Double = SeriesAgg.Z05)(
      metric: SeriesAgg.Result => Option[Double]): DataFrame =
    seriesRow(rfm, DoubleType, nullable = true, rz)(c => metric(c._1).map(Double.box).orNull)

  /** Calendar-bucket pre-aggregation (reference `_simple_returns`,
    * alphastats/stats.py:736-774). Returns a ReturnsFrame over the bucketed
    * per-column comp-or-sum returns; bucket keys are dropped.
    */
  private[graft] def aggregated(returns: DataFrame, aggregate: Option[String],
      compounded: Boolean): ReturnsFrame =
    ReturnsFrame(Calendar.simpleReturns(ReturnsFrame(returns), aggregate, compounded))

  // ---- trailing / fixed-period wrappers (reference: alphastats/stats.py:1650-1817) ----

  def mtd(returns: DataFrame): DataFrame = Calendar.periodComp(returns, Calendar.Mtd)
  def ytd(returns: DataFrame): DataFrame = Calendar.periodComp(returns, Calendar.Ytd)
  def threeMonth(returns: DataFrame): DataFrame = Calendar.periodComp(returns, Calendar.Months(3))
  def sixMonth(returns: DataFrame): DataFrame = Calendar.periodComp(returns, Calendar.Months(6))
  def oneYear(returns: DataFrame): DataFrame = Calendar.periodComp(returns, Calendar.Years(1))
  def threeYear(returns: DataFrame, periods: Int = 252): DataFrame =
    Calendar.periodCagr(returns, Calendar.Years(3), periods)
  def fiveYear(returns: DataFrame, periods: Int = 252): DataFrame =
    Calendar.periodCagr(returns, Calendar.Years(5), periods)
  def tenYear(returns: DataFrame, periods: Int = 252): DataFrame =
    Calendar.periodCagr(returns, Calendar.Years(10), periods)
  def allTime(returns: DataFrame, periods: Int = 252): DataFrame =
    Calendar.periodCagr(returns, Calendar.All, periods)

  def expectedDaily(returns: DataFrame): DataFrame = expectedReturn(returns, Some("day"))
  def expectedMonthly(returns: DataFrame): DataFrame = expectedReturn(returns, Some("month"))
  def expectedYearly(returns: DataFrame): DataFrame = expectedReturn(returns, Some("year"))
  def bestDay(returns: DataFrame): DataFrame = best(returns, Some("day"))
  def worstDay(returns: DataFrame): DataFrame = worst(returns, Some("day"))
  def bestMonth(returns: DataFrame): DataFrame = best(returns, Some("month"))
  def worstMonth(returns: DataFrame): DataFrame = worst(returns, Some("month"))
  def bestYear(returns: DataFrame): DataFrame = best(returns, Some("year"))
  def worstYear(returns: DataFrame): DataFrame = worst(returns, Some("year"))
  def avgUpMonth(returns: DataFrame): DataFrame = avgWin(returns, Some("month"))
  def avgDownMonth(returns: DataFrame): DataFrame = avgLoss(returns, Some("month"))
  def winDays(returns: DataFrame): DataFrame = winRate(returns, Some("day"))
  def winMonth(returns: DataFrame): DataFrame = winRate(returns, Some("month"))
  def winQuarter(returns: DataFrame): DataFrame = winRate(returns, Some("quarter"))
  def winYear(returns: DataFrame): DataFrame = winRate(returns, Some("year"))

  // ---- reference aliases (alphastats/stats.py alias bindings) -------------

  /** Alias for probabilisticSharpeRatio (reference: psr). */
  def psr(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = false, smart: Boolean = false): DataFrame =
    probabilisticSharpeRatio(returns, rf, periods, annualize, smart)

  /** Alias for valueAtRisk (reference: var). */
  def varRatio(returns: DataFrame, sigma: Double = 1.0, confidence: Double = 0.95): DataFrame =
    valueAtRisk(returns, sigma, confidence)

  /** Alias for conditionalValueAtRisk (reference: cvar). */
  def cvar(returns: DataFrame, sigma: Double = 1.0, confidence: Double = 0.95): DataFrame =
    conditionalValueAtRisk(returns, sigma, confidence)

  /** Alias for conditionalValueAtRisk (reference: expected_shortfall). */
  def expectedShortfall(returns: DataFrame, sigma: Double = 1.0,
      confidence: Double = 0.95): DataFrame =
    conditionalValueAtRisk(returns, sigma, confidence)

  /** Alias for riskOfRuin (reference: ror). */
  def ror(returns: DataFrame): DataFrame = riskOfRuin(returns)

  /** Alias for rSquared (reference: r2). */
  def r2(returns: DataFrame, benchmark: DataFrame): DataFrame = rSquared(returns, benchmark)

  /** Alias for expectedReturn (reference: geometric_mean). */
  def geometricMean(returns: DataFrame, aggregate: Option[String] = None,
      compounded: Boolean = true): DataFrame = expectedReturn(returns, aggregate, compounded)

  /** Alias for adjustedSortino (reference: sortino_sqrt2). */
  def sortinoSqrt2(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true, smart: Boolean = false): DataFrame =
    adjustedSortino(returns, rf, periods, annualize, smart)

  /** Alias for smartAdjustedSortino (reference: smart_sortino_sqrt2). */
  def smartSortinoSqrt2(returns: DataFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    smartAdjustedSortino(returns, rf, periods, annualize)

  /** Alias for gainToPainRatio1m (reference: gain_to_pain_ratio_monthly). */
  def gainToPainRatioMonthly(returns: DataFrame, rf: Double = 0.0): DataFrame =
    gainToPainRatio1m(returns, rf)
}
