package graft

import org.apache.spark.sql.Row

import graft.core.{MultipleTemporalColumnsError, NoTemporalColumnError}
import graft.stats.Stats
import graft.stats.Stats.scalar

/** Golden-snapshot parity with the reference's unit tests
  * (tests/test_stats.py via FIXTURES.md §A.2 — same fixtures, same constants).
  */
class StatsGoldenSpec extends SparkSpec {
  import spark.implicits._

  test("comp golden values") {
    assertApprox(scalar(Stats.comp(simpleSeries)), 0.02948504120000006)
    assertApprox(scalar(Stats.comp(nullsSeries)), 0.029897000000000062)
    assertApprox(scalar(Stats.comp(extremeSeries)), -0.9142)
    assertApprox(scalar(Stats.comp(Seq(0.05).toDF("returns"))), 0.050000000000000044)
    assertApprox(scalar(Stats.comp(Seq(0.0, 0.0, 0.0, 0.0).toDF("returns"))), 0.0)
    val df = Stats.comp(simpleDf).head()
    assertApprox(df.getDouble(0), 0.02948504120000006, clue = "asset_a")
    assertApprox(df.getDouble(1), 0.02948504120000006, clue = "asset_b")
  }

  test("cagr golden values") {
    val base = Stats.cagr(simpleDf, periods = 252).head()
    assertApprox(base.getDouble(0), 3.325636719291219)
    assertApprox(base.getDouble(1), 3.325636719291219)
    val rf = Stats.cagr(simpleDf, rf = 0.002, periods = 252).head()
    assertApprox(rf.getDouble(0), 1.6192689635571114, tol = 1e-10)
    val simple = Stats.cagr(simpleDf, compound = false, periods = 252).head()
    assertApprox(simple.getDouble(0), 3.4360468598701495)
    val monthly = Stats.cagr(simpleDf, periods = 12).head()
    assertApprox(monthly.getDouble(0), 0.0722303532497861)
    assertApprox(Stats.cagr(extremeDf, periods = 252).head().getDouble(0), -1.0)
    intercept[NoTemporalColumnError](Stats.cagr(simpleSeries))
  }

  test("max_drawdown golden values") {
    assertApprox(scalar(Stats.maxDrawdown(simpleSeries)), -0.020000000000000018)
    assertApprox(scalar(Stats.maxDrawdown(extremeSeries)), -0.956)
  }

  test("sharpe golden values") {
    assertApprox(scalar(Stats.sharpe(simpleSeries)), 4.593220484431882)
    assertApprox(scalar(Stats.sharpe(simpleSeries, rf = 0.002)), 3.062146989621255)
    assertApprox(scalar(Stats.sharpe(simpleSeries, annualize = false)), 0.28934569330224724)
    assertApprox(scalar(Stats.sharpe(simpleSeries, periods = 12)), 1.002322883501468)
    assert(scalar(Stats.sharpe(Seq(0.0, 0.0, 0.0, 0.0).toDF("returns"))).isNaN)
  }

  test("extreme / periods golden values (sharpe, sortino, volatility)") {
    assertApprox(scalar(Stats.sharpe(extremeSeries)), 1.0629032821934614)
    assertApprox(scalar(Stats.sortino(simpleSeries, periods = 12)), 2.0784609690826525)
    assertApprox(scalar(Stats.sortino(extremeSeries)), 1.7686932639858621)
    assertApprox(scalar(Stats.volatility(simpleSeries, periods = 12)), 0.07183313998427189)
    assertApprox(scalar(Stats.volatility(extremeSeries)), 14.225188926689164)
    assertApprox(scalar(Stats.maxDrawdown(Seq(0.0, 0.0, 0.0, 0.0).toDF("returns"))), 0.0)
    val ddZeros = Stats.toDrawdowns(Seq(0.0, 0.0, 0.0, 0.0).toDF("returns"))
      .collect().map(_.getDouble(0))
    assert(ddZeros.forall(_ == 0.0))
  }

  test("greeks with temporal columns on extreme values") {
    val rets = dates(5).zip(Seq(0.5, -0.8, 1.2, -0.9, 0.3)).toDF("date", "asset")
    val bench = dates(5).zip(Seq(0.1, -0.2, 0.3, -0.15, 0.05))
      .toDF("date", "_benchmark_returns")
    val g = Stats.greeks(rets, bench).head().getStruct(0)
    assertApprox(g.getDouble(0), -6.957055214723923, tol = 1e-9, clue = "alpha")
    assertApprox(g.getDouble(1), 4.380368098159508, tol = 1e-9, clue = "beta")
  }

  test("probabilistic sharpe ratio golden value") {
    assertApprox(scalar(Stats.probabilisticSharpeRatio(simpleSeries)),
      0.7180057951953357, tol = 1e-9)
  }

  test("sortino golden values") {
    assertApprox(scalar(Stats.sortino(simpleSeries)), 9.524704719832526)
    assertApprox(scalar(Stats.sortino(simpleSeries, rf = 0.002, annualize = false)),
      0.35691530512412484)
    assertApprox(scalar(Stats.sortino(simpleSeries, annualize = false)), 0.6)
    assert(scalar(Stats.sortino(Seq(0.0, 0.0, 0.0, 0.0).toDF("returns"))).isNaN)
  }

  test("adjusted sortino = sortino / sqrt(2)") {
    assertApprox(scalar(Stats.adjustedSortino(simpleSeries)),
      9.524704719832526 / math.sqrt(2.0))
  }

  test("volatility golden values") {
    assertApprox(scalar(Stats.volatility(simpleSeries)), 0.3291808013842849)
    assertApprox(scalar(Stats.volatility(simpleSeries, annualize = false)),
      0.020736441353327723)
  }

  test("to_drawdowns golden values (shape-preserving)") {
    val want = Seq(0.0, -0.020000000000000018, 0.0, -0.01000000000000012, 0.0)
    val wantx = Seq(0.0, -0.8, -0.56, -0.956, -0.9428)
    def check(dd: Seq[Double], w: Seq[Double]): Unit = {
      assert(dd.length == w.length, dd)
      dd.zip(w).foreach { case (a, w) => assertApprox(a, w, tol = 1e-9) }
    }
    check(Stats.toDrawdowns(simpleSeries).collect().map(_.getDouble(0)).toSeq, want)
    check(Stats.toDrawdowns(extremeSeries).collect().map(_.getDouble(0)).toSeq, wantx)
    // both series as the columns of one frame, with and without a date: still
    // one output row per input row, each column its own drawdowns
    val both = dates(5).lazyZip(Seq(0.01, -0.02, 0.03, -0.01, 0.02))
      .lazyZip(Seq(0.5, -0.8, 1.2, -0.9, 0.3)).toSeq.toDF("date", "s", "x")
    Seq(both, both.drop("date")).foreach { df =>
      val dd = Stats.toDrawdowns(df)
      assert(dd.columns.toSeq == df.columns.toSeq)
      val rows = dd.collect()
      check(rows.map(_.getAs[Double]("s")).toSeq, want)
      check(rows.map(_.getAs[Double]("x")).toSeq, wantx)
    }
  }

  test("greeks without temporal (positional concat)") {
    val returnsNoDate = Seq(
      (0.01, 0.02), (-0.02, -0.01), (0.03, 0.01), (-0.01, 0.03), (0.02, -0.02))
      .toDF("asset_a", "asset_b")
    val benchNoDate = Seq(0.005, -0.01, 0.015, -0.005, 0.01).toDF("_benchmark_returns")
    val row = Stats.greeks(returnsNoDate, benchNoDate).head()
    val a = row.getStruct(0)
    assertApprox(a.getDouble(0), 2.185751579730777e-16, tol = 1e-12)
    assertApprox(a.getDouble(1), 1.9999999999999998)
    val b = row.getStruct(1)
    assertApprox(b.getDouble(0), 1.6702325581395348, tol = 1e-9)
    assertApprox(b.getDouble(1), -0.20930232558139525, tol = 1e-9)
  }

  test("cpc index golden values") {
    assertApprox(scalar(Stats.cpcIndex(simpleSeries)), 1.6)
    assertApprox(scalar(Stats.cpcIndex(nullsSeries)), 5.333333333333333)
    val noLosses = scalar(Stats.cpcIndex(Seq(0.01, 0.02, 0.0).toDF("returns")))
    assert(noLosses.isNaN || noLosses.isInfinite)
  }

  test("exposure golden values") {
    assertApprox(scalar(Stats.exposure(simpleSeries)), 1.0)
    assertApprox(scalar(Stats.exposure(nullsSeries)), 1.0)
    assertApprox(scalar(Stats.exposure(
      Seq(0.0, 0.01, 0.0, -0.02, 0.0, 0.03).toDF("returns"))), 0.5)
  }

  test("omega golden values") {
    assertApprox(scalar(Stats.omega(simpleSeries)), 2.0)
    assertApprox(scalar(Stats.omega(simpleSeries, threshold = 0.01)), 0.6)
    assertApprox(scalar(Stats.omega(nullsSeries)), 4.0)
    val noLosses = scalar(Stats.omega(Seq(0.02, 0.03, 0.01).toDF("returns")))
    assert(noLosses.isInfinite || noLosses.isNaN)
  }

  test("skew / kurtosis golden values") {
    assertApprox(scalar(Stats.skew(simpleSeries)), -0.2355139364088061, tol = 1e-9)
    assertApprox(scalar(Stats.kurtosis(simpleSeries)), -1.9632233639805297, tol = 1e-9)
  }

  test("trade-stat goldens on simple series") {
    assertApprox(scalar(Stats.winRate(simpleSeries)), 0.6)
    assertApprox(scalar(Stats.avgReturn(simpleSeries)), 0.006)
    assertApprox(scalar(Stats.avgWin(simpleSeries)), 0.02)
    assertApprox(scalar(Stats.avgLoss(simpleSeries)), -0.015)
    assertApprox(scalar(Stats.payoffRatio(simpleSeries)), 0.02 / 0.015)
    assertApprox(scalar(Stats.profitFactor(simpleSeries)), 2.0)
    assertApprox(scalar(Stats.gainToPainRatio(simpleSeries)), 1.0)
    assertApprox(scalar(Stats.kellyCriterion(simpleSeries)), 0.3)
    assertApprox(scalar(Stats.riskOfRuin(simpleSeries)), math.pow(0.4 / 1.6, 5))
    assert(scalar(Stats.consecutiveWins(simpleSeries)) == 1.0)
    assert(scalar(Stats.consecutiveLosses(simpleSeries)) == 1.0)
  }

  test("recovery factor golden value") {
    assertApprox(scalar(Stats.recoveryFactor(simpleSeries)), 1.5)
  }

  test("drawdown episode metrics (dates fixture)") {
    val epDf = dates(7).zip(Seq(0.02, -0.01, -0.02, 0.05, -0.01, -0.01, 0.03))
      .toDF("date", "asset")
    assert(Stats.longestDrawdownDays(epDf).head().getLong(0) == 2L)
    assertApprox(scalar(Stats.avgDrawdownDays(epDf)), 2.0)
    val noDd = Seq(0.01, 0.02).toDF("returns")
    assert(Stats.longestDrawdownDays(noDd).head().getLong(0) == 0L)
    assertApprox(scalar(Stats.avgDrawdownDays(noDd)), 0.0)
  }

  test("calendar aggregation buckets (reference calendar fixture)") {
    // FIXTURES.md A.1 calendar frame: spans year/month/quarter buckets
    val ds = Seq("2022-12-30", "2023-01-02", "2023-01-31", "2023-02-01",
      "2023-03-01", "2023-06-01", "2023-12-29").map(java.sql.Date.valueOf)
    val vs = Seq(0.01, 0.02, -0.01, 0.03, -0.02, 0.04, 0.01)
    val df = ds.zip(vs).toDF("date", "asset")
    // monthly comps: 2022-12: 0.01; 2023-01: 1.02*0.99-1; 2023-02: 0.03;
    // 2023-03: -0.02; 2023-06: 0.04; 2023-12: 0.01
    val jan = 1.02 * 0.99 - 1
    assertApprox(scalar(Stats.bestMonth(df)), 0.04)
    assertApprox(scalar(Stats.worstMonth(df)), -0.02)
    assertApprox(scalar(Stats.winRate(df, Some("month"))), 5.0 / 6)
    val monthly = Seq(0.01, jan, 0.03, -0.02, 0.04, 0.01)
    val expMonthly = math.pow(monthly.map(1 + _).product, 1.0 / 6) - 1
    assertApprox(scalar(Stats.expectedMonthly(df)), expMonthly)
    // yearly: 2022: 0.01; 2023: comp of the six 2023 returns
    val y2023 = Seq(0.02, -0.01, 0.03, -0.02, 0.04, 0.01).map(1 + _).product - 1
    assertApprox(scalar(Stats.bestYear(df)), math.max(0.01, y2023))
    assertApprox(scalar(Stats.worstYear(df)), math.min(0.01, y2023))
    // weekly: ISO week keeps 2022-12-30 in (2022, wk52), 2023-01-02 in (2023, wk1)
    // → no bucket merges across the year boundary; 7 rows → 7 distinct buckets?
    // 2023-01-31 (wk5) and 2023-02-01 (wk5!) share an ISO week → 6 buckets
    val weekly = graft.stats.Calendar.simpleReturns(
      graft.core.ReturnsFrame(df), Some("week"), compounded = true)
    assert(weekly.count() == 6)
    val wk5 = 0.99 * 1.03 - 1 // Jan 31 + Feb 1 compound within ISO week 5
    val weeklyVals = weekly.collect().map(_.getDouble(0))
    assert(weeklyVals.exists(v => math.abs(v - wk5) < 1e-12),
      s"missing merged ISO week: ${weeklyVals.toSeq}")
    // quarterly: Q4-2022: 0.01; Q1-2023: comp(0.02,-0.01,0.03,-0.02); Q2: 0.04; Q4-2023: 0.01
    val q1 = Seq(0.02, -0.01, 0.03, -0.02).map(1 + _).product - 1
    assertApprox(scalar(Stats.winQuarter(df)), 1.0) // all quarter comps positive? q1>0
    assert(q1 > 0)
  }

  test("calendar buckets emit in first-appearance order on unsorted input (maintain_order parity)") {
    // input deliberately NOT date-sorted: first-appearance month order is
    // [Mar, Jan, Feb] while key order would be [Jan, Feb, Mar] — the Polars
    // maintain_order=True semantics of the reference (stats.py:745)
    val df = Seq(
      (java.sql.Date.valueOf("2023-03-05"), 0.01),
      (java.sql.Date.valueOf("2023-01-10"), 0.02),
      (java.sql.Date.valueOf("2023-03-20"), 0.03),
      (java.sql.Date.valueOf("2023-02-15"), 0.04)).toDF("date", "asset")
    val monthly = graft.stats.Calendar.simpleReturns(
      graft.core.ReturnsFrame(df), Some("month"), compounded = true)
    val got = monthly.collect().map(_.getDouble(0)).toSeq
    val mar = 1.01 * 1.03 - 1
    assert(got.length == 3)
    assertApprox(got(0), mar, clue = "first bucket must be March (first appearance)")
    assertApprox(got(1), 0.02, clue = "second bucket must be January")
    assertApprox(got(2), 0.04, clue = "third bucket must be February")
  }

  test("multiple temporal columns rejected") {
    val df = Seq((java.sql.Date.valueOf("2023-01-01"),
      java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), 0.01))
      .toDF("date", "datetime", "asset")
    intercept[MultipleTemporalColumnsError](Stats.comp(df))
  }

  test("streak fixtures with longer runs and nulls") {
    val s = Seq(Some(0.01), Some(0.02), Some(0.03), None, Some(0.01), Some(-0.02),
      Some(-0.01), Some(0.0), Some(-0.03), Some(-0.01), Some(-0.02)).toDF("returns")
    assert(scalar(Stats.consecutiveWins(s)) == 3.0)
    assert(scalar(Stats.consecutiveLosses(s)) == 3.0)
  }

  test("value at risk / cvar") {
    // parametric var on simple series: mean + z(0.05) * std
    val mean = 0.006
    val std = 0.020736441353327723
    val want = mean + (-1.6448536269514726) * std
    assertApprox(scalar(Stats.valueAtRisk(simpleSeries)), want, tol = 1e-9)
    // VaR ≈ −0.0281 and min return is −0.02, so nothing falls below VaR →
    // CVaR falls back to VaR itself (reference: alphastats/stats.py:1237)
    val cv = scalar(Stats.conditionalValueAtRisk(simpleSeries))
    assertApprox(cv, want, tol = 1e-9)
  }
}
