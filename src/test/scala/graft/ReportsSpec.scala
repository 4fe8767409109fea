package graft

import org.apache.spark.sql.functions.col

import graft.reports.Reports

class ReportsSpec extends SparkSpec {
  import spark.implicits._

  // Literal row-order goldens copied verbatim from the reference's
  // LEGACY_BASIC_REPORT_METRICS / LEGACY_FULL_REPORT_METRICS
  // (reference: tests/test_quantstats_parity.py:57-167)
  private val basicRows = Seq(
    "Start Period", "End Period", "Risk-Free Rate", "Time in Market",
    "Cumulative Return", "CAGR﹪", "Sharpe", "Prob. Sharpe Ratio", "Sortino",
    "Sortino/√2", "Omega", "Max Drawdown", "Longest DD Days", "Gain/Pain Ratio",
    "Gain/Pain (1M)", "Payoff Ratio", "Profit Factor", "Common Sense Ratio",
    "CPC Index", "Tail Ratio", "Outlier Win Ratio", "Outlier Loss Ratio",
    "MTD", "3M", "6M", "YTD", "1Y", "3Y (ann.)", "5Y (ann.)", "10Y (ann.)",
    "All-time (ann.)", "Avg. Drawdown", "Avg. Drawdown Days", "Recovery Factor",
    "Ulcer Index", "Serenity Index")

  private val fullRows = Seq(
    "Start Period", "End Period", "Risk-Free Rate", "Time in Market",
    "Cumulative Return", "CAGR﹪", "Sharpe", "Prob. Sharpe Ratio", "Smart Sharpe",
    "Sortino", "Smart Sortino", "Sortino/√2", "Smart Sortino/√2", "Omega",
    "Max Drawdown", "Longest DD Days", "Volatility (ann.)", "R^2",
    "Information Ratio", "Calmar", "Skew", "Kurtosis", "Expected Daily",
    "Expected Monthly", "Expected Yearly", "Kelly Criterion", "Risk of Ruin",
    "Daily Value-at-Risk", "Expected Shortfall (cVaR)", "Max Consecutive Wins",
    "Max Consecutive Losses", "Gain/Pain Ratio", "Gain/Pain (1M)", "Payoff Ratio",
    "Profit Factor", "Common Sense Ratio", "CPC Index", "Tail Ratio",
    "Outlier Win Ratio", "Outlier Loss Ratio", "MTD", "3M", "6M", "YTD", "1Y",
    "3Y (ann.)", "5Y (ann.)", "10Y (ann.)", "All-time (ann.)", "Best Day",
    "Worst Day", "Best Month", "Worst Month", "Best Year", "Worst Year",
    "Avg. Drawdown", "Avg. Drawdown Days", "Recovery Factor", "Ulcer Index",
    "Serenity Index", "Avg. Up Month", "Avg. Down Month", "Win Days",
    "Win Month", "Win Quarter", "Win Year", "Beta", "Alpha", "Correlation",
    "Treynor Ratio")

  // 10-row daily fixture (reference: tests/test_quantstats_parity.py:20-54)
  private def parityReturns = {
    val vals = Seq(0.01, -0.02, 0.03, -0.01, 0.02, 0.0, 0.015, -0.005, 0.01, -0.015)
    (2 to 11).map(d => java.sql.Date.valueOf(f"2023-01-$d%02d")).zip(vals)
      .toDF("date", "asset")
  }

  private def parityBenchmark = {
    val vals = Seq(0.005, -0.01, 0.015, -0.005, 0.01, 0.0, 0.007, -0.002, 0.004, -0.006)
    (2 to 11).map(d => java.sql.Date.valueOf(f"2023-01-$d%02d")).zip(vals)
      .toDF("date", "benchmark")
  }

  test("basic report has the exact 36-row order (reference row list)") {
    val rep = Reports.metrics(parityReturns, mode = "basic")
    assert(rep.columns.toSeq == Seq("Metric", "Strategy"))
    assert(rep.select("Metric").collect().map(_.getString(0)).toSeq == basicRows)
  }

  test("full report with benchmark has the exact 70-row order (FIXTURES.md says 69; the reference list has 70 entries)") {
    val rep = Reports.metrics(parityReturns, benchmark = Some(parityBenchmark), mode = "full")
    assert(rep.columns.toSeq == Seq("Metric", "Benchmark", "Strategy"))
    assert(rep.select("Metric").collect().map(_.getString(0)).toSeq == fullRows)
  }

  test("report cell sanity: dates, rf, exposure, formatting") {
    val rep = Reports.metrics(parityReturns, mode = "basic")
    val cells = rep.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cells("Start Period") == "2023-01-02")
    assert(cells("End Period") == "2023-01-11")
    assert(cells("Risk-Free Rate") == "0")
    assert(cells("Time in Market") == "90.0") // 9 of 10 non-zero
    // cumulative return: comp of the series ×100 rounded to 2
    val comp = Seq(0.01, -0.02, 0.03, -0.01, 0.02, 0.0, 0.015, -0.005, 0.01, -0.015)
      .map(1 + _).product - 1
    assert(cells("Cumulative Return") ==
      Reports.formatValue(comp * 100))
    // benchmark-only rows absent in basic; MTD exists and is numeric or "-"
    assert(cells.contains("MTD"))
  }

  test("benchmark column gets '-' for strategy-only rows and values for shared rows") {
    val rep = Reports.metrics(parityReturns, benchmark = Some(parityBenchmark), mode = "full")
    val byMetric = rep.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byMetric("Beta")._1 == "-") // benchmark col
    assert(byMetric("Beta")._2 != "-") // strategy col has a beta
    assert(byMetric("Sharpe")._1 != "-") // shared rows computed for benchmark too
    assert(byMetric("R^2")._1 == "-")
  }

  test("full report without benchmark drops the 6 benchmark-only rows") {
    val rep = Reports.metrics(parityReturns, mode = "full")
    val rows = rep.select("Metric").collect().map(_.getString(0)).toSeq
    val expected = fullRows.filterNot(Set("R^2", "Information Ratio",
      "Beta", "Alpha", "Correlation", "Treynor Ratio"))
    assert(rows == expected)
    assert(rows.length == fullRows.length - 6)
  }

  test("formatValue matches Python str(round(x, 2)) semantics") {
    assert(Reports.formatValue(12.345) == "12.35")
    assert(Reports.formatValue(12.0) == "12.0")
    assert(Reports.formatValue(-0.004) == "0") // rounds to -0.0 → "0"
    assert(Reports.formatValue(0.005) == "0.01") // 0.005 stored above half
    assert(Reports.formatValue(2.675) == "2.67") // 2.675 stored below half
    assert(Reports.formatValue(0.015) == "0.01") // 0.015 stored below half
    assert(Reports.formatValue(Double.NaN) == "-")
    assert(Reports.formatValue(Double.PositiveInfinity) == "-")
    assert(Reports.formatValue(null) == "-")
    assert(Reports.formatValue(7L) == "7")
    assert(Reports.formatValue("x") == "x")
    assert(Reports.formatValue(-3.456) == "-3.46")
    // |x| >= 1e7: Python str() stays positional until 1e16 — Java's
    // E-notation spelling would diverge (expected strings are literal
    // Python str(round(x, 2)) outputs)
    assert(Reports.formatValue(12345678.925) == "12345678.93")
    assert(Reports.formatValue(1.0e7) == "10000000.0")
    assert(Reports.formatValue(9999999.994) == "9999999.99")
    assert(Reports.formatValue(-12345678.925) == "-12345678.93")
    assert(Reports.formatValue(2.5e15 + 0.456) == "2500000000000000.5")
  }

  test("matchDates=false keeps unmatched strategy rows (left join)") {
    val shortBench = (2 to 6).map(d => java.sql.Date.valueOf(f"2023-01-$d%02d"))
      .zip(Seq(0.005, -0.01, 0.015, -0.005, 0.01)).toDF("date", "benchmark")
    val inner = Reports.metrics(parityReturns, benchmark = Some(shortBench),
      mode = "basic", matchDates = true)
    val left = Reports.metrics(parityReturns, benchmark = Some(shortBench),
      mode = "basic", matchDates = false)
    def cell(rep: org.apache.spark.sql.DataFrame, m: String): String =
      rep.filter(col("Metric") === m).head().getString(2)
    // inner join truncates the strategy series to 5 rows; left join keeps 10
    assert(cell(inner, "End Period") == "2023-01-06")
    assert(cell(left, "End Period") == "2023-01-11")
  }

  test("PSR row with nonzero rf subtracts rf exactly once (review fix)") {
    val rep = Reports.metrics(parityReturns, rf = 0.02, mode = "basic")
    val cell = rep.filter(col("Metric") === "Prob. Sharpe Ratio").head().getString(1)
    // expected: reference semantics — no-rf Sharpe base, rf subtracted in the CDF
    val want = graft.stats.Stats.scalar(
      graft.stats.Stats.probabilisticSharpeRatio(parityReturns, rf = 0.02))
    assert(cell == Reports.formatValue(want * 100), s"cell $cell want ${want * 100}")
  }

  test("all-flat strategy column survives full mode with zero streaks (review fix)") {
    val flat = (2 to 11).map(d => (java.sql.Date.valueOf(f"2023-01-$d%02d"), 0.0))
      .toDF("date", "cash")
    val rep = Reports.metrics(flat, mode = "full")
    val cells = rep.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cells("Max Consecutive Wins") == "0")
    assert(cells("Max Consecutive Losses") == "0")
  }

  test("Alpha row uses the reference's fixed 252 scaling regardless of periodsPerYear") {
    val rep252 = Reports.metrics(parityReturns, benchmark = Some(parityBenchmark),
      mode = "full", periodsPerYear = 252)
    val rep12 = Reports.metrics(parityReturns, benchmark = Some(parityBenchmark),
      mode = "full", periodsPerYear = 12)
    def alpha(rep: org.apache.spark.sql.DataFrame): String =
      rep.filter(col("Metric") === "Alpha").head().getString(2)
    assert(alpha(rep252) == alpha(rep12)) // reference quirk: always ×252
  }

  test("full report: every Strategy cell matches the independent oracle (70 cells)") {
    // expected cells computed by a from-scratch stdlib-Python implementation
    // of the reference formulas + formatting over the parity fixture
    val expected = Seq(
      ("Start Period", "2023-01-02"), ("End Period", "2023-01-11"),
      ("Risk-Free Rate", "0"), ("Time in Market", "90.0"),
      ("Cumulative Return", "3.43"), ("CAGR﹪", "134.21"),
      ("Sharpe", "3.44"), ("Prob. Sharpe Ratio", "74.66"),
      ("Smart Sharpe", "1.47"), ("Sortino", "6.42"),
      ("Smart Sortino", "2.74"), ("Sortino/√2", "4.54"),
      ("Smart Sortino/√2", "1.94"), ("Omega", "1.7"),
      ("Max Drawdown", "-2.0"), ("Longest DD Days", "1"),
      ("Volatility (ann.)", "25.67"), ("R^2", "0.99"),
      ("Information Ratio", "0.2"), ("Calmar", "67.1"),
      ("Skew", "0.09"), ("Kurtosis", "-0.99"),
      ("Expected Daily", "0.34"), ("Expected Monthly", "3.43"),
      ("Expected Yearly", "3.43"), ("Kelly Criterion", "22.88"),
      ("Risk of Ruin", "0"), ("Daily Value-at-Risk", "-2.31"),
      ("Expected Shortfall (cVaR)", "-2.31"), ("Max Consecutive Wins", "1"),
      ("Max Consecutive Losses", "1"), ("Gain/Pain Ratio", "0.7"),
      ("Gain/Pain (1M)", "-"), ("Payoff Ratio", "1.36"),
      ("Profit Factor", "1.7"), ("Common Sense Ratio", "2.44"),
      ("CPC Index", "1.28"), ("Tail Ratio", "1.44"),
      ("Outlier Win Ratio", "2.05"), ("Outlier Loss Ratio", "1.56"),
      ("MTD", "3.43"), ("3M", "3.43"), ("6M", "3.43"), ("YTD", "3.43"),
      ("1Y", "3.43"), ("3Y (ann.)", "134.21"), ("5Y (ann.)", "134.21"),
      ("10Y (ann.)", "134.21"), ("All-time (ann.)", "134.21"),
      ("Best Day", "3.0"), ("Worst Day", "-2.0"),
      ("Best Month", "3.43"), ("Worst Month", "3.43"),
      ("Best Year", "3.43"), ("Worst Year", "3.43"),
      ("Avg. Drawdown", "-1.25"), ("Avg. Drawdown Days", "1.0"),
      ("Recovery Factor", "1.75"), ("Ulcer Index", "0.01"),
      ("Serenity Index", "3.1"), ("Avg. Up Month", "3.43"),
      ("Avg. Down Month", "-"), ("Win Days", "55.56"),
      ("Win Month", "100.0"), ("Win Quarter", "100.0"), ("Win Year", "100.0"),
      ("Beta", "2.07"), ("Alpha", "-0.06"),
      ("Correlation", "99.74"), ("Treynor Ratio", "1.66"))
    val rep = Reports.metrics(parityReturns, benchmark = Some(parityBenchmark), mode = "full")
    val got = rep.collect().map(r => r.getString(0) -> r.getString(2)).toSeq
    assert(got.length == expected.length)
    got.zip(expected).foreach { case ((gm, gv), (em, ev)) =>
      assert(gm == em, s"row order: got $gm want $em")
      assert(gv == ev, s"cell $gm: got $gv want $ev")
    }
  }

  // n-asset wide frame for the pass-structure guards
  private def wideReturns(nAssets: Int) = {
    val rnd = new scala.util.Random(7)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.DateType) +:
        (1 to nAssets).map(i => org.apache.spark.sql.types.StructField(
          s"a$i", org.apache.spark.sql.types.DoubleType)))
    val rows = (2 to 21).map { d =>
      org.apache.spark.sql.Row.fromSeq(
        java.sql.Date.valueOf(f"2023-01-$d%02d") +:
          Seq.fill(nAssets)(rnd.nextGaussian() / 100))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("full-report job count does not grow with column count (long-format passes)") {
    def run(n: Int): Long =
      Instrument.jobCount(spark) { Reports.metrics(wideReturns(n), mode = "full").collect() }
    run(2) // warm-up: codegen + cache machinery off the measurement
    val j2 = run(2)
    val j10 = run(10)
    info(s"full-report jobs: 2 assets -> $j2, 10 assets -> $j10")
    assert(j10 <= j2, s"job count grew with column count: $j2 -> $j10")
    // three aggregations over the long-format view — P0, the per-asset
    // pass, the calendar pass; AQE runs each shuffle stage as its own job,
    // and collecting the table (a local relation) runs none → 8 observed,
    // budget +2
    assert(j10 <= 10, s"full report should stay a fixed handful of jobs, got $j10")
  }

  test("full-report job count with benchmark: one extra pass, still column-count-invariant") {
    // the benchmark metrics ride in the per-asset pass, so the benchmark
    // adds only the join inside the prepare step — the job budget must stay
    // a fixed handful and must NOT grow with strategy columns (the
    // restructure-for-wins spot SURVEY §3 calls out)
    def run(n: Int): Long = Instrument.jobCount(spark) {
      Reports.metrics(wideReturns(n), benchmark = Some(parityBenchmark),
        matchDates = false, mode = "full").collect()
    }
    run(2) // warm-up
    val j2 = run(2)
    val j10 = run(10)
    info(s"full-report-with-benchmark jobs: 2 assets -> $j2, 10 assets -> $j10")
    assert(j10 <= j2, s"job count grew with column count: $j2 -> $j10")
    // 9 observed, budget +2
    assert(j10 <= 11, s"benchmarked full report should stay a fixed handful of jobs, got $j10")
  }

  test("100-asset x 10-year report: cells match per-column Stats calls, job budget holds") {
    import graft.stats.Stats
    // the largest report fixture elsewhere is 10 assets x 20 days; this is
    // the many-asset many-year shape a real multi-strategy report runs at.
    // Deterministic seed → the float paths are reproducible, so formatted
    // 2-dp parity between the report's long-format passes and the
    // per-column Stats.* wide path is a stable assertion.
    val nAssets = 100
    val dates = Iterator.iterate(java.time.LocalDate.of(2014, 1, 1))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.of(2023, 12, 29)))
      .filter(d => d.getDayOfWeek.getValue <= 5).toSeq
    val rnd = new scala.util.Random(42)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.DateType) +:
        (1 to nAssets).map(i => org.apache.spark.sql.types.StructField(
          s"a$i", org.apache.spark.sql.types.DoubleType)))
    val rows = dates.map { d =>
      org.apache.spark.sql.Row.fromSeq(java.sql.Date.valueOf(d) +:
        Seq.fill(nAssets)(rnd.nextGaussian() / 100 + 0.0003))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .cache()
    df.count()

    var rep: Array[org.apache.spark.sql.Row] = null
    val jobs = Instrument.jobCount(spark) {
      rep = Reports.metrics(df, mode = "full").collect()
    }
    info(s"100-asset full report ran in $jobs jobs")
    // the same bound the 10-asset guard pins (8 observed, +2): actions
    // must not grow with column count
    assert(jobs <= 10, s"job budget blown at 100 assets: $jobs")

    val byMetric = rep.map(r => r.getString(0) ->
      (1 to nAssets).map(i => r.getString(i)).toArray).toMap
    // (report row, Stats frame, display scale) — raw rows scale 1,
    // percent rows scale 100, all through the same formatValue
    val checks: Seq[(String, org.apache.spark.sql.DataFrame, Double)] = Seq(
      ("Cumulative Return", Stats.comp(df), 100.0),
      ("Sharpe", Stats.sharpe(df), 1.0),
      ("Sortino", Stats.sortino(df), 1.0),
      ("Volatility (ann.)", Stats.volatility(df), 100.0),
      ("Max Drawdown", Stats.maxDrawdown(df), 100.0),
      ("Skew", Stats.skew(df), 1.0),
      ("Kurtosis", Stats.kurtosis(df), 1.0),
      ("Win Days", Stats.winRate(df), 100.0))
    checks.foreach { case (metric, frame, scale) =>
      val row = frame.head()
      val idx = frame.columns.zipWithIndex.toMap
      (1 to nAssets).foreach { i =>
        val want = Reports.formatValue(row.getDouble(idx(s"a$i")) * scale)
        val got = byMetric(metric)(i - 1)
        assert(got == want, s"$metric a$i: report=$got stats=$want")
      }
    }
  }

  test("full-report plans hold the same number of aggregate expressions at 2 and 10 columns") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    // the job guards above cannot see a pass whose expression list grows
    // with the column count; this one counts the expressions themselves
    def aggExprs(n: Int, bench: Boolean): Int = Instrument.optimizedPlans(spark) {
      Reports.metrics(wideReturns(n), benchmark = if (bench) Some(parityBenchmark) else None,
        matchDates = false, mode = "full").collect()
    }.map(_.collect { case node => node.expressions.map(_.collect {
      case a: AggregateExpression => a }.size).sum }.sum).sum
    // measured: 147 without a benchmark, 191 with one — a change to a
    // pass's expression list shows here before it shows in time
    Seq(false -> 147, true -> 191).foreach { case (bench, measured) =>
      val (a2, a10) = (aggExprs(2, bench), aggExprs(10, bench))
      info(s"aggregate expressions (benchmark=$bench): 2 columns -> $a2, 10 columns -> $a10")
      assert(a2 == a10, s"plan size grew with column count: $a2 -> $a10")
      assert(a10 == measured, s"aggregate expressions (benchmark=$bench): $a10, measured $measured")
    }
  }

  test("empty returns frame fails with EmptyReturnsError") {
    val e = intercept[graft.core.EmptyReturnsError] {
      Reports.metrics(parityReturns.filter(col("asset") > 1.0), mode = "full")
    }
    assert(e.getMessage == "The returns frame is empty.")
  }

  test("benchmark with no overlapping dates (matchDates = true) fails with EmptyReturnsError") {
    val later = (2 to 11).map(d => java.sql.Date.valueOf(f"2024-02-$d%02d"))
      .zip(Seq.fill(10)(0.001)).toDF("date", "benchmark")
    val e = intercept[graft.core.EmptyReturnsError] {
      Reports.metrics(parityReturns, benchmark = Some(later), mode = "full")
    }
    assert(e.getMessage == "The returns frame, or its overlap with the benchmark, is empty.")
  }

  test("no unpartitioned (single-partition) windows anywhere in a full report") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plans = Instrument.optimizedPlans(spark) {
      Reports.metrics(wideReturns(10), mode = "full").collect()
    }
    assert(plans.nonEmpty)
    val bad = plans.flatMap(_.collect { case w: LWindow if w.partitionSpec.isEmpty => w })
    assert(bad.isEmpty, s"found ${bad.size} global windows: ${bad.headOption}")
  }

  test("full reports, with and without a benchmark, execute no Window and no Sort operator") {
    // the ordered metrics are one SeriesAgg in the per-asset aggregation:
    // no window stack, no sort, and so no single-partition global window
    Seq(None, Some(parityBenchmark)).foreach { bench =>
      val ops = Instrument.executedOperators(spark) {
        Reports.metrics(wideReturns(10), benchmark = bench, matchDates = false, mode = "full").collect()
      }
      assert(ops.exists(_.nodeName == "ObjectHashAggregate"), ops.map(_.nodeName).distinct)
      val bad = ops.filter(o => o.nodeName.contains("Window") || o.nodeName == "Sort")
      assert(bad.isEmpty, s"benchmark=${bench.isDefined}: ${bad.map(_.nodeName)}")
    }
  }

  test("display=true prints the table and returns the None-equivalent empty frame") {
    val buf = new java.io.ByteArrayOutputStream()
    val rep = Console.withOut(new java.io.PrintStream(buf)) {
      Reports.metrics(parityReturns, mode = "basic", display = true)
    }
    assert(rep.columns.toSeq == Seq("Metric", "Strategy"))
    assert(rep.count() == 0, "display=true must return the None-equivalent (reports.py:287-290)")
    val printed = buf.toString
    assert(printed.contains("Sharpe") && printed.contains("Max Drawdown"))
  }

  test("no-temporal returns: window rows are '-'") {
    val rep = Reports.metrics(Seq(0.01, -0.02, 0.03).toDF("returns"), mode = "basic")
    val cells = rep.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cells("MTD") == "-")
    assert(cells("Start Period") == "-")
    assert(cells("Gain/Pain (1M)") == "-")
  }
}
