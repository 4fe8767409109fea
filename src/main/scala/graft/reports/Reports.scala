package graft.reports

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Dist, Eager, EmptyReturnsError, Exprs, ReturnsFrame}
import graft.functions.SeriesAgg
import graft.stats.Calendar

/** QuantStats-style metrics table (reference: alphastats/reports.py:22-290).
  *
  * Semantics preserved from the reference:
  *  - strategy columns renamed to titles; benchmark inner/left-joined on the
  *    temporal column (reports.py:357-371);
  *  - NaN→null then **null→0** on every metric series (reports.py:376-378) —
  *    report metrics see zero-filled series, unlike bare Stats calls;
  *  - duration/streak rows are computed on bare series (no time axis), so
  *    episode lengths are ROW COUNTS in the report (reports.py:397-414);
  *  - percent rows ×100; cells rounded to 2, NaN/±Inf → "-", benchmark-only
  *    cells "-" (reports.py:411, 539-553);
  *  - exact row orders: basic 36 / full 70 (tests/test_quantstats_parity.py:57-167).
  *
  * Execution is restructured Spark-first (SURVEY.md §3 note): instead of the
  * reference's ~40 sequential one-metric queries per column, the prepared
  * frame is cached once and melted by `ReturnsFrame.long` — one row per
  * (date, asset), the benchmark return riding along on every row — and
  * every metric is a per-asset aggregate over that view. A report is three
  * passes whose plans do not grow with the column count:
  *  - P0, one driver round trip: row count, latest date and the null-aware
  *    start/end date per asset (the latest date fixes the trailing-window
  *    literals of the next pass);
  *  - the per-asset pass: ONE `groupBy(asset)` computes the scalar and
  *    benchmark metrics as plain aggregates and the ordered ones (drawdown,
  *    episodes, sign runs, lag-1 pairs, CVaR) through one
  *    [[graft.functions.SeriesAgg]] that walks each asset's series in order
  *    — one exchange, no window and no sort operator;
  *  - the calendar pass: ONE grouping-sets aggregation keyed on the asset
  *    and the month, quarter and year buckets of [[Calendar.Grain]], then
  *    one per-asset aggregation of the bucket returns.
  * The per-asset and calendar passes are independent, so they run at once
  * ([[graft.core.Eager]]); both read the cache P0 has already built. The
  * table itself is a local relation: collecting it runs no job.
  */
object Reports {

  def metrics(
      returns: DataFrame,
      benchmark: Option[DataFrame] = None,
      rf: Double = 0.0,
      mode: String = "basic",
      sep: Boolean = false,
      compounded: Boolean = true,
      periodsPerYear: Int = 252,
      matchDates: Boolean = true,
      strategyTitle: Option[Seq[String]] = None,
      benchmarkTitle: String = "Benchmark",
      asPct: Boolean = true,
      display: Boolean = false): DataFrame = {

    val spark = returns.sparkSession
    val pct: Double = if (asPct) 100.0 else 1.0
    val full = mode.toLowerCase == "full"

    // ---- prepare frame (reports.py:311-379) ----
    val rfm = ReturnsFrame(returns)
    val temporal = rfm.temporalCol
    val strategyNames = rfm.numericCols
    require(strategyNames.nonEmpty, "`returns` must contain at least one numeric return column")
    val strategyOut: Seq[String] = strategyTitle match {
      case Some(ts) =>
        require(ts.length == strategyNames.length,
          "`strategyTitle` must match the number of strategy return columns")
        ts
      case None => if (strategyNames.length == 1) Seq("Strategy") else strategyNames
    }
    var frame = rfm.df.select(
      temporal.map(col).toSeq ++
        strategyNames.zip(strategyOut).map { case (n, o) => col(n).as(o) }: _*)

    var outputNames = strategyOut
    var benchName: Option[String] = None
    benchmark.foreach { b =>
      val bm = ReturnsFrame.prepareBenchmark(b)
      benchName = Some(benchmarkTitle)
      val bdf = bm.df.select(
        bm.temporalCol.map(col).toSeq :+ col(ReturnsFrame.BenchmarkCol).as(benchmarkTitle): _*)
      frame = (temporal, bm.temporalCol) match {
        case (Some(lt), Some(rt)) =>
          val how = if (matchDates) "inner" else "left"
          frame.join(bdf.withColumnRenamed(rt, lt), Seq(lt), how)
        case _ => graft.core.AsOfJoin.positional(frame, bdf.select(col(benchmarkTitle)))
      }
      outputNames = benchmarkTitle +: strategyOut
    }
    frame = frame.cache()
    try {
      val rows = metricRows(frame, temporal, outputNames, benchName, rf, full, sep,
        compounded, periodsPerYear, pct)
      val out = buildOutput(spark, rows, outputNames)
      if (!display) out
      else {
        // reference parity: display=True PRINTS the table and returns None
        // (alphastats/reports.py:287-290) — here, an empty frame of the same
        // schema as the None-equivalent
        out.show(rows.size, truncate = false)
        spark.createDataFrame(java.util.Collections.emptyList[Row], out.schema)
      }
    } finally frame.unpersist()
  }

  /** The report's (label, per-column value) rows over the cached, prepared
    * frame: `names` are its metric columns (benchmark first, if any).
    */
  private def metricRows(frame: DataFrame, temporal: Option[String], names: Seq[String],
      benchName: Option[String], rf: Double, full: Boolean, sep: Boolean,
      compounded: Boolean, periodsPerYear: Int, pct: Double): Seq[(String, Map[String, Any])] = {
    val t = temporal.map(col).orNull

    // ---- the long view (`ReturnsFrame.long`): one row per (date, asset)
    // with the series order `__ord`/`__u`, the zero-filled benchmark return
    // `__b` (a typed null without a benchmark), the raw return, renamed
    // `__x`, and its zero-filled twin `__r` (reports.py:378). Not cached: it
    // is a projection of the cached frame ----
    val long = ReturnsFrame.long(frame, names, temporal,
      benchName.fold(lit(null).cast("double"))(bn =>
        coalesce(col(bn).cast("double"), lit(0.0))).as("__b"))
      .withColumnRenamed("__r", "__x")
      .withColumn("__r", coalesce(col("__x"), lit(0.0)))

    // ---- P0: row count, latest date and the start/end dates per asset
    // (the raw temporal scalar: time-of-day must survive for the trailing-
    // window boundaries) ----
    val p0 = byAsset(long, count(lit(1)).as("rows") +: temporal.toSeq.flatMap(_ => Seq(
      max(t).as("mx"),
      min(when(col("__x").isNotNull, t)).as("start"),
      max(when(col("__x").isNotNull, t)).as("end"))))
    // every asset has a group of all the frame's rows, so a zero-row frame
    // has none
    if (p0.isEmpty) throw EmptyReturnsError(benchName.isDefined)
    val maxRawOpt: Option[Any] =
      if (temporal.isEmpty) None else Option(p0.head._2.getAs[Any]("mx"))

    // the two passes are independent, so they run at once
    val (main, calendar) = Eager.both(
      perAssetPass(long, t, maxRawOpt, benchName, rf, compounded, periodsPerYear),
      calendarPass(long, t, temporal, rf, full))

    def field(row: Row, k: String): Any = {
      val i = row.fieldIndex(k)
      if (row.isNullAt(i)) Double.NaN else row.get(i)
    }
    def g(k: String, n: String): Double = field(main(n), k) match {
      case d: Double => d
      case l: Long => l.toDouble
    }
    // the ordered metrics of each asset (drawdowns, episodes, streaks, the
    // smart ratios' autocorrelation penalty)
    val series: Map[String, SeriesAgg.Result] =
      main.map { case (n, row) => n -> SeriesAgg.Result(row.getStruct(row.fieldIndex("series"))) }
    def sv(v: Option[Double]): Double = v.getOrElse(Double.NaN)
    def gb(k: String, n: String): Any = calendar.fold[Any]("-")(rows => field(rows(n), k))
    def gbm(k: String, n: String): Any = if (benchName.contains(n)) "-" else field(main(n), k)
    def date(k: String, n: String): Any = if (temporal.isEmpty) null else p0(n).getAs[Any](k)

    // ---- assemble rows ----
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Any])]
    def add(label: String, f: String => Any): Unit =
      rows += label -> names.map(n => n -> f(n)).toMap
    def addSep(): Unit = if (sep) rows += "" -> names.map(_ -> ("": Any)).toMap

    def fmtDate(v: Any): String = v match {
      case null => "-"
      case d: Date => d.toLocalDate.toString
      case ts: Timestamp => ts.toLocalDateTime.toLocalDate.toString
      case other => other.toString
    }

    add("Start Period", n => fmtDate(date("start", n)))
    add("End Period", n => fmtDate(date("end", n)))
    add("Risk-Free Rate", _ => rf * pct)
    add("Time in Market", n => g("exposure", n) * pct)
    addSep()
    if (compounded) add("Cumulative Return", n => g("comp", n) * pct)
    else add("Total Return", n => g("sum", n) * pct)
    add("CAGR﹪", n => g("cagr", n) * pct)
    addSep()
    add("Sharpe", n => g("sharpe", n))
    add("Prob. Sharpe Ratio", n =>
      Dist.psr(g("sharpe_na", n), g("skew", n), g("kurt", n), g("count", n), rf, annualize = false) * pct)
    if (full) add("Smart Sharpe", n => g("sharpe", n) / series(n).penalty)
    add("Sortino", n => g("sortino", n))
    if (full) add("Smart Sortino", n => g("sortino", n) / series(n).penalty)
    add("Sortino/√2", n => g("sortino", n) / math.sqrt(2.0))
    if (full) add("Smart Sortino/√2", n => g("sortino", n) / series(n).penalty / math.sqrt(2.0))
    add("Omega", n => g("omega", n))
    addSep()
    add("Max Drawdown", n => sv(series(n).maxDrawdown) * pct)
    add("Longest DD Days", n => series(n).longestEpisode)
    if (full) {
      addSep()
      add("Volatility (ann.)", n => g("vol", n) * pct)
      if (benchName.isDefined) {
        add("R^2", n => gbm("r2", n))
        add("Information Ratio", n => gbm("ir", n))
      }
      add("Calmar", n => {
        val mdd = math.abs(sv(series(n).maxDrawdown))
        if (mdd == 0) Double.NaN else g("cagr0", n) / mdd
      })
      add("Skew", n => g("skew", n))
      add("Kurtosis", n => g("kurt", n))
      add("Expected Daily", n => g("expd", n) * pct)
      add("Expected Monthly", n => numOrDash(gb("expm", n), pct))
      add("Expected Yearly", n => numOrDash(gb("expy", n), pct))
      add("Kelly Criterion", n => g("kelly", n) * pct)
      add("Risk of Ruin", n => g("ror", n))
      add("Daily Value-at-Risk", n => g("var", n) * pct)
      add("Expected Shortfall (cVaR)", n => sv(series(n).cvar) * pct)
      add("Max Consecutive Wins", n => series(n).wins)
      add("Max Consecutive Losses", n => series(n).losses)
    }
    addSep()
    add("Gain/Pain Ratio", n => g("g2p", n))
    add("Gain/Pain (1M)", n => numOrDash(gb("g2p1m", n), 1.0))
    addSep()
    add("Payoff Ratio", n => g("payoff", n))
    add("Profit Factor", n => g("pf", n))
    add("Common Sense Ratio", n => g("csr", n))
    add("CPC Index", n => g("cpc", n))
    add("Tail Ratio", n => g("tail", n))
    add("Outlier Win Ratio", n => g("owr", n))
    add("Outlier Loss Ratio", n => g("olr", n))
    addSep()
    def windowRow(k: String, n: String): Any =
      if (temporal.isEmpty || maxRawOpt.isEmpty) "-" else g(k, n) * pct
    add("MTD", n => windowRow("mtd", n))
    add("3M", n => windowRow("m3", n))
    add("6M", n => windowRow("m6", n))
    add("YTD", n => windowRow("ytd", n))
    add("1Y", n => windowRow("y1", n))
    add("3Y (ann.)", n => windowRow("y3", n))
    add("5Y (ann.)", n => windowRow("y5", n))
    add("10Y (ann.)", n => windowRow("y10", n))
    add("All-time (ann.)", n => g("cagr0", n) * pct)
    if (full) {
      addSep()
      add("Best Day", n => g("best", n) * pct)
      add("Worst Day", n => g("worst", n) * pct)
      add("Best Month", n => numOrDash(gb("bestm", n), pct))
      add("Worst Month", n => numOrDash(gb("worstm", n), pct))
      add("Best Year", n => numOrDash(gb("besty", n), pct))
      add("Worst Year", n => numOrDash(gb("worsty", n), pct))
    }
    addSep()
    add("Avg. Drawdown", n => series(n).avgDepth * pct)
    add("Avg. Drawdown Days", n => series(n).avgEpisode)
    add("Recovery Factor", n => sv(series(n).recovery(0.0)))
    add("Ulcer Index", n => sv(series(n).ulcer))
    add("Serenity Index", n => sv(series(n).serenity(rf)))
    if (full) {
      addSep()
      add("Avg. Up Month", n => numOrDash(gb("avgup", n), pct))
      add("Avg. Down Month", n => numOrDash(gb("avgdown", n), pct))
      add("Win Days", n => g("windays", n) * pct)
      add("Win Month", n => numOrDash(gb("winm", n), pct))
      add("Win Quarter", n => numOrDash(gb("winq", n), pct))
      add("Win Year", n => numOrDash(gb("winy", n), pct))
      if (benchName.isDefined) {
        addSep()
        add("Beta", n => gbm("beta", n))
        add("Alpha", n => gbm("alpha", n))
        add("Correlation", n => gbm("corr", n) match {
          case d: Double => d * pct
          case other => other
        })
        add("Treynor Ratio", n => gbm("treynor", n) match {
          case d: Double => d * pct
          case other => other
        })
      }
    }

    rows.toSeq
  }

  /** Every non-calendar metric of every asset in ONE `groupBy(asset)`: the
    * plain aggregates plus one [[graft.functions.SeriesAgg]], which walks
    * each asset's series in order for the drawdown, episode, streak, CVaR
    * and lag-1 metrics. Row counts, not calendar days, measure episodes and
    * streaks (reports.py:397-414).
    */
  private def perAssetPass(long: DataFrame, t: Column, maxRawOpt: Option[Any],
      benchName: Option[String], rf: Double, compounded: Boolean,
      periodsPerYear: Int): Map[String, Row] = {
    val r = col("__r")
    val b = col("__b")
    val scalars = Seq(
      Exprs.exposure(r).as("exposure"),
      Exprs.comp(r).as("comp"),
      sum(r).as("sum"),
      Exprs.cagr(r, rf, compounded, periodsPerYear).as("cagr"),
      Exprs.cagr(r, 0.0, compounded, periodsPerYear).as("cagr0"),
      Exprs.sharpe(r, rf, periodsPerYear, annualize = true).as("sharpe"),
      // PSR base: NO rf here — the reference's probabilistic_sharpe_ratio
      // uses a no-rf Sharpe and subtracts rf once in the CDF argument
      // (alphastats/stats.py:277,295)
      Exprs.sharpe(r, 0.0, periodsPerYear, annualize = false).as("sharpe_na"),
      Exprs.sortino(r, rf, periodsPerYear, annualize = true).as("sortino"),
      Exprs.omega(r, 0.0).as("omega"),
      Exprs.gainToPain(r, rf).as("g2p"),
      Exprs.payoffRatio(r).as("payoff"),
      Exprs.profitFactor(r).as("pf"),
      Exprs.commonSenseRatio(r).as("csr"),
      Exprs.cpcIndex(r).as("cpc"),
      Exprs.tailRatio(r, 0.95).as("tail"),
      Exprs.outlierWinRatio(r, 0.99).as("owr"),
      Exprs.outlierLossRatio(r, 0.01).as("olr"),
      Exprs.skew(r).as("skew"),
      Exprs.kurtosis(r).as("kurt"),
      Exprs.expectedReturn(r).as("expd"),
      Exprs.kellyCriterion(r).as("kelly"),
      Exprs.riskOfRuin(r).as("ror"),
      Exprs.valueAtRisk(r, 1.0, 0.95).as("var"),
      Exprs.volatility(r, periodsPerYear, annualize = true).as("vol"),
      Exprs.winRate(r).as("windays"),
      max(r).as("best"),
      min(r).as("worst"),
      count(r).as("count"))
    // the trailing windows: the wide API's period comp and CAGR
    // (`Calendar.periodComp`/`periodCagr`) over the returns inside the window
    val trailing = maxRawOpt.toSeq.flatMap { mx =>
      def within(p: Calendar.Period): Column = when(Calendar.within(t, p, mx), r)
      def cagr(p: Calendar.Period): Column =
        Exprs.cagr(within(p), 0.0, compound = true, periodsPerYear)
      Seq(
        Exprs.comp(within(Calendar.Mtd)).as("mtd"),
        Exprs.comp(within(Calendar.Months(3))).as("m3"),
        Exprs.comp(within(Calendar.Months(6))).as("m6"),
        Exprs.comp(within(Calendar.Ytd)).as("ytd"),
        Exprs.comp(within(Calendar.Years(1))).as("y1"),
        cagr(Calendar.Years(3)).as("y3"),
        cagr(Calendar.Years(5)).as("y5"),
        cagr(Calendar.Years(10)).as("y10"))
    }
    val benchmarked = if (benchName.isEmpty) Nil else Seq(
      Exprs.rSquared(r, b).as("r2"),
      Exprs.informationRatio(r, b, periodsPerYear, annualize = false).as("ir"),
      Exprs.beta(r, b).as("beta"),
      // the reference's Alpha row calls stats.greeks with its DEFAULT
      // periods=252 regardless of periods_per_year (reports.py _greek) —
      // preserve the quirk
      Exprs.alpha(r, b, 252).as("alpha"),
      Exprs.correlation(r, b).as("corr"),
      Exprs.treynor(r, b, rf).as("treynor"))
    val series = SeriesAgg(SeriesAgg.Rows)(col("__ord"), col("__u"), r).as("series")
    // Hash-partitioned by asset first, so each asset's rows meet in one task,
    // in the cached frame's order, and the plain aggregates run sequentially
    // instead of as merged partials: their float results are reproducible,
    // and a constant series keeps an exactly zero variance (merged partial
    // moments leave a rounding residue — a flat column with rf ≠ 0 would read
    // a Sharpe of −1.9e17 instead of "-"). SeriesAgg buffers every row for
    // the exchange anyway, so this moves no more data than partials would.
    byAsset(long.repartition(col("__asset")), scalars ++ trailing ++ benchmarked :+ series)
  }

  /** The calendar family — monthly, quarterly and yearly bucket returns and
    * their per-asset finals — for every asset in one grouping-sets pass
    * plus one per-asset aggregation. `None` without a time axis.
    */
  private def calendarPass(long: DataFrame, t: Column, temporal: Option[String], rf: Double,
      full: Boolean): Option[Map[String, Row]] = temporal.map { _ =>
    // (name, final over the bucket returns, compounded buckets?)
    val monthlyFinals: Seq[(String, Column => Column, Boolean)] =
      ("g2p1m", (c: Column) => Exprs.gainToPain(c, rf), false) +: (if (full) Seq(
        ("expm", Exprs.expectedReturn: Column => Column, true),
        ("bestm", (c: Column) => max(c), true),
        ("worstm", (c: Column) => min(c), true),
        ("avgup", Exprs.avgWin: Column => Column, true),
        ("avgdown", Exprs.avgLoss: Column => Column, true),
        ("winm", Exprs.winRate: Column => Column, true)) else Nil)
    val quarterlyFinals: Seq[(String, Column => Column, Boolean)] =
      if (!full) Nil else Seq(("winq", Exprs.winRate: Column => Column, true))
    val yearlyFinals: Seq[(String, Column => Column, Boolean)] =
      if (!full) Nil else Seq(
        ("expy", Exprs.expectedReturn: Column => Column, true),
        ("besty", (c: Column) => max(c), true),
        ("worsty", (c: Column) => min(c), true),
        ("winy", Exprs.winRate: Column => Column, true))
    val grains = Seq(Calendar.Grain.Month -> monthlyFinals,
      Calendar.Grain.Quarter -> quarterlyFinals, Calendar.Grain.Year -> yearlyFinals)
    val all = grains.flatMap(_._2)
    val r = col("__r")
    val bucketVals = Seq(true -> "__c", false -> "__s").collect {
      case (comp, n) if all.exists(_._3 == comp) => Calendar.bucketReturn(r, comp).as(n)
    }
    // one grouping set per grain in use over (asset, every grain's keys): a
    // grain's grouping id sets the bit of each key it does not group by, and
    // each final reads only its grain's buckets through `when(gid = grain)`
    // (every final skips nulls)
    val parts = grains.flatMap(_._1.parts).distinctBy(_._1)
    def gid(g: Calendar.Grain): Int =
      parts.foldLeft(0)((id, p) => 2 * id + (if (g.names.contains(p._1)) 0 else 1))
    val sets = grains.collect { case (g, fs) if fs.nonEmpty => ("__asset" +: g.names).map(col) }
    val buckets = long.select(col("__asset") +: r +: parts.map { case (n, f) => f(t).as(n) }: _*)
      .groupingSets(sets, ("__asset" +: parts.map(_._1)).map(col): _*)
      .agg(grouping_id().as("__gid"), bucketVals: _*)
    val aggs = grains.flatMap { case (g, fs) => fs.map { case (k, f, comp) =>
      f(when(col("__gid") === gid(g), col(if (comp) "__c" else "__s"))).as(k)
    } }
    byAsset(buckets, aggs)
  }

  /** One aggregation grouped by `__asset`, collected as asset → row. */
  private def byAsset(df: DataFrame, aggs: Seq[Column]): Map[String, Row] =
    df.groupBy(col("__asset")).agg(aggs.head, aggs.tail: _*).collect()
      .map(row => row.getAs[String]("__asset") -> row).toMap

  private def numOrDash(v: Any, mult: Double): Any = v match {
    case d: Double => d * mult
    case other => other
  }

  /** Python-parity cell formatting (reports.py:539-553). */
  def formatValue(v: Any): String = v match {
    case null => "-"
    case s: String => s
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "-"
      else {
        // Python round() operates on the EXACT binary expansion of the
        // double (12.345 is stored as 12.34500000000000064 → "12.35");
        // java BigDecimal.valueOf / scala BigDecimal(Double) would use the
        // shortest repr and round the other way.
        val rounded = new java.math.BigDecimal(d)
          .setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()
        if (rounded == 0.0) "0"
        else {
          // matches Python str(): shortest repr, ".0" kept — but Java's
          // Double.toString switches to E-notation at |x| ≥ 1e7 where
          // Python stays positional until 1e16 ("10000000.57", not
          // "1.000000057E7"). Re-render the SAME shortest-repr digits
          // positionally; values ≥ 1e16 (Python goes scientific with a
          // different spelling) don't occur in a 2dp-rounded report cell
          // a human reads, and fall back to the Java spelling.
          val s = rounded.toString
          if (!s.contains("E") || math.abs(rounded) >= 1e16) s
          else {
            val plain = new java.math.BigDecimal(s).toPlainString
            if (plain.contains(".")) plain else plain + ".0"
          }
        }
      }
    case other => other.toString
  }

  private def buildOutput(spark: SparkSession, rows: Seq[(String, Map[String, Any])],
      names: Seq[String]): DataFrame = {
    val schema = StructType(StructField("Metric", StringType, nullable = false) +:
      names.map(n => StructField(n, StringType, nullable = false)))
    val data = rows.map { case (label, values) =>
      Row.fromSeq(label +: names.map(n => formatValue(values.getOrElse(n, "-"))))
    }
    spark.createDataFrame(data.asJava, schema)
  }
}
