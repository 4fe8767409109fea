package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.Exprs
import graft.core.Exprs.fdiv
import graft.functions.GraftProduct.product
import graft.functions.SeriesAgg

/** Long-format (asset-keyed) series frame: `keys` identify a series, `ts`
  * orders it, `value` is the per-period return/measure.
  *
  * This is the 100-TB shape of the engine (SURVEY.md §7.1 design rules):
  * metrics become `groupBy(keys)` aggregations, and the ordered ones walk
  * each series once inside that aggregation, so work distributes across
  * executors instead of the reference's one-column-per-asset wide frames.
  * The wide [[graft.stats.Stats]] API is the reference-parity edge; this is
  * the scale core.
  */
final case class SeriesFrame(df: DataFrame, keys: Seq[String], ts: String, value: String) {
  def keyCols: Seq[Column] = keys.map(col)
  def r: Column = col(value)

  /** Running (unbounded-preceding) window per series. */
  def runWindow: WindowSpec =
    Window.partitionBy(keyCols: _*).orderBy(col(ts))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
}

/** Per-key metric computation over a [[SeriesFrame]]. Every metric is one
  * `groupBy(keys)`, so one shuffle on the keys.
  *
  * The ordered metrics — drawdowns, VaR/CVaR, streaks, drawdown episodes and
  * the lag-1 autocorrelation of the smart ratios — are one
  * [[graft.functions.SeriesAgg]] in that `groupBy`, next to the plain
  * aggregates: it buffers each key's rows, sorts them by `ts` and walks them
  * once, so these calls plan no window and no sort. Memory: the buffer holds
  * the whole series, O(series length) per key per task, about 25 B per row
  * (order key, tie-break, return, null flags). `ts` must be a date,
  * timestamp or integral column; any other type fails at call time.
  *
  * Row-level outputs — [[withDrawdown]], [[drawdownDetails]], [[rolling]] —
  * stay key-partitioned windows.
  */
object GroupedStats {

  /** Melt a reference-style wide frame (one numeric column per asset, one
    * temporal column) into the long scale format: (asset, ts, r). This is
    * the bridge from the reference's data model to the partition-by-key
    * engine core — at 100 TB, N assets become N groups instead of N
    * columns.
    */
  def fromWide(df: DataFrame, tsCol: String, assetCol: String = "asset",
      valueCol: String = "r"): SeriesFrame = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
    }.toSeq
    val stacked = df.select(col(tsCol), explode(map(
      numeric.flatMap(c => Seq(lit(c), col(c).cast("double"))): _*))
      .as(Seq(assetCol, valueCol)))
    SeriesFrame(stacked, Seq(assetCol), tsCol, valueCol)
  }

  /** One row per key with the given named metric expressions. */
  def aggregate(sf: SeriesFrame, metrics: Seq[(String, Column => Column)]): DataFrame = {
    val exprs = metrics.map { case (n, f) => f(sf.r).as(n) }
    sf.df.groupBy(sf.keyCols: _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Appends `__wealth` and `__dd` per series: wealth Π(1+r) over the running
    * window, and the clipped drawdown wealth ÷ running peak − 1, at most 0,
    * null where `r` is null.
    */
  def withDrawdown(sf: SeriesFrame): SeriesFrame = {
    val w = sf.runWindow
    val wealth = col("__wealth")
    val withWealth = sf.df.withColumn("__wealth", product(sf.r + lit(1.0)).over(w))
    sf.copy(df = withWealth.withColumn("__dd", when(sf.r.isNull, lit(null))
      .otherwise(least(fdiv(wealth, max(wealth).over(w)) - lit(1.0), lit(0.0)))))
  }

  /** One `groupBy(keys)`: the [[SeriesAgg]] struct of each series as `__s`,
    * then `plain`. The series is ordered by `key` (default: `ts`'s order
    * key), ties by `ts`'s order key. Episode lengths are measured as key
    * differences in days; only [[drawdownEpisodes]] reads them, and it
    * passes a day key.
    */
  private[graft] def walk(sf: SeriesFrame, plain: Seq[Column] = Nil, rz: Double = SeriesAgg.Z05,
      key: Option[Column] = None): DataFrame = {
    val ts = SeriesAgg.orderKey(col(sf.ts), sf.df.schema(sf.ts).dataType)
    val s = SeriesAgg(SeriesAgg.Days, rz)(key.getOrElse(ts), coalesce(ts, lit(0L)), sf.r)
    sf.df.groupBy(sf.keyCols: _*).agg(s.as("__s"), plain: _*)
  }

  /** A field of [[walk]]'s struct. */
  private[graft] def walked(field: String): Column = col("__s").getField(field)

  /** max_drawdown / ulcer_index / recovery_factor (+ any extra metric
    * expressions over the raw returns) in ONE aggregation.
    */
  def drawdownStats(sf: SeriesFrame, extra: Seq[(String, Column => Column)] = Nil): DataFrame =
    walk(sf, extra.map { case (n, f) => f(sf.r).as(n) }).select(sf.keyCols ++ Seq(
      walked("maxDrawdown").as("max_drawdown"),
      sqrt(fdiv(walked("ddSquares"), walked("n") - lit(1L))).as("ulcer_index"),
      fdiv(abs(walked("sum")), abs(walked("maxDrawdown"))).as("recovery_factor")) ++
      extra.map { case (n, _) => col(n) }: _*)

  /** Parametric VaR, mean + Φ⁻¹(1 − confidence)·sigma·σ, and conditional VaR,
    * the mean of the returns below it, else VaR (reference:
    * alphastats/stats.py:1223-1246).
    */
  def varCvar(sf: SeriesFrame, sigma: Double = 1.0, confidence: Double = 0.95): DataFrame = {
    val conf = if (confidence > 1) confidence / 100 else confidence
    val rz = graft.core.Dist.invCdf(1 - conf) * sigma
    walk(sf, rz = rz).select(sf.keyCols ++ Seq(
      (walked("sum") / walked("n") + lit(rz) * walked("std")).as("value_at_risk"),
      walked("cvar").as("cvar")): _*)
  }

  /** Per-key smart Sharpe: sharpe ÷ autocorrelation penalty, fully
    * distributed (reference: alphastats/stats.py:1334-1346). The walk pairs
    * each return with the previous NON-NULL one (the wide API's
    * null-filtered lag) and gives the penalty of that lag-1 correlation as a
    * struct field; the base sharpe is a plain aggregate of the same
    * `groupBy` — nothing is collected, so it scales to any number of keys.
    */
  def smartSharpe(sf: SeriesFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame =
    walk(sf, Seq(Exprs.sharpe(sf.r, rf, periods, annualize).as("sharpe"))).select(sf.keyCols ++ Seq(
      col("sharpe"),
      walked("penalty").as("autocorr_penalty"),
      (col("sharpe") / walked("penalty")).as("smart_sharpe")): _*)

  /** Longest win and loss streaks per key, 0 without any (a null return is
    * its own run) — the reference's driver loop
    * (alphastats/stats.py:1249-1289), run per key.
    */
  def streaks(sf: SeriesFrame): DataFrame =
    walk(sf).select(sf.keyCols ++ Seq(
      walked("wins").as("consecutive_wins"), walked("losses").as("consecutive_losses")): _*)

  /** Drawdown-episode metrics per key: longest/avg duration in calendar days,
    * (last − first date) + 1 by `datediff` — on a timestamp `ts`, dates in
    * the session time zone — plus mean episode depth (reference:
    * alphastats/stats.py:1570-1642). A key without episodes has no row;
    * `ts` must be a date or timestamp.
    */
  def drawdownEpisodes(sf: SeriesFrame): DataFrame = {
    val days = datediff(col(sf.ts), lit(java.time.LocalDate.EPOCH)).cast("long")
    walk(sf, key = Some(days)).filter(walked("episodes") > 0).select(sf.keyCols ++ Seq(
      walked("longestEpisode").as("longest_dd_days"),
      walked("avgEpisode").as("avg_dd_days"),
      walked("avgDepth").as("avg_drawdown")): _*)
  }

  /** Per-episode drawdown table: one row per drawdown episode per key with
    * start/end timestamps, calendar-day duration, and depth (min drawdown) —
    * the inspectable form behind [[drawdownEpisodes]]' aggregates.
    */
  def drawdownDetails(sf: SeriesFrame): DataFrame = {
    val dd = withDrawdown(sf)
    val inDd = col("__dd").isNotNull && col("__dd") < 0
    val w = Window.partitionBy(sf.keyCols: _*).orderBy(col(sf.ts))
    val wf = Window.partitionBy(sf.keyCols :+ col("__in"): _*).orderBy(col(sf.ts))
    dd.df.withColumn("__in", inDd)
      .withColumn("__island", row_number().over(w) - row_number().over(wf))
      .filter(col("__in"))
      .groupBy(sf.keyCols :+ col("__island"): _*)
      .agg(
        min(col(sf.ts)).as("start"),
        max(col(sf.ts)).as("end"),
        (datediff(max(col(sf.ts)), min(col(sf.ts))) + 1).cast("long").as("days"),
        min(col("__dd")).as("depth"),
        count(lit(1)).as("n_periods"))
      .drop("__island")
      .orderBy(sf.keyCols :+ col("start"): _*)
  }

  /** Benchmark-relative metrics per key against a (date, benchmark-return)
    * frame, joined by equality on ts, with the wide API's formulas
    * ([[graft.core.Exprs]]: α at `periods`, un-annualized information
    * ratio, Treynor with rf = 0). The benchmark is tiny relative to the
    * series data → broadcast join, no shuffle of the big side.
    */
  def benchmarked(sf: SeriesFrame, bench: DataFrame, benchTs: String, benchVal: String,
      periods: Int = 252): DataFrame = {
    val j = sf.df.join(broadcast(bench.select(col(benchTs).as(sf.ts), col(benchVal).as("__b"))), sf.ts)
    val b = col("__b")
    j.groupBy(sf.keyCols: _*).agg(
      Exprs.alpha(sf.r, b, periods).as("alpha"),
      Exprs.beta(sf.r, b).as("beta"),
      Exprs.correlation(sf.r, b).as("correlation"),
      Exprs.rSquared(sf.r, b).as("r_squared"),
      Exprs.treynor(sf.r, b, rf = 0.0).as("treynor_ratio"),
      Exprs.informationRatio(sf.r, b, periods, annualize = false).as("information_ratio"))
  }

  /** Weighted portfolio returns from a long multi-asset frame: one output
    * row per ts with r_p = Σ wᵢ·rᵢ (weights of missing assets contribute
    * nothing that period; absent weights default 0). The result is a
    * single-series frame usable with every metric in this API — the standard
    * asset→portfolio rollup, one shuffle on ts.
    */
  def portfolioReturns(sf: SeriesFrame, weights: Map[String, Double],
      keyCol: String): SeriesFrame = {
    val wExpr = weights.foldLeft(lit(0.0)) { case (acc, (k, wt)) =>
      when(col(keyCol) === k, lit(wt)).otherwise(acc)
    }
    val out = sf.df
      .withColumn("__w", wExpr)
      .groupBy(col(sf.ts))
      .agg(sum(col("__w") * sf.r).as(sf.value))
    SeriesFrame(out.withColumn("__k", lit("portfolio")), Seq("__k"), sf.ts, sf.value)
  }

  /** Trailing-window (rolling) metrics per series: the last `n` rows at
    * every point. Key-partitioned sliding frames — each series' windows
    * evaluate within its partition, no cross-key traffic. Beyond the
    * reference surface (QuantStats' rolling_* family analog) — a pipeline
    * monitoring staple.
    */
  def rolling(sf: SeriesFrame, n: Int,
      metrics: Seq[(String, (Column, WindowSpec) => Column)]): DataFrame = {
    val w = Window.partitionBy(sf.keyCols: _*).orderBy(col(sf.ts))
      .rowsBetween(-(n - 1), Window.currentRow)
    sf.df.select(sf.keyCols ++ Seq(col(sf.ts)) ++
      metrics.map { case (name, f) => f(sf.r, w).as(name) }: _*)
  }

  /** Window-aware metric builders for [[rolling]] (each aggregate gets its
    * own `.over`).
    */
  object Rolling {
    def sharpe(periods: Int): (Column, WindowSpec) => Column = (r, w) =>
      fdiv(avg(r).over(w), stddev_samp(r).over(w)) * math.sqrt(periods.toDouble)
    def volatility(periods: Int): (Column, WindowSpec) => Column = (r, w) =>
      stddev_samp(r).over(w) * math.sqrt(periods.toDouble)
    def comp: (Column, WindowSpec) => Column = (r, w) =>
      product(r + lit(1.0)).over(w) - lit(1.0)
    def mean: (Column, WindowSpec) => Column = (r, w) => avg(r).over(w)
  }

  /** Two-stage salted aggregation for skewed keys: rows are pre-aggregated
    * on (keys, salt) — bounding the hottest reduce task to ~1/salts of the
    * key's rows — then the per-salt partials merge in a second (tiny)
    * aggregation. Valid for semigroup metrics where the metric applied to
    * partial results equals the metric over raw rows (sum, count-sums, min,
    * max, product — NOT avg/stddev directly; decompose those into sums
    * first). AQE's skew handling covers joins; this covers aggregations
    * with pathological key cardinality.
    */
  def saltedSemigroupAgg(sf: SeriesFrame, salts: Int,
      metrics: Seq[(String, Column => Column)]): DataFrame = {
    val salted = sf.df.withColumn("__salt",
      pmod(hash(col(sf.ts)), lit(salts)))
    val partials = metrics.map { case (n, f) => f(sf.r).as(n) }
    val stage1 = salted.groupBy((sf.keys :+ "__salt").map(col): _*)
      .agg(partials.head, partials.tail: _*)
    val merged = metrics.map { case (n, f) => f(col(n)).as(n) }
    stage1.groupBy(sf.keyCols: _*).agg(merged.head, merged.tail: _*)
  }

  /** Calendar re-bucketing in long format: one row per (keys, bucket) with
    * comp-or-sum of the value — the scalable `_simple_returns`.
    */
  def calendarReturns(sf: SeriesFrame, bucket: Seq[Column => Column],
      compounded: Boolean = true): SeriesFrame = {
    val bucketCols = bucket.zipWithIndex.map { case (f, i) => f(col(sf.ts)).as(s"__b$i") }
    val bucketNames = bucket.indices.map(i => s"__b$i")
    val aggExpr = (if (compounded) Exprs.comp(sf.r) else sum(sf.r)).as(sf.value)
    val grouped = sf.df.select(sf.keyCols ++ bucketCols :+ sf.r: _*)
      .groupBy((sf.keys ++ bucketNames).map(col): _*)
      .agg(aggExpr)
      .withColumn("__bucket_ord",
        concat_ws("-", bucketNames.map(n => lpad(col(n).cast("string"), 6, "0")): _*))
    SeriesFrame(grouped, sf.keys, "__bucket_ord", sf.value)
  }
}
