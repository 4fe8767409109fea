package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.Exprs
import graft.core.Exprs.fdiv
import graft.functions.GraftProduct.product

/** Long-format (asset-keyed) series frame: `keys` identify a series, `ts`
  * orders it, `value` is the per-period return/measure.
  *
  * This is the 100-TB shape of the engine (SURVEY.md §7.1 design rules):
  * metrics become `groupBy(keys)` aggregations and windows partition by
  * `keys`, so work distributes across executors instead of the reference's
  * one-column-per-asset wide frames. The wide [[graft.stats.Stats]] API is
  * the reference-parity edge; this is the scale core.
  */
final case class SeriesFrame(df: DataFrame, keys: Seq[String], ts: String, value: String) {
  def keyCols: Seq[Column] = keys.map(col)
  def r: Column = col(value)

  /** Running (unbounded-preceding) window per series. */
  def runWindow: WindowSpec =
    Window.partitionBy(keyCols: _*).orderBy(col(ts))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Whole-series window (for broadcasting a per-key aggregate to rows). */
  def wholeWindow: WindowSpec = Window.partitionBy(keyCols: _*)
}

/** Per-key metric computation over a [[SeriesFrame]]. One `aggregate` call =
  * one shuffle on the keys; window passes reuse the same hash partitioning,
  * so multi-stage metrics (drawdowns, CVaR, episodes) stay at a single
  * exchange under AQE.
  */
object GroupedStats {

  /** Melt a reference-style wide frame (one numeric column per asset, one
    * temporal column) into the long scale format: (asset, ts, r). This is
    * the bridge from the reference's data model to the partition-by-key
    * engine core — at 100 TB, N assets become N window partitions instead
    * of N columns.
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

  /** Appends `__wealth` and `__dd` (clipped drawdown) per series. */
  def withDrawdown(sf: SeriesFrame): SeriesFrame = {
    val w = sf.runWindow
    val step1 = sf.df.withColumn("__wealth", product(sf.r + lit(1.0)).over(w))
    val step2 = step1.withColumn("__dd", drawdown(sf.r, col("__wealth"), w))
    sf.copy(df = step2)
  }

  /** Clipped drawdown of return `r` from its running `wealth` (Π(1+r) over
    * the running window `w`): wealth ÷ running peak − 1, at most 0; null
    * where `r` is null.
    */
  def drawdown(r: Column, wealth: Column, w: WindowSpec): Column =
    when(r.isNull, lit(null))
      .otherwise(least(fdiv(wealth, max(wealth).over(w)) - lit(1.0), lit(0.0)))

  /** max_drawdown / ulcer_index / recovery_factor (+ any extra metric
    * expressions over the raw returns) in ONE aggregation over the
    * dd-augmented frame.
    */
  def drawdownStats(sf: SeriesFrame, extra: Seq[(String, Column => Column)] = Nil): DataFrame = {
    val dd = withDrawdown(sf)
    val ddCol = col("__dd")
    val exprs = Seq(
      min(ddCol).as("max_drawdown"),
      sqrt(fdiv(sum(ddCol * ddCol), count(dd.r) - lit(1))).as("ulcer_index"),
      fdiv(abs(sum(dd.r)), abs(min(ddCol))).as("recovery_factor")
    ) ++ extra.map { case (n, f) => f(dd.r).as(n) }
    dd.df.groupBy(sf.keyCols: _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Parametric VaR + conditional VaR per key. The per-key VaR is broadcast
    * to rows via a whole-partition window (same shuffle key as the final
    * groupBy → one exchange), then CVaR is a conditional mean with VaR
    * fallback (reference: alphastats/stats.py:1223-1246).
    */
  def varCvar(sf: SeriesFrame, sigma: Double = 1.0, confidence: Double = 0.95): DataFrame = {
    val conf = if (confidence > 1) confidence / 100 else confidence
    val z = graft.core.Dist.invCdf(1 - conf)
    val whole = sf.wholeWindow
    val withVar = sf.df.withColumn("__var",
      avg(sf.r).over(whole) + lit(z * sigma) * stddev_samp(sf.r).over(whole))
    withVar.groupBy(sf.keyCols: _*).agg(
      first(col("__var")).as("value_at_risk"),
      coalesce(avg(when(sf.r < col("__var"), sf.r)), first(col("__var"))).as("cvar"))
  }

  /** Per-key smart Sharpe: sharpe ÷ autocorrelation penalty, fully
    * distributed (reference: alphastats/stats.py:1334-1346). The lag pairs
    * come from a key-partitioned window (previous NON-NULL value, matching
    * the wide API's null-filtered lag), the lag-1 correlation and base
    * sharpe share one aggregation, and the geometric-decay sum evaluates in
    * closed form as a column expression — no driver loop, scales to any
    * number of keys.
    */
  def smartSharpe(sf: SeriesFrame, rf: Double = 0.0, periods: Int = 252,
      annualize: Boolean = true): DataFrame = {
    val prevW = Window.partitionBy(sf.keyCols: _*).orderBy(col(sf.ts))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagged = sf.df.withColumn("__prev", last(sf.r, ignoreNulls = true).over(prevW))
    val agg = lagged.groupBy(sf.keyCols: _*).agg(
      count(sf.r).as("__n"),
      corr(col("__prev"), sf.r).as("__rho"),
      Exprs.sharpe(sf.r, rf, periods, annualize).as("sharpe"))
    val pen = Exprs.autocorrPenalty(col("__rho"), col("__n"))
    agg.select(sf.keyCols ++ Seq(
      col("sharpe"),
      pen.as("autocorr_penalty"),
      (col("sharpe") / pen).as("smart_sharpe")): _*)
  }

  /** Longest win and loss streaks per key via gaps-and-islands — fully
    * distributed replacement for the reference's driver loop
    * (alphastats/stats.py:1249-1289).
    */
  def streaks(sf: SeriesFrame): DataFrame = {
    val sgn = when(sf.r.isNull, lit(2))
      .when(sf.r > 0, lit(1)).when(sf.r < 0, lit(-1)).otherwise(lit(0))
    val w = Window.partitionBy(sf.keyCols: _*).orderBy(col(sf.ts))
    val ws = Window.partitionBy(sf.keyCols :+ col("__sgn"): _*).orderBy(col(sf.ts))
    val islands = sf.df.withColumn("__sgn", sgn)
      .withColumn("__island", row_number().over(w) - row_number().over(ws))
    // keep zero/null islands too: a key with no wins/losses must still get a
    // row (0, 0) — filtering to ±1 here would drop all-flat series entirely
    val runs = islands
      .groupBy(sf.keyCols :+ col("__sgn") :+ col("__island"): _*)
      .agg(count(lit(1)).as("__len"))
    runs.groupBy(sf.keyCols: _*).agg(
      coalesce(max(when(col("__sgn") === 1, col("__len"))), lit(0L)).as("consecutive_wins"),
      coalesce(max(when(col("__sgn") === -1, col("__len"))), lit(0L)).as("consecutive_losses"))
  }

  /** Drawdown-episode metrics per key (longest/avg duration in calendar days
    * for date-typed ts, plus mean episode depth) via gaps-and-islands
    * (reference: alphastats/stats.py:1570-1642).
    */
  def drawdownEpisodes(sf: SeriesFrame): DataFrame = {
    val dd = withDrawdown(sf)
    val inDd = col("__dd").isNotNull && col("__dd") < 0
    val w = Window.partitionBy(sf.keyCols: _*).orderBy(col(sf.ts))
    val wf = Window.partitionBy(sf.keyCols :+ col("__in"): _*).orderBy(col(sf.ts))
    val islands = dd.df.withColumn("__in", inDd)
      .withColumn("__island", row_number().over(w) - row_number().over(wf))
      .filter(col("__in"))
    val eps = islands.groupBy(sf.keyCols :+ col("__island"): _*).agg(
      (datediff(max(col(sf.ts)), min(col(sf.ts))) + 1).cast("long").as("__len"),
      min(col("__dd")).as("__depth"))
    eps.groupBy(sf.keyCols: _*).agg(
      coalesce(max(col("__len")), lit(0L)).as("longest_dd_days"),
      coalesce(avg(col("__len")), lit(0.0)).as("avg_dd_days"),
      coalesce(avg(col("__depth")), lit(0.0)).as("avg_drawdown"))
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
    * frame, joined by equality on ts. The benchmark is tiny relative to the
    * series data → broadcast join, no shuffle of the big side.
    */
  def benchmarked(sf: SeriesFrame, bench: DataFrame, benchTs: String, benchVal: String,
      periods: Int = 252): DataFrame = {
    val b = broadcast(bench.select(col(benchTs).as(sf.ts), col(benchVal).as("__b")))
    val j = sf.df.join(b, sf.ts)
    val beta = fdiv(covar_samp(sf.r, col("__b")), var_samp(col("__b")))
    val corrC = corr(sf.r, col("__b"))
    val active = sf.r - col("__b")
    j.groupBy(sf.keyCols: _*).agg(
      ((avg(sf.r) - beta * avg(col("__b"))) * periods).as("alpha"),
      beta.as("beta"),
      corrC.as("correlation"),
      (corrC * corrC).as("r_squared"),
      fdiv(Exprs.comp(sf.r), beta).as("treynor_ratio"),
      fdiv(avg(active), stddev_samp(active)).as("information_ratio"))
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
