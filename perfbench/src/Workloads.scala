package perfbench

import java.time.{DayOfWeek, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs
import graft.reports.Reports
import graft.stats.Stats

/** One public call into a library layer. The benchmark times the call and
  * then the full materialization of the frame it returns: `collect` for
  * small results, a `noop` sink otherwise, never `count()`.
  */
final case class Op(name: String, layer: String, collect: Boolean, call: () => DataFrame)

/** A workload's inputs, generated and cached in one session. */
trait Prepared {
  def ops: IndexedSeq[Op]
  /** Input sizes and pinned names, for the run's artifact. */
  def describe: Seq[(String, String)]
  /** Checks the collected rows of every op (each op has rows here); one
    * message per mismatch.
    */
  def check(results: Map[String, Array[Row]]): Seq[String]
}

trait Workload {
  def name: String
  /** Seconds of the run budget per timed round: a run times
    * max(1, ⌊seconds / roundS⌋) whole rounds. The count is fixed by the
    * budget, so a host that is faster or slower for a while, or a faster
    * library, never changes how much work a run times.
    */
  def roundS: Double
  def prepare(spark: SparkSession, seed: Long, knobs: Knobs): Prepared
}

/** Self-test switches: a deliberately failing op, a corrupted expectation.
  * Either one makes the run incorrect.
  */
final case class Knobs(injectFailure: Boolean, corruptExpected: Boolean)

/** Plain-Scala reference values, computed on the driver from the raw
  * series, for the checks that the library's outputs are right.
  */
object Reference {
  /** Φ⁻¹(0.05), for the parametric 95 % VaR. */
  val Z05: Double = -1.6448536269514722

  def mean(r: Array[Double]): Double = r.sum / r.length
  def stdSamp(r: Array[Double]): Double = {
    val m = mean(r)
    math.sqrt(r.map(x => (x - m) * (x - m)).sum / (r.length - 1))
  }
  def comp(r: Array[Double]): Double = r.foldLeft(1.0)((w, x) => w * (1 + x)) - 1
  def sharpe(r: Array[Double]): Double = mean(r) / stdSamp(r) * math.sqrt(252.0)
  def valueAtRisk(r: Array[Double]): Double = mean(r) + Z05 * stdSamp(r)
  def maxDrawdown(r: Array[Double]): Double = {
    var wealth = 1.0
    var peak = Double.NegativeInfinity
    var worst = 0.0
    r.foreach { x =>
      wealth *= 1 + x
      peak = math.max(peak, wealth)
      worst = math.min(worst, wealth / peak - 1)
    }
    worst
  }

  /** None when `got` is within 1e-9 relative (1e-12 absolute near 0). */
  def mismatch(what: String, got: Double, want: Double): Option[String] = {
    val ok = math.abs(got - want) <= 1e-9 * math.max(math.abs(want), 1e-3)
    if (ok) None else Some(f"$what: got $got%.17g, want $want%.17g")
  }
}

/** The alphastats surface on a seeded wide returns frame: 2,520 weekday
  * rows × 3 asset columns plus one benchmark series. At this size each call
  * pays for planning, job launch and the driver-side work inside `Reports`,
  * not for data, so this workload shows per-call fixed cost.
  */
object ReturnsApi extends Workload {
  val name = "returns-api"
  /** Two rounds at 15 s (24 samples, 15–21 s on 4 cores): ten runs of one
    * round spread 0.25 on `op_p50_s`, ten of two 0.09–0.16.
    */
  val roundS = 7.5
  val Days = 2520
  val Assets = 3

  def assetName(i: Int): String = f"a$i%02d"

  def prepare(spark: SparkSession, seed: Long, knobs: Knobs): Prepared = {
    val rng = new java.util.SplittableRandom(seed)
    val dates = Iterator.iterate(LocalDate.of(2010, 1, 4))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(Days).toArray
    def gauss(): Double = {
      // Box–Muller from the seeded stream, so the inputs are the seed's alone
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    val market = Array.fill(Days)(0.0003 + 0.011 * gauss())
    val series: Array[Array[Double]] = Array.tabulate(Assets) { _ =>
      val beta = 0.4 + 1.2 * rng.nextDouble()
      val alpha = -0.0002 + 0.0006 * rng.nextDouble()
      val vol = 0.004 + 0.016 * rng.nextDouble()
      market.map(m => alpha + beta * m + vol * gauss())
    }
    val schema = StructType(StructField("date", DateType) +:
      (0 until Assets).map(i => StructField(assetName(i), DoubleType)))
    val rows = (0 until Days).map(d =>
      Row.fromSeq(java.sql.Date.valueOf(dates(d)) +: series.map(_(d)).toSeq))
    val wide = spark.createDataFrame(rows.asJava, schema).cache()
    val bench = spark.createDataFrame(
      (0 until Days).map(d => Row(java.sql.Date.valueOf(dates(d)), market(d))).asJava,
      StructType(Seq(StructField("date", DateType), StructField("benchmark", DoubleType))))
      .cache()
    wide.count()
    bench.count()

    val stats: Seq[(String, DataFrame => DataFrame)] = Seq(
      "comp" -> (Stats.comp(_)),
      "sharpe" -> (Stats.sharpe(_)),
      "valueAtRisk" -> (Stats.valueAtRisk(_)),
      "conditionalValueAtRisk" -> (Stats.conditionalValueAtRisk(_)),
      "maxDrawdown" -> (Stats.maxDrawdown(_)),
      "serenityIndex" -> (Stats.serenityIndex(_)),
      "consecutiveWins" -> (Stats.consecutiveWins(_)),
      "greeks" -> (Stats.greeks(_, bench)),
      "informationRatio" -> (Stats.informationRatio(_, bench)),
      "ytd" -> (Stats.ytd(_)),
      "bestMonth" -> (Stats.bestMonth(_)))
    val calls = stats.map { case (n, f) => Op(s"stats.$n", "stats", collect = true, () => f(wide)) } ++
      Seq(Op("reports.metrics_full", "reports", collect = true,
        () => Reports.metrics(wide, benchmark = Some(bench), mode = "full")))

    new Prepared {
      val ops: IndexedSeq[Op] = calls.toIndexedSeq
      def describe: Seq[(String, String)] = Seq(
        "rows" -> Days.toString, "asset_columns" -> Assets.toString,
        "benchmark_rows" -> Days.toString, "calls_per_round" -> ops.length.toString)

      def check(results: Map[String, Array[Row]]): Seq[String] = {
        val perOp = ops.flatMap { op =>
          val rows = results(op.name)
          if (op.layer == "stats") {
            if (rows.length != 1 || rows(0).length != Assets) Seq(s"${op.name}: shape ${rows.length} rows")
            else if ((0 until Assets).exists(rows(0).isNullAt)) Seq(s"${op.name}: null metric")
            else Nil
          } else if (rows.isEmpty) Seq(s"${op.name}: empty report")
          else Nil
        }
        val skew = if (knobs.corruptExpected) 1 + 1e-6 else 1.0
        def got(op: String, i: Int): Double = results(op)(0).getDouble(i)
        val reference = (0 until Assets).flatMap { i =>
          val r = series(i)
          val a = assetName(i)
          Seq(
            Reference.mismatch(s"comp($a)", got("stats.comp", i), Reference.comp(r) * skew),
            Reference.mismatch(s"sharpe($a)", got("stats.sharpe", i), Reference.sharpe(r)),
            Reference.mismatch(s"maxDrawdown($a)", got("stats.maxDrawdown", i), Reference.maxDrawdown(r)),
            Reference.mismatch(s"valueAtRisk($a)", got("stats.valueAtRisk", i), Reference.valueAtRisk(r))
          ).flatten
        }
        // The wide API and the long-format core must agree on the same data.
        val sf = GroupedStats.fromWide(wide, "date")
        val melted = GroupedStats.aggregate(sf, Seq(
          "comp" -> Exprs.comp, "sharpe" -> (Exprs.sharpe(_, 0.0, 252, annualize = true))))
          .join(GroupedStats.drawdownStats(sf).select("asset", "max_drawdown"), "asset")
          .collect().map(r => r.getString(0) -> r).toMap
        val agree = (0 until Assets).flatMap { i =>
          val a = assetName(i)
          val m = melted(a)
          Seq(
            Reference.mismatch(s"fromWide comp($a)", m.getAs[Double]("comp"), got("stats.comp", i)),
            Reference.mismatch(s"fromWide sharpe($a)", m.getAs[Double]("sharpe"), got("stats.sharpe", i)),
            Reference.mismatch(s"fromWide maxDrawdown($a)", m.getAs[Double]("max_drawdown"),
              got("stats.maxDrawdown", i))
          ).flatten
        }
        if (perOp.nonEmpty) perOp else reference ++ agree
      }
    }
  }
}

/** `GroupedStats` on a seeded long panel: (asset, DateType date, r), cached
  * in set-up. Each op shuffles the whole panel on the asset key and runs
  * window passes, so this workload is executor- and exchange-bound and
  * bypasses per-call fixed cost.
  */
object PanelScale extends Workload {
  val name = "panel-scale"
  /** Six rounds at 15 s (30 samples, 13–21 s on 4 cores): ten runs of three
    * rounds spread up to 0.29 on `ops_per_s` and 0.36 on `op_p50_s`.
    */
  val roundS = 2.5
  val Assets = 192
  val Days = 2520

  def prepare(spark: SparkSession, seed: Long, knobs: Knobs): Prepared = {
    val start = java.sql.Date.valueOf(LocalDate.of(2000, 1, 3))
    // Returns in ±2 % plus a per-asset drift, all from a seeded hash of the
    // row id, so any seed gives the same rows on every run and host.
    val noise = pmod(xxhash64(col("id"), lit(seed)), lit(2000001L)) / lit(1e6) - lit(1.0)
    val drift = pmod(xxhash64(col("asset"), lit(seed + 1)), lit(1001L)) / lit(1e6)
    val panel = spark.range(Assets.toLong * Days)
      .withColumn("asset", pmod(col("id"), lit(Assets.toLong)))
      .select(
        concat(lit("s"), lpad(col("asset").cast("string"), 4, "0")).as("asset"),
        date_add(lit(start), (col("id") / lit(Assets)).cast("int")).as("date"),
        (noise * lit(0.02) + drift).as("r"))
      .cache()
    panel.count()
    val sf = SeriesFrame(panel, Seq("asset"), "date", "r")
    val battery: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "comp" -> Exprs.comp,
      "sharpe" -> (Exprs.sharpe(_, 0.0, 252, annualize = true)),
      "sortino" -> (Exprs.sortino(_, 0.0, 252, annualize = true)),
      "volatility" -> (Exprs.volatility(_, 252, annualize = true)),
      "value_at_risk" -> (Exprs.valueAtRisk(_, 1.0, 0.95)),
      "win_rate" -> Exprs.winRate,
      "profit_factor" -> Exprs.profitFactor,
      "kelly" -> Exprs.kellyCriterion,
      "skew" -> Exprs.skew,
      "kurtosis" -> Exprs.kurtosis)
    val baseOps = IndexedSeq(
      Op("api.aggregate", "api", collect = false, () => GroupedStats.aggregate(sf, battery)),
      Op("api.drawdownStats", "api", collect = false, () => GroupedStats.drawdownStats(sf)),
      Op("api.varCvar", "api", collect = false, () => GroupedStats.varCvar(sf)),
      Op("api.streaks", "api", collect = false, () => GroupedStats.streaks(sf)),
      Op("api.drawdownEpisodes", "api", collect = false, () => GroupedStats.drawdownEpisodes(sf)))
    // drawdownEpisodes needs a date axis: on a long axis it throws an
    // AnalysisException, which the self-test uses as a deliberately failing op.
    val failing = if (knobs.injectFailure) IndexedSeq(Op("api.drawdownEpisodes_long_axis", "api",
      collect = false, () => GroupedStats.drawdownEpisodes(SeriesFrame(
        panel.withColumn("t", unix_date(col("date")).cast("long")), Seq("asset"), "t", "r"))))
      else IndexedSeq.empty
    val rng = new scala.util.Random(seed)
    val pinned = rng.shuffle((0 until Assets).toList).take(3).map(i => f"s$i%04d")

    new Prepared {
      val ops: IndexedSeq[Op] = baseOps ++ failing
      def describe: Seq[(String, String)] = Seq(
        "assets" -> Assets.toString, "days" -> Days.toString,
        "rows" -> (Assets.toLong * Days).toString, "pinned_assets" -> pinned.mkString(" "))

      def check(results: Map[String, Array[Row]]): Seq[String] = {
        val perOp = ops.flatMap { op =>
          val n = results(op.name).length
          if (n != Assets) Seq(s"${op.name}: $n rows") else Nil
        }
        if (perOp.nonEmpty) return perOp
        def byAsset(op: String): Map[String, Row] =
          results(op).map(r => r.getAs[String]("asset") -> r).toMap
        val agg = byAsset("api.aggregate")
        val dd = byAsset("api.drawdownStats")
        val vc = byAsset("api.varCvar")
        val skew = if (knobs.corruptExpected) 1 + 1e-6 else 1.0
        val series = panel.filter(col("asset").isin(pinned: _*))
          .orderBy("asset", "date").collect()
          .groupBy(_.getString(0)).map { case (a, rs) => a -> rs.map(_.getDouble(2)) }
        pinned.flatMap { a =>
          val r = series(a)
          Seq(
            Reference.mismatch(s"comp($a)", agg(a).getAs[Double]("comp"), Reference.comp(r) * skew),
            Reference.mismatch(s"sharpe($a)", agg(a).getAs[Double]("sharpe"), Reference.sharpe(r)),
            Reference.mismatch(s"max_drawdown($a)", dd(a).getAs[Double]("max_drawdown"),
              Reference.maxDrawdown(r)),
            Reference.mismatch(s"value_at_risk($a)", vc(a).getAs[Double]("value_at_risk"),
              Reference.valueAtRisk(r))
          ).flatten
        }
      }
    }
  }
}
