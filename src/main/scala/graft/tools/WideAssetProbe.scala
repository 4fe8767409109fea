package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs

/** Asset-cardinality probe for the wide/melted metric core — the measurable
  * form of SURVEY §7.4(6)'s 100×-scale claim: the (asset, ord, value)
  * long-format path must scale in the NUMBER OF SERIES, not just series
  * length, because a 100-TB panel is wide (every instrument/strategy/doc
  * source is its own series), and the failure mode is an unpartitioned
  * window or a per-asset driver loop.
  *
  * Default 10,000 assets × 1,000 steps = 10M rows, deterministic
  * shuffle-free construction (spark.range + xxhash64 returns in ±5%).
  * For each core operator (scalar battery, drawdown stats, streaks,
  * VaR/CVaR):
  *   - the EXECUTED plan must contain no `Exchange SinglePartition` and no
  *     cartesian/broadcast-nested-loop join;
  *   - shuffle volume is listener-counted and asserted ≤ 3 rows written per
  *     input row (one keyed exchange for the window + map-side-combined
  *     aggregation partials — NOT per-asset jobs);
  *   - three pinned assets are re-computed serially on the driver from the
  *     collected series and compared to 1e-9 rel (values, not just shapes).
  *
  * `sbt "runMain graft.tools.WideAssetProbe [assets] [steps] [cpus]"`
  */
object WideAssetProbe {
  def main(args: Array[String]): Unit = {
    val assets = args.headOption.map(_.toLong).getOrElse(10000L)
    val steps = if (args.length > 1) args(1).toLong else 1000L
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = graft.Session.local(cpus)

    val n = assets * steps
    val df = spark.range(n).select(
      pmod(col("id"), lit(assets)).as("asset"),
      (col("id") / lit(assets)).cast("long").as("ord"),
      ((pmod(xxhash64(col("id")), lit(1000001L)) / lit(1000000.0) - lit(0.5))
        * lit(0.1)).as("r"))
      .cache()
    println(s"melted rows=${df.count()} assets=$assets steps=$steps cpus=$cpus")
    val sf = SeriesFrame(df, Seq("asset"), "ord", "r")

    val shufWrite = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            shufWrite.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            shufRead.addAndGet(m.shuffleReadMetrics.recordsRead)
          }
        }
      })

    def probe(label: String, out: DataFrame,
        maxWritePerRow: Double = 3.0): Array[org.apache.spark.sql.Row] = {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      shufWrite.set(0); shufRead.set(0)
      val t0 = System.nanoTime()
      val rows = out.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange SinglePartition"),
        s"$label: single-partition exchange in executed plan:\n$plan")
      require(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$label: unkeyed join in executed plan:\n$plan")
      val w = shufWrite.get(); val rd = shufRead.get()
      require(w <= (maxWritePerRow * n).toLong,
        s"$label: shuffle wrote $w records for $n input rows (> $maxWritePerRow/row)")
      println(f"$label%-16s ${secs}%7.2f s   rows=${rows.length}%,d   " +
        f"shuffleWrite=$w%,d  shuffleRead=$rd%,d  (${w.toDouble / n}%.2f w/row)")
      rows
    }

    // scalar battery: one groupBy, map-side combined — partial rows only
    val battery = probe("scalar_battery", GroupedStats.aggregate(sf, Seq(
      "mean" -> (c => avg(c)),
      "vol" -> (c => Exprs.volatility(c, 252, annualize = true)),
      "sharpe" -> (c => Exprs.sharpe(c, 0.0, 252, annualize = true)),
      "win_rate" -> (c => Exprs.winRate(c)),
      "comp" -> (c => Exprs.comp(c)))).orderBy("asset"), maxWritePerRow = 0.5)
    val ddstats = probe("drawdown_stats", GroupedStats.drawdownStats(sf).orderBy("asset"))
    val streaks = probe("streaks", GroupedStats.streaks(sf).orderBy("asset"))
    val vc = probe("var_cvar", GroupedStats.varCvar(sf).orderBy("asset"))
    require(battery.length == assets && ddstats.length == assets &&
      streaks.length == assets && vc.length == assets,
      "every asset must produce exactly one row per operator")

    // driver-side re-computation of three pinned assets, compared on values
    def relEq(a: Double, b: Double, what: String): Unit =
      require(math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b))),
        s"$what: distributed=$a local=$b")
    val pinned = Seq(7L, assets / 2, assets - 1)
    val local = df.filter(col("asset").isin(pinned: _*))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (a, rs) =>
        a -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toVector
      }
    pinned.foreach { a =>
      val series = local(a)
      var wealth = 1.0; var peak = Double.NegativeInfinity; var maxdd = 0.0
      var sumdd2 = 0.0
      series.foreach { r =>
        wealth *= (1.0 + r); peak = math.max(peak, wealth)
        val dd = math.min(wealth / peak - 1.0, 0.0)
        maxdd = math.min(maxdd, dd); sumdd2 += dd * dd
      }
      val row = ddstats.find(_.getLong(0) == a).get
      relEq(row.getAs[Double]("max_drawdown"), maxdd, s"asset $a max_drawdown")
      relEq(row.getAs[Double]("ulcer_index"),
        math.sqrt(sumdd2 / (series.size - 1)), s"asset $a ulcer_index")
      val mean = series.sum / series.size
      val sd = math.sqrt(series.map(x => (x - mean) * (x - mean)).sum / (series.size - 1))
      val brow = battery.find(_.getLong(0) == a).get
      relEq(brow.getAs[Double]("sharpe"), mean / sd * math.sqrt(252.0), s"asset $a sharpe")
      var best = 0L; var cur = 0L
      series.foreach { r =>
        if (r > 0) { cur += 1; best = math.max(best, cur) } else cur = 0
      }
      val srow = streaks.find(_.getLong(0) == a).get
      require(srow.getAs[Long]("consecutive_wins") == best,
        s"asset $a streaks: ${srow.getAs[Long]("consecutive_wins")} vs $best")
    }
    println(s"pinned-asset value checks passed for assets ${pinned.mkString(", ")}")
    spark.stop()
  }
}
