package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GroupedStats, SeriesFrame}
import graft.functions.SeriesAgg

/** [[SeriesAgg]] against the `GroupedStats` windows it shares its semantics
  * with and against serial driver-side references, on random series with
  * leading, interior and trailing nulls, zeros, r = −1, all-flat, all-null
  * and single-row series, duplicate and null dates, on Date and Timestamp
  * axes. Max drawdown, streaks and episodes must be equal; CVaR, dd-CVaR,
  * serenity, ulcer and ρ agree to 1e-12 relative.
  */
class SeriesAggSpec extends SparkSpec {
  import SeriesAggSpec._

  private def series(rnd: scala.util.Random, asset: String, shape: Int, dupDates: Boolean,
      nullDates: Boolean, step: Long, firstTie: Long): Seq[Obs] = {
    val len = shape match {
      case 0 => 1
      case 1 | 2 => 2 + rnd.nextInt(4)
      case _ => 8 + rnd.nextInt(50)
    }
    var key = 19000L * (if (step == 1L) 1L else 86400L * 1000000L)
    (0 until len).map { i =>
      key += (if (dupDates && rnd.nextInt(4) == 0) 0L else step * (1 + rnd.nextInt(3)))
      val r: Option[Double] = shape match {
        case 1 => Some(0.0)                                  // all-flat
        case 2 => None                                       // all-null
        case _ =>
          val u = rnd.nextDouble()
          if (i < 2 && shape == 4) None                      // leading nulls
          else if (i >= len - 2 && shape == 5) None          // trailing nulls
          else if (u < 0.08) None                            // interior nulls
          else if (u < 0.14) Some(0.0)
          else if (u < 0.16) Some(-1.0)
          else Some(rnd.nextGaussian() / 50)
      }
      val k = if (nullDates && rnd.nextInt(10) == 0) None else Some(key)
      Obs(asset, k, firstTie + i, r)
    }
  }

  /** ~30 assets per frame, every shape, shuffled into the frame's rows. */
  private def frame(seed: Int, step: Long, dupDates: Boolean, nullDates: Boolean): Seq[Obs] = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 30).flatMap(a =>
      series(rnd, f"s$a%02d", a % 7, dupDates, nullDates, step, a * 1000L))
    rnd.shuffle(rows)
  }

  private def toDf(rows: Seq[Obs], axis: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("asset", StringType), StructField("d", axis),
      StructField("u", LongType), StructField("r", DoubleType)))
    val data = rows.map { o =>
      val d = o.key.map { k =>
        if (axis == DateType) Date.valueOf(java.time.LocalDate.ofEpochDay(k))
        else Timestamp.from(java.time.Instant.EPOCH.plusNanos(k * 1000L))
      }.orNull
      Row(o.asset, d, o.tie, o.r.map(Double.box).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def aggregate(df: DataFrame, span: SeriesAgg.Span, rz: Double): Map[String, SeriesAgg.Result] =
    df.groupBy("asset")
      .agg(SeriesAgg(span, rz)(SeriesAgg.orderKey(col("d"), df.schema("d").dataType), col("u"), col("r")))
      .collect().map(row => row.getString(0) -> SeriesAgg.Result(row.getStruct(1))).toMap

  // ---- the serial reference: sort, then plain loops and two-pass moments ----

  /** Spark's double order (NaN largest) and `Exprs.fdiv`. */
  private def gt(a: Double, b: Double): Boolean = a != b && java.lang.Double.compare(a, b) > 0
  private def fdiv(a: Double, b: Double): Double =
    if (b == 0.0) { if (a == 0.0) Double.NaN else if (gt(a, 0.0)) Double.PositiveInfinity
      else Double.NegativeInfinity }
    else a / b

  private def std(xs: Seq[Double]): Option[Double] =
    if (xs.size <= 1) None
    else {
      val m = xs.sum / xs.size
      Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)))
    }

  private def tail(xs: Seq[Double], z: Double): Option[Double] =
    std(xs).map { s =>
      val v = xs.sum / xs.size + z * s
      val below = xs.filter(x => gt(v, x))
      if (below.isEmpty) v else below.sum / below.size
    }

  private def reference(rows: Seq[Obs], span: SeriesAgg.Span, rz: Double, rf: Double): Ref = {
    val sorted = rows.sortBy(o => (o.key.isDefined, o.key.getOrElse(0L), o.tie))
    var wealth = 1.0
    var peak = Double.NaN
    val dd: Seq[Option[Double]] = sorted.map(_.r.map { r =>
      wealth *= r + 1.0
      if (peak.isNaN || gt(wealth, peak)) peak = wealth
      val x = fdiv(wealth, peak) - 1.0
      if (gt(x, 0.0)) 0.0 else x
    })
    val rs = sorted.flatMap(_.r)
    val dds = dd.flatten
    // episodes: maximal runs of dd < 0, split at every other row
    val runs = scala.collection.mutable.ArrayBuffer(Vector.empty[(Obs, Double)])
    sorted.zip(dd).foreach {
      case (o, Some(x)) if x < 0 => runs(runs.size - 1) :+= (o -> x)
      case _ => runs += Vector.empty
    }
    val eps = runs.filter(_.nonEmpty).toSeq
    val lens = eps.flatMap { ep =>
      val ks = ep.flatMap(_._1.key)
      span match {
        case SeriesAgg.Rows => Some(ep.size.toLong)
        case _ if ks.isEmpty => None
        case SeriesAgg.Days => Some(ks.max - ks.min + 1)
        case SeriesAgg.Micros =>
          Some(((Math.floorDiv(ks.max, 1000000L) - Math.floorDiv(ks.min, 1000000L)) / 86400L) + 1)
      }
    }
    // sign runs, a null its own class
    val classes = sorted.map(_.r.fold(2)(r => if (r > 0) 1 else if (r < 0) -1 else 0))
    def longest(c: Int): Long = classes.foldLeft((0L, 0L)) { case ((best, cur), k) =>
      val run = if (k == c) cur + 1 else 0L
      (math.max(best, run), run)
    }._1
    val pairs = rs.zip(rs.drop(1))
    val rho =
      if (pairs.size <= 1) None
      else {
        val (xs, ys) = pairs.unzip
        val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
        val ck = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
        val d = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
        if (d == 0.0) None else Some(ck / d) // Spark's x/0 is null
      }
    val ulcer = if (rs.isEmpty) None else Some(math.sqrt(fdiv(dds.map(x => x * x).sum, rs.size - 1.0)))
    val ddCvar = tail(dds, SeriesAgg.Z05)
    val serenity = for (u <- ulcer; c <- ddCvar; s <- std(rs)) yield
      fdiv(rs.sum - rf, u * fdiv(-c, s))
    Ref(dds.reduceOption((a, b) => if (gt(a, b)) b else a), ulcer, ddCvar, tail(rs, rz), serenity,
      if (lens.isEmpty) 0L else lens.max,
      if (lens.isEmpty) 0.0 else lens.map(_.toDouble).sum / lens.size,
      if (eps.isEmpty) 0.0 else eps.map(_.map(_._2).min).sum / eps.size,
      longest(1), longest(-1), rho)
  }

  private def close(what: String, got: Option[Double], want: Option[Double]): Unit =
    (got, want) match {
      case (Some(g), Some(w)) =>
        val ok = (g.isNaN && w.isNaN) || g == w || math.abs(g - w) <= 1e-12 * math.max(math.abs(g), math.abs(w))
        assert(ok, s"$what: got $g want $w")
      case _ => assert(got == want, s"$what: got $got want $want")
    }

  private val rz = -2.0

  Seq((DateType, 1L, SeriesAgg.Days), (TimestampType, 86400L * 1000000L / 3, SeriesAgg.Micros))
    .foreach { case (axis, step, span) =>
      test(s"matches the serial reference on random ${axis.simpleString} series (nulls, -1, flat, ties)") {
        Seq(11, 12, 13).foreach { seed =>
          val rows = frame(seed, step, dupDates = true, nullDates = true)
          val df = toDf(rows, axis)
          Seq(span, SeriesAgg.Rows).foreach { sp =>
            val got = aggregate(df, sp, rz)
            rows.groupBy(_.asset).foreach { case (a, rs) =>
              val want = reference(rs, sp, rz, rf = 0.001)
              val g = got(a)
              val clue = s"seed $seed $sp $a"
              assert(g.maxDrawdown == want.maxDd, clue)
              assert((g.longestEpisode, g.avgEpisode, g.avgDepth) == ((want.longest, want.avgLen, want.avgDepth)), clue)
              assert((g.wins, g.losses) == ((want.wins, want.losses)), clue)
              close(s"$clue ulcer", g.ulcer, want.ulcer)
              close(s"$clue ddCvar", g.ddCvar, want.ddCvar)
              close(s"$clue cvar", g.cvar, want.cvar)
              close(s"$clue serenity", g.serenity(0.001), want.serenity)
              close(s"$clue rho", g.rho, want.rho)
            }
          }
        }
      }
    }

  test("matches the GroupedStats windows on the same random series") {
    Seq(21, 22).foreach { seed =>
      // unique, non-null dates: GroupedStats orders and measures episodes by the date alone
      val rows = frame(seed, 1L, dupDates = false, nullDates = false)
      val df = toDf(rows, DateType)
      // the VaR multiplier of varCvar's defaults (sigma 1, confidence 0.95)
      val got = aggregate(df, SeriesAgg.Days, graft.core.Dist.invCdf(1 - 0.95))
      val sf = SeriesFrame(df, Seq("asset"), "d", "r")
      val dd = GroupedStats.drawdownStats(sf).collect().map(r => r.getString(0) -> r).toMap
      val eps = GroupedStats.drawdownEpisodes(sf).collect().map(r => r.getString(0) -> r).toMap
      val streaks = GroupedStats.streaks(sf).collect().map(r => r.getString(0) -> r).toMap
      val cvar = GroupedStats.varCvar(sf).collect().map(r => r.getString(0) -> r).toMap
      val prev = Window.partitionBy("asset").orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
      val rho = df.withColumn("p", last(col("r"), ignoreNulls = true).over(prev))
        .groupBy("asset").agg(corr(col("p"), col("r"))).collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      def opt(r: Row, k: String): Option[Double] = Option(r.getAs[java.lang.Double](k)).map(_.doubleValue)
      got.foreach { case (a, g) =>
        val clue = s"seed $seed $a"
        assert(g.maxDrawdown == opt(dd(a), "max_drawdown"), clue)
        close(s"$clue ulcer", g.ulcer, opt(dd(a), "ulcer_index"))
        close(s"$clue recovery", g.recovery(0.0), opt(dd(a), "recovery_factor"))
        close(s"$clue cvar", g.cvar, opt(cvar(a), "cvar"))
        close(s"$clue rho", g.rho, rho(a))
        assert(g.wins == streaks(a).getAs[Long]("consecutive_wins"), clue)
        assert(g.losses == streaks(a).getAs[Long]("consecutive_losses"), clue)
        // drawdownEpisodes has no row for a series without episodes
        val (longest, avgLen, avgDepth) = eps.get(a).fold((0L, 0.0, 0.0))(e => (
          e.getAs[Long]("longest_dd_days"), e.getAs[Double]("avg_dd_days"), e.getAs[Double]("avg_drawdown")))
        assert(g.longestEpisode == longest, clue)
        assert(g.avgEpisode == avgLen, clue)
        close(s"$clue avgDepth", Some(g.avgDepth), Some(avgDepth))
      }
    }
  }

  test("an empty series gives nulls and zeros; an empty wide frame one row of them") {
    val agg = new SeriesAgg.Agg(SeriesAgg.Rows, rz)
    assert(agg.finish(agg.zero) == SeriesAgg.Result(0L, None, None, None, None, None, None, None,
      0L, 0.0, 0.0, 0L, 0L, None))
    import graft.stats.Stats
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row],
      StructType(Seq(StructField("date", DateType), StructField("a", DoubleType))))
    assert(Stats.maxDrawdown(empty).collect().toSeq == Seq(Row(null)))
    assert(Stats.conditionalValueAtRisk(empty).collect().toSeq == Seq(Row(null)))
    assert(Stats.consecutiveWins(empty).collect().toSeq == Seq(Row(0L)))
    assert(Stats.longestDrawdownDays(empty).collect().toSeq == Seq(Row(0L)))
  }

  test("the ordered Stats metrics execute no Window and no Sort operator") {
    import graft.stats.Stats
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "maxDrawdown" -> (Stats.maxDrawdown(_)),
      "serenityIndex" -> (Stats.serenityIndex(_)),
      "conditionalValueAtRisk" -> (Stats.conditionalValueAtRisk(_)),
      "consecutiveWins" -> (Stats.consecutiveWins(_)),
      "longestDrawdownDays" -> (Stats.longestDrawdownDays(_)))
    calls.foreach { case (name, f) =>
      val ops = Instrument.executedOperators(spark)(f(simpleDf).collect())
      assert(ops.exists(_.nodeName == "ObjectHashAggregate"), s"$name: ${ops.map(_.nodeName).distinct}")
      val bad = ops.filter(o => o.nodeName.contains("Window") || o.nodeName == "Sort")
      assert(bad.isEmpty, s"$name: ${bad.map(_.nodeName)}")
    }
  }

  test("the result does not depend on how rows are partitioned") {
    val rows = frame(31, 1L, dupDates = true, nullDates = true)
    val df = toDf(rows, DateType)
    // compared as text: NaN fields print alike
    def results(d: DataFrame) = aggregate(d, SeriesAgg.Days, rz).map { case (a, r) => a -> r.toString }
    val one = results(df.coalesce(1))
    Seq(2, 7).foreach { p =>
      assert(results(df.repartition(p)) == one, s"$p partitions")
    }
  }
}

object SeriesAggSpec {
  /** One row of a long frame: asset, order value (days or µs since the
    * epoch; None = null date), unique tie-break, return.
    */
  final case class Obs(asset: String, key: Option[Long], tie: Long, r: Option[Double])

  /** The serial reference's figures for one series. */
  final case class Ref(maxDd: Option[Double], ulcer: Option[Double],
      ddCvar: Option[Double], cvar: Option[Double], serenity: Option[Double],
      longest: Long, avgLen: Double, avgDepth: Double, wins: Long, losses: Long,
      rho: Option[Double])
}
