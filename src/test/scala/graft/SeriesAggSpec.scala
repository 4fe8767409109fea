package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GroupedStats, SeriesFrame}
import graft.functions.SeriesAgg

/** [[SeriesAgg]] against serial driver-side references, and the
  * `GroupedStats` metrics built on it against the window formulation of the
  * oracle SQL, on random series with leading, interior and trailing nulls,
  * zeros, r = −1, all-flat, all-null and single-row series, duplicate and
  * null dates, on Date and Timestamp axes. Max drawdown, streaks and
  * episodes must be equal; CVaR, dd-CVaR, serenity, ulcer and ρ agree to
  * 1e-12 relative.
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
      eps.size.toLong, if (lens.isEmpty) 0L else lens.max,
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

  /** The walk's aggregate, its children unused: for calls on a buffer. */
  private def walkAgg: SeriesAgg.Agg = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    SeriesAgg.Agg(SeriesAgg.Rows, rz, Literal(0L), Literal(0L), Literal(0.0))
  }

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
              assert((g.episodes, g.longestEpisode, g.avgEpisode, g.avgDepth) ==
                ((want.episodes, want.longest, want.avgLen, want.avgDepth)), clue)
              assert((g.wins, g.losses) == ((want.wins, want.losses)), clue)
              close(s"$clue ulcer", g.ulcer, want.ulcer)
              close(s"$clue ddCvar", g.ddCvar, want.ddCvar)
              close(s"$clue cvar", g.cvar, want.cvar)
              close(s"$clue serenity", g.serenity(0.001), want.serenity)
              close(s"$clue rho", g.rho, want.rho)
              nearPenalty(s"$clue penalty", g.penalty, serialPenalty(rs.count(_.r.isDefined).toLong, g.rho))
            }
          }
        }
      }
    }

  /** The autocorrelation penalty by its definition, √(1 + 2·Σ_{x=1}^{n−1}
    * ((n−x)/n)·|ρ|ˣ) summed term by term; NaN when n < 2 or ρ is null or NaN.
    */
  private def serialPenalty(n: Long, rho: Option[Double]): Double = rho match {
    case Some(r) if n >= 2 && !r.isNaN =>
      val c = math.abs(r)
      math.sqrt(1 + 2 * (1L until n).map(x => (n - x).toDouble / n * math.pow(c, x.toDouble)).sum)
    case _ => Double.NaN
  }

  /** The closed form against the term-by-term sum: equal NaN-ness, 1e-9 relative. */
  private def nearPenalty(what: String, got: Double, want: Double): Unit =
    assert((got.isNaN && want.isNaN) || math.abs(got - want) <= 1e-9 * math.abs(want),
      s"$what: got $got want $want")

  test("penalty matches the serial decay sum: rho 0, |1 - |rho|| < 1e-12, n < 2, null and NaN rho") {
    val cases: Seq[(Long, Option[Double])] = Seq(
      (50L, Some(0.0)), (2520L, Some(-0.0)),                          // no decay sum: penalty 1
      (50L, Some(1.0)), (50L, Some(-1.0)), (2520L, Some(1.0 - 1e-13)), (7L, Some(-(1.0 - 5e-13))),
      (2L, Some(0.4)), (3L, Some(-0.7)), (252L, Some(0.999)), (2520L, Some(0.2)),
      (0L, Some(0.5)), (1L, Some(0.5)), (50L, None), (50L, Some(Double.NaN)))
    cases.foreach { case (n, rho) =>
      nearPenalty(s"n $n rho $rho", SeriesAgg.penalty(n, rho), serialPenalty(n, rho))
    }
    assert(SeriesAgg.penalty(50L, Some(0.0)) == 1.0)
    assert(cases.collect { case (n, rho) if n < 2 || rho.forall(_.isNaN) => SeriesAgg.penalty(n, rho) }
      .forall(_.isNaN))
    // through the walk: a flat series has a null rho, a single row n = 1
    val df = spark.createDataFrame(java.util.Arrays.asList(
        Row("flat", 1L, 0.01), Row("flat", 2L, 0.01), Row("flat", 3L, 0.01), Row("one", 1L, 0.02)),
      StructType(Seq(StructField("asset", StringType), StructField("d", LongType),
        StructField("r", DoubleType))))
    val got = df.groupBy("asset").agg(SeriesAgg(SeriesAgg.Rows)(col("d"), col("d"), col("r")))
      .collect().map(row => row.getString(0) -> SeriesAgg.Result(row.getStruct(1))).toMap
    assert(got("flat").rho.isEmpty && got("flat").penalty.isNaN, got("flat"))
    assert(got("one").n == 1L && got("one").penalty.isNaN, got("one"))
  }

  /** [[graft.core.Exprs.fdiv]] in Spark SQL. */
  private def sqlFdiv(a: String, b: String): String =
    s"CASE WHEN $b = 0 THEN CASE WHEN $a = 0 THEN CAST('NaN' AS DOUBLE) " +
      s"WHEN $a > 0 THEN CAST('Infinity' AS DOUBLE) WHEN $a < 0 THEN CAST('-Infinity' AS DOUBLE) END " +
      s"ELSE $a / $b END"

  /** The window formulation of the q04, q07, q08 and q09 oracles (and q30's
    * lag-1 correlation), in Spark SQL over a `ret(asset, d, r)` view. The
    * oracles' input has no null returns; here a null return has no
    * drawdown, ends an episode and is its own sign class, as in GroupedStats.
    */
  private def windowSql(z: Double): Map[String, String] = {
    val run = "PARTITION BY asset ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val dd =
      s"""WITH wl AS (
         |  SELECT asset, d, r, graft_product(1 + r) OVER ($run) AS wealth FROM ret),
         |dd AS (
         |  SELECT asset, d, r,
         |         CASE WHEN r IS NOT NULL THEN LEAST(wealth / MAX(wealth) OVER ($run) - 1, 0) END AS ddv
         |  FROM wl)""".stripMargin
    Map(
      "q04" ->
        s"""WITH v AS (
           |  SELECT asset, r,
           |         AVG(r) OVER (PARTITION BY asset) + (${z}D) * STDDEV_SAMP(r) OVER (PARTITION BY asset) AS var
           |  FROM ret)
           |SELECT asset, ANY_VALUE(var) AS value_at_risk,
           |  COALESCE(AVG(CASE WHEN r < var THEN r END), ANY_VALUE(var)) AS cvar
           |FROM v GROUP BY asset""".stripMargin,
      "q07" ->
        s"""$dd
           |SELECT asset, MIN(ddv) AS max_drawdown,
           |  SQRT(${sqlFdiv("SUM(ddv * ddv)", "(COUNT(r) - 1)")}) AS ulcer_index,
           |  ${sqlFdiv("ABS(SUM(r))", "ABS(MIN(ddv))")} AS recovery_factor
           |FROM dd GROUP BY asset""".stripMargin,
      "q08" ->
        s"""$dd,
           |fl AS (
           |  SELECT asset, d, ddv, COALESCE(ddv < 0, false) AS ind,
           |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d)
           |           - ROW_NUMBER() OVER (PARTITION BY asset, COALESCE(ddv < 0, false) ORDER BY d) AS island
           |  FROM dd),
           |ep AS (
           |  SELECT asset, island, CAST(datediff(MAX(d), MIN(d)) + 1 AS BIGINT) AS len, MIN(ddv) AS depth
           |  FROM fl WHERE ind GROUP BY asset, island)
           |SELECT asset, COALESCE(MAX(len), 0) AS longest_dd_days,
           |  COALESCE(AVG(len), 0) AS avg_dd_days, COALESCE(AVG(depth), 0) AS avg_drawdown
           |FROM ep GROUP BY asset""".stripMargin,
      "q09" ->
        """WITH s AS (
          |  SELECT asset, d,
          |         CASE WHEN r IS NULL THEN 2 WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END AS sgn
          |  FROM ret),
          |i AS (
          |  SELECT asset, sgn,
          |         ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d)
          |           - ROW_NUMBER() OVER (PARTITION BY asset, sgn ORDER BY d) AS island
          |  FROM s),
          |runs AS (SELECT asset, sgn, island, COUNT(*) AS len FROM i GROUP BY 1, 2, 3)
          |SELECT asset,
          |  COALESCE(MAX(CASE WHEN sgn = 1 THEN len END), 0) AS consecutive_wins,
          |  COALESCE(MAX(CASE WHEN sgn = -1 THEN len END), 0) AS consecutive_losses
          |FROM runs GROUP BY asset""".stripMargin,
      "q30" ->
        """WITH lagd AS (
          |  SELECT asset, r, LAST(r, true) OVER (PARTITION BY asset ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p
          |  FROM ret)
          |SELECT asset, COUNT(r) AS n, CORR(p, r) AS rho FROM lagd GROUP BY asset""".stripMargin)
  }

  test("GroupedStats matches the oracles' window SQL on random series") {
    Seq(21, 22).foreach { seed =>
      // unique, non-null dates: the windows order and measure episodes by the date alone
      val rows = frame(seed, 1L, dupDates = false, nullDates = false)
      val df = toDf(rows, DateType)
      Graft.register(spark)
      df.createOrReplaceTempView("ret")
      def byAsset(d: DataFrame): Map[String, Row] = d.collect().map(r => r.getString(0) -> r).toMap
      val queries = windowSql(graft.core.Dist.invCdf(1 - 0.95))
      val sql = queries.map { case (q, text) => q -> byAsset(spark.sql(text)) }
      val sf = SeriesFrame(df, Seq("asset"), "d", "r")
      val dd = byAsset(GroupedStats.drawdownStats(sf))
      val vc = byAsset(GroupedStats.varCvar(sf))
      val streaks = byAsset(GroupedStats.streaks(sf))
      val eps = byAsset(GroupedStats.drawdownEpisodes(sf))
      val smart = byAsset(GroupedStats.smartSharpe(sf))
      // the penalty as q30's oracle SQL spells it, with the engine's NaN for n < 2 or no rho
      val pen = byAsset(spark.sql(
        s"""WITH s AS (SELECT asset, CAST(n AS DOUBLE) AS n, rho FROM (${queries("q30")}) q)
           |SELECT asset, CASE WHEN n < 2 OR rho IS NULL OR isnan(rho) THEN CAST('NaN' AS DOUBLE) ELSE
           |  SQRT(1.0 + 2.0 * (CASE
           |    WHEN ABS(rho) = 0 THEN 0.0
           |    WHEN ABS(1.0 - ABS(rho)) < 1e-12
           |      THEN (n - 1.0) - (n - 1.0) * ((n - 1.0) + 1.0) / (2.0 * n)
           |    ELSE ABS(rho) * (1.0 - POW(ABS(rho), n - 1.0)) / (1.0 - ABS(rho))
           |         - (ABS(rho) * (1.0 - ((n - 1.0) + 1.0) * POW(ABS(rho), n - 1.0)
           |                        + (n - 1.0) * POW(ABS(rho), n - 1.0) * ABS(rho))
           |            / ((1.0 - ABS(rho)) * (1.0 - ABS(rho)))) / n
           |    END)) END AS p
           |FROM s""".stripMargin))
      def opt(r: Row, k: String): Option[Double] = Option(r.getAs[java.lang.Double](k)).map(_.doubleValue)
      assert(dd.keySet == sql("q07").keySet && vc.keySet == sql("q04").keySet &&
        streaks.keySet == sql("q09").keySet && smart.keySet == pen.keySet)
      // a series without episodes has no row on either side
      assert(eps.keySet == sql("q08").keySet, s"seed $seed")
      dd.keys.foreach { a =>
        val clue = s"seed $seed $a"
        val (q04, q07, q09) = (sql("q04")(a), sql("q07")(a), sql("q09")(a))
        assert(opt(dd(a), "max_drawdown") == opt(q07, "max_drawdown"), clue)
        close(s"$clue ulcer", opt(dd(a), "ulcer_index"), opt(q07, "ulcer_index"))
        close(s"$clue recovery", opt(dd(a), "recovery_factor"), opt(q07, "recovery_factor"))
        close(s"$clue var", opt(vc(a), "value_at_risk"), opt(q04, "value_at_risk"))
        close(s"$clue cvar", opt(vc(a), "cvar"), opt(q04, "cvar"))
        assert(streaks(a).getAs[Long]("consecutive_wins") == q09.getAs[Long]("consecutive_wins"), clue)
        assert(streaks(a).getAs[Long]("consecutive_losses") == q09.getAs[Long]("consecutive_losses"), clue)
        close(s"$clue penalty", opt(smart(a), "autocorr_penalty"), opt(pen(a), "p"))
        eps.get(a).foreach { e =>
          val q08 = sql("q08")(a)
          assert(e.getAs[Long]("longest_dd_days") == q08.getAs[Long]("longest_dd_days"), clue)
          assert(e.getAs[Double]("avg_dd_days") == q08.getAs[Double]("avg_dd_days"), clue)
          close(s"$clue avgDepth", opt(e, "avg_drawdown"), opt(q08, "avg_drawdown"))
        }
      }
    }
  }

  test("GroupedStats' ordered metrics fail at call time on an unsupported ts type") {
    val df = spark.createDataFrame(java.util.Arrays.asList(Row("a", "x", 1.5, 0.01)),
      StructType(Seq(StructField("asset", StringType), StructField("label", StringType),
        StructField("stamp", DoubleType), StructField("r", DoubleType))))
    val ops: Seq[(String, SeriesFrame => DataFrame)] = Seq(
      "drawdownStats" -> (GroupedStats.drawdownStats(_)),
      "varCvar" -> (GroupedStats.varCvar(_)),
      "streaks" -> GroupedStats.streaks,
      "drawdownEpisodes" -> GroupedStats.drawdownEpisodes,
      "smartSharpe" -> (GroupedStats.smartSharpe(_)))
    for ((name, op) <- ops; ts <- Seq("label", "stamp")) {
      val e = intercept[IllegalArgumentException](op(SeriesFrame(df, Seq("asset"), ts, "r")))
      assert(e.getMessage.contains(ts), s"$name on $ts: ${e.getMessage}")
    }
  }

  test("drawdownEpisodes keeps a key whose only episode has null dates") {
    val rows = Seq(
      // three null dates sort first; equal returns, so their order is immaterial
      ("a", null, -0.1), ("a", null, -0.1), ("a", null, -0.1),
      ("a", Date.valueOf("2024-01-02"), 0.5), ("a", Date.valueOf("2024-01-03"), 0.1),
      ("b", Date.valueOf("2024-01-02"), 0.1), ("b", Date.valueOf("2024-01-03"), 0.2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (a, d, r) => Row(a, d, r) }, 3),
      StructType(Seq(StructField("asset", StringType), StructField("d", DateType),
        StructField("r", DoubleType))))
    val got = GroupedStats.drawdownEpisodes(SeriesFrame(df, Seq("asset"), "d", "r")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a"), got.toSeq)
    val e = got.head
    assert(e.getAs[Long]("longest_dd_days") == 0L && e.getAs[Double]("avg_dd_days") == 0.0, e)
    // wealth 0.9 (the peak), 0.81, 0.729
    assertApprox(e.getAs[Double]("avg_drawdown"), 0.729 / 0.9 - 1, 1e-12)
  }

  test("drawdownEpisodes counts datediff days on a timestamp ts: 2 hours across midnight is 2 days") {
    def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(("2024-01-01T22:00:00Z", 0.1), ("2024-01-01T23:00:00Z", -0.1),
      ("2024-01-02T01:00:00Z", -0.05), ("2024-01-02T03:00:00Z", 0.5))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows.map { case (t, r) => Row("a", ts(t), r) }: _*),
      StructType(Seq(StructField("asset", StringType), StructField("t", TimestampType),
        StructField("r", DoubleType))))
    // the session time zone is UTC: the episode runs 2024-01-01 23:00 → 2024-01-02 01:00
    val e = GroupedStats.drawdownEpisodes(SeriesFrame(df, Seq("asset"), "t", "r")).collect().toSeq
    assert(e.map(r => (r.getAs[Long]("longest_dd_days"), r.getAs[Double]("avg_dd_days"))) == Seq((2L, 2.0)), e)
  }

  test("an empty series gives nulls and zeros; an empty wide frame one row of them") {
    val agg = walkAgg
    val zero = agg.finish(agg.createAggregationBuffer())
    assert(zero.penalty.isNaN && SeriesAgg.Result.empty.penalty.isNaN)
    // NaN ≠ NaN: the rest compared with the penalty set aside
    assert(zero.copy(penalty = 0.0) == SeriesAgg.Result(0L, None, None, None, None, None, None, None,
      0L, 0L, 0.0, 0.0, 0L, 0L, None, 0.0))
    assert(SeriesAgg.Result.empty.copy(penalty = 0.0) == zero.copy(penalty = 0.0))
    import graft.stats.Stats
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row],
      StructType(Seq(StructField("date", DateType), StructField("a", DoubleType))))
    assert(Stats.maxDrawdown(empty).collect().toSeq == Seq(Row(null)))
    assert(Stats.conditionalValueAtRisk(empty).collect().toSeq == Seq(Row(null)))
    assert(Stats.consecutiveWins(empty).collect().toSeq == Seq(Row(0L)))
    assert(Stats.longestDrawdownDays(empty).collect().toSeq == Seq(Row(0L)))
  }

  test("an empty wide frame gives the smart calls one row of NaN") {
    import graft.stats.Stats
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row],
      StructType(Seq(StructField("date", DateType), StructField("a", DoubleType),
        StructField("b", DoubleType))))
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "smartSharpe" -> (Stats.smartSharpe(_)),
      "autocorrPenalty" -> Stats.autocorrPenalty,
      "probabilisticSharpeRatio(smart)" -> (Stats.probabilisticSharpeRatio(_, smart = true)))
    calls.foreach { case (name, f) =>
      val rows = f(empty).collect().toSeq
      assert(rows.size == 1 && rows.head.length == 2, s"$name: $rows")
      assert(rows.head.toSeq.forall(_.asInstanceOf[Double].isNaN), s"$name: $rows")
    }
  }

  test("the ordered Stats metrics execute no Window and no Sort operator") {
    import graft.stats.Stats
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, ScalaAggregator}
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "maxDrawdown" -> (Stats.maxDrawdown(_)),
      "serenityIndex" -> (Stats.serenityIndex(_)),
      "conditionalValueAtRisk" -> (Stats.conditionalValueAtRisk(_)),
      "consecutiveWins" -> (Stats.consecutiveWins(_)),
      "longestDrawdownDays" -> (Stats.longestDrawdownDays(_)),
      "GroupedStats.drawdownStats" -> (d => GroupedStats.drawdownStats(GroupedStats.fromWide(d, "date"))),
      "Reports.metrics(full)" -> (graft.reports.Reports.metrics(_, mode = "full")))
    calls.foreach { case (name, f) =>
      val ops = Instrument.executedOperators(spark)(f(simpleDf).collect())
      assert(ops.exists(_.nodeName == "ObjectHashAggregate"), s"$name: ${ops.map(_.nodeName).distinct}")
      val bad = ops.filter(o => o.nodeName.contains("Window") || o.nodeName == "Sort")
      assert(bad.isEmpty, s"$name: ${bad.map(_.nodeName)}")
      // the walk is a Catalyst aggregate of its own, not an Aggregator behind encoders
      val wrapped = ops.collect { case a: ObjectHashAggregateExec => a.aggregateExpressions }.flatten
        .map(_.aggregateFunction).filter(_.isInstanceOf[ScalaAggregator[_, _, _]])
      assert(wrapped.isEmpty, s"$name: $wrapped")
    }
  }

  test("a partial buffer crosses a shuffle as 4 + 25·n bytes, every bit kept") {
    import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
    val agg = walkAgg
    val rows: Seq[(Any, Long, Any)] = Seq(
      (Long.MinValue, 3L, Double.NaN), (Long.MaxValue, -1L, -0.0), (null, Long.MinValue, 0.0),
      (0L, Long.MaxValue, Double.PositiveInfinity), (-7L, 0L, Double.NegativeInfinity),
      (42L, 5L, null), (null, 6L, null), (1L, 7L, longBitsToDouble(0x7ff8000000000abcL)),
      (2L, 8L, Double.MinPositiveValue), (3L, 9L, -1.0))
    val full = agg.createAggregationBuffer()
    rows.foreach { case (k, t, r) => full.add(k, t, r) }
    Seq(agg.createAggregationBuffer(), full).foreach { b =>
      val bytes = agg.serialize(b)
      assert(bytes.length == 4 + 25 * b.n)
      // column by column, little-endian: n, keys, ties, return bits, flags
      val le = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = b.n
      assert(le.getInt(0) == n)
      (0 until n).foreach { i =>
        assert(le.getLong(4 + 8 * i) == b.keys(i) && le.getLong(4 + 8 * (n + i)) == b.ties(i) &&
          le.getLong(4 + 8 * (2 * n + i)) == doubleToRawLongBits(b.rs(i)) && bytes(4 + 24 * n + i) == b.nulls(i),
          s"row $i")
      }
      val back = agg.deserialize(bytes)
      assert(back.n == b.n)
      assert(back.keys.take(b.n).toSeq == b.keys.take(b.n).toSeq)
      assert(back.ties.take(b.n).toSeq == b.ties.take(b.n).toSeq)
      assert(back.nulls.take(b.n).toSeq == b.nulls.take(b.n).toSeq)
      assert(back.rs.take(b.n).map(doubleToRawLongBits).toSeq == b.rs.take(b.n).map(doubleToRawLongBits).toSeq)
      // compared as text: NaN fields print alike
      assert(agg.finish(back).toString == agg.finish(b).toString)
    }
    assert(full.n == rows.size)
    assert(full.nulls.take(full.n).toSeq == rows.map { case (k, _, r) =>
      ((if (k == null) 1 else 0) | (if (r == null) 2 else 0)).toByte })
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
      episodes: Long, longest: Long, avgLen: Double, avgDepth: Double, wins: Long, losses: Long,
      rho: Option[Double])
}
