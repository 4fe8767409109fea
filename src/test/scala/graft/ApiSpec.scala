package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.{AmbiguousBenchmarkReturnsError, NoReturnColumnError, ReturnsFrame}
import graft.stats.Stats
import graft.stats.Stats.scalar

class ApiSpec extends SparkSpec {
  import spark.implicits._

  test("graft_product registered for SQL, incl. window frames") {
    Graft.register(spark)
    val agg = spark.sql(
      "SELECT graft_product(x) FROM VALUES (1.1), (2.0), (CAST(NULL AS DOUBLE)) t(x)")
      .head().getDouble(0)
    assertApprox(agg, 2.2)
    val running = spark.sql(
      """SELECT graft_product(x) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
        |AND CURRENT ROW) FROM VALUES (1, 2.0), (2, 3.0), (3, 0.5) t(i, x)""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(running.toSeq == Seq(2.0, 6.0, 3.0))
    val empty = spark.sql("SELECT graft_product(x) FROM (SELECT CAST(NULL AS DOUBLE) x) WHERE x IS NOT NULL")
      .head()
    assert(empty.isNullAt(0))
  }

  test("graft_langid and graft_bpe_word_tokens registered for SQL") {
    Graft.register(spark)
    val lang = spark.sql(
      "SELECT graft_langid('Der Zug in die Stadt faehrt am Morgen ab und der Himmel ist grau.')")
      .head().getString(0)
    assert(lang == "de", s"got $lang")
    assert(spark.sql("SELECT graft_langid('')").head().getString(0) == "und")
    val toks = spark.sql(
      "SELECT w, graft_bpe_word_tokens(w) FROM VALUES ('customer'), ('fast'), ('sparkling') t(w)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toks == Map("customer" -> 1L, "fast" -> 3L,
      "sparkling" -> graft.ext.Bpe.tokenCount("sparkling").toLong))
  }

  test("benchmark validation errors") {
    val noNumeric = Seq(("2023-01-01", "a")).toDF("name", "label")
    intercept[NoReturnColumnError](ReturnsFrame.prepareBenchmark(noNumeric))
    val twoNumeric = Seq((0.01, 0.02)).toDF("b1", "b2")
    intercept[AmbiguousBenchmarkReturnsError](ReturnsFrame.prepareBenchmark(twoNumeric))
  }

  test("as-of join benchmark with extra dates matches equi-date result") {
    // benchmark has 7 dates; returns 5 — backward as-of picks the same-date rows
    val bench7 = dates(7).zip(Seq(0.005, -0.01, 0.015, -0.005, 0.01, 0.02, 0.03))
      .toDF("date", "_benchmark_returns")
    val corr7 = scalar(Stats.correlation(simpleDf.select($"date", $"asset_a"), bench7))
    val corr5 = scalar(Stats.correlation(simpleDf.select($"date", $"asset_a"), benchmarkDf))
    assertApprox(corr7, corr5)
  }

  test("wide benchmark calls agree with GroupedStats.benchmarked on equal dates") {
    // the same dates on both sides: the wide API's as-of join reduces to
    // GroupedStats' equi-join, so both paths aggregate the same (r, b) pairs
    def agree(wide: DataFrame, bench: DataFrame, partitions: Option[Int], clue: String): Unit = {
      val long = graft.api.GroupedStats.fromWide(wide, "date")
      val spread = long.copy(df = partitions.fold(long.df)(n => long.df.repartition(n)))
      val panel = graft.api.GroupedStats.benchmarked(spread, bench, "date", "benchmark")
        .collect().map(r => r.getAs[String]("asset") -> r).toMap
      val greeks = Stats.greeks(wide, bench).head()
      val wideRows = Seq(
        "information_ratio" -> Stats.informationRatio(wide, bench),
        "correlation" -> Stats.correlation(wide, bench),
        "r_squared" -> Stats.rSquared(wide, bench),
        "treynor_ratio" -> Stats.treynorRatio(wide, bench)).map { case (k, df) => k -> df.head() }
      def same(wideValue: Any, p: Row, k: String, c: String): Unit = {
        val grouped = p.getAs[Any](k)
        if (wideValue == null || grouped == null)
          assert(wideValue == grouped, s"$clue $k $c: $wideValue vs $grouped")
        else assertApprox(wideValue.asInstanceOf[Double], grouped.asInstanceOf[Double], 1e-12, s"$clue $k $c")
      }
      Seq("x", "y", "z").zipWithIndex.foreach { case (c, i) =>
        val p = panel(c)
        same(greeks.getStruct(i).get(0), p, "alpha", c)
        same(greeks.getStruct(i).get(1), p, "beta", c)
        wideRows.foreach { case (k, row) => same(row.get(i), p, k, c) }
      }
    }
    val rnd = new scala.util.Random(9)
    val ds = dates(60)
    val b = Seq.fill(60)(rnd.nextGaussian() * 0.01)
    val xs = Seq(0.5, 1.0, 1.5).map(beta => b.map(v => 0.0002 + beta * v + rnd.nextGaussian() * 0.005))
    agree(ds.indices.map(i => (ds(i), xs(0)(i), xs(1)(i), xs(2)(i))).toDF("date", "x", "y", "z"),
      ds.zip(b).toDF("date", "benchmark"), None, "random benchmark")
    // a constant benchmark spread over partitions: merged partial moments
    // must not leave a residue where one partition has exact zeros
    val flat = dates(300)
    val ys = Seq.fill(3)(Seq.fill(300)(rnd.nextGaussian() * 0.01))
    agree(flat.indices.map(i => (flat(i), ys(0)(i), ys(1)(i), ys(2)(i))).toDF("date", "x", "y", "z"),
      flat.map(d => (d, 0.0002)).toDF("date", "benchmark"), Some(3), "constant benchmark")
  }

  test("GroupedStats.calendarReturns output is a series every ordered op accepts") {
    // each bucket's ts is its first date, so monthly buckets keep a date
    // order: the streaks are the wide API's over the same month buckets
    val rnd = new scala.util.Random(11)
    val ds = (0 until 150).map(i =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2022, 11, 20).plusDays(i)))
    val wide = ds.map(d => (d, rnd.nextGaussian() * 0.01, rnd.nextGaussian() * 0.01 + 0.001))
      .toDF("date", "x", "y")
    val monthly = graft.api.GroupedStats.calendarReturns(
      graft.api.GroupedStats.fromWide(wide, "date"), graft.stats.Calendar.Grain.Month)
    assert(monthly.df.schema(monthly.ts).dataType == org.apache.spark.sql.types.DateType)
    val gs = graft.api.GroupedStats
    Seq(gs.drawdownStats(monthly), gs.varCvar(monthly), gs.smartSharpe(monthly))
      .foreach(df => assert(df.collect().length == 2))
    val streaks = gs.streaks(monthly).collect().map(r => r.getAs[String]("asset") -> r).toMap
    val wins = Stats.consecutiveWins(wide, Some("month")).head()
    val losses = Stats.consecutiveLosses(wide, Some("month")).head()
    Seq("x", "y").zipWithIndex.foreach { case (c, i) =>
      assert(streaks(c).getAs[Long]("consecutive_wins") == wins.getLong(i), c)
      assert(streaks(c).getAs[Long]("consecutive_losses") == losses.getLong(i), c)
    }
  }

  test("zero-variance benchmark yields non-finite beta without throwing") {
    val flat = dates(5).map(d => (d, 0.01)).toDF("date", "_benchmark_returns")
    val beta = Stats.greeks(simpleDf.select($"date", $"asset_a"), flat)
      .head().getStruct(0).getDouble(1)
    assert(beta.isNaN || beta.isInfinite)
  }

  test("alias surface dispatches to the same implementations") {
    assertApprox(scalar(Stats.psr(simpleSeries)),
      scalar(Stats.probabilisticSharpeRatio(simpleSeries)), 1e-12)
    assertApprox(scalar(Stats.cvar(simpleSeries)),
      scalar(Stats.conditionalValueAtRisk(simpleSeries)), 1e-12)
    assertApprox(scalar(Stats.ror(simpleSeries)), scalar(Stats.riskOfRuin(simpleSeries)), 1e-12)
    assertApprox(scalar(Stats.geometricMean(simpleSeries)),
      scalar(Stats.expectedReturn(simpleSeries)), 1e-12)
  }
}
