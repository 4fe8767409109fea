package graft

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
    val rnd = new scala.util.Random(9)
    val ds = dates(60)
    val b = Seq.fill(60)(rnd.nextGaussian() * 0.01)
    val xs = Seq(0.5, 1.0, 1.5).map(beta => b.map(v => 0.0002 + beta * v + rnd.nextGaussian() * 0.005))
    val wide = ds.indices.map(i => (ds(i), xs(0)(i), xs(1)(i), xs(2)(i))).toDF("date", "x", "y", "z")
    val bench = ds.zip(b).toDF("date", "benchmark")
    val panel = graft.api.GroupedStats.benchmarked(graft.api.GroupedStats.fromWide(wide, "date"),
      bench, "date", "benchmark").collect().map(r => r.getAs[String]("asset") -> r).toMap
    val greeks = Stats.greeks(wide, bench).head()
    val wideRows = Seq(
      "information_ratio" -> Stats.informationRatio(wide, bench),
      "correlation" -> Stats.correlation(wide, bench),
      "r_squared" -> Stats.rSquared(wide, bench),
      "treynor_ratio" -> Stats.treynorRatio(wide, bench)).map { case (k, df) => k -> df.head() }
    Seq("x", "y", "z").zipWithIndex.foreach { case (c, i) =>
      val p = panel(c)
      assertApprox(greeks.getStruct(i).getDouble(0), p.getAs[Double]("alpha"), 1e-12, s"alpha $c")
      assertApprox(greeks.getStruct(i).getDouble(1), p.getAs[Double]("beta"), 1e-12, s"beta $c")
      wideRows.foreach { case (k, row) =>
        assertApprox(row.getDouble(i), p.getAs[Double](k), 1e-12, s"$k $c")
      }
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
