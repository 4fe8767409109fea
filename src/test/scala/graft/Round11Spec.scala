package graft

import org.apache.spark.sql.functions._

import graft.core.Dist
import graft.queries.Queries
import graft.stats.Stats

/** Round-11 guards: the q207 tail-metrics panel must agree with the wide
  * reference-parity API (same math, two independent code paths) and run as
  * one aggregation without a window, and the distributed Column erf must
  * track the scalar Cody erf to float resolution across every branch of the
  * approximation.
  */
class Round11Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("erfCol matches scalar Cody erf across all three branches") {
    val xs = Seq(-6.0, -4.0001, -3.999, -2.5, -1.0, -0.5001, -0.4999, -0.1,
      0.0, 0.1, 0.4999, 0.5001, 1.0, 2.5, 3.999, 4.0001, 6.0)
    val df = spark.createDataFrame(xs.map(Tuple1(_))).toDF("x")
    val got = df.select(col("x"), Dist.erfCol(col("x")).as("e"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    xs.foreach { x =>
      val expected = Dist.erf(x)
      assert(math.abs(got(x) - expected) <= 1e-15,
        s"erfCol($x) = ${got(x)}, scalar erf = $expected")
    }
    // Φ sanity at the 5% z-score the engine uses everywhere
    val phi = df.select(Dist.normCdfCol(lit(Dist.invCdf(0.05))).as("p")).head().getDouble(0)
    assert(math.abs(phi - 0.05) < 1e-12)
  }

  test("q207 executes no Window, and its only Sort is the final orderBy") {
    // q207 reads the cached asset returns, whose own lag window is not q207's
    Queries.assetReturns(spark, sf).df.count()
    val ops = Instrument.executedOperators(spark, throughCache = false)(
      Queries.q207TailMetrics(spark, sf).collect())
    val names = ops.map(_.nodeName)
    assert(names.contains("ObjectHashAggregate"), names.distinct)
    assert(!names.exists(_.contains("Window")), names)
    val sorts = ops.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.size == 1, names)
    assert(sorts.head.global && sorts.head.sortOrder.map(_.child.references.map(_.name).toSeq) ==
      Seq(Seq("asset")), sorts.head)
  }

  test("q207 panel agrees with the wide Stats API on the same data") {
    val long = Queries.assetReturns(spark, sf).df.cache()
    val panel = Queries.q207TailMetrics(spark, sf).collect()
      .map(r => r.getAs[String]("asset") -> r).toMap
    // per-asset single-column wide frames: a multi-asset pivot would create
    // null days per asset, and sortino's downside denominator counts
    // null→0 rows (reference Polars semantics) — not the same data the
    // long panel sees. One column per comparison keeps the inputs identical.
    def wideRow(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[String, Double] =
      panel.keys.map { asset =>
        val wide = long.filter(col("asset") === asset)
          .select(col("d"), col("r").as(asset)).orderBy("d")
        val row = build(wide).head()
        asset -> (if (row.isNullAt(0)) Double.NaN else row.getDouble(0))
      }.toMap
    val psr = wideRow(Stats.probabilisticSharpeRatio(_))
    val ser = wideRow(Stats.serenityIndex(_))
    val smartSort = wideRow(Stats.smartSortino(_))
    val adjSort = wideRow(Stats.adjustedSortino(_))
    panel.foreach { case (asset, r) =>
      assert(math.abs(r.getAs[Double]("psr") - psr(asset)) <= 2e-6,
        s"$asset psr: panel ${r.getAs[Double]("psr")} vs wide ${psr(asset)}")
      val wideSer = ser(asset)
      val relSer = math.abs(r.getAs[Double]("serenity") - wideSer) /
        math.max(1.0, math.abs(wideSer))
      assert(relSer <= 2e-6, s"$asset serenity: panel vs wide rel diff $relSer")
      assert(math.abs(r.getAs[Double]("smart_sortino") - smartSort(asset)) <= 2e-6,
        s"$asset smart_sortino: panel vs wide")
      assert(math.abs(r.getAs[Double]("adjusted_sortino") - adjSort(asset)) <= 2e-6,
        s"$asset adjusted_sortino: panel vs wide")
      assert(math.abs(r.getAs[Double]("smart_adjusted_sortino") -
        smartSort(asset) / math.sqrt(2.0)) <= 2e-6,
        s"$asset smart_adjusted_sortino: panel vs wide")
      assert(r.getAs[Double]("psr") >= 0.0 && r.getAs[Double]("psr") <= 1.0)
    }
    assert(panel.size == 3)
  }

  test("positional concat is distributed and order-exact across partitions") {
    import spark.implicits._
    val n = 10000
    // deliberately multi-partition on both sides, different partition counts
    val left = spark.sparkContext.parallelize(0 until n, 7)
      .map(i => (i, s"L$i")).toDF("li", "lv")
    val right = spark.sparkContext.parallelize(0 until n, 11)
      .map(i => (i * 2, s"R$i")).toDF("ri", "rv")
    val zipped = graft.core.AsOfJoin.positional(left, right).collect()
    assert(zipped.length == n)
    zipped.foreach { r =>
      val i = r.getAs[Int]("li")
      assert(r.getAs[String]("lv") == s"L$i")
      assert(r.getAs[Int]("ri") == i * 2, s"row $i misaligned")
      assert(r.getAs[String]("rv") == s"R$i")
    }
    // ragged lengths: full-outer keeps the longer side, nulls the shorter
    val shortRight = spark.sparkContext.parallelize(0 until 10, 3)
      .map(i => Tuple1(i * 3)).toDF("ri")
    val ragged = graft.core.AsOfJoin.positional(left, shortRight).collect()
    assert(ragged.length == n)
    assert(ragged.count(r => !r.isNullAt(r.fieldIndex("ri"))) == 10)
    // the physical plan must not funnel the data through one partition
    val plan = graft.core.AsOfJoin.positional(left, right)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"plan serializes:\n$plan")
  }
}
