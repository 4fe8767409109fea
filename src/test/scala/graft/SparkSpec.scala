package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // a fixed 4 cores, not SPARK_GRAFT_CPUS: job, task and plan-size budgets
  // in the specs are measured at this width
  lazy val spark: SparkSession = Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // Reference unit fixtures (reference: tests/test_stats.py:20-81; FIXTURES.md §A.1)
  def simpleSeries: DataFrame = Seq(0.01, -0.02, 0.03, -0.01, 0.02).toDF("returns")
  def benchmarkSeries: DataFrame =
    Seq(0.005, -0.01, 0.015, -0.005, 0.01).toDF("_benchmark_returns")
  def nullsSeries: DataFrame =
    Seq(Some(0.01), None, Some(0.03), Some(-0.01), None).toDF("returns")
  def extremeSeries: DataFrame = Seq(0.5, -0.8, 1.2, -0.9, 0.3).toDF("returns")

  def dates(n: Int): Seq[Date] = {
    val start = java.time.LocalDate.of(2023, 1, 1)
    (0 until n).map(d => Date.valueOf(start.plusDays(d)))
  }

  def simpleDf: DataFrame = {
    val a = Seq(0.01, -0.02, 0.03, -0.01, 0.02)
    val b = Seq(0.02, -0.01, 0.01, 0.03, -0.02)
    dates(5).lazyZip(a).lazyZip(b).toSeq.toDF("date", "asset_a", "asset_b")
  }

  def benchmarkDf: DataFrame =
    dates(5).zip(Seq(0.005, -0.01, 0.015, -0.005, 0.01)).toDF("date", "_benchmark_returns")

  def extremeDf: DataFrame =
    dates(5).zip(Seq(0.5, -0.8, 1.2, -0.9, 0.3)).toDF("date", "asset")

  def assertApprox(actual: Double, expected: Double, tol: Double = 1e-11,
      clue: String = ""): Unit = {
    if (expected.isNaN) assert(actual.isNaN, s"$clue expected NaN got $actual")
    else if (expected.isInfinite) assert(actual == expected, s"$clue expected $expected got $actual")
    else {
      val scale = math.max(1.0, math.abs(expected))
      assert(math.abs(actual - expected) <= tol * scale,
        s"$clue expected $expected got $actual (tol $tol)")
    }
  }
}
