package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.core.{Dist, Exprs, ReturnsFrame}

/** Autocorrelation penalty, smart ratios and the probabilistic Sharpe ratio
  * (reference: alphastats/stats.py:255-336, 1292-1361).
  *
  * Everything here runs in ONE Spark job per call: a single ordered window
  * pass materializes each column's previous non-null value, and the lag-1
  * correlations, counts, and any base-ratio aggregates all evaluate in the
  * same wide aggregation. Only the O(n) geometric-decay sum
  * Σ((n−x)/n)·ρˣ is driver-side, in closed form. (The per-key distributed
  * formulation of the same closed form is `Exprs.autocorrPenalty`, used by
  * `GroupedStats.smartSharpe` — the scale path.)
  */
object Smart {

  /** One job: per-column (count, lag-1 corr) plus any caller-supplied
    * aggregates, computed over the MELTED frame — each column becomes an
    * asset partition, so the previous-non-null window partitions by asset
    * (no single-partition global window) and the extras ride along in the
    * same per-asset aggregation. The lag-pair correlation matches the
    * reference's hand-rolled covariance/variance sums over (head, tail)
    * slices of the non-null values (alphastats/stats.py:1292-1315).
    */
  private def penaltyRows(returns: DataFrame,
      extra: Seq[(String, Column => Column)]): (Seq[String], Map[String, Row]) = {
    val rfm = ReturnsFrame(returns)
    val sf = Stats.melted(rfm)
    val prevW = Window.partitionBy(col("__asset")).orderBy(col("__ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = sf.df.withColumn("__prev",
      last(col("__r"), ignoreNulls = true).over(prevW))
    val aggs = Seq(
      count(col("__r")).as("__n"),
      corr(col("__prev"), col("__r")).as("__rho")) ++
      extra.map { case (n, f) => f(col("__r")).as(n) }
    val rows = withPrev.groupBy(col("__asset")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getAs[String]("__asset") -> r).toMap
    (rfm.numericCols, rows)
  }

  private def penaltiesFrom(rows: Map[String, Row]): Map[String, Double] =
    rows.map { case (c, row) =>
      val n = row.getAs[Long]("__n")
      val i = row.fieldIndex("__rho")
      val penalty =
        if (n < 2 || row.isNullAt(i) || row.getDouble(i).isNaN) Double.NaN
        else math.sqrt(1 + 2 * decaySum(math.abs(row.getDouble(i)), n))
      c -> penalty
    }

  /** Penalty from an already-aggregated (count, lag-1 corr) pair — the entry
    * point for callers that computed the corr in their own (e.g. long-format
    * key-partitioned) aggregation, like Reports' per-asset pass.
    */
  def penaltyOf(n: Long, rho: Option[Double]): Double = rho match {
    case Some(r) if n >= 2 && !r.isNaN => math.sqrt(1 + 2 * decaySum(math.abs(r), n))
    case _ => Double.NaN
  }

  /** Per-column penalty √(1 + 2·Σ_{x=1}^{n-1} ((n−x)/n)·ρˣ), ρ = |lag-1 corr|;
    * NaN when n < 2 or a slice variance is 0 (alphastats/stats.py:1292-1315).
    */
  def autocorrPenaltyValues(returns: DataFrame): Seq[(String, Double)] = {
    val (cols, rows) = penaltyRows(returns, Nil)
    val p = penaltiesFrom(rows)
    cols.map(c => c -> p(c))
  }

  /** Σ_{x=1}^{n-1} ((n−x)/n)·cˣ in closed form:
    * Σcˣ − (1/n)Σx·cˣ over x ∈ [1, n−1].
    */
  private def decaySum(c: Double, n: Long): Double = {
    val m = n - 1
    if (c == 0.0) 0.0
    else if (math.abs(1.0 - c) < 1e-12) m.toDouble - m.toDouble * (m + 1) / (2.0 * n)
    else {
      val cm = math.pow(c, m.toDouble)
      val s1 = c * (1 - cm) / (1 - c)
      val s2 = c * (1 - (m + 1) * cm + m * cm * c) / ((1 - c) * (1 - c))
      s1 - s2 / n
    }
  }

  def autocorrPenalty(returns: DataFrame): DataFrame =
    localRow(returns, autocorrPenaltyValues(returns).map(_._2))

  /** base-metric aggregate ÷ penalty per column, ONE job: the base exprs ride
    * along in the penalty aggregation (alphastats/stats.py:1334-1361).
    */
  def scaledByPenalty(returns: DataFrame, base: Column => Column): DataFrame = {
    val (cols, rows) = penaltyRows(returns, Seq("__b" -> base))
    val pen = penaltiesFrom(rows)
    localRow(returns, cols.map(c => dblName(rows(c), "__b") / pen(c)), cols)
  }

  /** Pre-computed 1-row base frame ÷ penalty — kept for callers that already
    * hold a base result; prefer [[scaledByPenalty]] (single job).
    */
  def scaleByPenalty(base: DataFrame, returns: DataFrame): DataFrame = {
    val penalties = autocorrPenaltyValues(returns).toMap
    val row = base.head()
    val vals = base.columns.toSeq.map { c =>
      val b = row.getAs[Any](base.columns.indexOf(c)) match {
        case d: Double => d
        case null => Double.NaN
      }
      b / penalties(c)
    }
    localRow(returns, vals, base.columns.toSeq)
  }

  /** QuantStats-compatible PSR (alphastats/stats.py:255-336), one job (two
    * when smart: the penalty window pass joins in). Note the preserved
    * quirks: the collected kurtosis is ALREADY excess yet still has 3
    * subtracted again, and `annualize` multiplies the probability by √252
    * (hard-coded) — both QuantStats behaviors.
    */
  def psr(returns: DataFrame, rf: Double, periods: Int, annualize: Boolean,
      smart: Boolean): DataFrame = {
    val rfm = ReturnsFrame(returns)
    val cols = rfm.numericCols
    // per column: (base sharpe, skew, kurtosis, n, penalty)
    val perCol: Map[String, (Double, Double, Double, Long, Double)] =
      if (smart) {
        val (_, rows) = penaltyRows(returns, Seq(
          ("__b", (r: Column) => Exprs.sharpe(r, 0.0, periods, annualize = false)),
          ("__sk", (r: Column) => Exprs.skew(r)),
          ("__ku", (r: Column) => Exprs.kurtosis(r))))
        val pen = penaltiesFrom(rows)
        rows.map { case (c, r) => c -> ((dblName(r, "__b"), dblName(r, "__sk"),
          dblName(r, "__ku"), r.getAs[Long]("__n"), pen(c)))
        }
      } else {
        // no penalty needed → skip the window pass entirely, pure aggregation
        val aggs = cols.flatMap(c => Seq(
          Exprs.sharpe(col(c), 0.0, periods, annualize = false).as(s"__b_$c"),
          Exprs.skew(col(c)).as(s"__sk_$c"),
          Exprs.kurtosis(col(c)).as(s"__ku_$c"),
          count(col(c)).as(s"__n_$c")))
        val row = rfm.df.agg(aggs.head, aggs.tail: _*).head()
        cols.map(c => c -> ((dblName(row, s"__b_$c"), dblName(row, s"__sk_$c"),
          dblName(row, s"__ku_$c"), row.getAs[Long](s"__n_$c"), 1.0))).toMap
      }
    val vals = cols.map { c =>
      val (b0, sk, ku, n, pen) = perCol(c)
      val b = if (smart) b0 / pen else b0
      val sigma = math.sqrt(
        (1 + 0.5 * b * b - sk * b + ((ku - 3) / 4) * b * b) / (n - 1))
      val p = Dist.cdf((b - rf) / sigma)
      if (annualize) p * math.sqrt(252.0) else p
    }
    localRow(returns, vals, cols)
  }

  private def dblName(r: Row, name: String): Double = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
  }

  private def localRow(returns: DataFrame, vals: Seq[Double]): DataFrame =
    localRow(returns, vals, ReturnsFrame(returns).numericCols)

  private def localRow(returns: DataFrame, vals: Seq[Double], cols: Seq[String]): DataFrame = {
    val schema = StructType(cols.map(c => StructField(c, DoubleType, nullable = false)))
    returns.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(vals)), schema)
  }
}
