package graft.functions

import org.apache.spark.sql.{Column, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, unix_date, unix_micros}
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** Every ordered per-series metric in ONE aggregate: one series' (order key,
  * return) rows are buffered, sorted, and walked once — the sequential loop
  * of the reference's `_drawdown_period_lengths` / `_consecutive_count`
  * (alphastats/stats.py:1249-1289, 1570-1642) instead of a stack of window
  * layers, each of which is its own generated classes.
  *
  * The walk yields wealth Π(1+r), running peak and the clipped drawdown
  * dd = min(wealth ÷ peak − 1, 0) (null where r is null; wealth carries over
  * a null), then max drawdown, Σdd², the dd-VaR → dd-CVaR pair of the
  * serenity index, the r-VaR → CVaR pair, drawdown episodes (maximal runs of
  * dd < 0; a null breaks a run), sign-run streaks (a null is its own sign
  * class) and the lag-1 correlation of consecutive non-null returns.
  *
  * Semantics are those of the window formulation it replaces: Spark's double
  * ordering (NaN largest, −0 = 0), its update formulas for `avg`,
  * `stddev_samp` and `corr` applied in series order (so n ≤ 1 gives a null
  * σ and ρ, and zero variance a null ρ — Spark's x/0 — as there), and
  * `Exprs.fdiv` division.
  *
  * Order: the key ascending with null keys first, then the tie-break — the
  * order `orderBy(key, tie)` gives. Callers pass a tie-break that is unique
  * per row, so the result does not depend on how rows reach the aggregate.
  *
  * Memory: the buffer holds the whole series, O(series length) per group
  * per task — the bound the exact `percentile` aggregates already have.
  * Partial buffers are concatenated by `merge`; nothing is computed before
  * `finish`, so map-side partial aggregation only moves rows.
  */
object SeriesAgg {

  /** Φ⁻¹(0.05): the 95 % parametric VaR multiplier of every drawdown VaR. */
  val Z05: Double = graft.core.Dist.invCdf(0.05)

  /** How an episode's length is measured: its row count, or calendar days
    * (last − first) + 1 on a day key, or ⌊(last − first in whole seconds) ÷
    * 86400⌋ + 1 on a microsecond key (null keys skipped).
    */
  sealed trait Span extends Serializable
  case object Rows extends Span
  case object Days extends Span
  case object Micros extends Span

  /** The span of an order column's type: calendar days on a time axis, rows
    * otherwise.
    */
  def span(orderType: Option[DataType]): Span = orderType match {
    case Some(DateType) => Days
    case Some(TimestampType | TimestampNTZType) => Micros
    case _ => Rows
  }

  /** An order column as the aggregate's long key: days since the epoch for a
    * date, microseconds for a timestamp, the value for an integral column.
    */
  def orderKey(c: Column, dt: DataType): Column = dt match {
    case DateType => unix_date(c).cast("long")
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast("timestamp"))
    case _ => c.cast("long")
  }

  /** One row: order key (None sorts first), unique tie-break, return. */
  final case class Obs(key: Option[Long], tie: Long, r: Option[Double])

  /** Buffered rows, column-wise; the first `n` slots are in use. `nulls`
    * holds bit 1 for a null key and bit 2 for a null return.
    */
  final case class Buf(var n: Int, var keys: Array[Long], var ties: Array[Long],
      var rs: Array[Double], var nulls: Array[Byte]) {

    private def reserve(m: Int): Unit = if (m > keys.length) {
      val cap = math.max(m, math.max(16, keys.length * 2))
      keys = java.util.Arrays.copyOf(keys, cap)
      ties = java.util.Arrays.copyOf(ties, cap)
      rs = java.util.Arrays.copyOf(rs, cap)
      nulls = java.util.Arrays.copyOf(nulls, cap)
    }

    def add(o: Obs): Unit = {
      reserve(n + 1)
      keys(n) = o.key.getOrElse(0L)
      ties(n) = o.tie
      rs(n) = o.r.getOrElse(0.0)
      nulls(n) = ((if (o.key.isEmpty) 1 else 0) | (if (o.r.isEmpty) 2 else 0)).toByte
      n += 1
    }

    def addAll(b: Buf): Unit = {
      reserve(n + b.n)
      System.arraycopy(b.keys, 0, keys, n, b.n)
      System.arraycopy(b.ties, 0, ties, n, b.n)
      System.arraycopy(b.rs, 0, rs, n, b.n)
      System.arraycopy(b.nulls, 0, nulls, n, b.n)
      n += b.n
    }

    /** Slot indices in series order. */
    def order: Array[Int] = {
      val idx = Array.tabulate(n)(Int.box)
      java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
        def compare(a: Integer, b: Integer): Int = {
          val (i, j) = (a.intValue, b.intValue)
          val (ni, nj) = (nulls(i) & 1, nulls(j) & 1)
          if (ni != nj) nj - ni
          else if (ni == 0 && keys(i) != keys(j)) java.lang.Long.compare(keys(i), keys(j))
          else java.lang.Long.compare(ties(i), ties(j))
        }
      })
      idx.map(_.intValue)
    }
  }

  /** Per-series results. Options are SQL nulls; the episode and streak
    * figures are 0 for a series without episodes or runs.
    */
  final case class Result(
      n: Long,                    // non-null returns
      sum: Option[Double],        // Σr in series order
      std: Option[Double],        // stddev_samp(r)
      wealth: Option[Double],     // Π(1+r)
      maxDrawdown: Option[Double],
      ddSquares: Option[Double],  // Σdd²
      ddCvar: Option[Double],     // mean dd below dd-VaR, else dd-VaR
      cvar: Option[Double],       // mean r below r-VaR, else r-VaR
      longestEpisode: Long,
      avgEpisode: Double,
      avgDepth: Double,
      wins: Long,
      losses: Long,
      rho: Option[Double]) {      // lag-1 corr of consecutive non-null r

    /** √(Σdd² ÷ (n − 1)) (reference: alphastats/stats.py:1524-1546). */
    def ulcer: Option[Double] = ddSquares.map(s => math.sqrt(fdiv(s, (n - 1).toDouble)))

    /** |Σr − rf| ÷ |max drawdown| (reference: alphastats/stats.py:1510-1521). */
    def recovery(rf: Double): Option[Double] =
      for (s <- sum; m <- maxDrawdown) yield fdiv(math.abs(s - rf), math.abs(m))

    /** (Σr − rf) ÷ (ulcer · pitfall), pitfall = −dd-CVaR ÷ σ(r)
      * (reference: alphastats/stats.py:1549-1567).
      */
    def serenity(rf: Double): Option[Double] =
      for (s <- sum; u <- ulcer; c <- ddCvar; sd <- std) yield fdiv(s - rf, u * fdiv(-c, sd))

    /** Compounded CAGR ÷ |max drawdown| (reference: alphastats/stats.py:474-506). */
    def calmar(periods: Int): Option[Double] = for (w <- wealth; m <- maxDrawdown) yield
      fdiv(StrictMath.pow((w - 1.0) + 1.0, periods.toDouble / n) - 1.0, math.abs(m))
  }

  object Result {
    /** The result of a series without rows. */
    val empty: Result = Result(0L, None, None, None, None, None, None, None, 0L, 0.0, 0.0, 0L, 0L, None)

    /** A collected `SeriesAgg` struct. */
    def apply(row: Row): Result = {
      def opt(k: String): Option[Double] = Option(row.getAs[java.lang.Double](k)).map(_.doubleValue)
      Result(row.getAs[Long]("n"), opt("sum"), opt("std"), opt("wealth"), opt("maxDrawdown"),
        opt("ddSquares"), opt("ddCvar"), opt("cvar"), row.getAs[Long]("longestEpisode"),
        row.getAs[Double]("avgEpisode"), row.getAs[Double]("avgDepth"),
        row.getAs[Long]("wins"), row.getAs[Long]("losses"), opt("rho"))
    }
  }

  /** Spark's double order: NaN largest, −0 equal to 0. */
  private def cmp(x: Double, y: Double): Int = if (x == y) 0 else java.lang.Double.compare(x, y)

  /** `Exprs.fdiv`: x/0 → ±Inf, 0/0 → NaN. */
  private def fdiv(a: Double, b: Double): Double =
    if (b == 0.0) { if (a == 0.0) Double.NaN else if (cmp(a, 0.0) > 0) Double.PositiveInfinity
      else Double.NegativeInfinity }
    else a / b

  /** Spark's `avg` and `stddev_samp` state, updated in input order. */
  private final class Moments {
    var n = 0.0
    var sum = 0.0
    private var mean = 0.0
    private var m2 = 0.0
    def add(x: Double): Unit = {
      sum += x
      val newN = n + 1.0
      val delta = x - mean
      val deltaN = delta / newN
      mean += deltaN
      m2 += delta * (delta - deltaN)
      n = newN
    }
    def avg: Option[Double] = if (n == 0.0) None else Some(sum / n)
    def std: Option[Double] = if (n <= 1.0) None else Some(math.sqrt(m2 / (n - 1.0)))
    /** avg + z·std: the parametric VaR. */
    def valueAtRisk(z: Double): Option[Double] = for (a <- avg; s <- std) yield a + z * s
  }

  /** Mean of the values below `threshold`, else the threshold. */
  private def tailMean(xs: Array[Double], m: Int, threshold: Option[Double]): Option[Double] =
    threshold.map { v =>
      var s = 0.0
      var k = 0
      var i = 0
      while (i < m) { if (cmp(xs(i), v) < 0) { s += xs(i); k += 1 }; i += 1 }
      if (k == 0) v else s / k
    }

  /** @param span how episode lengths are measured
    * @param rz the r-VaR multiplier, Φ⁻¹(1 − confidence) · sigma: VaR = mean + rz · std
    */
  final class Agg(span: Span, rz: Double) extends Aggregator[Obs, Buf, Result] {

    def zero: Buf = Buf(0, Array.emptyLongArray, Array.emptyLongArray,
      Array.emptyDoubleArray, Array.emptyByteArray)

    def reduce(b: Buf, o: Obs): Buf = { b.add(o); b }

    def merge(a: Buf, b: Buf): Buf = { a.addAll(b); a }

    def finish(b: Buf): Result = {
      val rm = new Moments
      val ddm = new Moments
      val rs = new Array[Double](b.n)   // non-null returns, in order
      val dds = new Array[Double](b.n)  // their drawdowns
      var m = 0
      var wealth = 1.0
      var peak = 0.0
      var maxDd = 0.0
      var ddSq = 0.0
      // episodes: the open one's length/first and last non-null key/depth
      var epRows = 0L
      var epFirst = 0L
      var epLast = 0L
      var epKeyed = false
      var epDepth = 0.0
      var eps = 0L
      var epLenSum = 0.0
      var epLenN = 0L
      var epLenMax = 0L
      var epDepthSum = 0.0
      // streaks: the current sign class and its run length
      var cls = Int.MinValue
      var run = 0L
      var wins = 0L
      var losses = 0L
      // lag-1 pairs (x = previous non-null r, y = r): Spark's corr state
      var cn = 0.0
      var xAvg = 0.0
      var yAvg = 0.0
      var ck = 0.0
      var xMk = 0.0
      var yMk = 0.0

      def closeEpisode(): Unit = if (epRows > 0) {
        val len: Option[Long] = span match {
          case Rows => Some(epRows)
          case _ if !epKeyed => None
          case Days => Some(epLast - epFirst + 1)
          case Micros => Some(math.floor(
            (Math.floorDiv(epLast, 1000000L) - Math.floorDiv(epFirst, 1000000L)) / 86400.0).toLong + 1)
        }
        len.foreach { l => epLenSum += l.toDouble; epLenN += 1; epLenMax = math.max(epLenMax, l) }
        eps += 1
        epDepthSum += epDepth
        epRows = 0
        epKeyed = false
      }

      b.order.foreach { i =>
        val rNull = (b.nulls(i) & 2) != 0
        val r = b.rs(i)
        val c = if (rNull) 2 else cmp(r, 0.0)
        if (c == cls) run += 1 else { cls = c; run = 1 }
        if (c == 1) wins = math.max(wins, run)
        if (c == -1) losses = math.max(losses, run)
        if (rNull) closeEpisode()
        else {
          if (m > 0) {
            val x = rs(m - 1)
            val newN = cn + 1.0
            val dx = x - xAvg
            val dxN = dx / newN
            val dy = r - yAvg
            val dyN = dy / newN
            xAvg += dxN
            yAvg += dyN
            ck += dx * (r - yAvg)
            xMk += dx * (x - xAvg)
            yMk += dy * (r - yAvg)
            cn = newN
          }
          rm.add(r)
          wealth *= r + 1.0
          if (m == 0 || cmp(wealth, peak) > 0) peak = wealth
          val x = fdiv(wealth, peak) - 1.0
          val dd = if (cmp(x, 0.0) > 0) 0.0 else x
          if (m == 0 || cmp(dd, maxDd) < 0) maxDd = dd
          ddSq += dd * dd
          ddm.add(dd)
          rs(m) = r
          dds(m) = dd
          m += 1
          if (cmp(dd, 0.0) < 0) {
            if (epRows == 0) epDepth = dd else if (cmp(dd, epDepth) < 0) epDepth = dd
            epRows += 1
            if ((b.nulls(i) & 1) == 0) {
              if (!epKeyed) { epFirst = b.keys(i); epKeyed = true }
              epLast = b.keys(i)
            }
          } else closeEpisode()
        }
      }
      closeEpisode()

      val any = m > 0
      Result(
        n = m,
        sum = if (any) Some(rm.sum) else None,
        std = rm.std,
        wealth = if (any) Some(wealth) else None,
        maxDrawdown = if (any) Some(maxDd) else None,
        ddSquares = if (any) Some(ddSq) else None,
        ddCvar = tailMean(dds, m, ddm.valueAtRisk(Z05)),
        cvar = tailMean(rs, m, rm.valueAtRisk(rz)),
        longestEpisode = epLenMax,
        avgEpisode = if (epLenN == 0) 0.0 else epLenSum / epLenN,
        avgDepth = if (eps == 0) 0.0 else epDepthSum / eps,
        wins = wins,
        losses = losses,
        rho = { val d = math.sqrt(xMk * yMk); if (cn <= 1.0 || d == 0.0) None else Some(ck / d) })
    }

    def bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()
    def outputEncoder: Encoder[Result] = ExpressionEncoder[Result]()
  }

  /** The per-series results struct of `(key, tie, r)` rows, grouped by the
    * caller: `key` a long order key ([[orderKey]]), `tie` unique per row.
    */
  def apply(span: Span, rz: Double = Z05)(key: Column, tie: Column, r: Column): Column =
    udaf(new Agg(span, rz)).apply(key, tie, r)
}
