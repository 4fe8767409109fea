package graft

import org.apache.spark.sql.functions._

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs

/** Randomized differential fuzz of the grouped metric core (round-11
  * verdict item 5): ~10³ random FRAMES — null mixes, exact zeros, −100 %
  * returns, all-zero / all-null / all-loss / all-gain columns, 1-row and
  * tiny series — ride as assets of ONE melted frame through the
  * distributed [[GroupedStats]] battery (every metric a keyed aggregation
  * over all frames at once), then every (frame, metric) cell is compared
  * at 1e-9 rel against an INDEPENDENT driver-side scalar recompute of the
  * reference formulas (the serial-recompute pattern `WideAssetProbe`
  * uses, here over adversarial shapes instead of benign ones). Null/NaN
  * conventions must agree exactly: None≡SQL-null, NaN≡NaN.
  *
  * Scope: the scalar return-stats core (~35 metrics — trade stats,
  * moments, ratios, drawdown family, VaR/CVaR, streaks, smart sharpe).
  * Calendar- and benchmark-keyed metrics need date/benchmark fixtures and
  * are parity-pinned by the golden/oracle suites instead. Empty-frame
  * semantics are an error contract in the reference
  * (tests/test_stats.py:132-137) covered by ApiSpec; a groupBy key cannot
  * have zero rows, so frames here have length ≥ 1 (all-null frames cover
  * the no-data-within-rows case).
  */
class StatsFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val NFrames = 1000
  private val rnd = new scala.util.Random(424242)

  private val frames: Vector[Vector[Option[Double]]] = Vector.tabulate(NFrames) { i =>
    val shape = i % 10
    val len = shape match {
      case 0 => 1
      case 1 => 2
      case 2 => 3
      case 3 => 1 + rnd.nextInt(5)
      case _ => 5 + rnd.nextInt(56)
    }
    def value(): Option[Double] = {
      val roll = rnd.nextDouble()
      if (roll < 0.10) None
      else if (roll < 0.22) Some(0.0)
      else if (roll < 0.25) Some(Seq(-1.0, -0.9, 2.0, 10.0)(rnd.nextInt(4)))
      else Some(rnd.nextGaussian() * 0.02)
    }
    shape match {
      case 5 => Vector.fill(len)(Some(0.0))
      case 6 => Vector.fill(len)(None)
      case 7 => Vector.fill(len)(Some(-rnd.nextDouble() * 0.05))
      case 8 => Vector.fill(len)(Some(rnd.nextDouble() * 0.05))
      case _ => Vector.fill(len)(value())
    }
  }

  private lazy val sf = {
    val melted = frames.zipWithIndex.flatMap { case (f, a) =>
      f.zipWithIndex.map { case (v, o) => (a.toLong, o.toLong, v) }
    }.toDF("asset", "ord", "r")
    SeriesFrame(melted, Seq("asset"), "ord", "r")
  }

  // ---- serial reference (Option ≡ SQL null; NaN flows like IEEE) -------------

  private def fdiv(a: Double, b: Double): Double =
    if (b == 0.0) {
      if (a == 0.0) Double.NaN
      else if (a > 0) Double.PositiveInfinity
      else Double.NegativeInfinity
    } else a / b
  private def o2(a: Option[Double], b: Option[Double])(f: (Double, Double) => Double) =
    for { x <- a; y <- b } yield f(x, y)
  private def ofdiv(a: Option[Double], b: Option[Double]) = o2(a, b)(fdiv)

  private class Ref(frame: Vector[Option[Double]]) {
    val rows: Int = frame.length
    val xs: Vector[Double] = frame.flatten
    val n: Int = xs.length
    def cnt: Option[Double] = Some(n.toDouble)
    def sum: Option[Double] = if (n == 0) None else Some(xs.sum)
    def avgOf(v: Seq[Double]): Option[Double] =
      if (v.isEmpty) None else Some(v.sum / v.length)
    def avg: Option[Double] = avgOf(xs)
    def product: Option[Double] =
      if (n == 0) None else Some(xs.foldLeft(1.0)(_ * _))
    def std: Option[Double] =
      if (n <= 1) None // Spark stddev_samp (and Polars std ddof=1): null at n<=1
      else {
        val m = xs.sum / n
        Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (n - 1)))
      }
    def q(p: Double): Option[Double] =
      if (n == 0) None
      else {
        val s = xs.sorted
        val rank = p * (n - 1)
        val lo = math.floor(rank).toInt
        val frac = rank - lo
        Some(if (lo + 1 < n) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo))
      }
    // per-row mapped sums: when(...).otherwise(0) makes every row non-null
    def mappedSum(f: Option[Double] => Double): Double = frame.map(f).sum
    def wins: Option[Double] = if (n == 0) None else Some(xs.count(_ > 0).toDouble)
    def losses: Option[Double] = if (n == 0) None else Some(xs.count(_ < 0).toDouble)
    def nonZero: Option[Double] = if (n == 0) None else Some(xs.count(_ != 0.0).toDouble)

    def comp: Option[Double] = product.map(_ => xs.foldLeft(1.0)((a, x) => a * (1 + x)) - 1)
    def cagr(periods: Int): Option[Double] =
      comp.map(c => math.pow(c + 1.0, periods.toDouble / n) - 1.0)
    def expRet: Option[Double] =
      if (n == 0) None
      else Some(math.pow(xs.foldLeft(1.0)((a, x) => a * (1 + x)), 1.0 / n) - 1.0)
    def sharpe(periods: Int): Option[Double] =
      ofdiv(avg, std).map(_ * math.sqrt(periods.toDouble))
    def sortino(periods: Int): Option[Double] = {
      val d2 = frame.map { v => val d = math.min(v.getOrElse(0.0), 0.0); d * d }
      ofdiv(avg, Some(math.sqrt(d2.sum / rows))).map(_ * math.sqrt(periods.toDouble))
    }
    def vol(periods: Int): Option[Double] = std.map(_ * math.sqrt(periods.toDouble))
    def varParam: Option[Double] = {
      val z = graft.core.Dist.invCdf(0.05)
      o2(avg, std)((m, s) => m + z * s)
    }
    def cvar: Option[Double] = varParam match {
      case None => None
      case Some(v) =>
        val below = xs.filter(_ < v) // NaN v: x < NaN is false, like SQL
        if (below.isEmpty) Some(v) else avgOf(below)
    }
    def winRate: Option[Double] = ofdiv(wins, nonZero)
    def avgRet: Option[Double] = avgOf(xs.filter(_ != 0.0))
    def avgWin: Option[Double] = avgOf(xs.filter(_ > 0.0))
    def avgLoss: Option[Double] = avgOf(xs.filter(_ < 0.0))
    def payoff: Option[Double] = ofdiv(avgWin, avgLoss.map(math.abs))
    def gainsSum: Double = mappedSum(v => if (v.exists(_ >= 0.0)) v.get else 0.0)
    def lossesSumAbs: Double = math.abs(mappedSum(v => if (v.exists(_ < 0.0)) v.get else 0.0))
    def profitFactor: Option[Double] = Some(fdiv(gainsSum, lossesSumAbs))
    def gainToPain: Option[Double] =
      ofdiv(sum, Some(math.abs(mappedSum(v => if (v.exists(_ < 0.0)) v.get else 0.0))))
    def tailRatio: Option[Double] = ofdiv(q(0.95).map(math.abs), q(0.05).map(math.abs))
    def csr: Option[Double] = o2(profitFactor, tailRatio)(_ * _)
    def owr: Option[Double] = ofdiv(q(0.99), avgOf(xs.filter(_ >= 0.0)))
    def olr: Option[Double] = ofdiv(q(0.01), avgLoss)
    def kelly: Option[Double] = for { wl <- payoff; p <- winRate }
      yield fdiv(wl * p - (1.0 - p), wl)
    def ror: Option[Double] = winRate.map(p => math.pow(fdiv(1.0 - p, 1.0 + p), n))
    def cpc: Option[Double] = for { pf <- profitFactor; w <- winRate; aw <- wins; al <- losses }
      yield pf * fdiv(fdiv(gainsSum, aw), fdiv(lossesSumAbs, al)) * w
    def exposure: Option[Double] = ofdiv(nonZero, Some(n.toDouble))
    def omega: Option[Double] = Some(fdiv(
      frame.map(v => math.max(v.getOrElse(0.0), 0.0)).sum,
      frame.map(v => math.max(-v.getOrElse(0.0), 0.0)).sum))
    def skew: Option[Double] =
      if (n == 0) None
      else {
        val nd = n.toDouble
        val m = xs.sum / nd
        val p2 = xs.map(x => x * x).sum / nd
        val p3 = xs.map(x => x * x * x).sum / nd
        val m2 = p2 - m * m
        val m3 = p3 - 3 * m * p2 + 2 * m * m * m
        Some(fdiv(math.sqrt(nd * (nd - 1)), nd - 2) * fdiv(m3, math.pow(m2, 1.5)))
      }
    def kurt: Option[Double] =
      if (n == 0) None
      else {
        val nd = n.toDouble
        val m = xs.sum / nd
        val p2 = xs.map(x => x * x).sum / nd
        val p3 = xs.map(x => x * x * x).sum / nd
        val p4 = xs.map(x => x * x * x * x).sum / nd
        val m2 = p2 - m * m
        val m4 = p4 - 4 * m * p3 + 6 * m * m * p2 - 3 * m * m * m * m
        val g2 = fdiv(m4, m2 * m2) - 3.0
        Some(fdiv(nd - 1, (nd - 2) * (nd - 3)) * ((nd + 1) * g2 + 6.0))
      }
    def best: Option[Double] = xs.maxOption
    def worst: Option[Double] = xs.minOption

    // drawdown chain — the running-window semantics: wealth advances on
    // non-null rows; dd defined on non-null rows; least(NaN, 0) = 0
    lazy val dds: Vector[Double] = {
      var wealth = 1.0
      var peak = Double.NegativeInfinity
      val out = Vector.newBuilder[Double]
      frame.foreach {
        case Some(r) =>
          wealth *= (1 + r)
          peak = math.max(peak, wealth)
          val x = fdiv(wealth, peak) - 1.0
          out += (if (x.isNaN) 0.0 else math.min(x, 0.0))
        case None => ()
      }
      out.result()
    }
    def maxDrawdown: Option[Double] = dds.minOption
    def ulcer: Option[Double] =
      if (n == 0) None
      else Some(math.sqrt(fdiv(dds.map(d => d * d).sum, (n - 1).toDouble)))
    def recovery: Option[Double] =
      o2(sum.map(math.abs), maxDrawdown.map(math.abs))(fdiv)

    def streakRuns: (Long, Long) = {
      val sgns = frame.map {
        case None => 2
        case Some(r) => if (r > 0) 1 else if (r < 0) -1 else 0
      }
      var (bestW, bestL, cur, curSgn) = (0L, 0L, 0L, 99)
      (sgns :+ 99).foreach { s =>
        if (s == curSgn) cur += 1
        else {
          if (curSgn == 1) bestW = math.max(bestW, cur)
          if (curSgn == -1) bestL = math.max(bestL, cur)
          curSgn = s; cur = 1
        }
      }
      (bestW, bestL)
    }

    // smart sharpe: lag-1 pairs (previous non-null, current non-null)
    def smart(periods: Int): (Option[Double], Option[Double]) = {
      var prev: Option[Double] = None
      val pairs = Vector.newBuilder[(Double, Double)]
      frame.foreach {
        case Some(r) =>
          prev.foreach(p => pairs += ((p, r)))
          prev = Some(r)
        case None => ()
      }
      val ps = pairs.result()
      val rho: Option[Double] =
        if (ps.isEmpty) None
        else {
          val k = ps.length
          val mx = ps.map(_._1).sum / k
          val my = ps.map(_._2).sum / k
          val ck = ps.map { case (x, y) => (x - mx) * (y - my) }.sum
          val xk = ps.map { case (x, _) => (x - mx) * (x - mx) }.sum
          val yk = ps.map { case (_, y) => (y - my) * (y - my) }.sum
          Some(ck / math.sqrt(xk * yk)) // 0/0 → NaN, matching Spark Corr
        }
      val pen: Option[Double] = Some {
        val c = rho.map(math.abs).getOrElse(Double.NaN)
        if (n < 2 || c.isNaN) Double.NaN
        else {
          val nd = n.toDouble
          val m = nd - 1.0
          val cm = math.pow(c, m)
          val ds =
            if (c == 0.0) 0.0
            else if (math.abs(1.0 - c) < 1e-12) m - m * (m + 1.0) / (2.0 * nd)
            else {
              val s1 = c * (1.0 - cm) / (1.0 - c)
              val s2 = c * (1.0 - (m + 1.0) * cm + m * cm * c) / ((1.0 - c) * (1.0 - c))
              s1 - s2 / nd
            }
          math.sqrt(1.0 + 2.0 * ds)
        }
      }
      (pen, o2(sharpe(periods), pen)(_ / _))
    }
  }

  // ---- comparison -------------------------------------------------------------

  private def cell(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  private def eqCell(name: String, frameId: Long, spark: Option[Double],
      serial: Option[Double], tol: Double = 1e-9): Unit = (spark, serial) match {
    case (None, None) => ()
    case (Some(x), Some(y)) =>
      val ok = (x == y) || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      assert(ok, s"frame $frameId $name: spark=$x serial=$y " +
        s"frame=${frames(frameId.toInt)}")
    case _ => fail(s"frame $frameId $name: spark=$spark serial=$serial " +
      s"frame=${frames(frameId.toInt)}")
  }

  private lazy val refs: Map[Long, Ref] =
    frames.zipWithIndex.map { case (f, i) => i.toLong -> new Ref(f) }.toMap

  test(s"scalar battery over $NFrames random frames == serial reference") {
    val names = Seq("comp", "cagr", "exp_ret", "sharpe", "sortino", "vol",
      "var_p", "q50", "win_rate", "avg_ret", "avg_win", "avg_loss", "payoff",
      "pf", "g2p", "tail", "csr", "owr", "olr", "kelly", "ror", "cpc",
      "exposure", "omega", "skew", "kurt", "best", "worst")
    val out = GroupedStats.aggregate(sf, Seq(
      "comp" -> Exprs.comp,
      "cagr" -> ((r: org.apache.spark.sql.Column) => Exprs.cagr(r, 0.0, compound = true, 252)),
      "exp_ret" -> Exprs.expectedReturn,
      "sharpe" -> ((r: org.apache.spark.sql.Column) => Exprs.sharpe(r, 0.0, 252, annualize = true)),
      "sortino" -> ((r: org.apache.spark.sql.Column) => Exprs.sortino(r, 0.0, 252, annualize = true)),
      "vol" -> ((r: org.apache.spark.sql.Column) => Exprs.volatility(r, 252, annualize = true)),
      "var_p" -> ((r: org.apache.spark.sql.Column) => Exprs.valueAtRisk(r, 1.0, 0.95)),
      "q50" -> ((r: org.apache.spark.sql.Column) => Exprs.quantile(r, 0.5)),
      "win_rate" -> Exprs.winRate,
      "avg_ret" -> Exprs.avgReturn,
      "avg_win" -> Exprs.avgWin,
      "avg_loss" -> Exprs.avgLoss,
      "payoff" -> Exprs.payoffRatio,
      "pf" -> Exprs.profitFactor,
      "g2p" -> ((r: org.apache.spark.sql.Column) => Exprs.gainToPain(r, 0.0)),
      "tail" -> ((r: org.apache.spark.sql.Column) => Exprs.tailRatio(r, 0.95)),
      "csr" -> Exprs.commonSenseRatio,
      "owr" -> ((r: org.apache.spark.sql.Column) => Exprs.outlierWinRatio(r, 0.99)),
      "olr" -> ((r: org.apache.spark.sql.Column) => Exprs.outlierLossRatio(r, 0.01)),
      "kelly" -> Exprs.kellyCriterion,
      "ror" -> Exprs.riskOfRuin,
      "cpc" -> Exprs.cpcIndex,
      "exposure" -> Exprs.exposure,
      "omega" -> ((r: org.apache.spark.sql.Column) => Exprs.omega(r, 0.0)),
      "skew" -> Exprs.skew,
      "kurt" -> Exprs.kurtosis,
      "best" -> ((r: org.apache.spark.sql.Column) => max(r)),
      "worst" -> ((r: org.apache.spark.sql.Column) => min(r)))).collect()
    assert(out.length == NFrames)
    out.foreach { row =>
      val a = row.getLong(0)
      val ref = refs(a)
      val serial: Map[String, Option[Double]] = Map(
        "comp" -> ref.comp, "cagr" -> ref.cagr(252), "exp_ret" -> ref.expRet,
        "sharpe" -> ref.sharpe(252), "sortino" -> ref.sortino(252),
        "vol" -> ref.vol(252), "var_p" -> ref.varParam, "q50" -> ref.q(0.5),
        "win_rate" -> ref.winRate, "avg_ret" -> ref.avgRet,
        "avg_win" -> ref.avgWin, "avg_loss" -> ref.avgLoss,
        "payoff" -> ref.payoff, "pf" -> ref.profitFactor,
        "g2p" -> ref.gainToPain, "tail" -> ref.tailRatio, "csr" -> ref.csr,
        "owr" -> ref.owr, "olr" -> ref.olr, "kelly" -> ref.kelly,
        "ror" -> ref.ror, "cpc" -> ref.cpc, "exposure" -> ref.exposure,
        "omega" -> ref.omega, "skew" -> ref.skew, "kurt" -> ref.kurt,
        "best" -> ref.best, "worst" -> ref.worst)
      names.zipWithIndex.foreach { case (nm, i) =>
        eqCell(nm, a, cell(row, i + 1), serial(nm))
      }
    }
  }

  test("drawdown family over random frames == serial reference") {
    val out = GroupedStats.drawdownStats(sf).collect()
    assert(out.length == NFrames)
    out.foreach { row =>
      val a = row.getLong(0)
      val ref = refs(a)
      eqCell("max_drawdown", a, cell(row, 1), ref.maxDrawdown)
      eqCell("ulcer_index", a, cell(row, 2), ref.ulcer)
      eqCell("recovery_factor", a, cell(row, 3), ref.recovery)
    }
  }

  test("var/cvar over random frames == serial reference") {
    val out = GroupedStats.varCvar(sf).collect()
    assert(out.length == NFrames)
    out.foreach { row =>
      val a = row.getLong(0)
      val ref = refs(a)
      eqCell("value_at_risk", a, cell(row, 1), ref.varParam)
      eqCell("cvar", a, cell(row, 2), ref.cvar)
    }
  }

  test("streaks over random frames == serial reference") {
    val out = GroupedStats.streaks(sf).collect()
    assert(out.length == NFrames)
    out.foreach { row =>
      val a = row.getLong(0)
      val (w, l) = refs(a).streakRuns
      assert(row.getLong(1) == w && row.getLong(2) == l,
        s"frame $a streaks: spark=(${row.getLong(1)},${row.getLong(2)}) serial=($w,$l) " +
          s"frame=${frames(a.toInt)}")
    }
  }

  test("smart sharpe over random frames == serial reference") {
    val out = GroupedStats.smartSharpe(sf).collect()
    assert(out.length == NFrames)
    out.foreach { row =>
      val a = row.getLong(0)
      val ref = refs(a)
      val (pen, smart) = ref.smart(252)
      eqCell("sharpe", a, cell(row, 1), ref.sharpe(252))
      eqCell("autocorr_penalty", a, cell(row, 2), pen)
      eqCell("smart_sharpe", a, cell(row, 3), smart)
    }
  }

  test("a constant series on 3 partitions has σ exactly 0: Sharpe is ±Inf or NaN, not finite") {
    // merged per-partition moments leave a rounding residue in σ of a
    // constant series unless Exprs.sampleStd pins it; rf ≠ 0 makes a flat
    // zero column's excess return non-zero
    val rf = 0.0002
    val wide = spark.range(0, 300, 1, 3).select(lit(0.0).as("zero"), lit(0.003).as("up"))
    assert(wide.rdd.getNumPartitions == 3)
    val stats = graft.stats.Stats.sharpe(wide, rf = rf).head()
    assert(stats.getDouble(0) == Double.NegativeInfinity, stats)
    assert(stats.getDouble(1) == Double.PositiveInfinity, stats)
    assert(graft.stats.Stats.volatility(wide).head().toSeq == Seq(0.0, 0.0))

    val long = wide.select(explode(map(lit("zero"), col("zero"), lit("up"), col("up"),
        lit("nan"), lit(Double.NaN))).as(Seq("asset", "r")), lit(1L).as("t"))
      .union(Seq(("one", 0.01, 1L)).toDF("asset", "r", "t"))
    val got = GroupedStats.aggregate(SeriesFrame(long, Seq("asset"), "t", "r"), Seq(
      "sharpe" -> ((r: org.apache.spark.sql.Column) => Exprs.sharpe(r, rf, 252, annualize = true)),
      "vol" -> ((r: org.apache.spark.sql.Column) => Exprs.volatility(r, 252, annualize = true))))
      .collect().map(r => r.getString(0) -> (cell(r, 1), cell(r, 2))).toMap
    assert(got("zero") == ((Some(Double.NegativeInfinity), Some(0.0))), got)
    assert(got("up") == ((Some(Double.PositiveInfinity), Some(0.0))), got)
    assert(got("nan")._1.exists(_.isNaN) && got("nan")._2.exists(_.isNaN), got)
    assert(got("one") == ((None, None)), got)
  }
}
