package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.functions.GraftProduct.product

/** Shared aggregate Column builders — the metric algebra.
  *
  * Every builder maps a returns Column, and for the benchmark-relative
  * metrics a benchmark Column aligned to it row by row, to an *aggregate*
  * Column, so each metric is a single wide aggregation: one scan, map-side
  * partial aggregation, no shuffle beyond the final exchange. The wide
  * `Stats` calls, `Reports` and `GroupedStats` all build their metrics
  * here, so each formula has one home. Null semantics follow the reference
  * (Polars): aggregates skip nulls, `count` = non-null count,
  * `when(cond_on_null) → otherwise` branch.
  */
object Exprs {

  /** LET-binding for a column referenced many times inside higher-order
    * lambdas: evaluates `value` exactly once per row and exposes it to `body`
    * as a lambda variable. Higher-order functions are interpreted (no
    * codegen, no subexpression elimination), and both CollapseProject and
    * the Generate (explode) pushdown can inline a projection alias into
    * every reference site — so an expression repeated k times in lambda
    * bodies re-runs the alias's whole pipeline k times per row (measured 40×
    * on the span-dedup explode). A lambda variable cannot be inlined, making
    * the single evaluation structural rather than optimizer-dependent.
    */
  def bindOnce(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Bit-exact, allocation-free replacement for `round(x, 0).cast("long")`
    * on a DoubleType column with |x| ≤ 2^53 and finite (the exact-cents
    * quantization idiom of the fact queries).
    *
    * Spark's Round on doubles evaluates
    * `BigDecimal(Double.toString(x)).setScale(0, HALF_UP)` — a BigDecimal
    * plus a String allocation PER ROW even inside whole-stage codegen;
    * measured at ~0.5 s per 600k rows on one core, which dominates the
    * single-row-group fact scans at fixture scale. For scale
    * 0 the identical value is `floor(|x| + 0.5)` with one carry correction:
    * when |x| lies within half an ulp BELOW a k.5 boundary, the FP addition
    * rounds up across it (floor then yields k+1 where HALF_UP yields k).
    * The overshoot is detected by `(t − 0.5) > |x|`: t is an integer
    * < 2^52, so t − 0.5 is exactly representable and the comparison is
    * exact (a `t − |x| > 0.5` form is NOT — the subtraction re-rounds just
    * outside the Sterbenz range, e.g. at |x| = nextDown(0.5)). The
    * shortest-repr subtlety of Double.toString cannot flip a boundary:
    * every k.5 with k < 2^51 is exactly representable, so a double
    * strictly below it prints strictly below it. HALF_UP rounds negatives
    * away from zero, hence the sign peel. The argument above is for
    * |x| < 2^51; up to 2^53 the result still matches, because there every
    * double is an integer or an exact k.5 and the inexact `a + 0.5` and
    * `t − 0.5` round half to even, which the carry correction undoes.
    * Equality to `round(x, 0)` is property-tested on boundary and random
    * vectors up to 2^53 (ExprsRoundSpec).
    */
  def roundHalfUpLong(x: Column): Column = {
    val a = abs(x)
    val t = floor(a + lit(0.5)) // LongType
    val m = when(t.cast("double") - lit(0.5) > a, t - lit(1L)).otherwise(t)
    when(x < 0, -m).otherwise(m)
  }

  /** IEEE-style division matching Polars float semantics regardless of the
    * session's ANSI setting: one Catalyst node, [[FDiv]], over `a` and `b`
    * cast to double, that applies the scalar `fdiv` below to every row; a
    * null on either side gives null. Each operand appears once in the tree,
    * so a nested ratio does not copy its operands.
    */
  def fdiv(a: Column, b: Column): Column = Bridge.column(FDiv(Bridge.expr(a), Bridge.expr(b)))

  /** The one x/0 rule of the engine: b ≠ 0 gives a / b; b = ±0 gives NaN
    * for a = ±0, −Inf for a < 0 and +Inf otherwise — a NaN `a` included, as
    * Spark orders NaN above every double. `SeriesAgg` and `StreamOps` call
    * it directly.
    */
  def fdiv(a: Double, b: Double): Double =
    if (b != 0.0) a / b
    else if (a == 0.0) Double.NaN
    else if (a < 0.0) Double.NegativeInfinity
    else Double.PositiveInfinity

  /** r − rf; rf == 0 means untouched (reference: alphastats/_utils.py:37-41). */
  def excess(r: Column, rf: Double): Column = if (rf == 0.0) r else r - lit(rf)

  /** Π(1+r) − 1 (reference: alphastats/stats.py:49-50). */
  def comp(r: Column): Column = product(r + lit(1.0)) - lit(1.0)

  /** CAGR: (compounded-or-summed total + 1)^(periods/n) − 1
    * (reference: alphastats/stats.py:53-89).
    */
  def cagr(r: Column, rf: Double, compound: Boolean, periods: Int): Column = {
    val x = excess(r, rf)
    val total = if (compound) comp(x) + lit(1.0) else sum(x) + lit(1.0)
    pow(total, lit(periods.toDouble) / count(x)) - lit(1.0)
  }

  /** Geometric mean return: Π(1+r)^(1/n) − 1 (reference: alphastats/stats.py:799-810). */
  def expectedReturn(r: Column): Column =
    pow(product(r + lit(1.0)), lit(1.0) / count(r)) - lit(1.0)

  /** Whether `x` has ≥ 2 non-null values that are all equal and finite.
    * Spark merges per-partition partial moments, and the merged mean, (c/n)·n,
    * can differ from c, which leaves a rounding residue in the second moments
    * of such a constant series: spread over partitions it reads σ ≈ 1e-19,
    * and a ratio over it a huge finite number instead of ±Inf/NaN. On one
    * partition its second moments are exactly 0.
    */
  private def constant(x: Column): Column = {
    val lo = min(x)
    count(x) > 1 && lo === max(x) && abs(lo) < lit(Double.PositiveInfinity)
  }

  /** `stddev_samp`, but exactly 0 for a [[constant]] `x`. n ≤ 1 stays null
    * and NaN or infinite input NaN, as in `stddev_samp`.
    */
  def sampleStd(x: Column): Column = when(constant(x), lit(0.0)).otherwise(stddev_samp(x))

  def sharpe(r: Column, rf: Double, periods: Int, annualize: Boolean): Column = {
    val x = excess(r, rf)
    val s = fdiv(avg(x), sampleStd(x))
    if (annualize) s * lit(math.sqrt(periods.toDouble)) else s
  }

  /** Downside deviation over ALL n periods (zeros included; nulls → 0 via the
    * otherwise branch, matching Polars when/otherwise on null conditions)
    * (reference: alphastats/stats.py:219-221).
    */
  def sortino(r: Column, rf: Double, periods: Int, annualize: Boolean): Column = {
    val x = excess(r, rf)
    val downside = when(x < 0.0, x).otherwise(lit(0.0))
    val s = fdiv(avg(x), sqrt(avg(downside * downside)))
    if (annualize) s * lit(math.sqrt(periods.toDouble)) else s
  }

  def volatility(r: Column, periods: Int, annualize: Boolean): Column = {
    val s = sampleStd(r)
    if (annualize) s * lit(math.sqrt(periods.toDouble)) else s
  }

  /** Parametric (variance-covariance) VaR (reference: alphastats/stats.py:1194-1208). */
  def valueAtRisk(r: Column, sigma: Double, confidence: Double): Column = {
    val conf = if (confidence > 1) confidence / 100 else confidence
    val z = Dist.invCdf(1 - conf)
    avg(r) + lit(z * sigma) * sampleStd(r)
  }

  /** Exact linear-interpolation quantile — parity requires exact, not approx
    * (reference: quantile(interpolation="linear"), alphastats/stats.py:1068-1069).
    */
  def quantile(r: Column, q: Double): Column = percentile(r, lit(q))

  // --- benchmark-relative (reference: alphastats/stats.py:419-579, 1398-1503) ---
  // `b` is the benchmark return aligned to `r` on the same row.

  /** CAPM β = cov(r, b) / var(b). A [[constant]] `b` gets the moments one
    * partition gives it: var 0 and cov 0, so β = 0/0 = NaN (+Inf where a
    * non-finite r makes cov NaN; null with fewer than two pairs).
    */
  private[graft] def beta(r: Column, b: Column): Column = {
    val cov = covar_samp(r, b)
    when(constant(b), fdiv(cov * lit(0.0), lit(0.0))).otherwise(fdiv(cov, var_samp(b)))
  }

  /** CAPM α, annualized: (mean r − β · mean b) · periods. */
  private[graft] def alpha(r: Column, b: Column, periods: Int): Column =
    (avg(r) - beta(r, b) * avg(b)) * lit(periods)

  /** Pearson ρ. A [[constant]] `b` gets the null one partition gives it
    * (Spark's 0 ÷ 0), or NaN where a non-finite r makes ρ NaN.
    */
  private[graft] def correlation(r: Column, b: Column): Column = {
    val c = corr(r, b)
    when(constant(b) && !isnan(c), lit(null)).otherwise(c)
  }

  private[graft] def rSquared(r: Column, b: Column): Column = {
    val c = correlation(r, b)
    c * c
  }

  /** mean(r − b) / σ(r − b), × √periods when annualized. */
  private[graft] def informationRatio(r: Column, b: Column, periods: Int, annualize: Boolean): Column = {
    val active = r - b
    val ir = fdiv(avg(active), stddev_samp(active))
    if (annualize) ir * lit(math.sqrt(periods.toDouble)) else ir
  }

  /** (comp(r) − rf) / β. */
  private[graft] def treynor(r: Column, b: Column, rf: Double): Column =
    fdiv(comp(r) - lit(rf), beta(r, b))

  // --- trade-stats family (reference: alphastats/stats.py:590-1181) ---

  def winsCount(r: Column): Column = sum((r > 0.0).cast("long"))
  def lossesCount(r: Column): Column = sum((r < 0.0).cast("long"))
  def nonZeroCount(r: Column): Column = sum((r =!= 0.0).cast("long"))

  def winRate(r: Column): Column = fdiv(winsCount(r), nonZeroCount(r))

  def avgReturn(r: Column): Column = avg(when(r =!= 0.0, r))
  def avgWin(r: Column): Column = avg(when(r > 0.0, r))
  def avgLoss(r: Column): Column = avg(when(r < 0.0, r))

  def payoffRatio(r: Column): Column = fdiv(avgWin(r), abs(avgLoss(r)))

  def gainsSum(r: Column): Column = sum(when(r >= 0.0, r).otherwise(lit(0.0)))
  def lossesSumAbs(r: Column): Column = abs(sum(when(r < 0.0, r).otherwise(lit(0.0))))

  /** Note ≥ 0 on the gains side (reference: alphastats/stats.py:1015). */
  def profitFactor(r: Column): Column = fdiv(gainsSum(r), lossesSumAbs(r))

  def gainToPain(r: Column, rf: Double): Column = {
    val x = excess(r, rf)
    fdiv(sum(x), abs(sum(when(x < 0.0, x).otherwise(lit(0.0)))))
  }

  def tailRatio(r: Column, cutoff: Double): Column =
    fdiv(abs(quantile(r, cutoff)), abs(quantile(r, 1 - cutoff)))

  def commonSenseRatio(r: Column): Column = profitFactor(r) * tailRatio(r, 0.95)

  def outlierWinRatio(r: Column, q: Double): Column =
    fdiv(quantile(r, q), avg(when(r >= 0.0, r)))

  def outlierLossRatio(r: Column, q: Double): Column =
    fdiv(quantile(r, q), avg(when(r < 0.0, r)))

  def kellyCriterion(r: Column): Column = {
    val winLoss = payoffRatio(r)
    val p = winRate(r)
    fdiv(winLoss * p - (lit(1.0) - p), winLoss)
  }

  /** ((1−p)/(1+p))^count, exponent = non-null count (reference: alphastats/stats.py:1169-1181). */
  def riskOfRuin(r: Column): Column = {
    val p = winRate(r)
    pow(fdiv(lit(1.0) - p, lit(1.0) + p), count(r))
  }

  /** CPC = profit_factor · (gains_sum/wins_count)/(losses_sum_abs/losses_count) · win_rate.
    * Its interior "avg win" divides the ≥0-gains sum by the >0-wins count —
    * intentionally different from `avgWin` (reference: alphastats/stats.py:611-619).
    */
  def cpcIndex(r: Column): Column = {
    val aw = fdiv(gainsSum(r), winsCount(r))
    val al = fdiv(lossesSumAbs(r), lossesCount(r))
    profitFactor(r) * fdiv(aw, al) * winRate(r)
  }

  /** Fraction of non-zero periods over non-null periods (reference: alphastats/stats.py:643-668). */
  def exposure(r: Column): Column =
    fdiv(nonZeroCount(r), sum(r.isNotNull.cast("long")))

  /** Ω(θ) = Σ(r−θ)⁺ / Σ(θ−r)⁺ (reference: alphastats/stats.py:679-711). */
  def omega(r: Column, threshold: Double): Column = {
    val diff = r - lit(threshold)
    fdiv(sum(greatest(diff, lit(0.0))), sum(greatest(-diff, lit(0.0))))
  }

  // --- moments (bias-corrected, via power sums so each is one pass) ---

  /** G1 sample skewness: √(n(n−1))/(n−2) · m₃/m₂^1.5 (reference: alphastats/stats.py:859-869). */
  def skew(r: Column): Column = {
    val n = count(r).cast("double")
    val m = avg(r)
    val p2 = avg(r * r)
    val p3 = avg(r * r * r)
    val m2 = p2 - m * m
    val m3 = p3 - lit(3.0) * m * p2 + lit(2.0) * m * m * m
    fdiv(sqrt(n * (n - 1)), n - 2) * fdiv(m3, pow(m2, 1.5))
  }

  /** G2 bias-corrected excess kurtosis (reference: alphastats/stats.py:880-891). */
  def kurtosis(r: Column): Column = {
    val n = count(r).cast("double")
    val m = avg(r)
    val p2 = avg(r * r)
    val p3 = avg(r * r * r)
    val p4 = avg(r * r * r * r)
    val m2 = p2 - m * m
    val m4 = p4 - lit(4.0) * m * p3 + lit(6.0) * m * m * p2 - lit(3.0) * m * m * m * m
    val g2 = fdiv(m4, m2 * m2) - lit(3.0)
    fdiv(n - 1, (n - 2) * (n - 3)) * ((n + 1) * g2 + lit(6.0))
  }
}

/** [[Exprs.fdiv]] as a Catalyst expression: both eval paths call the scalar
  * rule, and the analyzer casts a non-double operand to double.
  */
private[graft] final case class FDiv(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // inferred: the declared element type, AbstractDataType, is private to Spark
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_fdiv"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Exprs.fdiv(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Exprs.fdiv($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): FDiv =
    copy(left = l, right = r)
}
