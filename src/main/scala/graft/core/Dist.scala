package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{abs, exp, lit, when}

/** Standard-normal CDF / inverse-CDF, driver-side scalar math.
  *
  * The reference uses Python's `statistics.NormalDist` (reference:
  * alphastats/stats.py:18,295,1202,1231,1555). Python's `inv_cdf` is
  * Wichura's AS241 algorithm and `cdf` is libm `erf`; we implement the
  * same published algorithms so scalars agree to ~1 ulp. These are only
  * ever applied to collected scalars (z-scores, PSR probability), never
  * shipped to executors as expressions.
  */
object Dist {

  /** Φ(x): standard normal CDF via erf. */
  def cdf(x: Double): Double = 0.5 * (1.0 + erf(x / math.sqrt(2.0)))

  /** Probabilistic Sharpe ratio of a Sharpe `b` over `n` returns with skew
    * `sk` and kurtosis `ku`: Φ((b − rf) ÷ σ),
    * σ = √((1 + ½b² − sk·b + ((ku − 3)/4)·b²) ÷ (n − 1)) (reference:
    * alphastats/stats.py:255-336). Both QuantStats quirks are kept: `ku` is
    * ALREADY excess yet has 3 subtracted again, and `annualize` multiplies
    * the probability by √252.
    */
  def psr(b: Double, sk: Double, ku: Double, n: Double, rf: Double, annualize: Boolean): Double = {
    val sigma = math.sqrt((1 + 0.5 * b * b - sk * b + ((ku - 3) / 4) * b * b) / (n - 1))
    val p = cdf((b - rf) / sigma)
    if (annualize) p * math.sqrt(252.0) else p
  }

  /** Φ⁻¹(p): Wichura (1988) algorithm AS241, |ε| < 1e-15. */
  def invCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"invCdf requires 0 < p < 1, got $p")
    val q = p - 0.5
    if (math.abs(q) <= 0.425) {
      val r = 0.180625 - q * q
      q * (((((((2.5090809287301226727e3 * r + 3.3430575583588128105e4) * r +
        6.7265770927008700853e4) * r + 4.5921953931549871457e4) * r +
        1.3731693765509461125e4) * r + 1.9715909503065514427e3) * r +
        1.3314166789178437745e2) * r + 3.387132872796366608) /
        (((((((5.226495278852545703e3 * r + 2.8729085735721942674e4) * r +
          3.9307895800092710610e4) * r + 2.1213794301586595867e4) * r +
          5.394196021424751141e3) * r + 6.871870074920579083e2) * r +
          4.2313330701600911252e1) * r + 1.0)
    } else {
      var r = if (q < 0) p else 1.0 - p
      r = math.sqrt(-math.log(r))
      val v =
        if (r <= 5.0) {
          val s = r - 1.6
          (((((((7.74545014278341407640e-4 * s + 2.27238449892691845833e-2) * s +
            2.41780725177450611770e-1) * s + 1.27045825245236838258) * s +
            3.64784832476320460504) * s + 5.76949722146069140550) * s +
            4.63033784615654529590) * s + 1.42343711074968357734) /
            (((((((1.05075007164441684324e-9 * s + 5.47593808499534494600e-4) * s +
              1.51986665636164571966e-2) * s + 1.48103976427480074590e-1) * s +
              6.89767334985100004550e-1) * s + 1.67638483018380384940) * s +
              2.05319162663775882187) * s + 1.0)
        } else {
          val s = r - 5.0
          (((((((2.01033439929228813265e-7 * s + 2.71155556874348757815e-5) * s +
            1.24266094738807843860e-3) * s + 2.65321895265761230930e-2) * s +
            2.96560571828504891230e-1) * s + 1.78482653991729133580) * s +
            5.46378491116411436990) * s + 6.65790464350110377720) /
            (((((((2.04426310338993978564e-15 * s + 1.42151175831644588870e-7) * s +
              1.84631831751005468180e-5) * s + 7.86869131145613259100e-4) * s +
              1.48753612908506148525e-2) * s + 1.36929880922735805310e-1) * s +
              5.99832206555887937690e-1) * s + 1.0)
        }
      if (q < 0) -v else v
    }
  }

  /** erf(x), W. J. Cody (1969) rational Chebyshev approximation, |ε| ≲ 1e-16. */
  def erf(x: Double): Double = {
    val ax = math.abs(x)
    if (ax < 0.5) {
      // erf(x) = x * P(x^2)/Q(x^2) on [0, 0.5]
      val t = x * x
      val p = (((-0.356098437018154e-1 * t + 0.699638348861914e1) * t +
        0.219792616182942e2) * t + 0.242667955230532e3)
      val q = ((t + 0.150827976304078e2) * t + 0.911649054045149e2) * t +
        0.215058875869861e3
      x * p / q
    } else if (ax < 4.0) {
      // erfc(x) = exp(-x^2) * P(x)/Q(x) on [0.5, 4]
      val p = ((((((-0.136864857382717e-6 * ax + 0.564195517478974) * ax +
        0.721175825088309e1) * ax + 0.431622272220567e2) * ax +
        0.152989285046940e3) * ax + 0.339320816734344e3) * ax +
        0.451918953711873e3) * ax + 0.300459261020162e3
      val q = ((((((ax + 0.127827273196294e2) * ax + 0.770001529352295e2) * ax +
        0.277585444743988e3) * ax + 0.638980264465631e3) * ax +
        0.931354094850610e3) * ax + 0.790950925327898e3) * ax +
        0.300459260956983e3
      val erfc = math.exp(-ax * ax) * p / q
      if (x < 0) erfc - 1.0 else 1.0 - erfc
    } else {
      // erfc(x) = exp(-x^2)/x * (1/sqrt(pi) + R(1/x^2)/x^2) on [4, inf)
      val t = 1.0 / (ax * ax)
      val p = ((0.223192459734185e-1 * t + 0.278661308609648) * t +
        0.226956593539687) * t + 0.494730910623251e-1
      val q = ((t + 0.198733201817135e1) * t + 0.105167510706793e1) * t +
        0.191308926107830
      val r = t * p / q
      val erfc = math.exp(-ax * ax) / ax * (0.564189583547756287 - r)
      if (x < 0) erfc - 1.0 else 1.0 - erfc
    }
  }

  // ---- distributed / oracle-replayable Φ ----------------------------------
  //
  // The same Cody erf, emitted BOTH as a Spark Column expression (pure
  // builtin arithmetic — stays inside whole-stage codegen) and as an ANSI
  // SQL string for the DuckDB oracle. Both are generated from one set of
  // coefficient tables with the same Horner association, so the two engines
  // evaluate the identical rational approximation — agreement is ~1 ulp,
  // far inside the 6-dp gate rounding. This is what lets Φ-based metrics
  // (probabilistic Sharpe ratio) be oracle-gated instead of parity-only.

  private val P1 = Seq(-0.356098437018154e-1, 0.699638348861914e1,
    0.219792616182942e2, 0.242667955230532e3)
  private val Q1 = Seq(1.0, 0.150827976304078e2, 0.911649054045149e2,
    0.215058875869861e3)
  private val P2 = Seq(-0.136864857382717e-6, 0.564195517478974,
    0.721175825088309e1, 0.431622272220567e2, 0.152989285046940e3,
    0.339320816734344e3, 0.451918953711873e3, 0.300459261020162e3)
  private val Q2 = Seq(1.0, 0.127827273196294e2, 0.770001529352295e2,
    0.277585444743988e3, 0.638980264465631e3, 0.931354094850610e3,
    0.790950925327898e3, 0.300459260956983e3)
  private val P3 = Seq(0.223192459734185e-1, 0.278661308609648,
    0.226956593539687, 0.494730910623251e-1)
  private val Q3 = Seq(1.0, 0.198733201817135e1, 0.105167510706793e1,
    0.191308926107830)
  private val InvSqrtPi = 0.564189583547756287
  private val Sqrt2 = math.sqrt(2.0)

  private def hornerCol(cs: Seq[Double], t: Column): Column =
    cs.tail.foldLeft(lit(cs.head): Column)((acc, c) => acc * t + lit(c))

  private def hornerSql(cs: Seq[Double], t: String): String =
    cs.tail.foldLeft(cs.head.toString)((acc, c) => s"($acc) * $t + $c")

  /** erf as a Column over builtin arithmetic (same branches/Horner order as
    * the scalar [[erf]]). Codegen-friendly: no UDF, no custom expression.
    */
  def erfCol(y: Column): Column = {
    val ay = abs(y)
    val t1 = y * y
    val b1 = y * hornerCol(P1, t1) / hornerCol(Q1, t1)
    val ec2 = exp(-ay * ay) * hornerCol(P2, ay) / hornerCol(Q2, ay)
    val b2 = when(y < 0, ec2 - lit(1.0)).otherwise(lit(1.0) - ec2)
    val t3 = lit(1.0) / (ay * ay)
    val ec3 = exp(-ay * ay) / ay *
      (lit(InvSqrtPi) - t3 * hornerCol(P3, t3) / hornerCol(Q3, t3))
    val b3 = when(y < 0, ec3 - lit(1.0)).otherwise(lit(1.0) - ec3)
    when(ay < 0.5, b1).when(ay < 4.0, b2).otherwise(b3)
  }

  /** Φ(x) as a Column. */
  def normCdfCol(x: Column): Column =
    lit(0.5) * (lit(1.0) + erfCol(x / lit(Sqrt2)))

  /** erf as a SQL expression string over column reference `y` (and its
    * precomputed absolute value `ay` — pass `ABS(y)` pre-bound in a prior
    * CTE to keep the emitted text bounded). Mirrors [[erfCol]] exactly.
    */
  def erfSql(y: String, ay: String): String = {
    val t1 = s"(($y) * ($y))"
    val b1 = s"($y) * (${hornerSql(P1, t1)}) / (${hornerSql(Q1, t1)})"
    val ec2 = s"EXP(-($ay) * ($ay)) * (${hornerSql(P2, s"($ay)")}) / (${hornerSql(Q2, s"($ay)")})"
    val b2 = s"CASE WHEN ($y) < 0 THEN ($ec2) - 1.0 ELSE 1.0 - ($ec2) END"
    val t3 = s"(1.0 / (($ay) * ($ay)))"
    val ec3 = s"EXP(-($ay) * ($ay)) / ($ay) * ($InvSqrtPi - $t3 * (${hornerSql(P3, t3)}) / (${hornerSql(Q3, t3)}))"
    val b3 = s"CASE WHEN ($y) < 0 THEN ($ec3) - 1.0 ELSE 1.0 - ($ec3) END"
    s"""CASE WHEN ($ay) < 0.5 THEN ($b1)
       |     WHEN ($ay) < 4.0 THEN ($b2)
       |     ELSE ($b3) END""".stripMargin
  }

  /** Φ as a SQL expression string; `y`/`ay` must be pre-bound to x/√2 and
    * its absolute value (see [[erfSql]]).
    */
  def normCdfSql(y: String, ay: String): String =
    s"0.5 * (1.0 + (${erfSql(y, ay)}))"

  // ---- distributed / oracle-replayable Φ⁻¹ ---------------------------------
  //
  // Wichura's AS241 (the same algorithm as the scalar [[invCdf]]), emitted
  // as a Column expression and as ANSI SQL from one set of coefficient
  // tables with the same Horner association — the Φ⁻¹ counterpart of
  // erfCol/erfSql, for per-row quantile-function operators (rank-based
  // inverse-normal transforms, theoretical quantiles) under the oracle gate.

  private val IA = Seq(2.5090809287301226727e3, 3.3430575583588128105e4,
    6.7265770927008700853e4, 4.5921953931549871457e4, 1.3731693765509461125e4,
    1.9715909503065514427e3, 1.3314166789178437745e2, 3.387132872796366608)
  private val IB = Seq(5.226495278852545703e3, 2.8729085735721942674e4,
    3.9307895800092710610e4, 2.1213794301586595867e4, 5.394196021424751141e3,
    6.871870074920579083e2, 4.2313330701600911252e1, 1.0)
  private val IC = Seq(7.74545014278341407640e-4, 2.27238449892691845833e-2,
    2.41780725177450611770e-1, 1.27045825245236838258, 3.64784832476320460504,
    5.76949722146069140550, 4.63033784615654529590, 1.42343711074968357734)
  private val ID = Seq(1.05075007164441684324e-9, 5.47593808499534494600e-4,
    1.51986665636164571966e-2, 1.48103976427480074590e-1,
    6.89767334985100004550e-1, 1.67638483018380384940, 2.05319162663775882187,
    1.0)
  private val IE = Seq(2.01033439929228813265e-7, 2.71155556874348757815e-5,
    1.24266094738807843860e-3, 2.65321895265761230930e-2,
    2.96560571828504891230e-1, 1.78482653991729133580, 5.46378491116411436990,
    6.65790464350110377720)
  private val IF = Seq(2.04426310338993978564e-15, 1.42151175831644588870e-7,
    1.84631831751005468180e-5, 7.86869131145613259100e-4,
    1.48753612908506148525e-2, 1.36929880922735805310e-1,
    5.99832206555887937690e-1, 1.0)

  /** Φ⁻¹(p) as a Column (AS241, same branches/Horner order as [[invCdf]]).
    * Caller guarantees 0 < p < 1. sqrt is IEEE-exact in both engines; ln is
    * libm on both sides — same ~1-ulp class as erfCol's exp, far inside the
    * 6-dp gate rounding.
    */
  def invCdfCol(p: Column): Column = {
    import org.apache.spark.sql.functions.{log => ln, sqrt}
    val q = p - lit(0.5)
    val rc = lit(0.180625) - q * q
    val central = q * hornerCol(IA, rc) / hornerCol(IB, rc)
    val rr = sqrt(-ln(when(q < 0, p).otherwise(lit(1.0) - p)))
    val s1 = rr - lit(1.6)
    val s2 = rr - lit(5.0)
    val v = when(rr <= 5.0, hornerCol(IC, s1) / hornerCol(ID, s1))
      .otherwise(hornerCol(IE, s2) / hornerCol(IF, s2))
    when(abs(q) <= 0.425, central)
      .otherwise(when(q < 0, -v).otherwise(v))
  }

  /** Φ⁻¹ as a SQL expression string. `p`, `q`, `rr` must be PRE-BOUND column
    * references (in prior CTEs) to the probability, `p - 0.5`, and
    * `SQRT(-LN(CASE WHEN p < 0.5 THEN p ELSE 1.0 - p END))` respectively —
    * the Horner texts repeat each operand eight times, so inlining compound
    * expressions would explode the emitted SQL. Mirrors [[invCdfCol]].
    */
  def invCdfSql(p: String, q: String, rr: String): String = {
    val rc = s"(0.180625 - ($q) * ($q))"
    val central = s"($q) * (${hornerSql(IA, rc)}) / (${hornerSql(IB, rc)})"
    val s1 = s"(($rr) - 1.6)"
    val s2 = s"(($rr) - 5.0)"
    val v = s"""CASE WHEN ($rr) <= 5.0
       | THEN (${hornerSql(IC, s1)}) / (${hornerSql(ID, s1)})
       | ELSE (${hornerSql(IE, s2)}) / (${hornerSql(IF, s2)}) END""".stripMargin
    s"""CASE WHEN ABS($q) <= 0.425 THEN ($central)
       |     WHEN ($q) < 0 THEN -($v)
       |     ELSE ($v) END""".stripMargin
  }
}
