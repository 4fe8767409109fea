package graft

import org.apache.spark.sql.functions._

import graft.core.Exprs

/** r14: `Exprs.roundHalfUpLong` must be bit-identical to Spark's
  * `round(x, 0).cast("long")` (BigDecimal-on-shortest-repr HALF_UP) over
  * its documented domain |x| ≤ 2^53 — boundary vectors first (exact k.5,
  * within-half-ulp-below-k.5 where the floor(x+0.5) carry correction
  * fires, shortest-repr oddities), then a deterministic random sweep at
  * the magnitudes the cents/milli quantizations produce.
  */
class ExprsRoundSpec extends SparkSpec {
  import spark.implicits._

  private def check(xs: Seq[Double]): Unit = {
    val df = xs.toDF("x")
      .select(col("x"), round(col("x"), 0).cast("long").as("ref"),
        Exprs.roundHalfUpLong(col("x")).as("fast"))
    val bad = df.filter(col("ref") =!= col("fast")).collect()
    assert(bad.isEmpty,
      s"mismatches: ${bad.take(5).map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).mkString(", ")}")
  }

  test("boundary vectors") {
    val halves = Seq(0.5, 1.5, 2.5, 3.5, 1e6 + 0.5, (1L << 40).toDouble + 0.5)
    // largest double strictly below each k.5 (the carry-correction case)
    val belowHalves = halves.map(h => Math.nextDown(h))
    val aboveHalves = halves.map(h => Math.nextUp(h))
    val reprOddities = Seq(2.675, 0.49999999999999994, 1048576.4999999999,
      4.499999999999999, 0.9999999999999999, 1e15 + 0.5)
    val base = halves ++ belowHalves ++ aboveHalves ++ reprOddities ++
      Seq(0.0, -0.0, 1.0, 123456789.987, (1L << 50).toDouble + 0.25)
    check(base ++ base.map(-_))
  }

  test("vectors in [2^51, 2^53], the range q225's m_same/m_adj summands reach") {
    // [2^51, 2^52): the ulp is 0.5, so every non-integer is an exact k.5 tie;
    // [2^52, 2^53]: the ulp is 1, so x + 0.5 is itself a tie that the FP
    // addition rounds to even before floor() sees it
    val (p51, p52, p53) = ((1L << 51).toDouble, (1L << 52).toDouble, (1L << 53).toDouble)
    val edges = Seq(p51, p52, p53).flatMap(p => Seq(Math.nextDown(p), p, Math.nextUp(p)))
      .filter(_ <= p53)
    val near = Seq(p51 + 0.5, p51 + 1.0, p51 + 1.5, p52 - 1.5, p52 - 1.0, p52 - 0.5,
      p52 + 1.0, p52 + 2.0, p52 + 3.0, p53 - 3.0, p53 - 2.0, p53 - 1.0)
    val rnd = new scala.util.Random(51L)
    val low = Seq.fill(10000)(p51 + rnd.nextLong(1L << 51) + 0.5 * rnd.nextInt(2))
    val high = Seq.fill(10000)(p52 + rnd.nextLong((1L << 52) + 1))
    val xs = edges ++ near ++ low ++ high
    assert(xs.forall(x => x >= Math.nextDown(p51) && x <= p53))
    check(xs ++ xs.map(-_))
  }

  test("deterministic random sweep at cents magnitudes") {
    val rnd = new scala.util.Random(1234567L)
    val xs = Seq.fill(20000) {
      val mag = math.pow(10.0, rnd.nextInt(10) - 2) // 1e-2 .. 1e7
      (rnd.nextDouble() * 2 - 1) * mag * 100.0
    }
    // plus products shaped like the revenue idiom price*(1-disc)*100
    val rev = Seq.fill(20000) {
      val price = 900.0 + rnd.nextDouble() * 104000.0
      val disc = rnd.nextInt(11) / 100.0
      price * (1.0 - disc) * 100.0
    }
    check(xs ++ rev)
  }
}
