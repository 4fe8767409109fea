package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Sketches

/** Sketch scale probe: HyperLogLog over n synthetic keys (default 10M — 100×
  * the sf0.1 events table) across 32 partitions, plus a count-min pass over a
  * Zipf-ish skewed item stream.
  *
  * What it demonstrates for the 100-TB design:
  *  - HLL register aggregation is a plain keyed agg → map-side combined; the
  *    shuffle after partial aggregation carries ≤ 32 partitions × 512
  *    register rows per group regardless of n. The estimate must land within
  *    the theoretical ~3σ bound (3·1.04/√512 ≈ 13.8%) of the true count,
  *    with the keys deliberately generated UNIQUE so truth is exact.
  *  - The count-min cells (d=4 × w=1024) hold a skewed stream's heavy hitter
  *    estimates within the ε·N additive bound with room to spare, and never
  *    undershoot.
  * Run: `sbt "runMain graft.tools.SketchScaleProbe [n]"`.
  */
object SketchScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = graft.Session.local(32)

    // ---- HLL over n unique keys, split into 4 groups -----------------------
    val keys = spark.range(n).select(
      concat(lit("g"), (col("id") % 4).cast("string")).as("grp"),
      col("id").as("k"))
    val t0 = System.nanoTime()
    val est = Sketches.approxDistinct(keys, "k", Seq("grp"), p = 9)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hllWall = (System.nanoTime() - t0) / 1e9
    val perGroup = n / 4.0
    est.toSeq.sortBy(_._1).foreach { case (g, e) =>
      val err = math.abs(e - perGroup) / perGroup
      println(f"hll group=$g est=$e%.0f true=$perGroup%.0f rel_err=$err%.4f")
      assert(err < 0.138, s"HLL error $err outside 3-sigma bound for $g")
    }
    println(f"hll n=$n wall=$hllWall%.2f s")

    // ---- count-min over a 1000-item stream ---------------------------------
    // deterministic non-uniform generator: (id%1000 * id%997) % 1000 spreads
    // mass unevenly over the vocab (not a true Zipf head, but collision-rich)
    val items = spark.range(n / 10).select(
      concat(lit("item"), pmod(pmod(col("id"), lit(1000)) * pmod(col("id"), lit(997)),
        lit(1000)).cast("string")).as("item"))
    val counts = items.groupBy("item").agg(count(lit(1)).as("cnt"))
    val t1 = System.nanoTime()
    val cells = Sketches.cmCells(counts, "item", "cnt", d = 4, w = 1024)
    val joined = Sketches.cmEstimate(cells, counts, "item", d = 4, w = 1024)
      .join(counts, "item")
      .select(sum((col("cm_est") < col("cnt")).cast("long")).as("undershoots"),
        max(col("cm_est") - col("cnt")).as("max_over"),
        sum(col("cnt")).as("total"))
      .head()
    val cmWall = (System.nanoTime() - t1) / 1e9
    val (under, maxOver, total) =
      (joined.getLong(0), joined.getLong(1), joined.getLong(2))
    // additive error bound: over-count ≤ e/w · N holds per probe only with
    // probability ~1−e^-d, so it is a hard assert only for the default
    // stream (verified to satisfy it); other n just report
    val bound = math.E / 1024 * total
    println(f"cm total=$total max_over=$maxOver bound=$bound%.0f wall=$cmWall%.2f s")
    assert(under == 0, "count-min must never undershoot")
    if (n == 10000000L) // default stream: deterministic, known to be in bound
      assert(maxOver <= bound, f"max over-count $maxOver exceeds eN/w bound $bound%.0f")
    else if (maxOver > bound)
      println(f"note: max over-count $maxOver exceeds the probabilistic eN/w bound $bound%.0f (expected occasionally off the default stream)")
    spark.stop()
  }
}
