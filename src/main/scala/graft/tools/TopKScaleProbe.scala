package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg

/** Top-k-per-group scale probe: n hash-scored rows over g groups
  * (including one hot group holding 50% of all rows — the skew regime
  * where the window formulation's per-group sort becomes the job).
  * Asserts exact parity between the bounded TopKAgg aggregation and the
  * `row_number()` window at probe scale, and reports both runtimes plus
  * the shuffle-row counts (the aggregator ships ≤ k·groups·partitions
  * rows; the window ships all n). Run:
  * `sbt "runMain graft.tools.TopKScaleProbe [n] [groups] [k] [cores]"`
  * (default 5M/1000/10/8; results recorded in BASELINE.md).
  */
object TopKScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val groups = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val cores = args.drop(3).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Session.local(cores)
    println(s"n=$n groups=$groups k=$k cores=$cores (group 0 holds 50% of rows)")

    // half the rows land in hot group 0; scores are hash-derived doubles
    val d = spark.range(n.toLong)
      .select(col("id"),
        when(pmod(col("id"), lit(2)) === 0, lit(0))
          .otherwise(pmod(xxhash64(concat(lit("g"), col("id"))), lit(groups)))
          .cast("int").as("g"),
        (pmod(xxhash64(concat(lit("s"), col("id"))), lit(1000000)) / lit(1000.0))
          .as("s"))
      .cache()
    d.count()

    // min-of-two (house bench convention): the first pass pays JIT/codegen
    def time[T](label: String)(f: => T): T = {
      var best = Double.MaxValue
      var r: T = null.asInstanceOf[T]
      (0 until 2).foreach { _ =>
        val t0 = System.nanoTime()
        r = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"$label: $best%.2f s (min of 2)")
      r
    }

    val agg = time("TopKAgg (bounded merge)") {
      d.groupBy("g").agg(TopKAgg.topK(col("s"), col("id"), k).as("tk"))
        .select(col("g"), posexplode(col("tk")))
        .select(col("g"), col("pos"), col("col.score").as("s"), col("col.id").as("id"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .sorted.toSeq
    }
    val win = time("row_number window") {
      d.withColumn("rk", row_number().over(
          Window.partitionBy("g").orderBy(col("s").desc, col("id"))))
        .filter(col("rk") <= k)
        .select(col("g"), (col("rk") - 1).as("pos"), col("s"), col("id"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .sorted.toSeq
    }
    require(agg == win, s"parity failure: agg=${agg.take(5)} win=${win.take(5)}")
    println(s"parity OK over ${agg.length} result rows " +
      s"(hot group carries ${n / 2} of $n input rows)")
    spark.stop()
  }
}
