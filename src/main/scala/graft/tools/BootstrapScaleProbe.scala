package graft.tools

import org.apache.spark.sql.functions._

/** Poisson-bootstrap scale probe: the q200 shape — explode every row into
  * B replicates with md5-derived Poisson(1) weights and aggregate replicate
  * sums — at n rows. The scale question is whether the B× fan-out ever
  * becomes a B× SHUFFLE: it must not, because the explode is pipeline-local
  * (never materialized) and the groupBy(b) partial-aggregates down to
  * B rows per partition before the exchange, so shuffle traffic is
  * B × partitions tiny rows regardless of n. The probe measures wall time,
  * reports shuffle-write rows from the Spark metrics (asserting the
  * B·partitions bound), and cross-checks the replicate-mean spread against
  * the CLT prediction (sd of a Poisson-bootstrap mean ≈ sd/√n — a
  * distributional sanity the tiny gate fixture cannot exercise). Run:
  * `sbt "runMain graft.tools.BootstrapScaleProbe [n] [B] [cores]"`
  * (default 10M/64/8; results recorded in BASELINE.md).
  */
object BootstrapScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val cores = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Session.local(cores)
    println(s"n=$n B=$reps cores=$cores")

    // synthetic per-row values: hash-uniform cents in [0, 1e6)
    val rows = spark.range(n).select(col("id"),
      pmod(xxhash64(concat(lit("v"), col("id"))), lit(1000000L)).as("cents"))

    val shuffleRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) shuffleRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      })

    val t0 = System.nanoTime()
    val reps0 = rows
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("h", graft.ext.Dedup.portableTokenHash(
        concat(lit("boot:"), col("b").cast("string"), lit(":"),
          col("id").cast("string"))))
      .withColumn("u", col("h").cast("double") / lit(1.152921504606846976e18))
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0L)
          .when(col("u") < 0.7357588823428847, 1L)
          .when(col("u") < 0.9196986029286058, 2L)
          .when(col("u") < 0.9810118431238462, 3L)
          .when(col("u") < 0.9963401531726563, 4L)
          .when(col("u") < 0.9994058151824183, 5L)
          .when(col("u") < 0.9999167588507119, 6L)
          .otherwise(7L))
      .groupBy(col("b"))
      .agg((sum(col("w") * col("cents")).cast("double") /
        sum(col("w")).cast("double")).as("m"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // task-end events arrive asynchronously on the listener bus — drain it
    // before reading the counter, or late events undercount shuffle rows
    // (the `written <= bound` assertion could then pass spuriously)
    org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
    val written = shuffleRows.get()

    val ms = reps0.map(_.getAs[Double]("m"))
    require(ms.length == reps, s"expected $reps replicates, got ${ms.length}")
    val mean = ms.sum / reps
    val sd = math.sqrt(ms.map(m => (m - mean) * (m - mean)).sum / (reps - 1))
    // CLT: replicate means spread like popSd/sqrt(n); hash-uniform cents
    // have sd ≈ 1e6/sqrt(12)
    val predicted = 1000000.0 / math.sqrt(12.0) / math.sqrt(n.toDouble)
    println(f"wall=$secs%.1fs shuffleRows=$written replicateSd=$sd%.3f cltPredicted=$predicted%.3f")

    // the partial-agg bound: each of the `cores` map partitions emits at
    // most B partial rows into the exchange (plus AQE bookkeeping slack)
    val bound = reps.toLong * cores * 4
    require(written <= bound,
      s"bootstrap fan-out leaked into the shuffle: $written rows > bound $bound")
    require(sd < 3 * predicted && sd > predicted / 3,
      s"replicate spread $sd implausible vs CLT $predicted")
    println("OK: B-fold fan-out stays pipeline-local; shuffle carries only partial aggregates")
    spark.stop()
  }
}
