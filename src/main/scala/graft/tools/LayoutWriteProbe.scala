package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Layout

/** The q218 layout audit closed end-to-end: WRITE the same rows as real
  * parquet under each layout and let SPARK'S OWN scan pruning prove the
  * choice. q218 predicts pruning from synthetic zone maps; this probe
  * verifies the prediction against the actual machinery — parquet
  * row-group min/max statistics + pushed filters — by range-partitioning
  * the data on the natural key vs the Z key vs the Hilbert key,
  * writing ~`files` sorted parquet files each, then running the same
  * mixed (x-range ∧ y-range) predicates and listener-counting
  * `inputMetrics.recordsRead` per layout. The per-layout counts are
  * asserted: curve layouts must read a small fraction of what the
  * natural layout reads. The aggregate answers are asserted identical
  * across layouts (layout changes IO, never results).
  *
  * Run: `sbt "runMain graft.tools.LayoutWriteProbe [rows] [cores]"`
  * (default 2M/8; the 10M/16 run is recorded in BASELINE.md).
  */
object LayoutWriteProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(2000000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val files = 64
    val levels = 4096
    val spark = graft.Session.local(cores)
    println(s"rows=$rows files=$files cores=$cores")

    val base = spark.range(rows).select(
      col("id"),
      pmod(xxhash64(concat(lit("x"), col("id"))), lit(levels.toLong)).as("x"),
      pmod(xxhash64(concat(lit("y"), col("id"))), lit(levels.toLong)).as("y"))
      .withColumn("zk", Layout.zValue(col("x"), col("y"), 12))
      .withColumn("hk", Layout.hilbertValue(col("x"), col("y"), 12))
      .localCheckpoint()

    val dir = java.nio.file.Files.createTempDirectory("layout_probe").toString
    def write(key: String, name: String): Unit = {
      val t0 = System.nanoTime()
      base.repartitionByRange(files, col(key)).sortWithinPartitions(key)
        .select("id", "x", "y")
        .write.mode("overwrite").parquet(s"$dir/$name")
      println(f"write $name%-8s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    write("id", "nat")
    write("zk", "z")
    write("hk", "hilbert")

    val readRows = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) readRows.addAndGet(m.inputMetrics.recordsRead)
        }
      })

    // 16 mixed predicates, each 1/16-span in both dimensions
    val span = levels / 16
    val preds = (0 until 16).map { i =>
      val xl = (i % 4) * 4 * span; val yl = (i / 4) * 4 * span
      (xl, xl + span - 1, yl, yl + span - 1)
    }
    def workload(name: String): (Long, Long) = {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      readRows.set(0)
      val df = spark.read.parquet(s"$dir/$name")
      var matched = 0L
      preds.foreach { case (xl, xh, yl, yh) =>
        matched += df.filter(col("x").between(xl, xh) && col("y").between(yl, yh))
          .agg(count(lit(1))).collect()(0).getLong(0)
      }
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      (matched, readRows.get())
    }
    val (mNat, rNat) = workload("nat")
    val (mZ, rZ) = workload("z")
    val (mH, rH) = workload("hilbert")
    println(f"nat     matched=$mNat%,d recordsRead=$rNat%,d (${rNat * 100.0 / (16L * rows)}%.1f%% of 16 full scans)")
    println(f"z       matched=$mZ%,d recordsRead=$rZ%,d (${rZ * 100.0 / (16L * rows)}%.1f%%)")
    println(f"hilbert matched=$mH%,d recordsRead=$rH%,d (${rH * 100.0 / (16L * rows)}%.1f%%)")
    assert(mNat == mZ && mZ == mH, "layout changed query answers")
    assert(rZ * 5 < rNat && rH * 5 < rNat,
      s"curve layouts must cut real parquet reads ≥5x: nat=$rNat z=$rZ hilbert=$rH")
    println("LayoutWriteProbe OK")
    spark.stop()
  }
}
