package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.ext.Incremental

/** Scale probe for incremental aggregate maintenance (q220's
  * [[graft.ext.Incremental]]): does the maintained path's WORK actually
  * scale with the delta, not the history?
  *
  * Setup: `rows` history events (1000 keys) written to parquet — the
  * stored table — plus a 1% CDC delta, plus the PRE-AGGREGATED state of
  * the history (what a store would persist, key-domain-bounded). Then:
  *
  *   full path:       state(history ∪ delta)        — scans everything
  *   maintained path: merge(storedState, state(delta)) — scans the delta
  *                    and the 1000-row state frame only
  *
  * Both paths' results are asserted EQUAL key-for-key (exact integer
  * micro-unit sums make this an equality, not a tolerance), and a task
  * listener counts `inputMetrics.recordsRead` per path: the maintained
  * path must read ≤ |delta| + |keys| + slack while the full path reads
  * ≥ |history|. That converts the 100-TB claim — refresh cost is
  * delta-sized — from prose into a measured, asserted number.
  *
  * Run: `sbt "runMain graft.tools.MaintenanceScaleProbe [rows] [cores]"`
  * (default 2M/8; the 10M/16 run is recorded in BASELINE.md).
  */
object MaintenanceScaleProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(2000000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val keys = 1000
    val deltaRows = rows / 100
    val spark = graft.Session.local(cores)
    println(s"rows=$rows delta=$deltaRows keys=$keys cores=$cores")

    val dir = java.nio.file.Files.createTempDirectory("maint_probe").toString
    def gen(n: Long, salt: String) = spark.range(n).select(
      concat(lit("k"), pmod(xxhash64(concat(lit(salt), col("id"))), lit(keys.toLong)))
        .as("event_type"),
      (pmod(xxhash64(concat(lit(salt + "v"), col("id"))), lit(1000000L)) / 1000.0)
        .as("value"))
    gen(rows.toLong, "h").write.mode("overwrite").parquet(s"$dir/history")
    gen(deltaRows.toLong, "d").write.mode("overwrite").parquet(s"$dir/delta")
    val kcols = Seq("event_type")
    // the stored aggregate a warehouse would persist (key-domain-bounded)
    Incremental.state(spark.read.parquet(s"$dir/history"), kcols, "value")
      .write.mode("overwrite").parquet(s"$dir/state")

    val readRows = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) readRows.addAndGet(m.inputMetrics.recordsRead)
        }
      })
    def measured[T](label: String)(f: => T): (T, Long, Double) = {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      readRows.set(0)
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      val read = readRows.get()
      println(f"$label%-28s $secs%7.2f s   recordsRead=$read%,d")
      (r, read, secs)
    }

    def toMap(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    val (full, fullRead, fullSecs) = measured("full recompute") {
      toMap(Incremental.state(
        spark.read.parquet(s"$dir/history")
          .unionByName(spark.read.parquet(s"$dir/delta")),
        kcols, "value").collect())
    }
    val (maint, maintRead, maintSecs) = measured("maintained (state + delta)") {
      toMap(Incremental.merge(
        spark.read.parquet(s"$dir/state"),
        Incremental.state(spark.read.parquet(s"$dir/delta"), kcols, "value"),
        kcols).collect())
    }

    assert(full == maint, "maintained state diverged from the full recompute")
    assert(fullRead >= rows.toLong, s"full path read only $fullRead rows")
    val bound = deltaRows.toLong + keys * 4L
    assert(maintRead <= bound,
      s"maintained path read $maintRead rows > bound $bound — not delta-sized")
    println(f"read ratio full/maintained = ${fullRead.toDouble / maintRead}%.1f x, " +
      f"wall ratio = ${fullSecs / maintSecs}%.1f x")
    println("MaintenanceScaleProbe OK")
    spark.stop()
  }
}
