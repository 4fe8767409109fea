package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B evidence for the r13 checkpoint-overlap pattern (round-13 verdict
  * item 9): times a registered query min-of-2 warm with the concurrent
  * checkpoint submission as shipped, and again with
  * `graft.queries.sequentialCheckpoints=true` (q218 and q240 consult this
  * session-local conf and await each eager build inline; for any other
  * query both timings run the same code). Prints both.
  *
  * Usage: sbt "runMain graft.tools.AbOverlap [sfDir] names..."
  */
object AbOverlap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm caches + codegen
      def pass(): Double = {
        val t0 = System.nanoTime(); fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      def minOf(k: Int): Double = Seq.fill(k)(pass()).min
      spark.conf.set("graft.queries.sequentialCheckpoints", "false")
      pass() // settle
      val conc = minOf(3)
      spark.conf.set("graft.queries.sequentialCheckpoints", "true")
      pass() // settle
      val seq = minOf(3)
      spark.conf.set("graft.queries.sequentialCheckpoints", "false")
      println(f"$n: concurrent=$conc%.3f s sequential=$seq%.3f s (min-of-3 warm)")
    }
    spark.stop()
  }
}
