package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session, so every main, probe and test runs
  * the settings the bench measures (the pattern of an idempotent setup owned
  * by one module):
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - UTC session time zone: the events `ts` normalization and every
  *    date-bucketed query assume it;
  *  - ANSI mode off: every query was written and oracle-checked under
  *    non-ANSI semantics (a bad cast gives null; note that `sum` over longs
  *    then wraps instead of failing);
  *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet may store
  *    TIMESTAMP(NANOS), which Spark otherwise refuses to read;
  *  - UI off and the log level at WARN.
  * `getOrCreate` semantics: a session already active in this JVM is
  * reused, and only its runtime SQL settings take these values.
  */
object Session {

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    .fold(4)(_.toInt)

  def local(cpus: Int = defaultCpus): SparkSession = {
    require(cpus > 0, s"cpus must be positive, got $cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
