package graft
import java.nio.file.{Files, Paths}

import graft.queries.Registry
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded, not swallowed: every other result and the oracle
  * file are still written, then the failed names go to stderr and the run
  * exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated exact query
    // names; an unknown name fails the run before any query runs
    val specs = args.lift(2).fold(Registry.specs)(f => Registry.select(f.split(",").toSeq))
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = specs.filterNot { s =>
      try {
        s.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${s.name}")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${s.name} failed: ${e.getMessage}")
        false
      }
    }.map(_.name)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keyed like SparkEntry.oracleSql, so the file lists entries in its order
    val json = specs.map(s => s.name -> s.oracleSql).toMap
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} of ${specs.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
