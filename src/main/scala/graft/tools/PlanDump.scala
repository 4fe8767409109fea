package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Writes `explain("formatted")` output for registered queries to files —
  * the optimization-round evidence trail (plans/rNN/<query>_before.txt /
  * _after.txt). Usage:
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [sf=<dir>] names..."
  * e.g. `runMain graft.tools.PlanDump plans/r13 before q218_zorder_pruning`.
  * Names go through [[graft.queries.Registry.select]]: exact match, an
  * unknown name fails (a substring match could silently dump a neighbor's
  * plan as the evidence file).
  * Builds its session with [[graft.Session.local]] (cores from
  * `SPARK_GRAFT_CPUS`), as Bench does, so the dumped plan is the one the
  * bench runs at the same core count.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> [sf=<dir>] names...")
    val outDir = args(0)
    val suffix = args(1)
    val rest = args.drop(2)
    val (sfArgs, names) = rest.partition(_.startsWith("sf="))
    val sfDir = sfArgs.headOption.map(_.stripPrefix("sf="))
      .getOrElse("/root/testdata/sf0.1")
    val specs = graft.queries.Registry.select(names.toSeq)
    val spark = graft.Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    specs.foreach { q =>
      val txt = q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
      val path = java.nio.file.Paths.get(outDir, s"${q.name}_$suffix.txt")
      java.nio.file.Files.write(path,
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $path (${txt.length} chars)")
    }
    spark.stop()
  }
}
