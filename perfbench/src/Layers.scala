package perfbench

import scala.collection.mutable

import perfbench.PerfBench.OpTrace

/** Per-layer numbers from a traced run. The layers are the library's
  * modules the ops call into (`stats`, `reports`, `api`), the sink action
  * (`result`), and the Spark boundaries the listeners see: Catalyst
  * planning, the scheduler, executors, exchange, scan and the block cache.
  */
object Layers {
  val CallLayers: Seq[String] = Seq("stats", "reports", "api")

  private def callMs(t: OpTrace): Double = t.callEndMs - t.startMs
  private def matMs(t: OpTrace): Double = t.endMs - t.callEndMs
  private def wallMs(t: OpTrace): Double = t.endMs - t.startMs
  private def jobWallMs(t: OpTrace): Double = Intervals.cover(t.jobs, t.startMs, t.endMs)

  /** Self time of each span kind in one op, in ms: the span's duration minus
    * the part of it that its children cover. Jobs are children of the call or
    * of the materialization, by when they started; stages are children of
    * jobs.
    */
  def selfMs(t: OpTrace): Seq[(String, Double)] = {
    val stageCover = Intervals.cover(t.stages, t.startMs, t.endMs)
    Seq(
      s"${t.op.layer}.call" -> (callMs(t) - Intervals.cover(t.jobs, t.startMs, t.callEndMs)),
      "result.materialize" -> (matMs(t) - Intervals.cover(t.jobs, t.callEndMs, t.endMs)),
      "scheduler.job" -> math.max(0.0, jobWallMs(t) - stageCover),
      "executor.stage" -> stageCover)
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  /** Every per-layer metric, per round (one pass over the op list), so that
    * counts compare exactly between runs whatever their round count.
    */
  def metrics(traces: Seq[OpTrace], rounds: Int, cores: Int,
      untracedPerRound: Double, tracedPerRound: Double): Seq[(String, Double, String)] = {
    val n = math.max(rounds, 1).toDouble
    val c = traces.map(_.counters).foldLeft(Counters())(_ + _)
    val jobWallS = traces.map(jobWallMs).sum / 1e3
    val wallS = traces.map(wallMs).sum / 1e3
    val runS = c("runMs") / 1e3
    CallLayers.map(l => (s"$l.call_s", traces.filter(_.op.layer == l).map(callMs).sum / 1e3 / n, "s")) ++ Seq(
      ("result.materialize_s", traces.map(matMs).sum / 1e3 / n, "s"),
      ("catalyst.plan_s", c("planMs") / 1e3 / n, "s"),
      ("catalyst.executions", c("executions") / n, "count"),
      ("scheduler.jobs", c("jobs") / n, "count"),
      ("scheduler.stages", c("stages") / n, "count"),
      ("scheduler.tasks", c("tasks") / n, "count"),
      ("scheduler.tasks_per_stage", c("tasks").toDouble / math.max(c("stages"), 1L), "count"),
      ("scheduler.failed_tasks", c("failedTasks") / n, "count"),
      ("scheduler.job_wall_s", jobWallS / n, "s"),
      ("driver.gap_s", (wallS - jobWallS) / n, "s"),
      ("executor.run_s", runS / n, "s"),
      ("executor.cpu_s", c("cpuNs") / 1e9 / n, "s"),
      ("executor.gc_s", c("gcMs") / 1e3 / n, "s"),
      ("executor.busy_frac", if (jobWallS > 0) runS / (jobWallS * cores) else 0.0, "frac"),
      ("exchange.shuffle_write_mb", mb(c("shuffleWriteBytes")) / n, "MB"),
      ("exchange.shuffle_read_mb", mb(c("shuffleReadBytes")) / n, "MB"),
      ("exchange.fetch_wait_s", c("fetchWaitMs") / 1e3 / n, "s"),
      ("exchange.spill_mb", mb(c("spillBytes")) / n, "MB"),
      ("scan.input_mb", mb(c("inputBytes")) / n, "MB"),
      ("scan.input_records", c("inputRecords") / n, "count"),
      ("cache.blocks_written", c("blocksWritten") / n, "count"),
      ("cache.mb_written", mb(c("blockBytesWritten")) / n, "MB"),
      ("trace.overhead_frac", tracedPerRound / untracedPerRound - 1, "frac"))
  }

  /** Mean per-op numbers, by op name. */
  def perOp(traces: Seq[OpTrace], cores: Int): Map[String, mutable.LinkedHashMap[String, Double]] =
    traces.groupBy(_.op.name).map { case (name, ts) =>
      val k = ts.length.toDouble
      val c = ts.map(_.counters).foldLeft(Counters())(_ + _)
      val jobWall = ts.map(jobWallMs).sum / 1e3
      val m = mutable.LinkedHashMap(
        "samples" -> k,
        "wall_s" -> ts.map(wallMs).sum / 1e3 / k,
        "call_s" -> ts.map(callMs).sum / 1e3 / k,
        "materialize_s" -> ts.map(matMs).sum / 1e3 / k,
        "jobs" -> c("jobs") / k, "stages" -> c("stages") / k, "tasks" -> c("tasks") / k,
        "executions" -> c("executions") / k, "plan_s" -> c("planMs") / 1e3 / k,
        "job_wall_s" -> jobWall / k,
        "driver_gap_s" -> (ts.map(wallMs).sum / 1e3 - jobWall) / k,
        "executor_run_s" -> c("runMs") / 1e3 / k,
        "busy_frac" -> (if (jobWall > 0) c("runMs") / 1e3 / (jobWall * cores) else 0.0),
        "shuffle_write_mb" -> mb(c("shuffleWriteBytes")) / k)
      ts.flatMap(selfMs).groupBy(_._1).foreach { case (l, xs) => m(s"self.${l}_s") = xs.map(_._2).sum / 1e3 / k }
      name -> m
    }

  /** The op → call/materialize → job → stage span tree of every traced op. */
  def spans(traces: Seq[OpTrace]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, a: Double, b: Double): Int = {
      out += Span(out.length, parent, name, a, b); out.length - 1
    }
    traces.foreach { t =>
      val op = add(-1, s"op ${t.op.name}", t.startMs, t.endMs)
      val call = add(op, s"${t.op.layer}.call", t.startMs, t.callEndMs)
      val mat = add(op, "result.materialize", t.callEndMs, t.endMs)
      val stageSpan = t.stageIds.zip(t.stages).toMap
      t.jobStageIds.zip(t.jobs).foreach { case ((jobId, stageIds), (a, b)) =>
        val job = add(if (a < t.callEndMs) call else mat, s"job $jobId", a, b)
        stageIds.flatMap(s => stageSpan.get(s).map(s -> _)).foreach { case (s, (sa, sb)) =>
          add(job, s"stage $s", sa, sb)
        }
      }
    }
    out.toSeq
  }
}
