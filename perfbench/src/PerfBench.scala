package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Closed-loop benchmark of the graft library, one client on all cores.
  *
  * {{{
  * PerfBench --workload returns-api|panel-scale --seed N --seconds S --trace 0|1
  *           --out DIR [--source ID] [--inject-failure] [--corrupt-expected]
  * }}}
  *
  * A run sets up twice (session start, input generation and caching, one
  * untraced warm-up pass over every op), then runs as many whole rounds of
  * the ops, each in a seeded order, as fit S seconds at the workload's
  * nominal round length, then checks every op's collected output.
  * With `--trace 1` the first half of the time runs traced and the second
  * half untraced, and the run reports per-layer numbers per round plus the
  * tracing overhead. The last line of stdout is the JSON result.
  */
object PerfBench {
  val Workloads: Map[String, Workload] = Seq(ReturnsApi, PanelScale).map(w => w.name -> w).toMap
  /** Set-ups per run; `setup_s` is their median. A cold set-up costs 25–35 s
    * and a warm one 8–12 s on 4 cores, so a third does not fit the run.
    */
  val Setups = 2
  /** A timed round that lost more than this share of host CPU time to
    * hypervisor steal is dropped and run again. On a shared 4-vCPU host,
    * quiet runs saw under 1 % steal, runs with 2–5 % read 10–25 % slower and
    * runs with 11–20 % 1.4–2× slower.
    */
  val HighStealFrac = 0.02
  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      out: String, source: String, knobs: Knobs)

  def parse(argv: Array[String]): Args = {
    val flags = Set("--inject-failure", "--corrupt-expected")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (flags(argv(i))) { kv(argv(i)) = "1"; i += 1 }
      else {
        require(i + 1 < argv.length && argv(i).startsWith("--"), s"bad argument ${argv(i)}")
        kv(argv(i)) = argv(i + 1); i += 2
      }
    }
    val wl = kv.getOrElse("--workload", "")
    require(Workloads.contains(wl), s"unknown workload '$wl'; known: ${Workloads.keys.mkString(", ")}")
    val trace = kv.getOrElse("--trace", "0")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(Workloads(wl), kv("--seed").toLong, kv("--seconds").toInt, trace == "1",
      kv.getOrElse("--out", ".bench_out"), kv.getOrElse("--source", "unknown"),
      Knobs(kv.contains("--inject-failure"), kv.contains("--corrupt-expected")))
  }

  // ---- clocks: nanoTime for durations, mapped onto the epoch milliseconds
  // Spark's listener events carry, so spans and jobs share one time axis ----
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def session(out: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", Paths.get(out, "tmp").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Full materialization of an op's result: rows to the driver for small
    * results, the `noop` sink otherwise. Never `count()`, which lets the
    * optimizer prune the projected columns and the expressions behind them.
    */
  def materialize(op: Op, df: DataFrame): Unit =
    if (op.collect) df.collect()
    else df.write.format("noop").mode("overwrite").save()

  /** One traced op: its three spans, Spark counters and job/stage intervals. */
  final case class OpTrace(op: Op, startMs: Double, callEndMs: Double, endMs: Double,
      counters: Counters, jobs: Seq[(Double, Double)], stages: Seq[(Double, Double)],
      jobStageIds: Seq[(Int, Seq[Int])], stageIds: Seq[Int])

  /** Runs ops, counting attempts and failures. A failed op is never a
    * latency sample, and every failure is named.
    */
  final class Runner(var prepared: Prepared) {
    var attempted = 0L
    var failed = 0L
    val failedNames: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty
    /** The rows of each collected op's latest successful run, for the checks. */
    val lastRows: mutable.Map[String, Array[Row]] = mutable.Map.empty

    private def fail(op: Op, e: Throwable): None.type = {
      failed += 1
      failedNames(op.name) = failedNames.getOrElse(op.name, 0) + 1
      System.err.println(s"op ${op.name} failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      None
    }

    /** (call seconds, total seconds), or None when the op threw. */
    def run(op: Op): Option[(Double, Double)] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = op.call()
        val t1 = System.nanoTime()
        if (op.collect) lastRows(op.name) = df.collect() else materialize(op, df)
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9))
      } catch { case NonFatal(e) => fail(op, e) }
    }

    def traced(op: Op, rec: Recorder): Option[OpTrace] = {
      rec.drain()
      val (c0, j0, s0) = rec.snapshot()
      val start = nowMs()
      attempted += 1
      try {
        val df = op.call()
        val callEnd = nowMs()
        materialize(op, df)
        val end = nowMs()
        rec.drain()
        val (c1, _, _) = rec.snapshot()
        val jobs = rec.jobsSince(j0)
        val stages = rec.stagesSince(s0)
        Some(OpTrace(op, start, callEnd, end, c1 - c0,
          jobs.map(j => (j._2.toDouble, (if (j._3 < 0) end else j._3.toDouble))),
          stages.map(s => (s._2.toDouble, s._3.toDouble)),
          jobs.map(j => (j._1, j._4)), stages.map(_._1)))
      } catch { case NonFatal(e) => fail(op, e) }
    }
  }

  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val x = p * (sorted.length - 1)
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toIndexedSeq, 0.5)

  // ---- host-load evidence ----
  def loadavg1(): Double = try {
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split(" ")(0).toDouble
  } catch { case NonFatal(_) => -1.0 }

  /** Host-wide CPU jiffies from /proc/stat: (steal, total). Steal is time the
    * hypervisor gave this machine's CPUs to someone else.
    */
  def cpuStat(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case NonFatal(_) => (0L, 0L) }

  /** Fixed single-thread work (a 50M-step xorshift chain), min of 3, in ms. */
  def calibMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  } catch { case NonFatal(_) => -1.0 }

  def gitHead(): String = try {
    val root = Paths.get(".git")
    val head = new String(Files.readAllBytes(root.resolve("HEAD")), StandardCharsets.UTF_8).trim
    if (head.startsWith("ref: "))
      new String(Files.readAllBytes(root.resolve(head.stripPrefix("ref: "))), StandardCharsets.UTF_8).trim
    else head
  } catch { case NonFatal(_) => "none" }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def js(v: Any): String = json.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out, "tmp"))
    val cores = Runtime.getRuntime.availableProcessors()
    val loadPre = loadavg1()
    val calibPre = calibMs()
    val rng = new scala.util.Random(a.seed)

    // ---- set-up, `Setups` times: each a fresh session, fresh inputs, one warm-up
    // pass; the last session is the one the timed rounds use ----
    val setupTimes = ArrayBuffer.empty[Double]
    val coldOpS = mutable.LinkedHashMap.empty[String, Double]
    var spark: SparkSession = null
    var runner: Runner = null
    for (k <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.out)
      val prepared = a.workload.prepare(spark, a.seed, a.knobs)
      if (runner == null) runner = new Runner(prepared) else runner.prepared = prepared
      prepared.ops.foreach(op => runner.run(op).foreach(t => if (k == 1) coldOpS(op.name) = t._2))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val prepared = runner.prepared
    val setupAttempted = runner.attempted
    val setupFailed = runner.failed

    // ---- timed rounds: only whole rounds run, so every run samples each op
    // equally often; their number is fixed by the budget, not by the clock.
    // Run until the clock passed 8 s, returns-api held one 7–13 s round, or
    // two when the host was fast, and the two-round runs read 15–30 % faster.
    // A traced run times the rounds of half the budget traced, half not ----
    val roundS = ArrayBuffer.empty[Double]
    val droppedRoundS = ArrayBuffer.empty[Double]
    /** Runs the rounds that fit `budgetS` and returns what the kept rounds
      * gave, their wall time and their steal share. A round that lost more
      * than `HighStealFrac` of host CPU time to steal is dropped and run
      * again while the dropped rounds took less than half of `budgetS` in
      * all, so that retries add at most half a budget and one round to a
      * run; its failures stay counted.
      */
    def rounds[T](budgetS: Double)(body: IndexedSeq[Op] => Seq[T]): (Int, Double, Double, Seq[T]) = {
      val n = math.max(1, math.floor(budgetS / a.workload.roundS).toInt)
      val kept = ArrayBuffer.empty[T]
      var wallS = 0.0
      var steal, total = 0L
      var done = 0
      while (done < n) {
        val (steal0, total0) = cpuStat()
        val r0 = System.nanoTime()
        val got = body(rng.shuffle(prepared.ops))
        val r = (System.nanoTime() - r0) / 1e9
        val (steal1, total1) = cpuStat()
        if ((steal1 - steal0).toDouble / math.max(total1 - total0, 1L) > HighStealFrac &&
            droppedRoundS.sum < budgetS / 2) droppedRoundS += r
        else {
          kept ++= got; roundS += r; wallS += r
          steal += steal1 - steal0; total += total1 - total0
          done += 1
        }
      }
      (n, wallS, steal.toDouble / math.max(total, 1L), kept.toSeq)
    }
    // ---- traced rounds come first, so the untraced rounds after them are
    // at least as warm and the stated tracing overhead errs high ----
    val (tracedRounds, tracedWall, _, traces) = if (!a.trace) (0, 0.0, 0.0, Seq.empty[OpTrace]) else {
      val rec = new Recorder(spark)
      rec.register()
      val r = rounds(a.seconds / 2.0)(_.flatMap(op => runner.traced(op, rec)))
      rec.unregister()
      r
    }
    val (timedRounds, timedWall, stealFrac, samples) = rounds(if (a.trace) a.seconds / 2.0 else a.seconds) {
      _.flatMap(op => runner.run(op).map { case (c, t) => (op.name, c, t) })
    }
    val timedAttempted = runner.attempted - setupAttempted
    val timedFailed = runner.failed - setupFailed

    // ---- output checks, outside the timed region: collected ops are checked
    // on the rows of their last timed run, sink ops are collected once more.
    // Every op must have returned: an op that threw anywhere in the run makes
    // the run incorrect, so a call that fails fast can never look faster ----
    val checkFailures = ArrayBuffer.empty[String]
    runner.failedNames.foreach { case (n, k) => checkFailures += s"$n threw $k times" }
    prepared.ops.filterNot(_.collect).foreach { op =>
      try runner.lastRows(op.name) = op.call().collect()
      catch { case NonFatal(e) =>
        checkFailures += s"${op.name} threw in the check pass: ${String.valueOf(e.getMessage).take(200)}" }
    }
    val noResult = prepared.ops.map(_.name).filterNot(runner.lastRows.contains)
    checkFailures ++= noResult.map(n => s"$n returned no result")
    if (noResult.isEmpty) {
      try checkFailures ++= prepared.check(runner.lastRows.toMap)
      catch { case NonFatal(e) => checkFailures += s"check threw: $e" }
    }

    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    spark.stop()
    val loadPost = loadavg1()
    val calibPost = calibMs()

    val sorted = samples.map(_._3).sorted.toIndexedSeq
    val attempted = setupAttempted + timedAttempted
    val failed = setupFailed + timedFailed
    val endToEnd: Seq[(String, Double, String)] =
      if (sorted.isEmpty) Nil
      else Seq(
        ("setup_s", median(setupTimes.toSeq), "s"),
        ("ops_per_s", sorted.length / timedWall, "1/s"),
        ("op_p50_s", percentile(sorted, 0.5), "s"),
        ("cache_mb", cacheMb, "MB"))
    // printed and kept in the artifact, but not bounded: p90 over a run's
    // 24–30 samples spread up to 0.38 between runs on returns-api, failures
    // are the result line's `failed`, and the peak RSS mostly reflects the
    // fixed heap
    val unbounded = Seq(
      ("op_p90_s", if (sorted.isEmpty) Double.NaN else percentile(sorted, 0.9), "s"),
      ("ops_failed_frac", failed.toDouble / math.max(attempted, 1L), "frac"),
      ("rss_peak_mb", rssPeakMb(), "MB"))
    val layer = if (a.trace) Layers.metrics(traces.toSeq, tracedRounds, cores,
      untracedPerRound = timedWall / timedRounds, tracedPerRound = tracedWall / tracedRounds)
      else Nil
    val shown = if (a.trace) layer else endToEnd
    val metrics = shown.map { case (n, v, u) => n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }

    val details = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "git_head" -> gitHead(), "source" -> a.source, "nproc" -> cores,
      "inputs" -> mutable.LinkedHashMap(prepared.describe: _*),
      "ops" -> prepared.ops.map(o => o.name + (if (o.collect) " (collect)" else " (noop sink)")),
      "setup_s_each" -> setupTimes.toSeq, "first_setup_op_s" -> coldOpS,
      "timed_rounds" -> timedRounds, "timed_wall_s" -> timedWall, "round_s" -> roundS.toSeq,
      "dropped_round_s" -> droppedRoundS.toSeq,
      "latency_samples" -> sorted.length,
      "samples_above_p90" -> sorted.count(_ > (if (sorted.isEmpty) 0.0 else percentile(sorted, 0.9))),
      "op_mean_s" -> (if (sorted.isEmpty) Double.NaN else sorted.sum / sorted.length),
      "call_share" -> (if (sorted.isEmpty) Double.NaN else samples.map(_._2).sum / sorted.sum),
      "per_op_median_s" -> samples.groupBy(_._1).map { case (n, xs) => n -> median(xs.map(_._3).toSeq) },
      "attempted" -> attempted, "failed" -> failed,
      "setup_attempted" -> setupAttempted, "setup_failed" -> setupFailed,
      "timed_attempted" -> timedAttempted, "timed_failed" -> timedFailed,
      "unbounded" -> mutable.LinkedHashMap(unbounded.map(m => m._1 -> m._2): _*),
      "failed_ops" -> runner.failedNames,
      "check_failures" -> checkFailures.toSeq,
      "load" -> mutable.LinkedHashMap("loadavg_pre" -> loadPre, "loadavg_post" -> loadPost,
        "calib_pre_ms" -> calibPre, "calib_post_ms" -> calibPost,
        "timed_steal_frac" -> stealFrac, "high_steal" -> (stealFrac > HighStealFrac)),
      "metrics" -> metrics)
    if (a.trace) {
      details("traced_rounds") = tracedRounds
      details("per_op") = Layers.perOp(traces.toSeq, cores)
      details("spans") = Layers.spans(traces.toSeq).map(s =>
        mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    val file = Paths.get(a.out, s"${a.workload.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(file, (js(details) + "\n").getBytes(StandardCharsets.UTF_8))

    // human-readable table, then the one-line result
    println(s"# ${a.workload.name} seed=${a.seed} nproc=$cores source=${a.source} artifact=$file")
    println(f"# setup_s each: ${setupTimes.map(t => f"$t%.3f").mkString(" ")}")
    println(s"# latency samples: ${sorted.length} in $timedRounds rounds; attempted=$attempted failed=$failed")
    if (runner.failedNames.nonEmpty) println(s"# failed ops: ${runner.failedNames.mkString(", ")}")
    checkFailures.foreach(m => println(s"# check failed: $m"))
    if (droppedRoundS.nonEmpty) println(s"# rounds dropped for steal and run again: ${droppedRoundS.length}")
    if (stealFrac > HighStealFrac)
      println(f"# HIGH STEAL: the host lost ${stealFrac * 100}%.1f %% of CPU time to other guests " +
        f"during the timed rounds (limit ${HighStealFrac * 100}%.0f %%); these figures are not comparable")
    (endToEnd ++ unbounded ++ layer).foreach { case (n, v, u) => println(f"# $n%-32s $v%14.6f $u") }
    println(js(mutable.LinkedHashMap("correct" -> checkFailures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(metrics: _*))))
    System.out.flush()
    sys.exit(0)
  }
}
