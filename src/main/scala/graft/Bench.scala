package graft
import graft.queries.{QuerySpec, Registry}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val pool = sys.env.getOrElse("SPARK_GRAFT_BENCH_POOL", "8").toInt
    // Optional name filter (comma-separated exact names, through
    // Registry.select like Verify's and PlanDump's, so an unknown name fails
    // the run): lets magnitude sweeps time exactly the subset whose inputs
    // grow at a synthetic SF (sf10 copies documents/embeddings/events
    // verbatim, so timing the doc-bound queries there would measure sf0.1
    // twice).
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").filter(_.nonEmpty)
    val filterActive: Boolean = filter.isDefined
    val benchQueries: Seq[QuerySpec] =
      filter.fold(Registry.specs)(f => Registry.select(f.split(",").toSeq))
    val spark = Session.local()
    // Every error is recorded, never timed: a query that throws in any
    // pass is left out of the per-query map and the totals, named in the
    // JSON line, and fails the run's exit code.
    val failures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body)
      catch { case e: Throwable =>
        if (failures.add(name)) System.err.println(s"[bench] $name failed: $e")
        None
      }
    // ---- host-load evidence (round-11 verdict: a contended-box artifact
    // must be self-identifying). Three independent signals, captured
    // before the warm-up and again after the timed passes:
    //   - 1-min loadavg (other processes show up directly);
    //   - a fixed-work single-thread calibration loop (ms) — pure CPU, no
    //     allocation: on a quiet box pre ~= post; contention inflates it
    //     the same way it inflates the measured queries;
    //   - whole-run /proc/stat busy fraction (this JVM's own usage
    //     included — read it against parallel_pool, not as "foreign load").
    // Adjudication rule (BASELINE.md "box-noise protocol"): an artifact
    // whose parallel_wall exceeds per_query_sum, or whose calib_post_ms
    // >> calib_pre_ms, is a loaded-box measurement — cross-check against
    // the committed same-HEAD run instead of reading regressions from it.
    def loadavg1(): Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    } catch { case _: Exception => -1.0 }
    def procStat(): (Long, Long) = try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      val total = l.sum
      val idle = l(3) + (if (l.length > 4) l(4) else 0L) // idle + iowait
      (total - idle, total)
    } catch { case _: Exception => (0L, 0L) }
    def calibMs(): Double = {
      // fixed work, min of 3: a 100M-step xorshift64* chain (~0.2 s quiet)
      def once(): Double = {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 100000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        if (x == 42L) println("") // keep the loop observable
        (System.nanoTime() - t0) / 1e6
      }
      Seq(once(), once(), once()).min
    }
    val loadPre = loadavg1()
    val calibPre = calibMs()
    val statPre = procStat()
    // Warm-up pass: run every query once untimed and SEQUENTIALLY so the
    // timed loop measures steady-state execution, not first-call codegen/JIT
    // compilation (first runs are 5-10x slower purely from generated-code
    // compilation), and so the shared per-(session, sf) cached frames are
    // all populated before any concurrency (their TrieMap getOrElseUpdate
    // could otherwise double-build under a race).
    benchQueries.foreach(q => attempt(q.name)(q.run(spark, sfDir).count()))
    // Cache-attribution hygiene: the warm-up populated the shared cached
    // frames, but running the whole suite can EVICT early entries; a frame
    // rebuilt at first touch lands its materialization on whichever timed
    // query reaches it first (q96 absorbed the shared edge frame in the
    // round-8 artifact). Re-touch every registered cache so the timed
    // passes measure plans, not cache (re)materialization.
    val (warmed, failedCaches) = graft.queries.ExtQueries.warmCaches(spark)
    failedCaches.foreach(c => failures.add(s"cache:$c"))
    // Two timed views, because they answer different questions:
    //   - per-query seconds come from SEQUENTIAL passes (each query alone
    //     on the box) — the isolated steady-state plan cost, comparable
    //     across rounds. min-of-two (box-noise hygiene: a GC hiccup or a
    //     noisy neighbor inflates one pass 10-100x).
    //   - the headline `value` is the SUITE WALL-CLOCK of a `pool`-thread
    //     parallel pass. At 166 queries x ~0.3 s of per-job launch
    //     overhead, a sequential total is ~80% scheduler floor, not plans;
    //     the parallel schedule overlaps those floors (local[32] has far
    //     more cores than any single small-SF query keeps busy), so the
    //     wall-clock measures plan throughput. A parallel pass's
    //     per-query times would be contention-inflated (~2.5x observed at
    //     pool=8), which is why they are NOT the published map.
    def sequentialPass(): Map[String, Double] =
      benchQueries.flatMap { q =>
        val t0 = System.nanoTime()
        attempt(q.name)(q.run(spark, sfDir).count())
          .map(_ => q.name -> (System.nanoTime() - t0) / 1e9)
      }.toMap
    def parallelWall(): Double = {
      // its own pool, not Eager's: these threads run queries that fork
      // through Eager.all, and nesting on one bounded pool can deadlock
      val exec = java.util.concurrent.Executors.newFixedThreadPool(pool)
      val t0 = System.nanoTime()
      val futures = benchQueries.map { q =>
        exec.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = attempt(q.name)(q.run(spark, sfDir).count())
        })
      }
      futures.foreach(_.get())
      exec.shutdown()
      (System.nanoTime() - t0) / 1e9
    }
    val p1 = sequentialPass()
    val p2 = sequentialPass()
    val wall = math.min(parallelWall(), parallelWall())
    val results = p1.collect { case (k, v) if p2.contains(k) && !failures.contains(k) =>
      k -> math.min(v, p2(k)) }
    val failedNames = failures.toArray(Array.empty[String]).toSeq.sorted
    val loadPost = loadavg1()
    val calibPost = calibMs()
    val statPost = procStat()
    val busyFrac =
      if (statPost._2 > statPre._2)
        (statPost._1 - statPre._1).toDouble / (statPost._2 - statPre._2)
      else -1.0
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val loadJson =
      s""""load":{"loadavg_pre":${fmt(loadPre)},"loadavg_post":${fmt(loadPost)},""" +
        s""""calib_pre_ms":${fmt(calibPre)},"calib_post_ms":${fmt(calibPost)},""" +
        s""""cpu_busy_frac":${fmt(busyFrac)},"ncpu":${Runtime.getRuntime.availableProcessors()}}"""
    // `value` = the sequential per-query total — the quantity BASELINE.md's
    // 2x gate has been measured against since round 1, so cross-round
    // comparisons stay apples-to-apples. The pool-parallel suite wall-clock
    // (which overlaps the ~0.3 s/job scheduler floor) is published under its
    // own key `parallel_wall`, never as the headline. `queries_shown` marks
    // the compact tail line's truncation as self-describing.
    // Audit-vs-production split: a handful of queries are intentionally
    // exact AUDITS (they compute brute-force ground truth to grade a scale
    // structure — the PQ recall audit's exact top-k, the 4-layout pruning
    // rank sweep, the band-join selectivity check, the LSH quality audit).
    // Their cost is the audit itself, not a production path, and they
    // dominate the per-query sum as the suite grows — a regression in the
    // ~220 production queries could hide under their noise. Publish the
    // production subtotal separately so round-over-round gating can target
    // it directly. The split is each spec's own `audit` flag.
    val auditNames = benchQueries.filter(_.audit).map(_.name).toSet
    val nonAuditTotal =
      results.collect { case (k, v) if !auditNames.contains(k) => v }.sum
    val auditTotal =
      results.collect { case (k, v) if auditNames.contains(k) => v }.sum
    // Provenance: the commit the measured classes were built from, so any
    // bench artifact — including the driver-captured compact tail — can be
    // diffed per-query against the BENCH_SEQ_LATEST.json committed at the
    // same hash without git archaeology (the round-10 verdict had to dig).
    val gitHead: String = try {
      val root = java.nio.file.Paths.get(".git")
      val head = new String(java.nio.file.Files.readAllBytes(root.resolve("HEAD")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (head.startsWith("ref: ")) {
        val ref = root.resolve(head.stripPrefix("ref: "))
        if (java.nio.file.Files.exists(ref))
          new String(java.nio.file.Files.readAllBytes(ref),
            java.nio.charset.StandardCharsets.UTF_8).trim.take(12)
        else "unknown"
      } else head.take(12)
    } catch { case _: Exception => "unknown" }
    def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(m: Map[String, Double], failed: Seq[String] = failedNames): String = {
      val qs = m.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val shown =
        if (m.size < results.size) s""","queries_shown":${m.size}""" else ""
      // a filtered run's totals cover only the subset — mark the artifact so
      // cross-round gates never misread a subset total as a suite improvement
      val filt =
        if (filterActive) s""","filter":true,"filter_n":${benchQueries.size}"""
        else ""
      val failedShown =
        if (failed.size < failedNames.size) s""","failed_shown":${failed.size}""" else ""
      s"""{"metric":"total","value":${fmt(results.values.sum)},"unit":"sec","mode":"sequential_min2","git_head":"$gitHead"$filt,"failed":${failedNames.size},"failed_names":${names(failed)}$failedShown,"parallel_wall":${fmt(wall)},"parallel_pool":$pool,"per_query_sum":${fmt(results.values.sum)},"non_audit_total":${fmt(nonAuditTotal)},"audit_total":${fmt(auditTotal)},"warmed_caches":$warmed,$loadJson,"queries":$qs$shown,"sf":"$sfDir"}"""
    }
    val full = line(results)
    // The driver keeps the LAST 2000 CHARACTERS of stdout and parses the
    // final line as JSON (measured on BENCH_r11.json: tail length exactly
    // 2000, head-truncated mid-line; rounds 4-5 recorded parsed:null when
    // the last line outgrew the window). The full ~6 KB per-query map
    // therefore CANNOT ride in the round artifact — the final line instead
    // carries the headline + load evidence + as many slowest queries as
    // fit a 1800-byte budget (self-describing via queries_shown), and the
    // full map lives in the committed BENCH_LATEST.json /
    // BENCH_SEQ_LATEST.json keyed by the same git_head.
    // BENCH_SEQ_LATEST.json: just the sequential min-of-two per-query map,
    // as its own artifact so round-over-round per-query regression diffing
    // never depends on the driver's bounded stdout tail.
    val seqOnly = {
      val qs = results.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val filt = if (filterActive) s""","filter":true""" else ""
      s"""{"metric":"per_query_seq_min2","total":${fmt(results.values.sum)},"unit":"sec","git_head":"$gitHead"$filt,"failed":${failedNames.size},"failed_names":${names(failedNames)},"queries":$qs,"sf":"$sfDir"}"""
    }
    // Filtered runs must NOT overwrite the canonical whole-suite artifacts
    // (a subset total committed as BENCH_LATEST.json would read as a huge
    // same-HEAD improvement); they get their own clearly-named files.
    val (latestName, seqName) =
      if (filterActive) ("BENCH_FILTERED_LATEST.json", "BENCH_FILTERED_SEQ_LATEST.json")
      else ("BENCH_LATEST.json", "BENCH_SEQ_LATEST.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(latestName),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(seqName),
        (seqOnly + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      // surface the failure (a stale artifact silently surviving is the
      // exact failure mode this file exists to fix) but keep stdout clean
      // for the JSON lines below
      case e: java.io.IOException =>
        System.err.println(s"WARN could not write BENCH_LATEST.json: $e")
    }
    spark.stop()
    println(full)
    // adaptive final line: as many of the slowest queries as keep the line
    // within the driver's measured 2000-char window (1800-byte budget
    // leaves headroom for a trailing newline + key-length drift)
    val sorted = results.toSeq.sortBy(-_._2)
    // queries are dropped first, down to the ZERO-query headline; only then
    // is the failed-names list cut (self-describing via failed_shown), so
    // the line stays parseable however many queries fail
    val finalLine = ((sorted.length to 0 by -1).view.map(k => line(sorted.take(k).toMap)) ++
      (failedNames.size - 1 to 0 by -1).view.map(j => line(Map.empty, failedNames.take(j))))
      .find(_.length <= 1800)
      .getOrElse(line(Map.empty, Nil))
    println(finalLine)
    System.out.flush()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
