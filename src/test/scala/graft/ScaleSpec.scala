package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions._

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs

/** Many-key scale demonstration: the long-format engine at 10,000 series —
  * the 100×-keys evidence the wide reference API structurally cannot give
  * (it would need 10,000 columns). Asserts the properties that make the
  * plans survive a real cluster: every window partitioned by key (the
  * ordered metrics plan none), results complete per key, and cost roughly
  * linear (not quadratic) in key count.
  */
class ScaleSpec extends SparkSpec {

  private def series(nKeys: Int, perKey: Int) = {
    // deterministic pseudo-returns; date-typed ts so episode day math works
    val df = spark.range(nKeys.toLong * perKey).select(
      concat(lit("k"), (col("id") % nKeys)).as("asset"),
      date_add(to_date(lit("2020-01-01")), (col("id") / nKeys).cast("int")).as("d"),
      ((pmod(hash(col("id")), lit(1000)) - lit(480)) / 10000.0).as("r"))
    SeriesFrame(df, Seq("asset"), "d", "r")
  }

  private def assertPartitionedWindows(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"plan contains ${bad.size} single-partition window(s)")
  }

  /** The ordered metrics walk each series inside their aggregation. */
  private def assertNoWindow(df: org.apache.spark.sql.DataFrame): Unit = {
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty, s"plan contains ${windows.size} window(s)")
  }

  test("10k keys: aggregate + drawdown + episodes + smart sharpe, all partitioned") {
    val sf = series(10000, 20)

    val agg = GroupedStats.aggregate(sf, Seq(
      "comp" -> (r => Exprs.comp(r)),
      "sharpe" -> (r => Exprs.sharpe(r, 0.0, 252, annualize = true))))
    assert(agg.count() == 10000)

    val dd = GroupedStats.drawdownStats(sf)
    assertNoWindow(dd)
    assert(dd.count() == 10000)

    val eps = GroupedStats.drawdownEpisodes(sf)
    assertNoWindow(eps)
    assert(eps.count() == 10000)

    val smart = GroupedStats.smartSharpe(sf)
    assertNoWindow(smart)
    assert(smart.count() == 10000)

    val streaks = GroupedStats.streaks(sf)
    assertNoWindow(streaks)
    assert(streaks.count() == 10000)
  }

  test("wide Stats API computes through asset-partitioned windows (melt guard)") {
    import graft.stats.Stats
    // lazily-planned path: inspect the returned frame's plan directly
    assertPartitionedWindows(Stats.toDrawdowns(simpleDf))
    // eagerly-collecting paths: capture every internal query's plan
    val plans = Instrument.optimizedPlans(spark) {
      Stats.maxDrawdown(simpleDf).collect()
      Stats.serenityIndex(simpleDf).collect()
      Stats.conditionalValueAtRisk(simpleDf).collect()
      Stats.ulcerIndex(simpleDf).collect()
      Stats.smartSharpe(simpleDf).collect()
      Stats.probabilisticSharpeRatio(simpleDf, smart = true).collect()
      Stats.consecutiveWins(simpleDf).collect()
      graft.stats.DrawdownEpisodes.longestDays(simpleDf).collect()
    }
    val bad = plans.flatMap(_.collect { case w: LWindow if w.partitionSpec.isEmpty => w })
    assert(bad.isEmpty, s"wide API still plans ${bad.size} single-partition window(s)")
    // the smart calls read the walk's penalty: no window at all
    val smartPlans = Instrument.optimizedPlans(spark) {
      Stats.autocorrPenalty(simpleDf).collect()
      Stats.smartSharpe(simpleDf).collect()
      Stats.smartSortino(simpleDf).collect()
      Stats.probabilisticSharpeRatio(simpleDf).collect()
      Stats.probabilisticSharpeRatio(simpleDf, smart = true).collect()
    }
    assert(smartPlans.nonEmpty)
    val windows = smartPlans.flatMap(_.collect { case w: LWindow => w })
    assert(windows.isEmpty, s"smart calls plan ${windows.size} window(s)")
  }

  test("smart-ratio family stays a fixed handful of jobs regardless of column count") {
    import graft.stats.Stats
    def wide(n: Int, rows: Int) = {
      val cols = (1 to n).map(i => s"a$i")
      val rnd = new scala.util.Random(3)
      val data = (0 until rows).map { _ =>
        org.apache.spark.sql.Row.fromSeq(Seq.fill(n)(rnd.nextGaussian() / 100))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 2),
        org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.DoubleType))))
    }
    val calls: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "smartSharpe" -> (Stats.smartSharpe(_)),
      "smartSortino" -> (Stats.smartSortino(_)),
      "autocorrPenalty" -> Stats.autocorrPenalty,
      "psr" -> (Stats.psr(_)),
      "psr(smart)" -> (Stats.psr(_, smart = true)))
    // the shuffle-map job and the result job of the one per-asset aggregation
    for (n <- Seq(2, 5); (name, f) <- calls) {
      val df = wide(n, 2520)
      f(df).collect() // warm-up
      val jobs = Instrument.jobCount(spark)(f(df).collect())
      info(s"$name on 2520 x $n: $jobs jobs")
      assert(jobs <= 2, s"$name on 2520 x $n columns ran $jobs jobs")
    }
  }

  test("distributed prefix sum at 500k rows: exact spot-checked offsets, no global window") {
    // the scan primitive at 3 orders of magnitude above the unit fixture:
    // constant token value makes every offset arithmetically checkable
    // without materializing a naive global cumsum
    val n = 500000L
    val d = spark.range(n).select(col("id"), lit(7L).as("t"))
    val off = graft.ext.Curation.withGlobalOffset(d, "id", "t", numPartitions = 32)
    val bad = off.filter(col("offset") =!= col("id") * 7L)
    assert(bad.isEmpty, "offsets diverge from id*7")
    val plan = off.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), "scan fell back to a global window")
  }

  test("planted hot span at 100k docs: contamination join is broadcast-immune, " +
    "salted span join bounds reducer skew") {
    // Every doc opens with the same 8-token boilerplate → ONE ultra-hot span
    // key (df = 100k) plus two unique spans per doc — the stopword-span skew
    // regime the round-4 verdict flagged.
    val n = 100000
    val docs = spark.range(n).select(col("id"),
      concat(lit("t0 t1 t2 t3 t4 t5 t6 t7 u"), col("id"),
        lit(" v"), col("id")).as("text"))

    // (1) The contamination join: the benchmark span side is broadcast BY
    // CONSTRUCTION, so a hot span never concentrates on a reducer — there is
    // no shuffle on the span key at all. Executed plan pins it.
    val bench = spark.range(1).select(col("id"),
      lit("t0 t1 t2 t3 t4 t5 t6 t7").as("text"))
    val flagged = graft.ext.Dedup.contaminationReport(
      docs, bench, "id", "text", shingleSize = 8, minOverlap = 1)
    val flaggedRows = flagged.collect()
    assert(flaggedRows.length == n, s"all docs share the hot span: ${flaggedRows.length}")
    val cplan = flagged.queryExecution.executedPlan.toString
    assert(cplan.contains("BroadcastHashJoin") || cplan.contains("BroadcastExchange"),
      s"contamination span join must broadcast the benchmark side:\n${cplan.take(2000)}")

    // (2) spanDuplication's join-back: AQE's skew split cannot see this join
    // (the shared-span side is an aggregate output inside the same stage,
    // not the bare Sort(ShuffleQueryStage) OptimizeSkewedJoin matches —
    // verified empirically incl. forceOptimizeSkewedJoin), so the salted
    // route carries the bound. First: identical results either way.
    val plain = graft.ext.Dedup.spanDuplication(docs, "id", "text", spanTokens = 8)
    val salted = graft.ext.Dedup.spanDuplication(docs, "id", "text",
      spanTokens = 8, salts = 8)
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty,
      "salted join must return exactly the unsalted results")
    val shape = salted.select(col("n_spans"), col("n_shared_spans")).distinct().collect()
    assert(shape.length == 1 && shape(0).getLong(0) == 3L && shape(0).getLong(1) == 1L,
      s"got ${shape.toSeq}")

    // (3) The reducer-balance bound itself, measured on the exact rows the
    // join shuffle would deal: hash-distributing the spans side on the bare
    // span key leaves one reducer holding ≥ the hot key's full 100k rows;
    // on (span, salt) the maximum reducer load drops by ~the salt factor.
    val spans = graft.ext.Dedup.shingleSets(docs, "id", "text", shingleSize = 8)
      .select(col("id"), explode(col("sset")).as("__g"))
    def maxPartitionRows(parts: Int, keys: org.apache.spark.sql.Column*): Long =
      spans.repartition(parts, keys: _*)
        .mapPartitions(it => Iterator.single(it.size.toLong))(
          org.apache.spark.sql.Encoders.scalaLong)
        .collect().max
    val hotMax = maxPartitionRows(8, col("__g"))
    val saltedMax = maxPartitionRows(8,
      col("__g"), pmod(xxhash64(col("id")), lit(8L)))
    info(f"max reducer rows of 300k: unsalted $hotMax%d, salted(8) $saltedMax%d")
    assert(hotMax >= 100000L, "hot key must pin >= its 100k rows on one reducer")
    assert(saltedMax <= 60000L,
      s"salted distribution must bound the hottest reducer: $saltedMax")
  }

  test("cost scales roughly linearly in key count (no quadratic collapse)") {
    def time(nKeys: Int): Double = {
      val t0 = System.nanoTime()
      val d = GroupedStats.drawdownStats(series(nKeys, 20))
      assert(d.count() == nKeys)
      (System.nanoTime() - t0) / 1e9
    }
    time(1000) // JIT/codegen warm-up
    val t1k = time(1000)
    val t10k = time(10000)
    info(f"drawdownStats wall: 1k keys $t1k%.2f s, 10k keys $t10k%.2f s")
    // linear in rows would be ≤10×; quadratic-in-keys would be ~100×.
    // generous slack for shared-machine noise:
    assert(t10k <= math.max(t1k, 0.5) * 20,
      f"10k-key run $t10k%.2f s vs 1k-key $t1k%.2f s — worse than linear-with-slack")
  }
}
