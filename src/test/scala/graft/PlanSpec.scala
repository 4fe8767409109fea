package graft

import org.apache.spark.sql.functions._

import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs
import graft.functions.GraftProduct.product

/** Physical-plan regression guards: the properties that make the engine
  * scale must stay visible in explain output (SURVEY.md "optimize for
  * scale" checklist).
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def explainString(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("lineitem scan is pruned to the needed columns") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rev = li.groupBy(to_date(col("l_shipdate")).as("d"), col("l_returnflag").as("asset"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val plan = explainString(rev)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_quantity"),
      s"unpruned scan: $readSchema")
  }

  test("filter on scan column is pushed to parquet") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 30.0).select("l_orderkey")
    val plan = explainString(li)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity"), s"no pushdown in: $plan")
  }

  test("benchmark join broadcasts the small side") {
    val big = (1 to 1000).map(i => (i % 50, i.toDouble)).toDF("d", "r")
    val small = (0 until 50).map(i => (i, i * 0.1)).toDF("d", "b")
    val sf = SeriesFrame(big.withColumn("asset", lit("x")), Seq("asset"), "d", "r")
    val plan = explainString(GroupedStats.benchmarked(sf, small, "d", "b"))
    assert(plan.contains("BroadcastHashJoin"), "benchmark join is not broadcast")
  }

  test("grouped aggregation has map-side partial aggregation") {
    val sf = SeriesFrame((1 to 100).map(i => (i % 3, i, i * 0.01)).toDF("a", "t", "r"),
      Seq("a"), "t", "r")
    val plan = explainString(GroupedStats.aggregate(sf, Seq("s" -> (c => sum(c)))))
    // partial + final pair
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("portfolio rollup: weighted sum per period, metric-ready") {
    val sf = SeriesFrame(Seq(
      ("a", 1, 0.10), ("b", 1, -0.02),
      ("a", 2, 0.04), ("b", 2, 0.06)).toDF("k", "t", "r"), Seq("k"), "t", "r")
    val port = GroupedStats.portfolioReturns(sf, Map("a" -> 0.6, "b" -> 0.4), "k")
    val rows = port.df.orderBy("t").collect().map(_.getDouble(1))
    assertApprox(rows(0), 0.6 * 0.10 + 0.4 * -0.02, 1e-12)
    assertApprox(rows(1), 0.6 * 0.04 + 0.4 * 0.06, 1e-12)
    // metric-ready: comp over the portfolio series
    val comp = GroupedStats.aggregate(port, Seq("c" -> Exprs.comp)).head().getDouble(1)
    assertApprox(comp, (1 + rows(0)) * (1 + rows(1)) - 1, 1e-12)
  }

  test("as-of join preserves every left row and backward semantics") {
    val left = Seq((1, "x"), (5, "y"), (9, "z"), (0, "w")).toDF("t", "v")
    val right = Seq((2, 20.0), (5, 50.0), (8, 80.0)).toDF("t", "b")
    val j = graft.core.AsOfJoin.backward(left, right, "t", "t", Seq("b"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(j.size == 4) // all left rows survive
    assert(j(0).isEmpty) // before first right row
    assert(j(1).isEmpty)
    assert(j(5).contains(50.0)) // equal ts matches
    assert(j(9).contains(80.0)) // latest earlier
  }

  test("streaks keep keys with no wins/losses (review fix)") {
    val sf = SeriesFrame(
      (Seq(("up", 1, 0.1), ("up", 2, 0.2), ("flat", 1, 0.0), ("flat", 2, 0.0)))
        .toDF("a", "t", "r"), Seq("a"), "t", "r")
    val rows = GroupedStats.streaks(sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("flat") == ((0L, 0L)))
    assert(rows("up") == ((2L, 0L)))
  }

  test("GroupedStats' ordered metrics execute no Window and no Sort operator") {
    val df = (0 until 200).map(i => (s"k${i % 4}", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(i / 4)), math.sin(i) / 50)).toDF("asset", "d", "r")
    val sf = SeriesFrame(df, Seq("asset"), "d", "r")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "drawdownStats" -> (() => GroupedStats.drawdownStats(sf)),
      "varCvar" -> (() => GroupedStats.varCvar(sf)),
      "streaks" -> (() => GroupedStats.streaks(sf)),
      "drawdownEpisodes" -> (() => GroupedStats.drawdownEpisodes(sf)),
      "smartSharpe" -> (() => GroupedStats.smartSharpe(sf)))
    ops.foreach { case (name, op) =>
      val nodes = Instrument.executedOperators(spark)(op().collect()).map(_.nodeName)
      assert(nodes.contains("ObjectHashAggregate"), s"$name: ${nodes.distinct}")
      val bad = nodes.filter(n => n.contains("Window") || n == "Sort")
      assert(bad.isEmpty, s"$name: $bad")
    }
  }

  test("vector-mean aggregation runs with map-side partial merge, not an exploded shuffle") {
    val d = (1 to 100).map(i => (i % 5, Seq.fill(4)(i * 0.1))).toDF("label", "vec")
    val plan = explainString(graft.ext.Similarity.labelCentroids(d, "label", "vec"))
    // Aggregator udaf → ObjectHashAggregate pair (partial + final): the
    // exchange carries one buffer per (group, partition), never n·dims rows
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Generate"), s"exploded formulation leaked in: $plan")
  }

  test("bounded top-k aggregation plans partial merge and no window sort") {
    val d = (1 to 500).map(i => (i % 7, i * 0.01, i.toLong)).toDF("g", "s", "id")
    val tk = d.groupBy("g")
      .agg(graft.functions.TopKAgg.topK(col("s"), col("id"), 3).as("tk"))
    val plan = explainString(tk)
    // Aggregator udaf → ObjectHashAggregate pair (partial + final): each
    // partition ships at most k entries per group — the window formulation
    // would sort every row of every group on one reducer each
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Window"), s"window sort leaked in: $plan")
  }

  test("token-budget curation plans only partitioned windows") {
    val d = (1 to 300).map(i => (i.toLong, (i % 10) / 10.0, 5L)).toDF("id", "q", "tokens")
    val sel = graft.ext.Curation.selectByTokenBudget(d, "id", "q", "tokens", 400L)
    val plan = explainString(sel)
    // the boundary cumulative sum must be the (single-key) PARTITIONED window,
    // never a global Window.orderBy over the corpus — a global window would
    // plan an Exchange SinglePartition
    assert(plan.contains("Window"), "expected the boundary-bucket window in the plan")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("distributed prefix sum plans no single-partition exchange") {
    val d = (1 to 500).map(i => (i.toLong, 3L)).toDF("id", "t")
    val off = graft.ext.Curation.withGlobalOffset(d, "id", "t", numPartitions = 5)
    val plan = explainString(off)
    // the whole point of the primitive: the scan is partition-local windows
    // over a range partitioning, never Window.orderBy on one partition
    assert(plan.contains("Window"), "expected the partition-local cumsum window")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("partitioned parquet sink: reads prune partitions on the partition key") {
    // sink-side scale contract: a corpus written partitionBy(lang) must let
    // a lang-filtered read skip other partitions entirely (PartitionFilters
    // in the scan, not a post-scan Filter over everything)
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    try {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
      val back = spark.read.parquet(dir).filter(col("lang") === "en")
      val plan = explainString(back)
      assert(plan.contains("PartitionFilters") && plan.contains("lang"),
        s"no partition pruning in: $plan")
      val full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("lang") === "en").count()
      assert(back.count() == full)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("HLL register aggregation plans map-side partial aggregation and no Generate") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = graft.ext.Sketches.hllRegisters(ev, "event_id", Seq("event_type"))
      .queryExecution.executedPlan.toString
    // partial + final HashAggregate pair: the shuffle carries register rows,
    // never raw keys — the property that makes the sketch 100-TB-shaped
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Generate"), s"unexpected explode in sketch path: $plan")
  }

  test("correlation matrix plans a shuffled equi-join on the date key, not a cartesian") {
    val plan = graft.queries.Queries.q67CorrMatrix(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated to a cartesian: $plan")
  }

  test("binned quantiles plan only key-partitioned windows") {
    val plan = graft.queries.Queries.q64BinnedQuantiles(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "expected the per-asset cumsum window")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("star join broadcasts every dimension hop — the fact side never shuffles on a dim key") {
    val plan = graft.queries.Queries.q74StarJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4,
      s"expected 4 broadcast dimension joins: $plan")
    assert(!plan.contains("SortMergeJoin"), s"a dim hop fell back to SMJ: $plan")
  }

  test("perceptual dedup plans equi-joins only — no cartesian, no global exchange") {
    val plan = graft.queries.ExtQueries.q75PerceptualDedup(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair stage degenerated to a cartesian: $plan")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("video near-dup plans equi-joins only — no cartesian, no global exchange") {
    val plan = graft.queries.ExtQueries.q77VideoNearDup(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"frame-match stage degenerated to a cartesian: $plan")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("audio near-dup plans equi-joins only — no cartesian, no global exchange") {
    val plan = graft.queries.ExtQueries.q83AudioDedup(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair stage degenerated to a cartesian: $plan")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("composition cube is one scan + Expand, not a scan per grouping set") {
    val df = graft.queries.ExtQueries.q89CompositionCube(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"cube should plan an Expand: $plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"cube re-scanned the corpus ($scans scans): $plan")
  }

  test("pagerank rounds plan equi-joins + partial aggregation, no cartesian") {
    val plan = graft.queries.ExtQueries.q87PageRank(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pagerank degenerated to a loop join: $plan")
  }

  test("prefix-filter join plans equi-joins and keyed windows only") {
    val plan = graft.queries.ExtQueries.q95PrefixJoin(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate stage degenerated to a cartesian: $plan")
    assert(!plan.contains("SinglePartition"), s"global exchange in: $plan")
  }

  test("triangle counting plans equi-joins only — no cartesian") {
    val plan = graft.queries.ExtQueries.q96Triangles(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge stage degenerated to a cartesian: $plan")
  }

  test("association rules broadcast the dims — the only shuffles key on the basket") {
    val plan = graft.queries.ExtQueries.q102AssocRules(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"brand translation / count attach should broadcast: $plan")
    // the only nested-loop join allowed is the 1-row totals attach
    assert(!plan.contains("CartesianProduct"),
      s"pair stage degenerated to a cartesian: $plan")
  }

  test("regional revenue joins broadcast every dimension — no cartesian") {
    val plan = graft.queries.Queries.q105RegionalRevenue(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      s"customer/supplier/nation should be broadcast hops: $plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
  }

  test("bucketed tables join without re-shuffling either scan (co-located join)") {
    // bucketBy+sortBy on the join key at write time means the join
    // consumes the scans directly — the only exchange in the executed plan
    // is the one above the final aggregation, never under the join. At
    // 100 TB this is the fact-table re-shuffle saved on every downstream
    // join.
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket-test")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").mode("overwrite").saveAsTable("li_bucketed_t")
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/or").mode("overwrite").saveAsTable("or_bucketed_t")
      val j = spark.table("li_bucketed_t")
        .join(spark.table("or_bucketed_t"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val rows = j.collect()
      // AQE plans print Final + Initial sections; count exchanges in the
      // final (executed) section only
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"join re-shuffled bucketed scans: $plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-free merge/hash join over bucketed scans: $plan")
      // cross-check the result against the plain (unbucketed) join
      val plainCount = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .join(spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(rows.map(_.getLong(1)).sum == plainCount)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed_t")
      spark.sql("DROP TABLE IF EXISTS or_bucketed_t")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("source audits (q120/q121/q122/q125) plan keyed shuffles only — no cartesian") {
    for (name <- Seq("q120_cross_source_dupes", "q121_shingle_novelty",
        "q122_source_divergence", "q125_chunking")) {
      val plan = graft.queries.Registry(name).run(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian: $plan")
    }
    // novelty is pure keyed aggregation — not even a 1-row attach, so no
    // nested-loop join and no global exchange may appear
    val novelty = graft.queries.Registry("q121_shingle_novelty").run(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!novelty.contains("BroadcastNestedLoopJoin") &&
      !novelty.contains("SinglePartition"), s"q121 plan: $novelty")
  }

  test("round-7 audits plan without cartesians; row-local audits have no nested loop") {
    // scalar 1-row attaches (q131 naive, q128 n_g, q137 total) are
    // BroadcastNestedLoopJoin by construction — assert only no cartesian
    for (name <- Seq("q127_gopher_rules", "q128_ks_drift", "q129_vocab_growth",
        "q130_cusum_changepoint", "q131_padding_efficiency",
        "q134_welch_ab", "q135_trimmed_ab", "q137_filter_sweep",
        "q139_wilson_ci", "q140_pivot_daily", "q141_range_window")) {
      val plan = graft.queries.Registry(name).run(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian: $plan")
    }
    // q127 (rule audit) and q140 (pivot) are pure keyed aggregations: one
    // shuffle on the grouping key, no join of any kind, no global exchange
    for (name <- Seq("q127_gopher_rules", "q140_pivot_daily")) {
      val plan = graft.queries.Registry(name).run(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name plans a join: $plan")
      assert(!plan.contains("SinglePartition") || name == "q140_pivot_daily",
        s"$name has a global exchange: $plan")
    }
    // q141's RANGE window is partitioned by event_type — never a global sort
    val q141 = graft.queries.Registry("q141_range_window").run(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!q141.contains("SinglePartition") ||
      q141.contains("rangepartitioning"),
      s"q141 window not key-partitioned: $q141")
  }

  test("salted aggregation matches direct aggregation for semigroup metrics") {
    val sf = SeriesFrame((1 to 500).map(i => (s"k${i % 2}", i, 1.0 + i * 1e-4))
      .toDF("a", "t", "r"), Seq("a"), "t", "r")
    val direct = GroupedStats.aggregate(sf, Seq(
      "p" -> (c => product(c)), "mx" -> (c => max(c)), "sm" -> (c => sum(c))))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val salted = GroupedStats.saltedSemigroupAgg(sf, salts = 8, Seq(
      "p" -> (c => product(c)), "mx" -> (c => max(c)), "sm" -> (c => sum(c))))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    direct.keys.foreach { k =>
      assertApprox(salted(k)._1, direct(k)._1, 1e-9)
      assertApprox(salted(k)._2, direct(k)._2, 1e-12)
    }
  }

  test("runtime bloom filter injects on a selective SMJ fact join (no-broadcast regime)") {
    // at 100 TB the build side of a selective join is too big to broadcast;
    // Spark's InjectRuntimeFilter turns the join's selectivity into a
    // bloom predicate evaluated at the FACT SCAN. Pin that the engine
    // configuration actually produces it: force the no-broadcast regime,
    // lower the application-side threshold to fixture scale, and assert
    // both halves — the creation-side bloom_filter_agg and the scan-side
    // might_contain probe.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg"),
        s"no runtime bloom creation side in: $plan")
      assert(plan.toLowerCase.contains("might_contain"),
        s"no scan-side bloom probe in: $plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
