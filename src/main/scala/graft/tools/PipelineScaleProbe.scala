package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup}

/** Composed curation-pipeline scale rehearsal: the q60 stage chain — exact
  * dedup → MinHash+LSH near-dup keep-one → Bloom-prefiltered benchmark
  * decontamination → quality-ordered token budget — run END TO END at n
  * docs (default 10M, 2000× the sf0.1 gate corpus), with per-stage wall
  * times and LISTENER-ASSERTED shuffle volumes. The per-operator probes
  * (DedupScaleProbe, …) each bound one stage; this probe
  * proves the claim they cannot: that the COMPOSITION stays
  * linear-shuffle-per-stage when each stage consumes the previous stage's
  * materialized survivors rather than a fresh synthetic input.
  *
  * Corpus construction (all hash-derived, fully distributed, no driver
  * data): n base docs of 80 random tokens over a 50k vocabulary, plus
  *   - an EXACT duplicate of every 200th base doc (stage-1 fodder),
  *   - a NEAR duplicate (2 tokens mutated, J≈0.85) of every 100th
  *     (stage-2 fodder; exact copies are removed before stage 2 sees them),
  *   - a 10-token run from one of 1000 benchmark docs spliced into every
  *     500th base doc (8 contiguous 3-shingle overlaps ≥ the minOverlap 5
  *     gate — stage-3 fodder; the benchmark token namespace is disjoint
  *     from the corpus vocabulary, so clean docs can never be flagged).
  * Every planted count is therefore EXACT and every stage's survivor count
  * is asserted as an equality, not a bound.
  *
  * Shuffle-volume invariants (records written, drained via ListenerDrain
  * before every read — task-end events are async):
  *   stage 0 (generation + materialize): ZERO — unions of projections are
  *     narrow;
  *   stage 1 (exact dedup): one md5-keyed exchange ≈ corpus rows (unique
  *     keys defeat partial aggregation) — asserted ≤ 1.1 × rows + parts;
  *   stage 2 (near-dup): O(n·bands) from the banded-LSH exchange plus a
  *     handful of n-row exchanges (shingle-set verify join) — asserted
  *     ≤ n·(bands + 8); an accidental all-pairs formulation would be
  *     O(n²) ≈ 10⁷× over this bound;
  *   stage 3 (decontam): the Bloom prefilter drops ~(1−fpp) of the ~78n
  *     exploded spans BEFORE anything wide, and the benchmark span table is
  *     broadcast — asserted ≤ 3·(fpp·78n + planted spans) + n (the final
  *     keep-join's id traffic);
  *   stage 4 (budget): the 1000-key quality histogram + the boundary-key
  *     partition window — asserted ≤ 2% of n.
  *
  * Run: `sbt "runMain graft.tools.PipelineScaleProbe [n] [cores]"`
  * (results recorded in BASELINE.md §scale-probes).
  */
object PipelineScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = graft.Session.local(cores)
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cores)
    run(spark, n, cores)
    spark.stop()
  }

  /** The whole staged pipeline with every invariant asserted — callable
    * from tests (Round12Spec runs it at 50k docs inside the shared test
    * session, so the composition invariants gate every `sbt test`, not
    * just the manual 10M probe run). */
  def run(spark: SparkSession, n: Long, cores: Int): Unit = {
    val vocab = 50000L
    val tokensPerDoc = 80
    val nBench = 1000L
    val benchTokens = 40

    // ---- deterministic distributed corpus --------------------------------
    // token j of base doc i: "w" + (xxhash64(i, j) mod vocab); mutations and
    // the contamination splice are column expressions over (id, j).
    // Spark's `/` on longs is DOUBLE division — every id derivation casts
    // back to long (exact: ids ≪ 2^53) so xxhash64 hashes the same bytes on
    // both sides and unionByName sees one id type.
    def ldiv(c: Column, k: Long): Column = (c / k).cast("long")
    def baseTok(id: Column, j: Column): Column =
      concat(lit("w"), pmod(xxhash64(id, j), lit(vocab)).cast("string"))
    def benchTok(bid: Column, j: Column): Column =
      concat(lit("b"), pmod(xxhash64(lit("bench"), bid, j), lit(vocab)).cast("string"))
    // base text, with the benchmark splice for every 500th doc: tokens
    // 20..29 come from bench doc (id/500 mod nBench), positions 5..14.
    def baseText(id: Column): Column = {
      val tok = (j: Column) => {
        val spliced = benchTok(pmod(ldiv(id, 500), lit(nBench)), j - 15)
        when(id % 500 === 0 && j.between(20, 29), spliced).otherwise(baseTok(id, j))
      }
      concat_ws(" ", transform(sequence(lit(1), lit(tokensPerDoc)), tok))
    }
    // near-dup variant: tokens 10 and 50 re-drawn from outside the vocab
    def nearText(id: Column): Column = {
      val tok = (j: Column) => {
        val spliced = benchTok(pmod(ldiv(id, 500), lit(nBench)), j - 15)
        val base = when(id % 500 === 0 && j.between(20, 29), spliced)
          .otherwise(baseTok(id, j))
        when(j === 10 || j === 50, concat(lit("m"), xxhash64(id, j).cast("string")))
          .otherwise(base)
      }
      concat_ws(" ", transform(sequence(lit(1), lit(tokensPerDoc)), tok))
    }
    val nExact = (n + 199) / 200
    val nNear = (n + 99) / 100
    val nContam = (n + 499) / 500
    def withMeta(df: DataFrame): DataFrame = df.select(col("doc_id"), col("text"),
      // quantized 3-dp quality (Curation contract) + simple token count
      (pmod(xxhash64(lit("q"), col("doc_id")), lit(1000L)).cast("double") / 1000.0).as("q"),
      lit(tokensPerDoc.toLong).as("tokens"))
    // ONE range with id-range dispatch instead of a 3-way union: ids
    // [0, n) are base docs, [n, n+nExact) exact copies of doc (id−n)·200,
    // [n+nExact, …) near copies of doc (id−n−nExact)·100. Besides being a
    // single narrow plan, this sidesteps Union's constraint rewrite, which
    // chokes on a branch whose filter constraint references a projected-away
    // column (NoSuchElementException in rewriteConstraints).
    val corpusGen = spark.range(n + nExact + nNear).select(
      col("id").as("doc_id"),
      when(col("id") < n, baseText(col("id")))
        .when(col("id") < n + nExact, baseText((col("id") - n) * 200))
        .otherwise(nearText((col("id") - n - nExact) * 100)).as("text"))
    val bench = spark.range(nBench).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(benchTokens)),
        j => benchTok(col("id"), j))).as("text"))

    // ---- per-stage shuffle instrumentation -------------------------------
    val shuffleRows = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) shuffleRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def drained(): Long = {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      shuffleRows.get()
    }
    case class Stage(name: String, wall: Double, shuffled: Long, survivors: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    var mark = 0L
    def timed(name: String)(body: => DataFrame): (DataFrame, Long) = {
      val t0 = System.nanoTime()
      // eager localCheckpoint: materializes the stage output (so the next
      // stage never re-executes this one — per-stage attribution stays
      // honest) and truncates lineage
      val out = body.localCheckpoint(true)
      val survivors = out.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val now = drained()
      stages += Stage(name, wall, now - mark, survivors)
      mark = now
      println(f"[$name] wall=$wall%.1f s shuffled=${stages.last.shuffled}%,d survivors=$survivors%,d")
      (out, survivors)
    }

    // ---- stage 0: generate + materialize ---------------------------------
    val (corpus, total) = timed("generate") {
      withMeta(corpusGen)
    }
    val (benchDf, _) = timed("bench") { bench }
    assert(total == n + nExact + nNear, s"corpus $total")
    // generation is narrow; the only shuffle traffic is count()'s final
    // aggregation — one partial row per partition per action
    val countNoise = 4L * 2 * cores
    assert(stages.take(2).map(_.shuffled).sum <= 2 * countNoise,
      s"generation must be shuffle-free (± count noise): ${stages.take(2)}")

    // ---- stage 1: exact dedup (keep min doc_id per identical text) -------
    val (s1, surv1) = timed("exact_dedup") {
      corpus.groupBy(md5(col("text").cast("binary")).as("__dg"))
        .agg(min(struct(col("doc_id"), col("text"), col("q"), col("tokens"))).as("__r"))
        .select(col("__r.doc_id"), col("__r.text"), col("__r.q"), col("__r.tokens"))
    }
    assert(surv1 == n + nNear, s"stage1 survivors $surv1 != ${n + nNear}")
    val bound1 = (1.1 * total).toLong + 1000
    assert(stages.last.shuffled <= bound1,
      s"stage1 shuffle ${stages.last.shuffled} > $bound1")

    // ---- stage 2: near-dup keep-one (MinHash → LSH → verify → groups) ----
    val (s2, surv2) = timed("near_dedup") {
      val pairs = Dedup.nearDuplicatePairs(s1, "doc_id", "text",
        threshold = 0.5, numHashes = 32, shingleSize = 3, bands = 16)
      val groups = Dedup.duplicateGroups(pairs)
      // survivors: every doc that is not a non-minimum member of a group
      val losers = groups.filter(col("id") =!= col("group_id"))
        .select(col("id").as("doc_id"))
      s1.join(broadcast(losers), Seq("doc_id"), "left_anti")
    }
    assert(surv2 == n, s"stage2 survivors $surv2 != $n")
    val bound2 = surv1 * (16 + 8)
    assert(stages.last.shuffled <= bound2,
      s"stage2 shuffle ${stages.last.shuffled} > $bound2 (O(n·bands) break)")

    // ---- stage 3: Bloom-prefiltered decontamination ----------------------
    val fpp = 0.01
    val (s3, surv3) = timed("decontam") {
      val corpusSets = Dedup.shingleSets(s2.select(col("doc_id").as("id"), col("text")),
        "id", "text", shingleSize = 3)
      val benchSets = Dedup.shingleSets(benchDf.select(col("doc_id").as("id"), col("text")),
        "id", "text", shingleSize = 3)
      val flagged = Dedup.bloomContaminationReportFromSets(
        corpusSets, benchSets, minOverlap = 5, fpp = fpp)
        .select(col("id").as("doc_id"))
      s2.join(flagged, Seq("doc_id"), "left_anti")
    }
    assert(surv3 == n - nContam, s"stage3 survivors $surv3 != ${n - nContam}")
    val spansTotal = surv2 * (tokensPerDoc - 2)
    val bound3 = (3 * (fpp * spansTotal + nContam.toDouble * 8)).toLong + surv2
    assert(stages.last.shuffled <= bound3,
      s"stage3 shuffle ${stages.last.shuffled} > $bound3 (Bloom prefilter break)")

    // ---- stage 4: quality-ordered token budget ---------------------------
    val budget = (0.3 * surv3 * tokensPerDoc).toLong
    val (s4, surv4) = timed("token_budget") {
      Curation.selectByTokenBudget(s3, "doc_id", "q", "tokens", budget)
    }
    val selTokens = s4.agg(sum("tokens")).head().getLong(0)
    assert(selTokens <= budget && selTokens > budget - tokensPerDoc,
      s"budget fill $selTokens not in (${budget - tokensPerDoc}, $budget]")
    val bound4 = math.max(n / 50, 100000L)
    assert(stages.last.shuffled <= bound4,
      s"stage4 shuffle ${stages.last.shuffled} > $bound4")

    val pipelineWall = stages.drop(2).map(_.wall).sum
    println(f"docs=$total%,d pipeline_wall=$pipelineWall%.1f s " +
      f"(+gen=${stages.take(2).map(_.wall).sum}%.1f s) " +
      s"survivors=${surv1}/${surv2}/${surv3}/$surv4 " +
      s"shuffled=${stages.map(s => s"${s.name}:${s.shuffled}").mkString(",")}")
    println("ALL PIPELINE INVARIANTS PASS")
    // detach: run() may execute inside a shared (test) session
    spark.sparkContext.removeSparkListener(listener)
  }
}
