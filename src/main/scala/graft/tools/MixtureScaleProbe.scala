package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Curation

/** Scale probe for the round-8 allocation/curriculum operators:
  *
  *  1. WATERFILL at `domains` sources (q145/q151 shape): per-source supplies
  *     are a Zipf-ish hash function, the level search is the sorted-cumsum
  *     closed form. The window runs over the POST-AGGREGATION per-domain
  *     frame — the probe demonstrates that even at 10⁶ domains (three orders
  *     above any real mixture table) the whole solve is one sort of tiny
  *     rows. Asserts Σ min(T, C) = B within float tolerance.
  *
  *  2. DISTRIBUTED RANK at `rows` documents (q147 shape):
  *     [[Curation.withGlobalOffset]] over a unique integer key — range
  *     partition + partition-local windows, no global window — then the
  *     4-stage equal-count cut. Asserts stage counts balance to ±1 and
  *     that ranks are a permutation (min 0, max n−1, distinct).
  *
  * Run: `sbt "runMain graft.tools.MixtureScaleProbe [domains] [rows] [cores]"`
  * (default 1M domains / 10M rows / 16 cores; results in BASELINE.md).
  */
object MixtureScaleProbe {
  def main(args: Array[String]): Unit = {
    val domains = args.headOption.map(_.toInt).getOrElse(1000000)
    val rows = args.drop(1).headOption.map(_.toInt).getOrElse(10000000)
    val cores = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val spark = graft.Session.local(cores)
    println(s"domains=$domains rows=$rows cores=$cores")

    def time[T](label: String)(f: => T): T = {
      var best = Double.MaxValue
      var r: T = null.asInstanceOf[T]
      (0 until 2).foreach { _ =>
        val t0 = System.nanoTime()
        r = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"$label: $best%.2f s (min of 2)")
      r
    }

    // ---- 1. waterfill over `domains` sources --------------------------------
    // skewed supplies: T ∈ [1, ~1e6], heavy head via squared hash
    val supply = spark.range(domains.toLong)
      .select(col("id").as("source"),
        (pmod(xxhash64(col("id")), lit(1000)) + 1).cast("double").as("h"))
      .select(col("source"), (col("h") * col("h")).as("T"))
      .cache()
    supply.count()

    val (allocated, budget) = time("waterfill solve") {
      val tot = supply.agg(sum(col("T")).as("tt"),
        count(lit(1)).cast("double").as("n"))
      val ord = Window.orderBy(col("T"), col("source"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = supply.crossJoin(tot)
        .withColumn("B", col("tt") * 0.5)
        .withColumn("k", row_number().over(ord).cast("double") - 1.0)
        .withColumn("prefix", sum(col("T")).over(cum) - col("T"))
        .withColumn("cand", (col("B") - col("prefix")) / (col("n") - col("k")))
        .withColumn("prevT", coalesce(lag(col("T"), 1).over(ord), lit(0.0)))
      val level = ranked
        .filter(col("cand") <= col("T") && col("cand") >= col("prevT"))
        .agg(min(col("cand")).as("C"))
      val out = ranked.crossJoin(level)
        .agg(sum(least(col("T"), col("C"))).as("alloc"),
          first(col("B")).as("B"))
        .head
      (out.getDouble(0), out.getDouble(1))
    }
    println(f"allocated=$allocated%.1f budget=$budget%.1f " +
      f"relerr=${math.abs(allocated - budget) / budget}%.2e")
    assert(math.abs(allocated - budget) / budget < 1e-9,
      "waterfill did not exhaust the budget")

    // ---- 2. distributed rank over `rows` docs -------------------------------
    val docs = spark.range(rows.toLong)
      .select(col("id"),
        pmod(xxhash64(concat(lit("t"), col("id"))), lit(2048)).as("tokens"))
      .withColumn("key", col("tokens") * lit(100000000L) + col("id"))
      .withColumn("one", lit(1L))
      .cache()
    docs.count()

    val stages = time("distributed rank + stage cut") {
      val ranked = Curation.withGlobalOffset(docs, "key", "one", "rk0")
      ranked.select(
        floor(col("rk0").cast("double") * 4.0 / lit(rows.toDouble))
          .cast("long").as("stage"))
        .groupBy("stage").count().orderBy("stage").collect()
    }
    stages.foreach(r => println(s"stage ${r.getLong(0)}: ${r.getLong(1)} rows"))
    val counts = stages.map(_.getLong(1))
    assert(stages.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(counts.sum == rows.toLong)
    assert(counts.max - counts.min <= 1, s"unbalanced stages: ${counts.toSeq}")

    val rankBounds = time("rank permutation check") {
      val ranked = Curation.withGlobalOffset(docs, "key", "one", "rk0")
      ranked.agg(min(col("rk0")), max(col("rk0")),
        countDistinct(col("rk0"))).head
    }
    assert(rankBounds.getLong(0) == 0L)
    assert(rankBounds.getLong(1) == rows.toLong - 1)
    assert(rankBounds.getLong(2) == rows.toLong)
    println("OK: waterfill exact at scale; distributed rank is a permutation")
    spark.stop()
  }
}
