package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Scale probe for the exact set-containment join (q235's operator) — the
  * measurable form of its 100-TB claims:
  *
  *   - the candidate space stays near-linear when the element universe is
  *     large (real shingle vocabularies), because candidates form only on
  *     the A-side PREFIX (rarest-first) elements;
  *   - corpus-wide BOILERPLATE elements (here: 5 tokens present in EVERY
  *     document — worst-case df = N) do not explode the join, because the
  *     frequency-tail ordering keeps them out of every prefix;
  *   - recall is exact: planted quote pairs (a 16-element subset of a base
  *     document, containment 16/21 ≈ 0.76) are ALL found; planted
  *     below-threshold partial overlaps (10/35 shared) are NOT reported.
  *
  * Corpus: `n` docs (default 100k), each 30 unique xxhash64-derived
  * elements from a 2^30 universe plus the 5 universal boilerplate tokens;
  * every 50th doc is a quote doc (16 elements copied from its base + the
  * boilerplate). Listener-counted shuffle records are asserted ≤ 40 rows
  * per document (explode + df join + window + candidate join + verify).
  *
  * `sbt "runMain graft.tools.ContainmentScaleProbe [n] [cpus]"`
  */
object ContainmentScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.local(cpus)

    val universe = 1L << 30
    val boiler = typedLit((900000000L to 900000004L).toArray)
    // base element j of doc id: xxhash64(id*37+j) mod 2^30 (j < 30)
    def elems(idCol: org.apache.spark.sql.Column, count: Int) =
      transform(sequence(lit(0), lit(count - 1)),
        j => pmod(xxhash64(idCol * 37 + j), lit(universe)))
    val isQuote = pmod(col("id"), lit(50L)) === 7L    // base = id - 7
    val isNoise = pmod(col("id"), lit(97L)) === 3L    // shares 10/35 with id-3
    val own = elems(col("id"), 30)
    val quoted = elems(col("id") - 7, 16)             // subset of base's 30
    val noise = concat(elems(col("id") - 3, 10), elems(col("id"), 20))
    val sets = spark.range(n).select(col("id"),
      array_distinct(concat(
        when(isQuote, quoted).when(isNoise, noise).otherwise(own),
        boiler)).as("sset"))
      .localCheckpoint()

    val shuffleRows = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleRows.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    })

    val t0 = System.nanoTime()
    val pairs = Dedup.containmentPairs(sets, threshold = 0.5)
      .select("a_id", "b_id").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet

    // planted quotes: (quote, base) must all verify (16 shared of 21 = 0.76);
    // quote id q=50k+7 needs base q-7 >= 0
    val expectedQuotes = (7L until n by 50L).filter(_ >= 7L)
      .map(q => (q, q - 7L)).filter(_._2 >= 0L)
      .filterNot { case (q, b) => b % 50L == 7L || b % 97L == 3L } // base must hold `own`
    val found = expectedQuotes.count(pairSet.contains)
    val noisePairs = (3L until n by 97L)
      .map(q => (q, q - 3L)).count(pairSet.contains)

    println(f"n=$n pairs=${pairSet.size} time=$secs%.1f s " +
      f"shuffleRows=${shuffleRows.get} (${shuffleRows.get.toDouble / n}%.1f/doc)")
    println(s"planted quotes found: $found/${expectedQuotes.size}; " +
      s"below-threshold noise pairs reported: $noisePairs (want 0)")
    require(found == expectedQuotes.size, "missed planted containment pairs")
    require(noisePairs == 0, "below-threshold pair reported")
    // the pipeline is ~5 LINEAR passes over the exploded (id, element) rows
    // (df agg, df join, rank window, candidate join, verify); ~35 elements
    // per doc → bound 6 passes × 35 rows. Quadratic candidate explosion
    // (the failure this probe exists to catch) would be ~n·df rows/doc.
    require(shuffleRows.get <= 6L * 35L * n,
      s"shuffle volume ${shuffleRows.get} exceeds 6 linear passes — candidate explosion")
    spark.stop()
  }
}
