package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Scale probe for exact-substring extent mining (q242's operator) — the
  * measurable form of its 100-TB claims:
  *
  *   - the matched-position space stays LINEAR in corpus size because only
  *     k-grams with doc-frequency in [2, maxDf] ever reach the pair join:
  *     planted verbatim passages (df = 2) pair exactly; a 12-token
  *     boilerplate passage present in EVERY document (df = n — the
  *     worst-case hot key) is dropped by the cap before pairing, so it
  *     contributes ZERO pair rows instead of ~n²;
  *   - extent is exact on what survives: every planted 24-token quote is
  *     reported at longest_run = 24 (17 consecutive k-gram windows on one
  *     anti-diagonal), and no pair is invented from boilerplate alone.
  *
  * Corpus: `n` docs of 60 tokens each — positions 0..39 and 52..59 unique
  * xxhash64-derived tokens, positions 40..51 the universal boilerplate;
  * every 40th doc copies its base's tokens at positions 10..33 (a 24-token
  * verbatim passage, the quote). Listener-counted shuffle records are
  * asserted ≤ 8 linear passes over the ~53 exploded k-grams per doc.
  *
  * `sbt "runMain graft.tools.SharedRunsScaleProbe [n] [cpus]"`
  */
object SharedRunsScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.local(cpus)

    // token at (doc, pos): hex of xxhash64(doc*131 + pos) — unique-ish per
    // (doc, pos); boilerplate uses the fixed pseudo-doc 0x7fffffff so every
    // doc carries the identical 12-token passage at positions 40..51
    def tok(docCol: org.apache.spark.sql.Column, posCol: org.apache.spark.sql.Column) =
      concat(lit("t"), hex(pmod(xxhash64(docCol * 131 + posCol), lit(1L << 30))))
    val isQuote = pmod(col("id"), lit(40L)) === 23L && col("id") >= 11L
    val text = array_join(transform(sequence(lit(0), lit(59)), p => {
      val boiler = p >= 40 && p <= 51
      val quoted = isQuote && p >= 10 && p <= 33
      when(boiler, tok(lit(Int.MaxValue.toLong), p))
        .when(quoted, tok(col("id") - 11L, p))
        .otherwise(tok(col("id"), p))
    }), " ")
    val docs = spark.range(n).select(col("id"), text.as("text")).localCheckpoint()

    val shuffleRows = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleRows.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    })

    val t0 = System.nanoTime()
    val got = Dedup.longestSharedRuns(docs, "id", "text",
      k = 8, maxDf = 64, minRun = 16)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val byPair = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // planted quotes: (base = q-11, quote = q) at exactly 24 tokens
    val expected = (23L until n by 40L).map(q => (q - 11L, q))
    val exact = expected.count(p => byPair.get(p).contains(24L))
    val extras = byPair.keySet -- expected.toSet
    println(f"n=$n pairs=${byPair.size} time=$secs%.1f s " +
      f"shuffleRows=${shuffleRows.get} (${shuffleRows.get.toDouble / n}%.1f/doc)")
    println(s"planted 24-token quotes exact: $exact/${expected.size}; " +
      s"non-planted pairs reported: ${extras.size} (want 0 — boilerplate is capped)")
    require(exact == expected.size,
      s"planted quote extent wrong: $exact/${expected.size}")
    require(extras.isEmpty,
      s"boilerplate (df=n) leaked past the maxDf cap: ${extras.take(5)}")
    // linear bound: ~53 positional k-grams/doc through ≤ 8 shuffling passes
    // (posexplode df-agg, keep join both sides, matched positions, islands
    // window, two final aggs). A hot-key explosion would be ~n rows/doc.
    require(shuffleRows.get <= 8L * 53L * n,
      s"shuffle volume ${shuffleRows.get} exceeds 8 linear passes — pair explosion")
    spark.stop()
  }
}
