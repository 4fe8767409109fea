package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** ANN scale probe: clustered 64-dim vectors (n/500 tight clusters — the
  * regime ANN indexes exist for), 100 queries. Measures brute-force cosine
  * top-5 as the truth, then a recall/cost CURVE over the SRP probe-depth
  * knob plus IVF (seed and Lloyd-refined) at candidate-reducing settings —
  * the evidence that the knobs behave the same at the next order of
  * magnitude, not just at test scale. All data synthesized distributedly
  * from hashes. Run: `sbt "runMain graft.tools.AnnScaleProbe [n] [cores]"`
  * (default 100k/8; the 1M run is recorded in BASELINE.md).
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val dim = 64
    val clusters = math.max(20, n / 500)
    // SRP planes sized so the bucket count tracks corpus size (~2^p buckets)
    val planes = if (n <= 200000) 10 else 12
    val spark = graft.Session.local(cores)
    println(s"n=$n dim=$dim clusters=$clusters planes=$planes cores=$cores")

    // vector = cluster center (hash-derived uniform [-1,1] per component)
    // + 0.1-scale per-vector noise, built as one transform expression
    def u(seed: Column, k: Column): Column =
      (pmod(xxhash64(seed, k), lit(2001)) - lit(1000)) / lit(1000.0)
    val vec = transform(sequence(lit(0), lit(dim - 1)), k =>
      u(concat(lit("c"), pmod(col("vec_id"), lit(clusters))), k) +
        lit(0.1) * u(concat(lit("v"), col("vec_id")), k))
    val corpus = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding")).cache()
    corpus.count()
    val queries = corpus.filter(col("vec_id") < 100)

    def timed(label: String)(df: => DataFrame): (Array[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val secs = (System.nanoTime() - t0) / 1e9
      (rows, secs)
    }
    def report(label: String, truth: Set[(Long, Long)],
        got: Array[(Long, Long)], secs: Double): Double = {
      val recall = got.count(truth.contains).toDouble / truth.size
      println(f"$label%-36s $secs%7.2f s  recall@5 $recall%.3f")
      recall
    }

    val (truthRows, truthSecs) = timed("brute force") {
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
    }
    val truth = truthRows.toSet
    println(f"${"brute force top-5 (truth)"}%-36s $truthSecs%7.2f s  recall@5 1.000")

    // SRP probe-depth curve: cost and recall must both rise with the knob
    val srpCurve = (0 to 2).map { h =>
      val (rows, secs) = timed(s"srp h=$h") {
        Similarity.srpBucketTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", dims = dim, k = 5,
          planes = planes, probeHamming = h)
      }
      report(f"srp($planes planes, probe<=$h)", truth, rows, secs)
    }
    assert(srpCurve.last >= 0.9, f"SRP deepest-probe recall ${srpCurve.last}%.3f below 0.9")
    assert(srpCurve.zip(srpCurve.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"SRP recall curve must be monotone in probe depth: $srpCurve")

    // assignment costs nLists x dim mults per corpus row — lists must grow
    // far slower than the corpus or bucketing outruns the brute force it
    // replaces (500 lists at 1M measured 110 s vs 41 s brute)
    val nLists = if (n <= 200000) 64 else 128
    val (ivfRows, ivfSecs) = timed("ivf") {
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nLists = nLists,
        nProbe = nLists / 8, sampleSize = 4096)
    }
    val ivfRecall = report(f"ivf($nLists lists, ${nLists / 8} probes)", truth, ivfRows, ivfSecs)
    val (refRows, refSecs) = timed("ivf refined") {
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nLists = nLists,
        nProbe = nLists / 8, sampleSize = 4096, refineIterations = 2)
    }
    val refRecall = report(f"ivf+2 Lloyd($nLists lists, ${nLists / 8} probes)",
      truth, refRows, refSecs)
    assert(ivfRecall >= 0.9, f"IVF recall $ivfRecall%.3f below 0.9")
    assert(refRecall >= ivfRecall - 0.02,
      f"refined IVF recall $refRecall%.3f fell vs seed $ivfRecall%.3f")
    spark.stop()
  }
}
