package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ext.{Pq, Similarity}

/** Product-quantization scale probe: clustered 64-dim vectors (the
  * AnnScaleProbe fixture), codebooks trained on a bounded driver sample +
  * one distributed Lloyd refinement, corpus encoded ONCE to m=8 codes
  * (32× compression at k=256), then per-query ADC LUT scan → shortlist →
  * exact re-rank, audited against brute-force truth. Reports wall times,
  * recall@10 of ADC alone vs after re-rank, and the candidate economics
  * (shortlist rows exactly L·queries, independent of n). Run:
  * `sbt "runMain graft.tools.PqScaleProbe [n] [cores]"` (default 200k/8;
  * the 1M run is recorded in BASELINE.md).
  */
object PqScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val dim = 64
    val m = 8
    val k = 256
    val shortlist = 500
    val nQueries = 50
    val clusters = math.max(20, n / 500)
    val spark = graft.Session.local(cores)
    println(s"n=$n dim=$dim m=$m k=$k shortlist=$shortlist clusters=$clusters cores=$cores")

    def u(seed: Column, kk: Column): Column =
      (pmod(xxhash64(seed, kk), lit(2001)) - lit(1000)) / lit(1000.0)
    // noise 0.5 (vs AnnScaleProbe's 0.1): tight clusters would collapse
    // every member onto ONE pq code (identical ADC, id-ordered shortlist —
    // the degenerate regime where no quantizer can rank within a cluster);
    // at 0.5 the k=256-per-subspace codebook subdivides each cluster and
    // ADC ranks genuinely
    val vec = transform(sequence(lit(0), lit(dim - 1)), kk =>
      u(concat(lit("c"), pmod(col("vec_id"), lit(clusters))), kk) +
        lit(0.5) * u(concat(lit("v"), col("vec_id")), kk))
    val corpus = spark.range(n)
      .select(col("id").as("vec_id"), vec.cast("array<double>").as("v")).cache()
    corpus.count()

    def secs[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-32s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    val cb = secs("train (driver sample, 8 Lloyd)") {
      Pq.train(corpus, "vec_id", "v", m, k, sampleSize = 4096, iterations = 8)
    }
    val refined = secs("refine (1 distributed Lloyd)") {
      Pq.refine(corpus, "v", cb, iterations = 1)
    }
    val codes = secs("encode corpus (fused argmin)") {
      val c = corpus.select(col("vec_id"), Pq.encode(col("v"), refined).as("codes")).cache()
      c.count(); c
    }

    val queries = corpus.filter(col("vec_id") < nQueries)
    val qvecs = queries.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq

    // truth: brute-force L2 top-10 (cosine probe exists elsewhere; PQ ranks L2)
    val truth = secs("brute-force exact top-10") {
      val q = broadcast(queries.select(col("vec_id").as("query_id"), col("v").as("qv")))
      val d2 = Similarity.norm2(col("v")) - lit(2.0) * Similarity.dot(col("qv"), col("v")) +
        Similarity.norm2(col("qv"))
      val scored = corpus.join(q, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), d2.as("d2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    // stage 1: ADC shortlist over codes only
    val short = secs(s"ADC LUT scan -> top-$shortlist") {
      val s = Pq.adcTopK(codes, "vec_id", "codes", qvecs, refined, shortlist).cache()
      s.count(); s
    }
    val adcTop10 = short.withColumn("r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("r") <= 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    println(f"ADC-only recall@10                 ${adcTop10.count(truth.contains).toDouble / truth.size}%.3f")

    // stage 2: exact re-rank of the shortlist (joins only L·queries rows)
    val reranked = secs("exact re-rank of shortlist") {
      val withV = short.join(corpus.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv")), "neighbor_id")
      val q = broadcast(queries.select(col("vec_id").as("query_id"), col("v").as("qv")))
      val d2 = Similarity.norm2(col("nv")) - lit(2.0) * Similarity.dot(col("qv"), col("nv")) +
        Similarity.norm2(col("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
      withV.join(q, "query_id")
        .select(col("query_id"), col("neighbor_id"), d2.as("d2"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    println(f"rerank recall@10                   ${reranked.count(truth.contains).toDouble / truth.size}%.3f")
    println(s"shortlist rows = ${short.count()} (= queries x L, independent of n)")
    println(f"code bytes/vector = $m (raw = ${dim * 8}; compression ${dim * 8.0 / m}%.0fx)")
    spark.stop()
  }
}
