package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Pq, Similarity}

/** IVF × PQ composition scale probe — the measured answer to "does list
  * pruning actually cut the ADC scan": clustered 64-dim vectors, a trained
  * coarse quantizer (Pq.train with m=1 = plain k-means + one distributed
  * Lloyd refinement) bucketing the corpus into nLists inverted lists, PQ
  * codes (m=8, k=256) encoded once, then per-query ADC restricted to the
  * nProbe probed lists via [[graft.functions.PqAdcSelect]] (each candidate
  * pays exactly its own query's LUT walk), exact re-rank of the shortlist,
  * recall audited against brute-force truth.
  *
  * At THREE corpus sizes it REQUIRE-asserts, from exact row counts (never
  * wall time — the box-noise rule):
  *  - scanned-code fraction = candidateRows / (n·queries) stays in a band
  *    around nProbe/nLists (the q240 scanned_frac claim, here at 100–400×
  *    the gate corpus and with trained — not id-seeded — quantizers);
  *  - the fraction is SIZE-STABLE (max/min < 1.5 across the sweep): the
  *    pruned scan grows linearly with n, a flat ADC scan's n·queries does
  *    too, so their ratio holding flat is the linearity proof;
  *  - re-rank recall@10 ≥ 0.9 on the clustered fixture (pruning must not
  *    cost recall when the data actually clusters — the regime IVF exists
  *    for; q240 documents the random-vector regime where it does).
  *
  * Run: `sbt "runMain graft.tools.IvfPqScaleProbe [sizes] [cores]"`
  * (default 75000,150000,300000 / 8; results recorded in BASELINE.md).
  */
object IvfPqScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("75000,150000,300000")
      .split(",").map(_.trim.toInt).toSeq
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val dim = 64
    val m = 8
    val k = 256
    val nLists = 16
    val nProbe = 4
    // must exceed the fixture's ~500-member clusters: tight clusters
    // collapse onto near-identical PQ codes, so the ADC shortlist is an
    // id-tie-broken prefix of the query's cluster — a shortlist smaller
    // than the tie mass truncates true neighbors before re-rank can see
    // them. (Production sizing rule: L ≳ the expected ADC-tie cohort.)
    val shortlist = 600
    val nQueries = 50
    val spark = graft.Session.local(cores)
    import spark.implicits._

    def secs[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    val fracs = sizes.map { n =>
      val clusters = math.max(20, n / 500)
      println(s"n=$n dim=$dim m=$m k=$k lists=$nLists probe=$nProbe clusters=$clusters")
      def u(seed: Column, kk: Column): Column =
        (pmod(xxhash64(seed, kk), lit(2001)) - lit(1000)) / lit(1000.0)
      // noise 0.3: the clustered-data regime IVF exists for (members stay
      // inside their cluster's list); PqScaleProbe's 0.5 stresses the
      // quantizer instead — here the quantity under test is the PRUNING
      val vec = transform(sequence(lit(0), lit(dim - 1)), kk =>
        u(concat(lit("c"), pmod(col("vec_id"), lit(clusters))), kk) +
          lit(0.3) * u(concat(lit("v"), col("vec_id")), kk))
      val corpus = spark.range(n)
        .select(col("id").as("vec_id"), vec.cast("array<double>").as("v")).cache()
      corpus.count()

      // coarse quantizer: k-means as an m=1 PQ codebook (bounded driver
      // sample seed + 1 distributed Lloyd pass over the full corpus)
      val coarseCb = secs("coarse train + 1 Lloyd") {
        Pq.refine(corpus, "v",
          Pq.train(corpus, "vec_id", "v", 1, nLists, sampleSize = 4096,
            iterations = 8), iterations = 1)
      }
      val coarse = coarseCb.centroids(0)
      val pqCb = secs("pq train (driver sample)") {
        Pq.train(corpus, "vec_id", "v", m, k, sampleSize = 4096, iterations = 8)
      }
      // ONE corpus pass: codes + list, both fused expressions
      val codes = secs("encode corpus (codes + list)") {
        val c = corpus.select(col("vec_id"),
          Pq.encode(col("v"), pqCb).as("codes"),
          Similarity.ivfListId(col("v"), coarse).as("list")).cache()
        c.count(); c
      }

      val queries = corpus.filter(col("vec_id") < nQueries)
      val qvecs = queries.orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
      val luts = qvecs.map { case (_, qv) => Pq.queryLut(qv, pqCb) }.toArray
      def rawD2(v: Array[Double], c: Array[Double]): Double = {
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
        d
      }
      val probes = broadcast(qvecs.zipWithIndex.flatMap { case ((qid, qv), qi) =>
        coarse.zipWithIndex.map { case (c, l) => (rawD2(qv, c), l) }
          .sorted.take(nProbe).map { case (_, l) => (qid, qi, l) }
      }.toDF("query_id", "qi", "list"))

      // pruned ADC scan: probed lists only, one LUT walk per candidate
      val cand = secs("pruned ADC scan (probed lists)") {
        val c = codes.join(probes, "list")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            graft.functions.VectorExprs.pqAdcSelect(col("codes"), col("qi"),
              luts).as("adc")).cache()
        c.count(); c
      }
      val candRows = cand.count()
      val frac = candRows.toDouble / (n.toDouble * nQueries)
      println(f"  scanned rows = $candRows (frac = $frac%.4f, flat scan = ${n.toLong * nQueries})")

      val truth = secs("brute-force exact top-10") {
        val q = broadcast(queries.select(col("vec_id").as("query_id"), col("v").as("qv")))
        val d2 = Similarity.norm2(col("v")) - lit(2.0) * Similarity.dot(col("qv"), col("v")) +
          Similarity.norm2(col("qv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
        corpus.join(q, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), d2.as("d2"))
          .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val reranked = secs("shortlist + exact re-rank") {
        val short = cand.groupBy("query_id")
          .agg(graft.functions.TopKAgg.topK(-col("adc"), col("neighbor_id"),
            shortlist).as("__top"))
          .select(col("query_id"), explode(col("__top")).as("__e"))
          .select(col("query_id"), col("__e.id").as("neighbor_id"))
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
      // decomposition: ceiling = truth neighbors inside probed lists (what
      // pruning PERMITS); recall must reach it up to shortlist slack
      val ceiling = secs("pruning ceiling (truth in probed lists)") {
        val truthDf = truth.toSeq.toDF("query_id", "neighbor_id")
        truthDf.join(codes.select(col("vec_id").as("neighbor_id"), col("list")),
            "neighbor_id")
          .join(probes.select(col("query_id"), col("list")), Seq("query_id", "list"))
          .count().toDouble / truth.size
      }
      val recall = reranked.count(truth.contains).toDouble / truth.size
      println(f"  rerank recall@10 = $recall%.3f (pruning ceiling = $ceiling%.3f)")
      require(ceiling >= 0.9,
        f"pruning ceiling $ceiling%.3f below 0.9 at n=$n — lists not capturing clusters")
      require(recall >= ceiling - 0.05,
        f"recall $recall%.3f more than 0.05 under its ceiling $ceiling%.3f at n=$n — ADC/shortlist losing permitted neighbors")
      val expect = nProbe.toDouble / nLists
      require(frac > expect * 0.3 && frac < expect * 2.0,
        f"scanned frac $frac%.4f outside [0.3, 2.0]x of $expect%.3f at n=$n")
      corpus.unpersist(); codes.unpersist(); cand.unpersist()
      frac
    }
    val (mn, mx) = (fracs.min, fracs.max)
    println(f"scanned fracs across sweep: ${fracs.map(f => f"$f%.4f").mkString(", ")}")
    require(mx / mn < 1.5,
      f"scanned fraction not size-stable: $mn%.4f .. $mx%.4f (ratio ${mx / mn}%.2f)")
    println("IvfPqScaleProbe PASS")
    spark.stop()
  }
}
