package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{NgramLm, QualityModel}

/** Scale probes for the round-13 learned-layer operators.
  *
  * 1. Stupid-backoff LM at n docs (default 2M): synthetic corpus over a
  *    200-word vocabulary — each doc is 40 tokens drawn as hash-indexed
  *    picks from a skewed (square-law) distribution, split 50/50 into
  *    train/score halves by md5 bucket. Builds the uni/bi/tri count
  *    model, scores the held-out half, and asserts (a) every scored doc
  *    has n_scored = 38 (40 tokens → 38 full-context positions), (b) the
  *    model tables respect their vocabulary bounds (uni ≤ V, bi ≤ V²,
  *    tri ≤ V³ — the model side is count-bounded, not corpus-bounded,
  *    exactly why the count-then-join layout scales), and (c) backoff
  *    levels are all exercised. Reports count/score wall times.
  *
  * 2. Logistic-regression training at n rows (default 10M): synthetic
  *    feature frame (hash-uniform x1, x2 with a linear-threshold label),
  *    4 full-batch GD steps. Asserts the per-step shuffle is INDEPENDENT
  *    of n (≤ partitions × (dims+1) × safety-margin rows per step,
  *    listener-measured) and log-loss decreases monotonically. The weight
  *    trajectory at 10M rows is also recomputed at a different partition
  *    count and asserted bit-identical — the exact-integer gradient-sum
  *    design at probe scale.
  *
  * Run: `sbt "runMain graft.tools.LmLrScaleProbe [nDocs] [nRows] [cores]"`
  * (results recorded in BASELINE.md).
  */
object LmLrScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nRows = args.drop(1).headOption.map(_.toLong).getOrElse(10000000L)
    val cores = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val spark = graft.Session.local(cores)
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cores)
    println(s"nDocs=$nDocs nRows=$nRows cores=$cores")

    def secs[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // ---- 1. stupid-backoff LM ----------------------------------------------
    val vocab = 200
    val docLen = 40
    // skewed pick: w = (h mod V²) → sqrt → square-law head (Zipf-ish)
    val word = concat(lit("w"),
      floor(sqrt(pmod(xxhash64(concat(lit("t"), col("doc_id"), lit(":"), col("p"))),
        lit(vocab.toLong * vocab)).cast("double"))).cast("long"))
    val corpus = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("p", explode(sequence(lit(0), lit(docLen - 1))))
      .select(col("doc_id"), word.as("w"))
      .groupBy("doc_id").agg(concat_ws(" ", collect_list(col("w"))).as("text"))
      .cache()
    secs("synthesize corpus")(corpus.count())

    val bucket = graft.ext.Splits.bucket(col("doc_id"))
    val train = corpus.filter(bucket < 50)
    val held = corpus.filter(bucket >= 50)

    val (uni, bi, tri, _) = NgramLm.countModel(train, "doc_id", "text")
    val (nUni, nBi, nTri) = secs("count model (uni/bi/tri)") {
      (uni.count(), bi.count(), tri.count())
    }
    println(s"model sizes: uni=$nUni bi=$nBi tri=$nTri (bounds $vocab/${vocab * vocab}/${vocab.toLong * vocab * vocab})")
    require(nUni <= vocab && nBi <= vocab.toLong * vocab &&
      nTri <= vocab.toLong * vocab * vocab, "model tables exceed vocabulary bounds")

    val panel = secs("score held-out half") {
      NgramLm.scoreDocs(train, held, "doc_id", "text")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("n_scored") === docLen - 2, 0L).otherwise(1L)).as("bad_n"),
          sum(col("n_tri")).as("tri"), sum(col("n_bi")).as("bi"),
          sum(col("n_uni")).as("uni"), sum(col("n_oov")).as("oov"),
          round(avg(col("nats") / col("n_scored")), 4).as("nats_per_tok"))
        .collect()(0)
    }
    println(s"scored: $panel")
    require(panel.getAs[Long]("bad_n") == 0L, "every doc must score len-2 positions")
    require(panel.getAs[Long]("tri") > 0 && panel.getAs[Long]("bi") > 0 &&
      panel.getAs[Long]("uni") > 0, "all backoff levels must be exercised")
    corpus.unpersist()

    // ---- 2. logistic regression at nRows -----------------------------------
    val u1 = pmod(xxhash64(concat(lit("a"), col("id"))), lit(1000001L))
      .cast("double") / 1000000.0
    val u2 = pmod(xxhash64(concat(lit("b"), col("id"))), lit(1000001L))
      .cast("double") / 1000000.0
    val feat = spark.range(nRows).select(
        when(u1 + lit(0.5) * u2 > 0.75, 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"), u1.as("x1"), u2.as("x2"))
      .cache()
    secs("materialize features")(feat.count())

    val shuffleRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) shuffleRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      })
    val steps = 4
    val traj = secs(s"train $steps GD steps @ $nRows rows") {
      QualityModel.train(feat, 3, lr = 2.0, steps = steps)
    }
    org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
    val written = shuffleRows.get()
    val parts = feat.rdd.getNumPartitions
    println(s"weights: ${traj.map(_.mkString("[", ",", "]")).mkString(" -> ")}")
    println(s"shuffle rows across $steps steps = $written (partitions=$parts)")
    // each step's exchange carries one partial-agg row per partition
    require(written <= steps.toLong * parts * 4,
      s"per-step shuffle must be partition-bounded, got $written")

    val losses = traj.map(w =>
      QualityModel.evalPanel(feat, w).collect()(0).getAs[Double]("logloss"))
    println(s"logloss: ${losses.mkString(" -> ")}")
    losses.sliding(2).foreach { case Seq(a, b) =>
      require(b < a, s"log-loss must decrease: $losses")
    }

    // partition invariance of the exact trajectory
    val traj2 = secs("re-train at a different partitioning") {
      QualityModel.train(feat.repartition(cores / 2 + 1), 3, lr = 2.0, steps = steps)
    }
    require(traj.map(_.toSeq) == traj2.map(_.toSeq),
      "trajectory must be partition-invariant")
    println("trajectory bit-identical across partitionings")
    spark.stop()
  }
}
