package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.LangId
import graft.functions.DDSketchAgg

/** Scale probes for the round-12 operator families.
  *
  * 1. Language ID at n docs (default 2M): synthetic multilingual corpus —
  *    each doc is a deterministic hash-pick of one training language's
  *    seed sentences (3 sentences tiled) — classified through the bulk
  *    [[LangId.classify]] path (explode → per-(doc, gram) occurrence
  *    counts → broadcast profile join → keyed agg). Asserts EXACT
  *    accuracy 1.0 (in-domain text must classify perfectly at any n) and
  *    reports wall time. Shuffle stays O(distinct (doc, gram) pairs), far
  *    under the raw trigram stream — the occurrence pre-aggregation is
  *    the point of the design.
  *
  * 2. DDSketch at m values (default 20M) in ONE group — the worst case
  *    for any exact percentile (whole-multiset buffering) and the home
  *    game for a mergeable sketch: asserts the occupied-bucket bound
  *    (O(log range), independent of m), the α relative-error contract
  *    against the closed-form quantile of the synthetic distribution
  *    (hash-uniform exponent → exact analytic quantiles), and wall time.
  *
  * Run: `sbt "runMain graft.tools.LangSketchScaleProbe [nDocs] [mValues] [cores]"`
  * (results recorded in BASELINE.md).
  */
object LangSketchScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val m = args.drop(1).headOption.map(_.toLong).getOrElse(20000000L)
    val cores = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val spark = graft.Session.local(cores)
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cores)

    // ---- 1. language ID ---------------------------------------------------
    // doc i: language = hash-pick, text = 3 consecutive seed sentences of
    // that language (tiled) — unambiguous in-domain text.
    val langsArr = array(LangId.Langs.map(lit): _*)
    val sentsPerLang = LangId.TrainingSamples(LangId.Langs.head).size
    val sentArr = array(LangId.Langs.map(l =>
      array(LangId.TrainingSamples(l).map(lit): _*)): _*)
    val li = pmod(xxhash64(lit("lang"), col("id")), lit(LangId.Langs.size.toLong)) + 1
    val s0 = pmod(xxhash64(lit("sent"), col("id")), lit(sentsPerLang.toLong))
    val docs = spark.range(n).select(col("id").as("doc_id"),
      element_at(langsArr, li.cast("int")).as("true_lang"),
      concat_ws(" ",
        element_at(element_at(sentArr, li.cast("int")), (s0 % sentsPerLang + 1).cast("int")),
        element_at(element_at(sentArr, li.cast("int")), ((s0 + 1) % sentsPerLang + 1).cast("int")),
        element_at(element_at(sentArr, li.cast("int")), ((s0 + 2) % sentsPerLang + 1).cast("int")))
        .as("text")).localCheckpoint(true)

    val t0 = System.nanoTime()
    val acc = LangId.classify(docs, "doc_id", col("text"))
      .join(docs.select("doc_id", "true_lang"), "doc_id")
      .agg(sum((col("lang_pred") === col("true_lang")).cast("long")).as("ok"),
        count(lit(1)).as("n"))
      .head()
    val langWall = (System.nanoTime() - t0) / 1e9
    val (ok, total) = (acc.getLong(0), acc.getLong(1))
    println(f"[langid] n=$total%,d correct=$ok%,d wall=$langWall%.1f s")
    assert(total == n && ok == n,
      s"in-domain accuracy must be exact: $ok/$total")

    // ---- 2. DDSketch ------------------------------------------------------
    // value = exp(u*8) for hash-uniform u ∈ [0,1): quantile(q) = exp(8q),
    // so the α contract is checkable against closed form (the sketch
    // targets the rank-⌊q(m−1)⌋+1 order stat; at m in the millions the
    // order stat is within O(1/m) of the analytic quantile — far inside
    // the α=1% band).
    val alpha = 0.01
    val agg = new DDSketchAgg.Quantiles(alpha, Seq(0.5, 0.9, 0.99))
    val sk = udaf(agg, org.apache.spark.sql.Encoders.scalaDouble)
    val vals = spark.range(m).select(
      exp(pmod(xxhash64(lit("v"), col("id")), lit(1 << 30)).cast("double")
        / (1 << 30).toDouble * 8.0).as("v"))
    val t1 = System.nanoTime()
    val out = vals.agg(sk(col("v"))).head().getSeq[Double](0)
    val skWall = (System.nanoTime() - t1) / 1e9
    val buckets = out.last
    println(f"[ddsketch] m=$m%,d wall=$skWall%.1f s buckets=$buckets%.0f " +
      f"p50=${out(0)}%.4f p90=${out(1)}%.4f p99=${out(2)}%.4f")
    // bucket bound: range e^0..e^8 → ~8/ln(γ) ≈ 400 buckets at α=1%
    assert(buckets <= 8.0 / math.log((1 + alpha) / (1 - alpha)) + 8,
      s"bucket bound broken: $buckets")
    Seq(0.5, 0.9, 0.99).zipWithIndex.foreach { case (q, i) =>
      val analytic = math.exp(8.0 * q)
      val rel = math.abs(out(i) / analytic - 1.0)
      // α from the sketch + a hair for the u-grid discretization (2^30
      // distinct u values) and order-stat-vs-analytic gap
      assert(rel <= alpha + 0.002, f"q=$q est=${out(i)} analytic=$analytic rel=$rel%.5f")
    }
    println("ALL SCALE INVARIANTS PASS")
    spark.stop()
  }
}
