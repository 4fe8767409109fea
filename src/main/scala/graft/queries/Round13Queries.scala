package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{NgramLm, Pq, QualityModel, Splits}
import graft.queries.ExtQueries.{docs, emb}

/** Round-13 queries: the trained/learned layer of the curation stack —
  * a corpus-trained trigram stupid-backoff LM as a perplexity quality
  * filter (q214), Efraimidis–Spirakis weighted sampling without
  * replacement (q215), product-quantization ANN with an exact recall
  * audit (q216), and in-engine logistic-regression training with a
  * bit-reproducible trajectory (q217).
  */
object Round13Queries {

  // ---- q214 stupid-backoff LM quality scores ---------------------------------

  /** Per-source LM quality panel: the trigram stupid-backoff model
    * ([[NgramLm]]) is counted over the md5-bucket train half and scores
    * the held-out half — per source, exact backoff-level totals (how often
    * the scorer hit a trigram / backed off to bigram / unigram / OOV) and
    * the mean/extremes of per-document nats-per-token. Counting is
    * explode → keyed agg; scoring is keyed joins of the held-out trigram
    * stream against the count tables (no broadcast assumption on the
    * bigram/trigram model — at open-vocabulary scale those are
    * corpus-sized and shuffle on their keys; Brants's stupid backoff
    * exists precisely so a sharded model needs no renormalization pass).
    */
  def q214BackoffLm(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val train = d.filter(Splits.bucket(col("doc_id")) < 50)
    val held = d.filter(Splits.bucket(col("doc_id")) >= 50)
    val panel = NgramLm.scoreDocs(train, held, "doc_id", "text")
      .join(d.select(col("doc_id"), col("source")), "doc_id")
    panel.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_scored")).as("n_tokens"),
      sum(col("n_tri")).as("n_tri"),
      sum(col("n_bi")).as("n_bi"),
      sum(col("n_uni")).as("n_uni"),
      sum(col("n_oov")).as("n_oov"),
      round(avg(when(col("n_scored") > 0, col("nats") / col("n_scored"))), 6)
        .as("avg_nats"),
      round(min(when(col("n_scored") > 0, col("nats") / col("n_scored"))), 6)
        .as("min_nats"),
      round(max(when(col("n_scored") > 0, col("nats") / col("n_scored"))), 6)
        .as("max_nats"))
      .orderBy("source")
  }

  private val bucketSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"

  val q214Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, $bucketSql AS b,
       |    unnest(string_split_regex(lower(text), '\\s+')) AS w,
       |    generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS pos
       |  FROM documents),
       |ttok AS (SELECT * FROM tok WHERE b < 50 AND w <> ''),
       |stok AS (SELECT * FROM tok WHERE b >= 50 AND w <> ''),
       |uni AS (SELECT w, COUNT(*) AS c1 FROM ttok GROUP BY 1),
       |tot AS (SELECT SUM(c1) AS t FROM uni),
       |tlag AS (
       |  SELECT doc_id, pos, w AS w3,
       |    lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
       |    lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |  FROM ttok),
       |bi AS (SELECT w2 AS w1, w3 AS w2, COUNT(*) AS c2 FROM tlag
       |       WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tlag
       |        WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
       |occ AS (
       |  SELECT doc_id, pos, w AS w3,
       |    lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
       |    lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |  FROM stok),
       |looked AS (
       |  SELECT o.doc_id,
       |    CASE WHEN t3.c3 IS NOT NULL THEN 0
       |         WHEN b2.c2 IS NOT NULL THEN 1
       |         WHEN u3.c1 IS NOT NULL THEN 2 ELSE 3 END AS lvl,
       |    CASE WHEN t3.c3 IS NOT NULL THEN CAST(t3.c3 AS DOUBLE) / bc.c2
       |         WHEN b2.c2 IS NOT NULL THEN 0.4 * b2.c2 / u2.c1
       |         WHEN u3.c1 IS NOT NULL THEN 0.4 * 0.4 * u3.c1 / tot.t
       |         ELSE 0.4 * 0.4 / tot.t END AS s
       |  FROM occ o
       |  LEFT JOIN tri t3 ON o.w1 = t3.w1 AND o.w2 = t3.w2 AND o.w3 = t3.w3
       |  LEFT JOIN bi bc ON o.w1 = bc.w1 AND o.w2 = bc.w2
       |  LEFT JOIN bi b2 ON o.w2 = b2.w1 AND o.w3 = b2.w2
       |  LEFT JOIN uni u2 ON o.w2 = u2.w
       |  LEFT JOIN uni u3 ON o.w3 = u3.w
       |  CROSS JOIN tot
       |  WHERE o.w1 IS NOT NULL),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_scored,
       |    SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS n_tri,
       |    SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS n_bi,
       |    SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS n_uni,
       |    SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS n_oov,
       |    SUM(-LN(s)) AS nats
       |  FROM looked GROUP BY 1),
       |fl AS (
       |  SELECT d.doc_id, d.source,
       |    COALESCE(p.n_scored, 0) AS n_scored, COALESCE(p.n_tri, 0) AS n_tri,
       |    COALESCE(p.n_bi, 0) AS n_bi, COALESCE(p.n_uni, 0) AS n_uni,
       |    COALESCE(p.n_oov, 0) AS n_oov, COALESCE(p.nats, 0.0) AS nats
       |  FROM documents d LEFT JOIN per p USING (doc_id)
       |  WHERE $bucketSql >= 50)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_scored) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_tri) AS BIGINT) AS n_tri, CAST(SUM(n_bi) AS BIGINT) AS n_bi,
       |  CAST(SUM(n_uni) AS BIGINT) AS n_uni, CAST(SUM(n_oov) AS BIGINT) AS n_oov,
       |  ROUND(AVG(CASE WHEN n_scored > 0 THEN nats / n_scored END), 6) AS avg_nats,
       |  ROUND(MIN(CASE WHEN n_scored > 0 THEN nats / n_scored END), 6) AS min_nats,
       |  ROUND(MAX(CASE WHEN n_scored > 0 THEN nats / n_scored END), 6) AS max_nats
       |FROM fl GROUP BY source ORDER BY source""".stripMargin

  // ---- q215 weighted sampling without replacement ----------------------------

  /** Efraimidis–Spirakis A-ES sample of 50 documents, weight = n_chars
    * (longer docs proportionally likelier): the md5-exponential race key
    * is a row-local projection and the selection is a
    * TakeOrderedAndProject — no RNG state, no global sort, reproducible
    * at any partition count ([[Splits.weightedSampleKey]]). */
  def q215WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val sample = Splits.weightedSample(docs(spark, sfDir), "doc_id", "n_chars", 50)
    // rank window runs over the already-selected 50 rows — bounded
    val w = Window.orderBy(col("__key"), col("doc_id"))
    sample.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("__key").as("race_key"))
      .orderBy("rank")
  }

  val q215Sql: String =
    """WITH s AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    ROUND(-LN((CAST(CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 0.5)
      |              / 1152921504606846976.0) / n_chars, 6) AS race_key
      |  FROM documents)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY race_key, doc_id) AS BIGINT) AS rank,
      |  doc_id, source, lang, n_chars, race_key
      |FROM s ORDER BY race_key, doc_id LIMIT 50""".stripMargin

  // ---- q216 product-quantization ANN + recall audit --------------------------

  private[queries] val PqM = 16
  private[queries] val PqK = 16
  private[queries] val PqSubDim = 4
  private[queries] val PqQueries = 10
  private[queries] val PqTopK = 10
  private[queries] val PqShortlist = 200

  private[queries] def q216Codebook(spark: SparkSession, sfDir: String): Pq.Codebook = {
    val rows = emb(spark, sfDir)
      .filter(col("vec_id") < PqK).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    Pq.Codebook(PqM, PqK, PqSubDim, Array.tabulate(PqM)(s =>
      rows.map(v => v.slice(s * PqSubDim, (s + 1) * PqSubDim))))
  }

  /** PQ ANN with exact re-ranking, audited per query against exact ground
    * truth. The corpus is encoded to m=16 codes (k=16 per subspace;
    * codebook = the 16 lowest-id embeddings — the q57 deterministic-seed
    * convention, so the oracle derives the identical codebook from the
    * data). Search is the production two-stage shape (FAISS
    * IVFPQ+refine): (1) ADC LUT scan over CODES ONLY shortlists 200
    * candidates (64 floats compress to 16 codes; the scan never reads a
    * raw vector), (2) the shortlist — fixed size, independent of corpus —
    * is re-ranked by exact distance. `adc_recall10` (stage-1 alone) vs
    * `recall10` (after re-rank) makes the design point measurable: on
    * these near-random 64-d embeddings ADC-alone recalls ~1-2/10 while
    * the re-ranked shortlist recalls ~9/10. All distances are unrolled
    * fixed-order chains rounded to 4 dp with id tie-breaks, so DuckDB
    * replays codes, both rankings, and recall exactly. Trained codebooks
    * + fused-argmin encode (the throughput path) are exercised by
    * `PqScaleProbe` and Round13Spec.
    */
  def q216PqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = q216Codebook(spark, sfDir)
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = e.filter(col("vec_id") >= PqK && col("vec_id") < PqK + PqQueries)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val codes = e.select(col("vec_id"), Pq.encodeRounded(col("v"), cb).as("codes"))
    // materialized once (bounded: L × queries rows): the shortlist feeds
    // both the re-rank stage and the stage-1 recall audit — the ADC scan
    // and its encode chain must not re-execute per consumer.
    // r14 (round-13 verdict item 9): the r13 concurrent submission of the
    // two eager checkpoint builds (ADC shortlist, exact-distance frame) was
    // A/B-measured SLOWER here and REMOVED — min-of-3 warm at sf0.1:
    // concurrent 1.37 s vs sequential 1.10 s (r13 same-box saw the same
    // direction, 1.54 → 1.80 s). Both builds are full scans
    // of the same cached embeddings frame, so overlapping them just makes
    // the two scans contend for the same cores; q218/q240 keep their
    // overlap (A/B-measured faster there). Builds run inline, which also
    // retires the round-13 advice's orphaned-sibling failure mode.
    val shortlist =
      Pq.adcTopK(codes, "vec_id", "codes", queries, cb, PqShortlist)
        .localCheckpoint()
    // exact distances through the SAME unrolled subspace chains: ground
    // truth for the audit AND the re-rank stage (at scale the re-rank
    // joins only the L shortlist rows back to their vectors; here the
    // audit needs the full exact ranking anyway, so one frame serves both)
    // ONE corpus pass for all queries: the query batch rides as DATA (an
    // exploded literal array of (qid, qv) structs) through a single
    // compiled plan, instead of as PLAN SIZE (the prior one-unioned-scan-
    // per-query formulation compiled 10 separate 64-term codegen units —
    // the same lesson PqAdcBatch applies to the ADC stage). subD2Cols
    // keeps the literal form's exact term order, so d2 is IEEE-identical.
    // Materialized once (bounded: queries × corpus rows of 3 columns) —
    // the frame feeds three consumers (exact top-k, the re-rank join, and
    // the recall audits).
    val queryArr = array(queries.map { case (qid, qv) =>
      struct(lit(qid).as("qid"), typedLit(qv).as("qv"))
    }: _*)
    val exact =
      e.select(col("vec_id").as("neighbor_id"), col("v"),
          explode(queryArr).as("q"))
        .select(col("q.qid").as("query_id"), col("neighbor_id"),
          round((0 until PqM).map(s =>
            Pq.subD2Cols(col("v"), col("q.qv"), s * PqSubDim, PqSubDim))
            .reduce(_ + _), 4).as("d2"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .localCheckpoint()
    val we = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val exactTop = exact.withColumn("rank", row_number().over(we))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"))
    val wp = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    val adcRanked = shortlist.withColumn("arank", row_number().over(wp))
    // stage 2: exact re-rank of the shortlist
    val wr = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val reranked = adcRanked
      .join(exact.select(col("query_id"), col("neighbor_id"), col("d2")),
        Seq("query_id", "neighbor_id"))
      .withColumn("rrank", row_number().over(wr))
      .filter(col("rrank") <= PqTopK)
    val hitCol = when(col("hit").isNotNull, 1L).otherwise(0L)
    val adcRecall = adcRanked.filter(col("arank") <= PqTopK)
      .join(exactTop.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(sum(hitCol).as("adc_recall10"))
    val rerankRecall = reranked
      .join(exactTop.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(
        sum(hitCol).as("recall10"),
        min(struct(col("rrank"), col("neighbor_id"))).getField("neighbor_id")
          .as("pq_top1"))
    val exTop1 = exactTop.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("exact_top1"),
        col("d2").as("exact_top1_d2"))
    rerankRecall.join(adcRecall, "query_id").join(exTop1, "query_id")
      .select(col("query_id"), col("recall10"), col("adc_recall10"),
        col("pq_top1"), col("exact_top1"), col("exact_top1_d2"))
      .orderBy("query_id")
  }

  /** 8-term unrolled subspace distance chain between two SQL list exprs,
    * offset by `s*subDim` — identical association to [[Pq.subD2Unrolled]]. */
  private[queries] def subChainSql(a: String, b: String, sExpr: String): String =
    (1 to PqSubDim).map { i =>
      val ai = s"$a[$sExpr*$PqSubDim+$i]"
      val bi = s"$b[$sExpr*$PqSubDim+$i]"
      s"($ai-$bi)*($ai-$bi)"
    }.mkString(" + ")

  val q216Sql: String = {
    val subs = (0 until PqM).map(_.toString).map(s => s"($s)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $PqK),
       |ss(s) AS (VALUES $subs),
       |asn AS (
       |  SELECT e.vec_id, ss.s, cb.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, ss.s
       |      ORDER BY ROUND(${subChainSql("e.v", "cb.cv", "ss.s")}, 4), cb.cid) AS rn
       |  FROM e CROSS JOIN ss CROSS JOIN cb),
       |codes AS (SELECT vec_id, s, cid AS code FROM asn WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id >= $PqK AND vec_id < ${PqK + PqQueries}),
       |lut AS (
       |  SELECT q.query_id, ss.s, cb.cid,
       |    ${subChainSql("q.qv", "cb.cv", "ss.s")} AS dl
       |  FROM q CROSS JOIN ss CROSS JOIN cb),
       |adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, ROUND(SUM(l.dl), 4) AS adc
       |  FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.cid
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS arank
       |  FROM adc QUALIFY arank <= $PqShortlist),
       |ex AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ROUND(${(0 until PqM).map(s =>
              "(" + subChainSql("e.v", "q.qv", s.toString) + ")").mkString(" + ")}, 4) AS d2
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |ext AS (
       |  SELECT query_id, neighbor_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
       |  FROM ex),
       |etop AS (SELECT query_id, neighbor_id, d2, rank FROM ext WHERE rank <= $PqTopK),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id, x.d2,
       |    ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY x.d2, s.neighbor_id) AS rrank
       |  FROM short s JOIN ex x
       |    ON s.query_id = x.query_id AND s.neighbor_id = x.neighbor_id
       |  QUALIFY rrank <= $PqTopK),
       |arec AS (
       |  SELECT s.query_id,
       |    CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS adc_recall10
       |  FROM short s LEFT JOIN etop t
       |    ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
       |  WHERE s.arank <= $PqTopK GROUP BY 1),
       |rrec AS (
       |  SELECT r.query_id,
       |    CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS recall10,
       |    MIN(CASE WHEN r.rrank = 1 THEN r.neighbor_id END) AS pq_top1
       |  FROM rer r LEFT JOIN etop t
       |    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT rr.query_id, rr.recall10, ar.adc_recall10, rr.pq_top1,
       |  e1.neighbor_id AS exact_top1, e1.d2 AS exact_top1_d2
       |FROM rrec rr JOIN arec ar ON rr.query_id = ar.query_id
       |JOIN (SELECT query_id, neighbor_id, d2 FROM ext WHERE rank = 1) e1
       |  ON rr.query_id = e1.query_id
       |ORDER BY rr.query_id""".stripMargin
  }

  // ---- q217 in-engine logistic-regression training ---------------------------

  private[queries] val LrSteps = 8
  private[queries] val LrRate = 5.0

  private[queries] def lrFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val nw = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + lit(1)
    val letters = length(regexp_replace(col("text"), " ", ""))
    docs(spark, sfDir).select(
      col("doc_id"), col("source"),
      when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"),
      lit(1.0).as("x0"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (nw.cast("double") / 100.0).as("x2"),
      (letters.cast("double") / nw / 10.0).as("x3"))
  }

  /** Logistic regression trained IN the engine — 8 full-batch GD steps
    * (lr=5, w₀=0) predicting the long-document quality proxy
    * (`n_chars ≥ 300`, a Gopher-style length cut) from exact row-local
    * text features (char count, word count, mean word length — the
    * fastText-classifier feature family). Each row of the panel is one step: the weight vector after
    * it, the confusion counts, and the mean log-loss under those weights.
    * Per-row gradients quantize to nano-units → exact long sums → a
    * fixed-order double update ([[QualityModel]]) — DuckDB's chained-CTE
    * replay reproduces every weight bit-for-bit, which is the property
    * that makes in-engine training auditable: the trajectory is a pure
    * function of the corpus, not of the partitioning. */
  def q217TrainedLr(spark: SparkSession, sfDir: String): DataFrame = {
    val feat = lrFeatures(spark, sfDir).cache()
    val traj = QualityModel.train(feat, 4, LrRate, LrSteps)
    traj.zipWithIndex.map { case (w, i) =>
      QualityModel.evalPanel(feat, w).select(
        lit((i + 1).toLong).as("step"),
        lit(w(0)).as("w0"), lit(w(1)).as("w1"),
        lit(w(2)).as("w2"), lit(w(3)).as("w3"),
        col("tp"), col("fp"), col("tn"), col("fn"), col("logloss"))
    }.reduce(_ unionAll _).orderBy("step")
  }

  private[queries] def lrFeatSql: String =
    """SELECT doc_id, source, CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
      |    1.0 AS x0, n_chars / 1000.0 AS x1,
      |    (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) / 100.0 AS x2,
      |    CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |      / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) / 10.0 AS x3
      |  FROM documents""".stripMargin

  /** One oracle GD step: sums CTE (exact nano-unit longs) + weights CTE. */
  private[queries] def lrStepSql(i: Int, prevW: String): String = {
    val z = (0 until 4).map(j => s"$prevW.w$j * f.x$j").mkString(" + ")
    val gs = (0 until 4).map(j =>
      s"SUM(CAST(ROUND((1.0 / (1.0 + EXP(-($z))) - f.y) * f.x$j * 1e9, 0) AS BIGINT)) AS g$j")
      .mkString(",\n|    ")
    s"""s$i AS (
       |  SELECT $gs,
       |    COUNT(*) AS n
       |  FROM feat f CROSS JOIN $prevW),
       |w$i AS (
       |  SELECT ${(0 until 4).map(j =>
            s"ROUND($prevW.w$j - $LrRate * ((CAST(s$i.g$j AS DOUBLE) / 1e9) / s$i.n), 9) AS w$j")
            .mkString(", ")}
       |  FROM s$i CROSS JOIN $prevW)""".stripMargin
  }

  private def lrEvalSql(i: Int): String = {
    val z = (0 until 4).map(j => s"w$i.w$j * f.x$j").mkString(" + ")
    s"""SELECT CAST($i AS BIGINT) AS step, w$i.w0, w$i.w1, w$i.w2, w$i.w3,
       |  CAST(SUM(CASE WHEN f.y = 1.0 AND p.p > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN f.y = 0.0 AND p.p > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN f.y = 0.0 AND p.p <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CAST(SUM(CASE WHEN f.y = 1.0 AND p.p <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |  ROUND(AVG(CASE WHEN f.y = 1.0 THEN -LN(p.p) ELSE -LN(1.0 - p.p) END), 6) AS logloss
       |FROM feat f CROSS JOIN w$i, LATERAL (SELECT ROUND(1.0 / (1.0 + EXP(-($z))), 9) AS p) p
       |GROUP BY w$i.w0, w$i.w1, w$i.w2, w$i.w3""".stripMargin
  }

  val q217Sql: String = {
    val steps = (1 to LrSteps).map(i =>
      lrStepSql(i, if (i == 1) "w0t" else s"w${i - 1}")).mkString(",\n|")
    val evals = (1 to LrSteps).map(lrEvalSql).mkString("\n|UNION ALL\n|")
    s"""WITH feat AS (
       |  $lrFeatSql),
       |w0t AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |$steps
       |SELECT * FROM (
       |$evals
       |) ORDER BY step""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q214_backoff_lm", q214BackoffLm, q214Sql),
    QuerySpec("q215_weighted_sample", q215WeightedSample, q215Sql),
    QuerySpec("q216_pq_adc", q216PqAdc, q216Sql, audit = true),
    QuerySpec("q217_trained_lr", q217TrainedLr, q217Sql))
}
