package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Eager
import graft.ext.{Dedup, Pq}
import graft.queries.ExtQueries.emb

/** Driver-round-12 wave: composing the ANN stack into its billion-vector
  * serving shape, and certifying the approximate-quantile path.
  *
  *  - q240 IVF × PQ: coarse-quantizer list pruning composed with the
  *    PQ-ADC scan — prune to nProbe probed lists, ADC-rank only within
  *    them, exact-re-rank the shortlist. q57 (IVF) and q216 (flat ADC)
  *    gate the two stages separately; at 100 TB a FLAT ADC scan still
  *    reads every code, so the composition — scan cost ≈ nProbe/nLists
  *    of the corpus — is the shape that actually serves. The panel makes
  *    the trade measurable per query: how many codes were scanned
  *    (n_scanned, scanned_frac) vs what recall survived the pruning
  *    (ceiling10 = exact neighbors inside probed lists — the recall the
  *    pruning PERMITS; recall10 = what ADC + exact re-rank delivers).
  *  - q241 certified sketch quantiles: the trade-stat tail family
  *    (p05/p95, tail ratio) via the mergeable DDSketch WITH its
  *    relative-error guarantee asserted in the panel itself against the
  *    exact order statistics — the bounded-memory path the exact
  *    sort-bound `percentile` cannot offer at corpus scale.
  *  - q242 exact-substring extent mining: longest shared verbatim token
  *    run per doc pair via positional k-gram match + anti-diagonal
  *    islands — the suffix-array dedup signal without a suffix array.
  *  - q243 filter-agreement panel: Cohen's κ + McNemar between the two
  *    production quality filters treated as annotators — the
  *    labeled-data QA primitive (inter-annotator agreement) the curation
  *    family lacked.
  *  - q244 Fleiss' κ across three raters — the m-annotator
  *    generalization, exact-integer per-item agreement terms.
  */
object Round17Queries {

  // ---- q240 IVF x PQ composed ANN ---------------------------------------------

  private val IvfLists = 8
  private val IvfProbe = 2
  private val IvfCentBase = 26 // coarse centroids: vec_id 26..33 (disjoint
  //   from the PQ codebook rows 0..15 and the query rows 16..25)
  private val IvfShortlist = 50

  /** The composed IVF-ADC query every billion-vector deployment runs:
    * corpus vectors are bucketed by nearest coarse centroid (8 lists —
    * data-derived, the q57/q216 deterministic-seed convention so the
    * oracle derives identical lists), each query probes its 2 nearest
    * lists, the ADC LUT scan ranks ONLY probed-list codes
    * ([[graft.functions.PqAdcSelect]] — each candidate pays exactly its
    * own query's m lookups), and the top-50 shortlist is re-ranked by
    * exact distance. Cross-engine determinism: coarse assignment and
    * probe ranking use the FLAT 64-term rounded distance chain (the
    * fused [[Pq.encodeRounded]] loop order, replayed term-for-term by the
    * oracle), ADC totals and exact distances reuse the q216 chains, all
    * argmins/rankings round to 4 dp with id tie-breaks.
    *
    * Per query: codes scanned (count + fraction of corpus — ≈
    * nProbe/nLists on balanced lists), ceiling10 (exact top-10 members
    * whose list was probed — the recall the pruning permits), adc_recall10
    * (stage-1 alone), recall10 (after exact re-rank — reaches the ceiling
    * when the shortlist works). At 100 TB: the probe table is tiny and
    * broadcast, codes are 16 B/vector, the scan touches probed lists only
    * (with list-partitioned storage, partition pruning makes that
    * physical), and the re-rank joins a FIXED-size shortlist back to raw
    * vectors. `IvfPqScaleProbe` pins the scanned-fraction claim with
    * exact row counters at three corpus sizes.
    */
  def q240IvfPqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = Round13Queries.q216Codebook(spark, sfDir)
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val coarse = e.filter(col("vec_id") >= IvfCentBase &&
        col("vec_id") < IvfCentBase + IvfLists)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    val coarseCb = Pq.Codebook(1, IvfLists, coarse.head.length, Array(coarse))
    val queries = e.filter(col("vec_id") >= Round13Queries.PqK &&
        col("vec_id") < Round13Queries.PqK + Round13Queries.PqQueries)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val luts = queries.map { case (_, qv) => Pq.queryLut(qv, cb) }.toArray

    // driver-side probe selection (queries are bounded): the SAME flat
    // left-to-right chain + HALF_UP rounding the fused corpus assignment
    // runs, ranked (d, list) ascending — bit-identical to the oracle's
    // ROW_NUMBER replay
    def flatD2(v: Array[Double], c: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val probeRows = queries.zipWithIndex.flatMap { case ((qid, qv), qi) =>
      coarse.zipWithIndex.map { case (c, l) => (flatD2(qv, c), l) }
        .sorted.take(IvfProbe).map { case (_, l) => (qid, qi, l) }
    }
    import spark.implicits._
    val probes = broadcast(probeRows.toDF("query_id", "qi", "list"))

    // r13 (optimization guide §2.6): the corpus encode → count → probed-
    // candidate chain and the exact ground-truth frame (below) are
    // independent eager checkpoints — run at once, the audit pays the
    // slower build, not the sum.
    def corpusChain(): (DataFrame, Long, DataFrame) = {
      // one corpus pass: PQ codes (m=16 fused rounded argmin) + IVF list
      // (the SAME fused expression with an m=1, k=8, subDim=64 codebook —
      // a flat rounded-argmin over the coarse centroids). Bounded frame
      // (n x 16 ints + 1 int), materialized once for scan + ceiling audit.
      val corpus = e.select(col("vec_id").as("neighbor_id"),
        Pq.encodeRounded(col("v"), cb).as("codes"),
        element_at(Pq.encodeRounded(col("v"), coarseCb), 1).as("list"))
        .localCheckpoint()
      val nCorpus = corpus.count()
      // the pruned scan: probed-list candidates only, each paying exactly
      // its own query's ADC (PqAdcSelect), never the full query batch
      val cand = corpus.join(probes, "list")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(graft.functions.VectorExprs.pqAdcSelect(col("codes"), col("qi"),
            luts), 4).as("adc"))
        .localCheckpoint() // bounded (~ nProbe/nLists x n x queries rows);
      //   feeds n_scanned, the stage-1 recall audit, and the shortlist
      (corpus, nCorpus, cand)
    }

    // exact audit frame (ground truth + re-rank distances): the q216
    // query-batch-as-data shape — one corpus pass, grouped-subspace chains
    val queryArr = array(queries.map { case (qid, qv) =>
      struct(lit(qid).as("qid"), typedLit(qv).as("qv"))
    }: _*)
    def exactFrame(): DataFrame =
      e.select(col("vec_id").as("neighbor_id"), col("v"), explode(queryArr).as("q"))
        .select(col("q.qid").as("query_id"), col("neighbor_id"),
          round((0 until Round13Queries.PqM).map(s =>
            Pq.subD2Cols(col("v"), col("q.qv"), s * Round13Queries.PqSubDim,
              Round13Queries.PqSubDim)).reduce(_ + _), 4).as("d2"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .localCheckpoint()
    val ((corpus, nCorpus, cand), exact) = Eager.both(corpusChain(), exactFrame())
    val nsc = cand.groupBy("query_id").agg(count(lit(1)).as("n_scanned"))
      .withColumn("scanned_frac",
        round(col("n_scanned") * lit(1.0) / lit(nCorpus.toDouble), 6))

    // shortlist via the bounded TopKAgg (no window over all candidates);
    // (-adc desc, id asc) ≡ (adc asc, id asc)
    val short = cand.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(-col("adc"), col("neighbor_id"),
        IvfShortlist).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__e"))
      .select(col("query_id"), col("__e.id").as("neighbor_id"))
    val we = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val exactTop = exact.withColumn("rank", row_number().over(we))
      .filter(col("rank") <= Round13Queries.PqTopK)
      .select(col("query_id"), col("neighbor_id"))

    val hit = when(col("hit").isNotNull, 1L).otherwise(0L)
    // ceiling: how many exact top-10 live in probed lists at all — the
    // recall bound pruning imposes before ADC/re-rank quality enters
    val ceil = exactTop
      .join(corpus.select(col("neighbor_id"), col("list")), "neighbor_id")
      .join(probes.select(col("query_id"), col("list"), lit(1).as("hit")),
        Seq("query_id", "list"), "left")
      .groupBy("query_id").agg(sum(hit).as("ceiling10"))
    val wadc = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    val adcRec = cand.withColumn("ar", row_number().over(wadc))
      .filter(col("ar") <= Round13Queries.PqTopK)
      .join(exactTop.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"),
        "left")
      .groupBy("query_id").agg(sum(hit).as("adc_recall10"))
    val wr = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val rrec = short.join(exact, Seq("query_id", "neighbor_id"))
      .withColumn("rr", row_number().over(wr))
      .filter(col("rr") <= Round13Queries.PqTopK)
      .join(exactTop.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"),
        "left")
      .groupBy("query_id").agg(sum(hit).as("recall10"))

    // Panel rows anchor on the QUERY LIST, not on the candidate set: a
    // query whose probed lists are empty must report n_scanned=0/recall 0
    // — the worst pruning failures are exactly the rows an inner join
    // would silently drop (ADVICE r12). ceil always has every query
    // (exactTop is corpus-derived); nsc/adcRec/rrec can be empty.
    val base = queries.map(_._1).toDF("query_id")
    base.join(nsc, Seq("query_id"), "left")
      .join(ceil, Seq("query_id"), "left")
      .join(adcRec, Seq("query_id"), "left")
      .join(rrec, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
        coalesce(col("scanned_frac"), lit(0.0)).as("scanned_frac"),
        coalesce(col("ceiling10"), lit(0L)).as("ceiling10"),
        coalesce(col("adc_recall10"), lit(0L)).as("adc_recall10"),
        coalesce(col("recall10"), lit(0L)).as("recall10"))
      .orderBy("query_id")
  }

  /** Flat 64-term distance chain — the oracle twin of the fused
    * [[graft.functions.PqEncodeRounded]] loop's left-to-right addition
    * order (NOT the grouped-subspace chains of the exact stage: the two
    * associations produce different doubles, so each stage replays its
    * own order).
    */
  private def flatChainSql(a: String, b: String): String =
    (1 to Round13Queries.PqM * Round13Queries.PqSubDim)
      .map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")

  val q240Sql: String = {
    import Round13Queries.{subChainSql, PqM, PqK, PqQueries, PqSubDim, PqTopK}
    val subs = (0 until PqM).map(_.toString).map(s => s"($s)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $PqK),
       |ss(s) AS (VALUES $subs),
       |cc AS (SELECT vec_id - $IvfCentBase AS lid, v AS cv FROM e
       |       WHERE vec_id >= $IvfCentBase AND vec_id < ${IvfCentBase + IvfLists}),
       |asng AS (
       |  SELECT e.vec_id, cc.lid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ROUND(${flatChainSql("e.v", "cc.cv")}, 4), cc.lid) AS rn
       |  FROM e CROSS JOIN cc),
       |lists AS (SELECT vec_id, lid AS list FROM asng WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id >= $PqK AND vec_id < ${PqK + PqQueries}),
       |prb AS (
       |  SELECT query_id, lid AS list FROM (
       |    SELECT q.query_id, cc.lid,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ROUND(${flatChainSql("q.qv", "cc.cv")}, 4), cc.lid) AS rn
       |    FROM q CROSS JOIN cc) t WHERE rn <= $IvfProbe),
       |asn AS (
       |  SELECT e.vec_id, ss.s, cb.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, ss.s
       |      ORDER BY ROUND(${subChainSql("e.v", "cb.cv", "ss.s")}, 4), cb.cid) AS rn
       |  FROM e CROSS JOIN ss CROSS JOIN cb),
       |codes AS (SELECT vec_id, s, cid AS code FROM asn WHERE rn = 1),
       |lut AS (
       |  SELECT q.query_id, ss.s, cb.cid,
       |    ${subChainSql("q.qv", "cb.cv", "ss.s")} AS dl
       |  FROM q CROSS JOIN ss CROSS JOIN cb),
       |cand AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, ROUND(SUM(l.dl), 4) AS adc
       |  FROM codes c
       |  JOIN lists li ON li.vec_id = c.vec_id
       |  JOIN lut l ON c.s = l.s AND c.code = l.cid
       |  JOIN prb p ON p.query_id = l.query_id AND p.list = li.list
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT COUNT(*) AS n FROM e),
       |nsc AS (SELECT query_id, COUNT(*) AS n_scanned FROM cand GROUP BY 1),
       |short AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS arank
       |  FROM cand QUALIFY arank <= $IvfShortlist),
       |ex AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ROUND(${(0 until PqM).map(s =>
              "(" + subChainSql("e.v", "q.qv", s.toString) + ")").mkString(" + ")}, 4) AS d2
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |etop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
       |    FROM ex) WHERE rank <= $PqTopK),
       |ceil AS (
       |  SELECT t.query_id,
       |    CAST(SUM(CASE WHEN p.list IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ceiling10
       |  FROM etop t
       |  JOIN lists li ON li.vec_id = t.neighbor_id
       |  LEFT JOIN prb p ON p.query_id = t.query_id AND p.list = li.list
       |  GROUP BY 1),
       |arec AS (
       |  SELECT c.query_id,
       |    CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS adc_recall10
       |  FROM (SELECT query_id, neighbor_id,
       |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS ar
       |        FROM cand QUALIFY ar <= $PqTopK) c
       |  LEFT JOIN etop t
       |    ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
       |  GROUP BY 1),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY x.d2, s.neighbor_id)
       |      AS rrank
       |  FROM short s JOIN ex x
       |    ON s.query_id = x.query_id AND s.neighbor_id = x.neighbor_id
       |  QUALIFY rrank <= $PqTopK),
       |rrec AS (
       |  SELECT r.query_id,
       |    CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS recall10
       |  FROM rer r LEFT JOIN etop t
       |    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT q.query_id,
       |  COALESCE(n.n_scanned, 0) AS n_scanned,
       |  COALESCE(ROUND(n.n_scanned * 1.0 / tot.n, 6), 0.0) AS scanned_frac,
       |  COALESCE(ceil.ceiling10, 0) AS ceiling10,
       |  COALESCE(arec.adc_recall10, 0) AS adc_recall10,
       |  COALESCE(rrec.recall10, 0) AS recall10
       |FROM q CROSS JOIN tot
       |LEFT JOIN nsc n ON n.query_id = q.query_id
       |LEFT JOIN ceil ON ceil.query_id = q.query_id
       |LEFT JOIN arec ON arec.query_id = q.query_id
       |LEFT JOIN rrec ON rrec.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  // ---- q241 certified sketch quantiles (trade-stat tail family) --------------

  private val SkAlpha = 0.02

  /** Per-asset tail-quantile panel where the MERGEABLE sketch certifies
    * itself: exact discrete p05/p95 order statistics (rank ⌊q(n−1)⌋+1 —
    * the rank DDSketch targets; replayed by the oracle with a window
    * rank), the tail ratio |p95/p05| (the trade-stat family's
    * tail_ratio / common-sense-ratio cutoff shape), and ok_* columns
    * asserting IN THE PANEL that the α = 2% DDSketch estimates sit within
    * their guaranteed relative error of the exact values — each quantile
    * within α, the ratio within [(1−α)/(1+α), (1+α)/(1−α)] — plus the
    * occupied-bucket count under the O(log range) bound (1536 < the 2048
    * collapse cap, proving the guarantee was never degraded). The oracle
    * pins the booleans TRUE: the row turns red the moment the sketch
    * breaks its contract. At 100 TB the exact side is sort-bound
    * per group; the sketch is one mergeable map-side-combined pass —
    * this panel is the certificate that swap is safe for tail metrics.
    */
  def q241SketchTails(spark: SparkSession, sfDir: String): DataFrame = {
    val df = Queries.assetReturns(spark, sfDir).df
    val w = Window.partitionBy("asset").orderBy(col("r"), col("d"))
    val rk = df.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("asset")))
    def disc(q: Double): Column =
      min(when(col("rk") === floor(lit(q) * (col("n") - 1)) + 1, col("r")))
    val d = rk.groupBy("asset").agg(min("n").as("n"),
      disc(0.05).as("p05"), disc(0.95).as("p95"))
    val sk = udaf(new graft.functions.DDSketchAgg.Quantiles(SkAlpha, Seq(0.05, 0.95)),
      org.apache.spark.sql.Encoders.scalaDouble)
    val s = df.groupBy("asset").agg(sk(col("r")).as("dd"))
    def ok(est: Column, exact: Column): Column =
      when(exact === 0.0, est === 0.0)
        .otherwise(abs(est / exact - 1.0) <= SkAlpha)
    val (lo, hi) = ((1 - SkAlpha) / (1 + SkAlpha), (1 + SkAlpha) / (1 - SkAlpha))
    val est05 = element_at(col("dd"), 1)
    val est95 = element_at(col("dd"), 2)
    val okTail = when(col("p05") === 0.0, ok(est05, col("p05")) && ok(est95, col("p95")))
      .otherwise(coalesce(
        (abs(est95 / est05) / abs(col("p95") / col("p05")))
          .between(lit(lo), lit(hi)), lit(false)))
    d.join(s, "asset").select(
      col("asset"), col("n").cast("long").as("n"),
      round(col("p05"), 6).as("p05_disc"),
      round(col("p95"), 6).as("p95_disc"),
      round(abs(graft.core.Exprs.fdiv(col("p95"), col("p05"))), 6)
        .as("tail_ratio_disc"),
      ok(est05, col("p05")).as("ok_p05"),
      ok(est95, col("p95")).as("ok_p95"),
      okTail.as("ok_tail"),
      (element_at(col("dd"), 3) <= 1536.0).as("buckets_ok"))
      .orderBy("asset")
  }

  val q241Sql: String =
    s"""${Queries.RetRankCte},
       |dq AS (
       |  SELECT asset, CAST(MIN(n) AS BIGINT) AS n,
       |    MIN(CASE WHEN rk = FLOOR(0.05 * (n - 1)) + 1 THEN r END) AS p05,
       |    MIN(CASE WHEN rk = FLOOR(0.95 * (n - 1)) + 1 THEN r END) AS p95
       |  FROM rk GROUP BY asset)
       |SELECT asset, n, ROUND(p05, 6) AS p05_disc, ROUND(p95, 6) AS p95_disc,
       |  ROUND(ABS(p95 / p05), 6) AS tail_ratio_disc,
       |  TRUE AS ok_p05, TRUE AS ok_p95, TRUE AS ok_tail, TRUE AS buckets_ok
       |FROM dq ORDER BY asset""".stripMargin

  // ---- q242 exact-substring extent mining -------------------------------------

  /** Longest shared verbatim passage per candidate doc pair
    * ([[graft.ext.Dedup.longestSharedRuns]], k=8, maxDf=64): the
    * suffix-array dedup signal re-expressed as positional k-gram match →
    * anti-diagonal islands. q47 counts how many 8-token windows a doc
    * shares with the corpus; this reports whether they CHAIN — the
    * cut-this-span evidence passage-level dedup acts on. Spark pairs on
    * 64-bit combined k-gram hashes, the oracle on k-gram strings (the
    * q18/q44/q47-documented equivalence); both replay the df ∈ [2, 64]
    * band and the `pa − ROW_NUMBER()` island grouping bit-for-bit.
    */
  def q242SharedRuns(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.longestSharedRuns(ExtQueries.docs(spark, sfDir), "doc_id", "text",
      k = 8, maxDf = 64, minRun = 16)
      .orderBy("id_a", "id_b")

  val q242Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |kg AS (
      |  SELECT doc_id, i AS pos, array_to_string(t[(i+1):(i+8)], ' ') AS g
      |  FROM toks, UNNEST(generate_series(0, len(t) - 8)) AS u(i)
      |  WHERE len(t) >= 8),
      |keep AS (
      |  SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM kg GROUP BY g) _
      |  WHERE df BETWEEN 2 AND 64),
      |kgk AS (SELECT kg.* FROM kg JOIN keep USING (g)),
      |m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
      |  FROM kgk a JOIN kgk b ON a.g = b.g AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT id_a, id_b, pa - pb AS diag, pa,
      |         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb
      |                                 ORDER BY pa) AS grp
      |  FROM m),
      |runs AS (
      |  SELECT id_a, id_b, COUNT(*) AS len
      |  FROM isl GROUP BY id_a, id_b, diag, grp)
      |SELECT id_a, id_b, CAST(MAX(len) + 7 AS BIGINT) AS longest_run,
      |       CAST(COUNT(*) AS BIGINT) AS n_runs,
      |       CAST(SUM(len) AS BIGINT) AS n_matched
      |FROM runs GROUP BY id_a, id_b
      |HAVING MAX(len) + 7 >= 16
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q243 filter agreement (Cohen's kappa + McNemar) ------------------------

  /** Inter-rater agreement between the two production quality filters — the
    * Gopher-style composite rule set (q127's pass flag, verbatim) and the
    * continuous quality score at its q39 3-dp quantization, thresholded at
    * 0.85 (≈ the corpus median, so the rater genuinely splits) — treated
    * as two annotators over the same corpus. Per source:
    * the 2×2 confusion counts, observed agreement p_o, chance agreement
    * p_e from the marginals, Cohen's κ = (p_o − p_e)/(1 − p_e), and the
    * continuity-corrected McNemar χ² = (|b−c|−1)²/(b+c) on the discordant
    * cells — the decision panel for "do these filters measure the same
    * thing, and is their disagreement systematic?". Every number is one
    * keyed aggregation over row-local flags (no shuffle beyond the
    * groupBy), so the panel is embarrassingly parallel at corpus scale;
    * κ degenerates to NULL when p_e = 1 (a source where both raters are
    * constant), McNemar to NULL when b + c = 0 — both spelled as explicit
    * CASE/when on BOTH engines rather than relying on division semantics.
    */
  def q243FilterAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val d = ExtQueries.docs(spark, sfDir)
    val m = graft.core.Exprs.bindOnce(split(col("text"), " "), t => {
      val words = size(t).cast("long")
      val chars = length(col("text")).cast("long")
      val meanLen = (chars - (words - 1)).cast("double") / words
      val stops = size(filter(t, w => w === "the" || w === "a")).cast("long")
      val ttr = size(array_distinct(t)).cast("double") / words
      val gopher = !(words < 20) && !(words > 100) &&
        !(meanLen < 3.0 || meanLen > 7.0) && !(stops < 1) && !(ttr < 0.25)
      struct(gopher.as("a"),
        (round(graft.ext.TextStats.qualityScore(col("text")), 3) >= 0.85).as("b"))
    })
    val flags = d.select(col("source"), m.getField("a").as("a"), m.getField("b").as("b"))
    val agg = flags.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum((col("a") && col("b")).cast("long")).as("n11"),
      sum((col("a") && !col("b")).cast("long")).as("n10"),
      sum((!col("a") && col("b")).cast("long")).as("n01"),
      sum((!col("a") && !col("b")).cast("long")).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double") / (nD * nD)
    val disc = col("n10") + col("n01")
    agg.select(col("source"), col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("p_o"), round(pe, 6).as("p_e"),
        round(when(pe === 1.0, lit(null).cast("double"))
          .otherwise((po - pe) / (lit(1.0) - pe)), 6).as("kappa"),
        round(when(disc === 0, lit(null).cast("double"))
          .otherwise(pow(abs(col("n10") - col("n01")).cast("double") - 1.0, 2.0)
            / disc.cast("double")), 6).as("mcnemar_chi2"))
      .orderBy("source")
  }

  val q243Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    (NOT (len(string_split(text, ' ')) < 20)
      |     AND NOT (len(string_split(text, ' ')) > 100)
      |     AND NOT ((CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |               / len(string_split(text, ' '))) < 3.0
      |          OR (CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |               / len(string_split(text, ' '))) > 7.0)
      |     AND NOT (len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) < 1)
      |     AND NOT ((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |               / len(string_split(text, ' '))) < 0.25)) AS a,
      |    (ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
      |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
      |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) >= 0.85) AS b
      |  FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM f GROUP BY source)
      |SELECT source, n, n11, n10, n01, n00,
      |  ROUND((n11 + n00) * 1.0 / n, 6) AS p_o,
      |  ROUND(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1.0
      |        / (CAST(n AS DOUBLE) * n), 6) AS p_e,
      |  ROUND(CASE WHEN ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1.0
      |                  / (CAST(n AS DOUBLE) * n) = 1.0 THEN NULL
      |    ELSE ((n11 + n00) * 1.0 / n
      |          - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1.0
      |            / (CAST(n AS DOUBLE) * n))
      |         / (1.0 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1.0
      |                  / (CAST(n AS DOUBLE) * n)) END, 6) AS kappa,
      |  ROUND(CASE WHEN n10 + n01 = 0 THEN NULL
      |    ELSE POWER(ABS(n10 - n01) - 1.0, 2.0) / (n10 + n01) END, 6) AS mcnemar_chi2
      |FROM agg ORDER BY source""".stripMargin

  // ---- q244 multi-rater agreement (Fleiss' kappa) ------------------------------

  /** Fleiss' κ across THREE quality raters — the Gopher composite (q127),
    * the thresholded continuous score (q243's rater B), and a
    * lexical-diversity filter (distinct-token ratio ≥ 0.5) — the
    * multi-annotator generalization q243's pairwise κ can't express. Per
    * item with m = 3 raters and binary categories, the agreement term is
    * exact-integer: P_i = (n_pass² + (m−n_pass)² − m)/(m(m−1)), so the
    * per-source panel aggregates Σn_pass and ΣP_i-numerators as BIGINTs
    * and divides once at the end — bit-deterministic in both engines, one
    * keyed aggregation, embarrassingly parallel. κ is NULL when chance
    * agreement P̄_e = 1 (all three raters constant in a source).
    */
  def q244FleissKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val d = ExtQueries.docs(spark, sfDir)
    val m = graft.core.Exprs.bindOnce(split(col("text"), " "), t => {
      val words = size(t).cast("long")
      val chars = length(col("text")).cast("long")
      val meanLen = (chars - (words - 1)).cast("double") / words
      val stops = size(filter(t, w => w === "the" || w === "a")).cast("long")
      val ttr = size(array_distinct(t)).cast("double") / words
      val gopher = !(words < 20) && !(words > 100) &&
        !(meanLen < 3.0 || meanLen > 7.0) && !(stops < 1) && !(ttr < 0.25)
      val score = round(graft.ext.TextStats.qualityScore(col("text")), 3) >= 0.85
      val diverse = ttr >= 0.5
      (gopher.cast("long") + score.cast("long") + diverse.cast("long")).as("np")
    })
    val per = d.select(col("source"), m.as("np"))
      .withColumn("pnum", col("np") * col("np") + (lit(3L) - col("np")) * (lit(3L) - col("np")) - 3L)
    val agg = per.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("np")).as("n_pass_total"),
      sum(col("pnum")).as("pnum_total"))
    val nD = col("n").cast("double")
    val pPass = col("n_pass_total").cast("double") / (lit(3.0) * nD)
    val pBar = col("pnum_total").cast("double") / (lit(6.0) * nD)
    val pE = pPass * pPass + (lit(1.0) - pPass) * (lit(1.0) - pPass)
    agg.select(col("source"), col("n"), col("n_pass_total"),
        round(pPass, 6).as("p_pass"),
        round(pBar, 6).as("p_bar"),
        round(pE, 6).as("p_e"),
        round(when(pE === 1.0, lit(null).cast("double"))
          .otherwise((pBar - pE) / (lit(1.0) - pE)), 6).as("fleiss_kappa"))
      .orderBy("source")
  }

  val q244Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    (CASE WHEN NOT (len(string_split(text, ' ')) < 20)
      |     AND NOT (len(string_split(text, ' ')) > 100)
      |     AND NOT ((CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |               / len(string_split(text, ' '))) < 3.0
      |          OR (CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |               / len(string_split(text, ' '))) > 7.0)
      |     AND NOT (len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) < 1)
      |     AND NOT ((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |               / len(string_split(text, ' '))) < 0.25) THEN 1 ELSE 0 END)
      |    + (CASE WHEN ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
      |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
      |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) >= 0.85
      |        THEN 1 ELSE 0 END)
      |    + (CASE WHEN (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |                  / len(string_split(text, ' '))) >= 0.5 THEN 1 ELSE 0 END) AS np
      |  FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(np) AS BIGINT) AS n_pass_total,
      |    CAST(SUM(np * np + (3 - np) * (3 - np) - 3) AS BIGINT) AS pnum_total
      |  FROM f GROUP BY source),
      |kap AS (
      |  SELECT source, n, n_pass_total,
      |    n_pass_total / (3.0 * n) AS pp,
      |    pnum_total / (6.0 * n) AS pbar
      |  FROM agg)
      |SELECT source, n, n_pass_total,
      |  ROUND(pp, 6) AS p_pass,
      |  ROUND(pbar, 6) AS p_bar,
      |  ROUND(pp * pp + (1.0 - pp) * (1.0 - pp), 6) AS p_e,
      |  ROUND(CASE WHEN pp * pp + (1.0 - pp) * (1.0 - pp) = 1.0 THEN NULL
      |    ELSE (pbar - (pp * pp + (1.0 - pp) * (1.0 - pp)))
      |         / (1.0 - (pp * pp + (1.0 - pp) * (1.0 - pp))) END, 6)
      |    AS fleiss_kappa
      |FROM kap ORDER BY source""".stripMargin

  // ---- registration ---------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q240_ivf_pq", q240IvfPqAdc, q240Sql, audit = true),
    QuerySpec("q241_sketch_tails", q241SketchTails, q241Sql),
    QuerySpec("q242_shared_runs", q242SharedRuns, q242Sql),
    QuerySpec("q243_filter_agreement", q243FilterAgreement, q243Sql),
    QuerySpec("q244_fleiss_kappa", q244FleissKappa, q244Sql))
}
