package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Similarity, Splits}

/** Round-8 extension queries (q142+): the curation decisions a training-data
  * pipeline makes AFTER the per-document audits — semantic decontamination
  * against a benchmark embedding set, SemDeDup-style within-cluster pruning,
  * per-domain frequency capping, epoch-capped token-budget waterfilling,
  * cross-split span-leakage verification, and length-curriculum staging over
  * the distributed global rank. Every query carries a DuckDB oracle replaying
  * the identical arithmetic; shared inputs come from [[ExtQueries]]' session
  * caches (`docs`, `docQuality`, `emb`) so nothing re-reads per query.
  */
object Round8Queries {

  import ExtQueries.{cached, docs, docQuality, emb}

  /** The q39/q79 docQuality CTE — per-doc 3-dp quality + whitespace token
    * count — shared verbatim by the q144 oracle.
    */
  private val docQualitySqlCte: String =
    """  SELECT doc_id, source, lang,
      |    ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
      |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
      |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) AS q,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS tokens
      |  FROM documents""".stripMargin

  // ---- q142 semantic decontamination ---------------------------------------

  /** Embedding-level benchmark decontamination: every 20th vector plays the
    * benchmark/eval set, the rest the training corpus, and a corpus vector
    * is contaminated when its cosine to ANY benchmark vector reaches 0.35.
    * This is the semantic complement of the span-based q44/q50 (paraphrased
    * eval leakage survives exact n-gram matching). The benchmark side is
    * tiny by construction (eval sets are), so the scan is a broadcast
    * nested-loop over the corpus — the corpus never shuffles — followed by
    * one keyed max per vector. The threshold compares UNROUNDED doubles:
    * both engines fold the dot product sequentially in double precision
    * (the q37-documented equivalence), and max is order-independent.
    */
  def q142SemanticDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"),
      sqrt(Similarity.norm2(col("embedding"))).as("n"))
    // zero-norm guard (none exist in the testdata, but a degenerate vector
    // would otherwise yield NaN cosine and poison the max fold): zero-norm
    // benchmark vectors are dropped, zero-norm corpus vectors get a null
    // max-cosine (never contaminated) — same semantics as the streaming
    // twin in StreamOps.semanticDecontamStream.
    val bench = broadcast(e.filter(col("vec_id") % 20 === 0 && col("n") > 0.0)
      .select(col("v").as("bv"), col("n").as("bn")))
    val corpus = e.filter(col("vec_id") % 20 =!= 0)
    val cos = Similarity.dot(col("v"), col("bv")) / (col("n") * col("bn"))
    val per = corpus.crossJoin(bench)
      .groupBy("vec_id", "label")
      .agg(max(when(col("n") > 0.0, cos)).as("mc"))
    per.groupBy("label").agg(
      count(lit(1)).as("n_corpus"),
      sum((col("mc") >= 0.35).cast("long")).as("n_contaminated"),
      round(max(col("mc")), 6).as("max_cos"),
      round(avg(when(col("mc") >= 0.35, col("mc"))), 6).as("avg_contam_cos"))
      .orderBy("label")
  }

  val q142Sql: String =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
      |  FROM embeddings),
      |b AS (SELECT v, n FROM v WHERE vec_id % 20 = 0 AND n > 0),
      |c AS (SELECT vec_id, label, v, n FROM v WHERE vec_id % 20 <> 0),
      |p AS (
      |  SELECT c.vec_id, any_value(c.label) AS label,
      |         MAX(CASE WHEN c.n > 0
      |             THEN list_dot_product(c.v, b.v) / (c.n * b.n) END) AS mc
      |  FROM c CROSS JOIN b GROUP BY c.vec_id)
      |SELECT label, COUNT(*) AS n_corpus,
      |  CAST(SUM(CASE WHEN mc >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  ROUND(MAX(mc), 6) AS max_cos,
      |  ROUND(AVG(CASE WHEN mc >= 0.35 THEN mc END), 6) AS avg_contam_cos
      |FROM p GROUP BY label ORDER BY label""".stripMargin

  // ---- q143 SemDeDup within-cluster semantic prune --------------------------

  /** SemDeDup-shaped semantic pruning: assign every embedding to its nearest
    * seed centroid (the q57 assignment — argmin over 4-dp distances, ties to
    * the lower centroid id), mine exact cosine pairs at 0.4, keep only
    * SAME-CLUSTER pairs, connected-component them, and prune every member of
    * a component except its minimum-id representative. Per cluster: members,
    * pruned, kept. At 100 TB the cluster scoping is the point — candidate
    * pairs come from within-list joins (IVF lists in
    * [[Similarity.cosineNearDuplicates]]'s banded form), never the corpus
    * cross join; the gate runs the exact quadratic path at fixture scale and
    * the oracle replays closure with a recursive CTE (q36/q63 pattern).
    */
  def q143SemdedupPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cent = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv")))
    val d2 = aggregate(
      zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val assign = cached(spark, sfDir, "kmeans_assign") {
      e.crossJoin(cent)
        .select(col("vec_id"), col("cid"), round(d2, 4).as("d2"))
        .groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster_id"))
    }
    val pairs = ExtQueries.cosinePairs04(spark, sfDir)
      .select(col("id1"), col("id2"))
    val intra = pairs
      .join(assign.select(col("vec_id").as("id1"), col("cluster_id").as("c1")), "id1")
      .join(assign.select(col("vec_id").as("id2"), col("cluster_id").as("c2")), "id2")
      .filter(col("c1") === col("c2"))
      .select("id1", "id2")
    val groups = Dedup.duplicateGroups(intra)
    assign
      .join(groups.select(col("id").as("vec_id"), col("group_id")), Seq("vec_id"), "left")
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n_members"),
        sum(when(col("group_id").isNotNull && col("group_id") =!= col("vec_id"), 1L)
          .otherwise(0L)).as("n_pruned"))
      .withColumn("n_kept", col("n_members") - col("n_pruned"))
      .orderBy("cluster_id")
  }

  val q143Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |a AS (
      |  SELECT vec_id, cluster_id FROM (
      |    SELECT e.vec_id, cc.cid AS cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        ROUND(list_sum(list_transform(range(1, len(e.v) + 1),
      |          i -> (e.v[i] - cc.cv[i]) * (e.v[i] - cc.cv[i]))), 4), cc.cid) AS rn
      |    FROM e CROSS JOIN cc) z WHERE rn = 1),
      |nv AS (
      |  SELECT vec_id AS id, v,
      |    SQRT(list_sum(list_transform(v, x -> x * x))) AS n FROM e),
      |p AS (
      |  SELECT x.id AS id1, y.id AS id2
      |  FROM nv x JOIN nv y ON x.id < y.id
      |  WHERE list_dot_product(x.v, y.v) / (x.n * y.n) >= 0.4),
      |pc AS (
      |  SELECT p.id1, p.id2 FROM p
      |  JOIN a a1 ON p.id1 = a1.vec_id
      |  JOIN a a2 ON p.id2 = a2.vec_id
      |  WHERE a1.cluster_id = a2.cluster_id),
      |edges AS (SELECT id1 AS x, id2 AS y FROM pc
      |          UNION ALL SELECT id2, id1 FROM pc),
      |reach AS (
      |  SELECT x AS id, y AS r FROM edges
      |  UNION
      |  SELECT e2.x, r.r FROM edges e2 JOIN reach r ON e2.y = r.id),
      |g AS (SELECT id, LEAST(id, MIN(r)) AS group_id FROM reach GROUP BY id)
      |SELECT a.cluster_id, COUNT(*) AS n_members,
      |  CAST(SUM(CASE WHEN g.group_id IS NOT NULL AND g.group_id <> a.vec_id
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
      |  CAST(COUNT(*) - SUM(CASE WHEN g.group_id IS NOT NULL AND g.group_id <> a.vec_id
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM a LEFT JOIN g ON a.vec_id = g.id
      |GROUP BY a.cluster_id ORDER BY a.cluster_id""".stripMargin

  // ---- q144 per-domain frequency capping ------------------------------------

  /** Domain/source frequency capping: keep at most 50 documents per source,
    * best quality first (3-dp quality, doc_id tie-break), and report what the
    * cap keeps and drops per source. The kept set comes from the bounded
    * [[graft.functions.TopKAgg]] aggregator — map-side truncated buffers, at
    * most k rows per source per partition on the exchange — NOT a
    * `row_number()` window, which would ship a hot domain's entire row set
    * to one reducer (the defining skew hazard of domain capping: domain
    * frequency IS the skew). Totals come from an ordinary keyed aggregation;
    * the kept ids re-join `docQuality` on doc_id to price the kept tokens.
    */
  def q144DomainCap(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
    val totals = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens_total"))
    val keptIds = d.groupBy("source")
      .agg(graft.functions.TopKAgg.topK(col("q"), col("doc_id"), 50).as("tk"))
      .select(col("source"), explode(col("tk")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"))
    val kept = keptIds
      .join(d.select(col("doc_id"), col("q"), col("tokens")), "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum(col("tokens")).as("tokens_kept"),
        round(avg(col("q")), 6).as("avg_kept_quality"))
    totals.join(kept, "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_dropped"),
        col("avg_kept_quality"))
      .orderBy("source")
  }

  val q144Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY source ORDER BY q DESC, doc_id) AS rk
       |  FROM d)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN rk <= 50 THEN tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       |  CAST(SUM(CASE WHEN rk > 50 THEN tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
       |  ROUND(AVG(CASE WHEN rk <= 50 THEN q END), 6) AS avg_kept_quality
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---- q145 epoch-capped token-budget waterfilling --------------------------

  /** Data-constrained mixture allocation: give each source a share of a
    * global token budget (half the corpus) under a single-epoch cap — no
    * source contributes more tokens than it has. The classic waterfilling
    * solution Σ min(T_s, C) = B has a closed sorted-cumsum form: order
    * sources by supply, and the unique cut k where the candidate level
    * C = (B − prefix_k)/(n − k) falls between the k-th and (k+1)-th supply
    * is the fill level. Per-source supplies reduce to ONE keyed aggregation
    * (5 rows here, millions of domains at scale — still one agg + one sort
    * of #domains rows); the window runs over that post-aggregation frame,
    * never over documents. All comparisons are on exactly-computed doubles
    * (integer token sums, one division); rounding only at report time.
    */
  def q145EpochAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    val t = docQuality(spark, sfDir).groupBy("source")
      .agg(sum(col("tokens")).as("tokens"))
    // the solve lives in Curation.waterfillAllocationsFraction (post-
    // aggregation windows only, budget ≥ supply fallback included); this
    // query just supplies per-source token counts and formats the report
    graft.ext.Curation
      .waterfillAllocationsFraction(t, "source", "tokens", 0.5)
      .select(col("source"), col("tokens"),
        round(col("allocation"), 6).as("allocation"),
        round(col("allocation") / col("tokens").cast("double"), 6)
          .as("fill_fraction"),
        col("capped"))
      .orderBy("source")
  }

  val q145Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tt AS (SELECT SUM(CAST(tokens AS DOUBLE)) AS tt,
      |              CAST(COUNT(*) AS DOUBLE) AS n FROM t),
      |r AS (
      |  SELECT t.source, t.tokens, CAST(t.tokens AS DOUBLE) AS T,
      |    tt.tt * 0.5 AS B, tt.n AS n,
      |    CAST(ROW_NUMBER() OVER (ORDER BY CAST(t.tokens AS DOUBLE), t.source) AS DOUBLE) - 1.0 AS k,
      |    SUM(CAST(t.tokens AS DOUBLE)) OVER (ORDER BY CAST(t.tokens AS DOUBLE), t.source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - CAST(t.tokens AS DOUBLE) AS prefix,
      |    COALESCE(LAG(CAST(t.tokens AS DOUBLE), 1) OVER (
      |      ORDER BY CAST(t.tokens AS DOUBLE), t.source), 0.0) AS prevT
      |  FROM t, tt),
      |c AS (
      |  SELECT MIN((B - prefix) / (n - k)) AS C FROM r
      |  WHERE (B - prefix) / (n - k) <= T AND (B - prefix) / (n - k) >= prevT)
      |SELECT r.source, r.tokens,
      |  ROUND(LEAST(r.T, c.C), 6) AS allocation,
      |  ROUND(LEAST(r.T, c.C) / r.T, 6) AS fill_fraction,
      |  r.T > c.C AS capped
      |FROM r, c ORDER BY r.source""".stripMargin

  // ---- q146 cross-split span-leakage audit ----------------------------------

  /** Train/test leakage verification: after the deterministic md5 split
    * (q34), how many TEST documents share an 8-token span with ANY TRAIN
    * document, per language — the audit run before trusting an eval number.
    * Span sets are the session-cached row-local shingle hashes; the overlap
    * is one distinct-span projection of the train side plus a semi-join on
    * the span key (keyed equi-join — the 100-TB shape; the hot-span salting
    * of [[Dedup.spanDuplication]] applies unchanged if a boilerplate span
    * goes viral). Spark joins 64-bit span hashes, the oracle span strings —
    * the q18/q44/q47-documented equivalence.
    */
  def q146SplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Splits.withSplit(docs(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("lang"), col("split"))
    val spans = cached(spark, sfDir, "split_spans8") {
      Dedup.shingleSets(docs(spark, sfDir), "doc_id", "text", 8)
        .select(col("id").as("doc_id"), explode(col("sset")).as("g"))
    }
    val withSplit = spans.join(d, "doc_id")
    val trainSpans = withSplit.filter(col("split") === "train")
      .select("g").distinct()
    val leaked = withSplit.filter(col("split") === "test")
      .join(trainSpans, Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("leak", lit(1L))
    d.filter(col("split") === "test")
      .join(leaked, Seq("doc_id"), "left")
      .groupBy("lang").agg(
        count(lit(1)).as("n_test"),
        sum(coalesce(col("leak"), lit(0L))).as("n_leaked"),
        round(sum(coalesce(col("leak"), lit(0L))).cast("double") / count(lit(1)), 6)
          .as("leak_rate"))
      .orderBy("lang")
  }

  val q146Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang, text,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |    string_split_regex(lower(text), '\s+') AS t
      |  FROM s),
      |sh AS (
      |  SELECT doc_id, lang, split,
      |    list_distinct(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')) END) AS spans
      |  FROM lab),
      |ex AS (SELECT doc_id, lang, split, unnest(spans) AS g FROM sh),
      |tr AS (SELECT DISTINCT g FROM ex WHERE split = 'train'),
      |leaked AS (
      |  SELECT DISTINCT e.doc_id FROM ex e JOIN tr ON e.g = tr.g
      |  WHERE e.split = 'test')
      |SELECT l.lang, COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN leaked.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
      |  ROUND(CAST(SUM(CASE WHEN leaked.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS leak_rate
      |FROM lab l LEFT JOIN leaked ON l.doc_id = leaked.doc_id
      |WHERE l.split = 'test'
      |GROUP BY l.lang ORDER BY l.lang""".stripMargin

  // ---- q147 length-curriculum staging ---------------------------------------

  /** Sequence-length curriculum: rank every document by token count
    * (doc_id tie-break) with the DISTRIBUTED prefix-sum rank
    * ([[Curation.withGlobalOffset]] — range partition + partition-local
    * windows, never a global window), cut the corpus into 4 equal-count
    * stages, and report each stage's composition per source. The order key
    * is a single exact integer (tokens·10⁷ + doc_id), so stage membership
    * is bit-deterministic in both engines; the oracle uses the textbook
    * global ROW_NUMBER the scan replaces.
    */
  def q147LengthCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    // cached: the distributed rank's eager localCheckpoint materializes
    // once per (session, sf) instead of per execution
    val ranked = cached(spark, sfDir, "length_rank") {
      val d = docQuality(spark, sfDir)
        .select(col("doc_id"), col("source"), col("tokens"))
        // packed (tokens, doc_id) order key — PRECONDITION doc_id < 10^7
        // (testdata ids are dense from 0; sf0.1 tops out ~6·10^4) and
        // tokens < 9.2·10^11, else the packing collides/overflows and the
        // rank order (hence stage assignment) becomes engine-dependent.
        // Widen to a struct order key if either bound ever breaks — q109's
        // packed key DID break at sf10 (custkey > 2²⁰) and now uses
        // struct(cents, custkey); docs don't grow at synthetic SFs, so this
        // pack's bounds hold (doc_id tops out ~6·10⁴).
        .withColumn("__key", col("tokens") * lit(10000000L) + col("doc_id"))
        .withColumn("__one", lit(1L))
      Curation.withGlobalOffset(d, "__key", "__one", "rk0")
    }
    val tot = docQuality(spark, sfDir).agg(count(lit(1)).cast("double").as("__n"))
    ranked.crossJoin(tot)
      .withColumn("stage",
        floor(col("rk0").cast("double") * 4.0 / col("__n")).cast("long"))
      .groupBy("stage", "source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        min(col("tokens")).as("min_tokens"),
        max(col("tokens")).as("max_tokens"))
      .orderBy("stage", "source")
  }

  val q147Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS tokens
      |  FROM documents),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY tokens * 10000000 + doc_id) - 1 AS rk0
      |  FROM d),
      |t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d)
      |SELECT CAST(FLOOR(CAST(rk0 AS DOUBLE) * 4.0 / t.n) AS BIGINT) AS stage,
      |  source, COUNT(*) AS n_docs,
      |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
      |  CAST(MIN(tokens) AS BIGINT) AS min_tokens,
      |  CAST(MAX(tokens) AS BIGINT) AS max_tokens
      |FROM r, t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q148 shard-mixing audit ----------------------------------------------

  /** Output-shard homogeneity audit: after deterministic hashing of every
    * document into 16 training shards (an md5 derivation independent of the
    * q34 split hash — the key is prefixed), does each shard reproduce the
    * global source mixture? Reports the per-shard chi-square statistic
    * against expected counts n_shard·p_source. A shard whose chi2 blows past
    * the df=19 critical band would feed a training run source-skewed batches.
    * Everything reduces to one (shard, source) keyed aggregation plus
    * broadcast-size marginals; the chi2 sum is an ORDER-PINNED window cumsum
    * over the source axis (the q122/q138 technique) so both engines add the
    * same doubles in the same sequence.
    */
  def q148ShardMixing(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = docs(spark, sfDir)
      .select(Splits.shardId(col("doc_id"), 16).as("shard"), col("source"))
      .groupBy("shard", "source").agg(count(lit(1)).as("o"))
    Splits.shardMixingChi2(cells)
  }

  val q148Sql: String =
    """WITH d AS (
      |  SELECT CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)
      |    AS BIGINT) % 16 AS shard, source
      |  FROM documents),
      |cells AS (SELECT shard, source, COUNT(*) AS o FROM d GROUP BY 1, 2),
      |st AS (SELECT shard, CAST(SUM(o) AS BIGINT) AS n_shard FROM cells GROUP BY 1),
      |sc AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_src FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_src) AS BIGINT) AS N FROM sc),
      |grid AS (
      |  SELECT st.shard, st.n_shard, sc.source,
      |    COALESCE(cells.o, 0) AS o,
      |    CAST(st.n_shard AS DOUBLE) * sc.n_src / tot.N AS e
      |  FROM st CROSS JOIN sc
      |  LEFT JOIN cells ON cells.shard = st.shard AND cells.source = sc.source, tot),
      |terms AS (
      |  SELECT shard, n_shard, source,
      |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term
      |  FROM grid),
      |cum AS (
      |  SELECT shard, n_shard, source,
      |    SUM(term) OVER (PARTITION BY shard ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chi2_cum,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY source DESC) AS rn
      |  FROM terms)
      |SELECT shard, n_shard AS n_docs, ROUND(chi2_cum, 6) AS chi2
      |FROM cum WHERE rn = 1 ORDER BY shard""".stripMargin

  // ---- q149 near-duplicate split leakage ------------------------------------

  /** The near-dup complement of q146: a test document leaks even when no
    * 8-token span survives verbatim, if it is a NEAR-duplicate (simhash
    * hamming ≤ 3) of a training document. Reuses the session-cached q36
    * duplicate-group frame — group membership already encodes transitive
    * near-duplication — and flags test docs whose group contains any train
    * doc. At scale this is two keyed joins over the group frame (pairs-sized,
    * corpus-independent); the oracle replays the q36 recursive closure plus
    * the md5 split.
    */
  def q149NeardupLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Splits.withSplit(docs(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("lang"), col("split"))
    val g = ExtQueries.dupGroups(spark, sfDir)
      .select(col("id").as("doc_id"), col("group_id"))
    val withSplit = g.join(d, "doc_id")
    val trainGroups = withSplit.filter(col("split") === "train")
      .select("group_id").distinct()
    val leaked = withSplit.filter(col("split") === "test")
      .join(trainGroups, Seq("group_id"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("leak", lit(1L))
    d.filter(col("split") === "test")
      .join(leaked, Seq("doc_id"), "left")
      .groupBy("lang").agg(
        count(lit(1)).as("n_test"),
        sum(coalesce(col("leak"), lit(0L))).as("n_neardup_leaked"),
        round(sum(coalesce(col("leak"), lit(0L))).cast("double") / count(lit(1)), 6)
          .as("leak_rate"))
      .orderBy("lang")
  }

  val q149Sql: String =
    s"""WITH g AS (SELECT id, group_id FROM (${ExtQueries.q36Sql}) t),
       |sp AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |         AS BIGINT) % 100 < 80 THEN 'train'
       |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |         AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM documents),
       |tg AS (
       |  SELECT DISTINCT g.group_id FROM g JOIN sp ON g.id = sp.doc_id
       |  WHERE sp.split = 'train'),
       |leaked AS (
       |  SELECT DISTINCT g.id FROM g JOIN sp ON g.id = sp.doc_id
       |  WHERE sp.split = 'test' AND g.group_id IN (SELECT group_id FROM tg))
       |SELECT sp.lang, COUNT(*) AS n_test,
       |  CAST(SUM(CASE WHEN leaked.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_neardup_leaked,
       |  ROUND(CAST(SUM(CASE WHEN leaked.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS leak_rate
       |FROM sp LEFT JOIN leaked ON sp.doc_id = leaked.id
       |WHERE sp.split = 'test'
       |GROUP BY sp.lang ORDER BY sp.lang""".stripMargin

  // ---- q150 effective token count after dedup -------------------------------

  /** Dedup economics per source: how many tokens actually remain after
    * (1) exact dedup — one keeper (min doc_id) per md5(text) class — and
    * (2) near-dup pruning — only group representatives (min doc_id per q36
    * component) survive. "Effective dataset size" is the number mixture
    * planning must use; raw token counts overstate a crawl-heavy source.
    * Both dedup verdicts are row-level flags from keyed frames (the md5
    * keeper is one groupBy over digests; the near-dup frame is the cached
    * component output), so the panel is a flag-join + one aggregation.
    */
  def q150EffectiveTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), md5(col("text")).as("dig")),
        "doc_id")
    val keeper = d.groupBy("dig").agg(min(col("doc_id")).as("keep_id"))
    val g = ExtQueries.dupGroups(spark, sfDir)
      .select(col("id").as("doc_id"), col("group_id"))
    d.join(keeper, "dig")
      .join(g, Seq("doc_id"), "left")
      .withColumn("exact_kept", col("doc_id") === col("keep_id"))
      .withColumn("final_kept", col("exact_kept") &&
        (col("group_id").isNull || col("group_id") === col("doc_id")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("tokens_total"),
        sum(when(col("exact_kept"), col("tokens")).otherwise(0L)).as("tokens_exact"),
        sum(when(col("final_kept"), col("tokens")).otherwise(0L)).as("tokens_final"),
        round(sum(when(col("final_kept"), col("tokens")).otherwise(0L)).cast("double")
          / sum(col("tokens")), 6).as("retention"))
      .orderBy("source")
  }

  val q150Sql: String =
    s"""WITH g AS (SELECT id, group_id FROM (${ExtQueries.q36Sql}) t),
       |d AS (
       |  SELECT doc_id, source, md5(text) AS dig,
       |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS tokens
       |  FROM documents),
       |k AS (SELECT dig, MIN(doc_id) AS keep_id FROM d GROUP BY dig),
       |f AS (
       |  SELECT d.source, d.tokens,
       |    d.doc_id = k.keep_id AS exact_kept,
       |    d.doc_id = k.keep_id AND (g.group_id IS NULL OR g.group_id = d.doc_id)
       |      AS final_kept
       |  FROM d JOIN k ON d.dig = k.dig
       |  LEFT JOIN g ON d.doc_id = g.id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS tokens_total,
       |  CAST(SUM(CASE WHEN exact_kept THEN tokens ELSE 0 END) AS BIGINT) AS tokens_exact,
       |  CAST(SUM(CASE WHEN final_kept THEN tokens ELSE 0 END) AS BIGINT) AS tokens_final,
       |  ROUND(CAST(SUM(CASE WHEN final_kept THEN tokens ELSE 0 END) AS DOUBLE)
       |    / SUM(tokens), 6) AS retention
       |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---- q151 supply-feasible temperature mixture -----------------------------

  /** The feasible version of temperature sampling: q126's p^α weights say
    * what mixture we WANT; this query computes the mixture we can HAVE when
    * each source's supply is finite. Targets are τ=0.5 temperature shares
    * (t_s ∝ √T_s); the budget is 60% of the corpus; the allocation solves
    * Σ min(T_s, λ·t_s·B) = B — weighted waterfilling, closed-form after
    * sorting sources by the saturation ratio r_s = T_s/(t_s·B): with the k
    * lowest-ratio sources saturated, λ_k = (B − ΣT_≤k)/(B·(1 − Σt_≤k)), and
    * the unique k has r_k ≤ λ_k ≤ r_{k+1}. Supplies reduce to one keyed
    * aggregation; windows run over the per-source frame only (domain-count
    * bounded, like q145). All comparisons are on exactly-computed doubles;
    * rounding at report time.
    */
  def q151TemperatureMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val t = docQuality(spark, sfDir).groupBy("source")
      .agg(sum(col("tokens")).as("tokens"))
      .withColumn("w", sqrt(col("tokens").cast("double")))
    // τ=0.5 temperature weights (√supply) through the shared weighted
    // waterfill operator; the query only formats the mixture report
    graft.ext.Curation
      .waterfillWeightedAllocations(t, "source", "tokens", "w", 0.6)
      .select(col("source"), col("tokens"),
        round(col("target_share"), 6).as("target_share"),
        round(col("allocation"), 6).as("allocation"),
        round(col("allocation") / col("budget"), 6).as("realized_share"),
        col("saturated"))
      .orderBy("source")
  }

  val q151Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tt AS (SELECT SUM(CAST(tokens AS DOUBLE)) AS tt,
      |              SUM(SQRT(CAST(tokens AS DOUBLE))) AS tw FROM t),
      |base AS (
      |  SELECT t.source, t.tokens, CAST(t.tokens AS DOUBLE) AS T,
      |    tt.tt * 0.6 AS B,
      |    SQRT(CAST(t.tokens AS DOUBLE)) / tt.tw AS t_share,
      |    CAST(t.tokens AS DOUBLE) / (SQRT(CAST(t.tokens AS DOUBLE)) / tt.tw * (tt.tt * 0.6)) AS r
      |  FROM t, tt),
      |rk AS (
      |  SELECT *,
      |    SUM(T) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - T AS prefT,
      |    SUM(t_share) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t_share AS preft,
      |    COALESCE(LAG(r, 1) OVER (ORDER BY r, source), 0.0) AS prevR
      |  FROM base),
      |c AS (
      |  SELECT MIN((B - prefT) / (B * (1.0 - preft))) AS L FROM rk
      |  WHERE (B - prefT) / (B * (1.0 - preft)) <= r
      |    AND (B - prefT) / (B * (1.0 - preft)) >= prevR)
      |SELECT rk.source, rk.tokens,
      |  ROUND(rk.t_share, 6) AS target_share,
      |  ROUND(LEAST(rk.T, c.L * rk.t_share * rk.B), 6) AS allocation,
      |  ROUND(LEAST(rk.T, c.L * rk.t_share * rk.B) / rk.B, 6) AS realized_share,
      |  rk.T < c.L * rk.t_share * rk.B AS saturated
      |FROM rk, c ORDER BY rk.source""".stripMargin

  // ---- q152 cross-lingual semantic duplicate audit --------------------------

  /** Translated/cross-lingual duplication: text-level dedup (exact, span,
    * simhash) is blind to a document re-expressed in another language, but
    * the embedding space is not. Joins the cached ≥0.4 cosine pair frame
    * with each side's language (doc_id = vec_id, the q136 alignment) and
    * reports the language-pair duplication matrix — same-language pairs are
    * ordinary near-dups; CROSS-language cells are what only this audit can
    * see. Pair frame is pairs-sized (corpus-independent); the language side
    * is a broadcast-scale projection keyed by id.
    */
  def q152CrosslingualDups(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = docs(spark, sfDir).select(col("doc_id"), col("lang"))
    val p = ExtQueries.cosinePairs04(spark, sfDir)
      .join(langs.select(col("doc_id").as("id1"), col("lang").as("l1")), "id1")
      .join(langs.select(col("doc_id").as("id2"), col("lang").as("l2")), "id2")
      // unordered language pair: (min, max) so (en,fr) and (fr,en) fold
      .withColumn("lang_a", least(col("l1"), col("l2")))
      .withColumn("lang_b", greatest(col("l1"), col("l2")))
    p.groupBy("lang_a", "lang_b").agg(
      count(lit(1)).as("n_pairs"),
      round(avg(col("cos")), 6).as("avg_cos"),
      round(max(col("cos")), 6).as("max_cos"))
      .orderBy("lang_a", "lang_b")
  }

  val q152Sql: String =
    """WITH v AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
      |  FROM embeddings),
      |p AS (
      |  SELECT a.id AS id1, b.id AS id2,
      |         list_dot_product(a.v, b.v) / (a.n * b.n) AS cos
      |  FROM v a JOIN v b ON a.id < b.id),
      |f AS (SELECT id1, id2, cos FROM p WHERE cos >= 0.4),
      |j AS (
      |  SELECT f.cos,
      |    LEAST(d1.lang, d2.lang) AS lang_a,
      |    GREATEST(d1.lang, d2.lang) AS lang_b
      |  FROM f
      |  JOIN documents d1 ON f.id1 = d1.doc_id
      |  JOIN documents d2 ON f.id2 = d2.doc_id)
      |SELECT lang_a, lang_b, COUNT(*) AS n_pairs,
      |  ROUND(AVG(cos), 6) AS avg_cos,
      |  ROUND(MAX(cos), 6) AS max_cos
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q153 peak session concurrency (±1 sweep) -----------------------------

  /** Peak concurrent sessions per day — the classic interval-counting sweep:
    * each session contributes +1 at its start second and −1 one second after
    * its end (closed intervals), deltas collapse to one row per (second,
    * sign) via a keyed aggregation, and the running sum over the swept
    * timeline is the concurrency curve. The running sum is the DISTRIBUTED
    * prefix scan ([[Curation.withGlobalOffset]] over the unique t·2+sign
    * key) — at 100 TB the sweep is two keyed shuffles plus the scan's
    * range-partitioned partition-local windows, never a global window over
    * events. Sign ordering (+1 before −1 at the same second) makes the
    * curve count sessions overlapping each instant.
    *
    * SAMPLED-AT-DELTAS semantics: the day panel aggregates the curve at
    * delta points only, so a day fully spanned by long sessions — no
    * session start or end+1 event falling inside it — is ABSENT from the
    * output even though concurrency there is nonzero (it equals the last
    * delta value before the day). The oracle replays the same convention.
    * For a day-complete panel, join the curve onto the day grid with a
    * last-value fill.
    */
  def q153PeakConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    // the swept curve is cached per (session, sf): withGlobalOffset pins its
    // partition assignment with an eager localCheckpoint, which would
    // otherwise re-materialize on every execution of this query
    val run = cached(spark, sfDir, "concurrency_curve") {
      val per = ExtQueries.sessionIntervals(spark, sfDir)
      val deltas = per
        .select(col("start_s").as("t"), lit(0L).as("bit"), lit(1L).as("d"))
        .unionByName(per.select((col("end_s") + 1).as("t"), lit(1L).as("bit"),
          lit(-1L).as("d")))
        .groupBy("t", "bit").agg(sum(col("d")).as("d"))
        .withColumn("__key", col("t") * 2 + col("bit"))
      Curation.withGlobalOffset(deltas, "__key", "d", "__pre")
        .withColumn("conc", col("__pre") + col("d"))
    }
    run
      .withColumn("day", date_format(timestamp_seconds(col("t")), "yyyy-MM-dd"))
      .groupBy("day").agg(
        max(col("conc")).as("peak_concurrency"),
        sum(when(col("bit") === 0, col("d")).otherwise(0L)).as("n_sessions_started"))
      .orderBy("day")
  }

  val q153Sql: String =
    s"""WITH ${ExtQueries.sessionCtes},
       |per AS (
       |  SELECT user_id, sid,
       |    CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_s,
       |    CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_s
       |  FROM c GROUP BY 1, 2),
       |d0 AS (
       |  SELECT start_s AS t, 0 AS bit, 1 AS d FROM per
       |  UNION ALL SELECT end_s + 1, 1, -1 FROM per),
       |dd AS (SELECT t, bit, CAST(SUM(d) AS BIGINT) AS d FROM d0 GROUP BY 1, 2),
       |run AS (
       |  SELECT t, bit, d,
       |    SUM(d) OVER (ORDER BY t * 2 + bit
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
       |  FROM dd)
       |SELECT CAST(CAST(make_timestamp(t * 1000000) AS DATE) AS VARCHAR) AS day,
       |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
       |  CAST(SUM(CASE WHEN bit = 0 THEN d ELSE 0 END) AS BIGINT)
       |    AS n_sessions_started
       |FROM run GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q154 discrete conversion survival (Kaplan–Meier) ---------------------

  /** Time-to-first-purchase survival table: for each day offset k since a
    * user's first event, the at-risk count, conversions, discrete hazard
    * h_k = conv_k / at_risk_k, and Kaplan–Meier survival S_k = Π_{j≤k}(1−h_j)
    * with right-censoring at the corpus end. The scalable shape: one
    * user-keyed aggregation → an EXIT-offset histogram (bounded by the day
    * span, not the user count — at-risk counts come from the exclusive
    * cumsum of exits, never a per-k rescan of users), then windows over the
    * ≤span-sized offset grid. The survival product runs through the custom
    * [[graft.functions.GraftProduct]] running-window aggregate; the oracle
    * replays it with DuckDB's `product()` window — both multiply the
    * identical exact hazard ratios in k order.
    */
  def q154ConversionSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftProduct.product
    val ev = ExtQueries.events(spark, sfDir)
    val perUser = ev.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("entry"),
      min(when(col("event_type") === "purchase", to_date(col("ts")))).as("convd"))
    val end = ev.agg(max(to_date(col("ts"))).as("gend"))
    val u = perUser.crossJoin(broadcast(end))
      .withColumn("conv_off", datediff(col("convd"), col("entry")).cast("long"))
      .withColumn("censor", datediff(col("gend"), col("entry")).cast("long"))
      .withColumn("exit",
        coalesce(least(col("conv_off"), col("censor")), col("censor")))
    val exits = u.groupBy("exit").agg(
      count(lit(1)).as("n_exit"),
      sum(when(col("conv_off") === col("exit"), 1L).otherwise(0L)).as("n_conv"))
    val total = u.agg(count(lit(1)).as("n_total"), max(col("exit")).as("max_e"))
    val grid = total.select(
      explode(sequence(lit(0L), col("max_e"))).as("k"), col("n_total"))
    // post-aggregation frame: ≤ day-span rows — bounded global windows
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(exits.withColumnRenamed("exit", "k"), Seq("k"), "left")
      .na.fill(0L, Seq("n_exit", "n_conv"))
      .withColumn("at_risk",
        col("n_total") - (sum(col("n_exit")).over(w) - col("n_exit")))
      .withColumn("hazard", col("n_conv").cast("double") / col("at_risk"))
      .withColumn("survival", product(lit(1.0) - col("hazard")).over(w))
      .select(col("k"), col("at_risk"), col("n_conv").as("conversions"),
        round(col("hazard"), 6).as("hazard"),
        round(col("survival"), 6).as("survival"))
      .orderBy("k")
  }

  val q154Sql: String =
    """WITH pu AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS entry,
      |    MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS convd
      |  FROM events GROUP BY user_id),
      |ge AS (SELECT MAX(CAST(ts AS DATE)) AS gend FROM events),
      |u AS (
      |  SELECT user_id,
      |    CAST(convd - entry AS BIGINT) AS conv_off,
      |    CAST(gend - entry AS BIGINT) AS censor,
      |    COALESCE(LEAST(CAST(convd - entry AS BIGINT), CAST(gend - entry AS BIGINT)),
      |             CAST(gend - entry AS BIGINT)) AS ex
      |  FROM pu, ge),
      |exits AS (
      |  SELECT ex, COUNT(*) AS n_exit,
      |    CAST(SUM(CASE WHEN conv_off = ex THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      |  FROM u GROUP BY ex),
      |tot AS (SELECT COUNT(*) AS n_total, MAX(ex) AS max_e FROM u),
      |grid AS (
      |  SELECT unnest(range(0, max_e + 1)) AS k, n_total FROM tot),
      |j AS (
      |  SELECT g.k, g.n_total,
      |    COALESCE(e.n_exit, 0) AS n_exit, COALESCE(e.n_conv, 0) AS n_conv
      |  FROM grid g LEFT JOIN exits e ON g.k = e.ex),
      |r AS (
      |  SELECT k, n_conv,
      |    n_total - (SUM(n_exit) OVER (ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_exit) AS at_risk
      |  FROM j),
      |h AS (
      |  SELECT k, at_risk, n_conv,
      |    CAST(n_conv AS DOUBLE) / at_risk AS hazard
      |  FROM r)
      |SELECT k, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(n_conv AS BIGINT) AS conversions,
      |  ROUND(hazard, 6) AS hazard,
      |  ROUND(product(1.0 - hazard) OVER (ORDER BY k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS survival
      |FROM h ORDER BY k""".stripMargin

  // ---- q155 shipping-priority top-k (TPC-H Q3 shape) ------------------------

  /** TPC-H Q3-shaped shipping-priority query: unshipped-revenue top 10 for a
    * market segment at a cutoff date. The plan shape is the canonical star
    * probe: the segment filter broadcasts through customer into orders, the
    * fact side (lineitem) is filtered by shipdate at the SCAN (pushdown) and
    * joins orders on the order key — a keyed shuffle join, since orders is
    * NOT broadcastable at real scale — then one partial-aggregated revenue
    * rollup. The global top-10 is `orderBy().limit()`, which Spark plans as
    * TakeOrderedAndProject: per-partition bounded top-k merged on the
    * driver, never a global sort. Revenue is ROUNDED before ranking
    * (orderkey tie-break) so both engines order identical keys.
    */
  def q155ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = "1998-06-01"
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(to_date(col("o_orderdate")) < lit(cutoff))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(to_date(col("l_shipdate")) > lit(cutoff))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("rev")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q155Sql: String =
    """SELECT l_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |  o_orderpriority,
      |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 6) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- q156 fulfillment-latency percentiles ---------------------------------

  /** Order-to-ship latency distribution per order priority: exact
    * linear-interpolated p50/p90/p99 over integer day latencies from the
    * orders⋈lineitem join (order side broadcast-scale after column pruning;
    * at real scale the join is the keyed fact shuffle). Latencies are exact
    * integers, so the interpolated quantiles are small rationals both
    * engines compute identically (`percentile` ≡ `quantile_cont`, the q05
    * equivalence) — rounded only at report time.
    */
  def q156FulfillmentLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"))
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat", datediff(col("sd"), col("od")).cast("double"))
      .groupBy("o_orderpriority").agg(
        count(lit(1)).as("n_lines"),
        round(avg(col("lat")), 6).as("avg_days"),
        round(expr("percentile(lat, 0.5)"), 6).as("p50_days"),
        round(expr("percentile(lat, 0.9)"), 6).as("p90_days"),
        round(expr("percentile(lat, 0.99)"), 6).as("p99_days"),
        max(col("lat")).cast("long").as("max_days"))
      .orderBy("o_orderpriority")
  }

  val q156Sql: String =
    """WITH j AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS DOUBLE) AS lat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  ROUND(AVG(lat), 6) AS avg_days,
      |  ROUND(quantile_cont(lat, 0.5), 6) AS p50_days,
      |  ROUND(quantile_cont(lat, 0.9), 6) AS p90_days,
      |  ROUND(quantile_cont(lat, 0.99), 6) AS p99_days,
      |  CAST(MAX(lat) AS BIGINT) AS max_days
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q157 multi-signal duplicate groups -----------------------------------

  /** Duplicate clusters that only appear when SIGNALS ARE COMBINED: the
    * simhash near-dup pair graph (text) and the cosine pair graph
    * (semantic, doc_id = vec_id) union into one edge list, connected
    * components run over the union, and each group reports how many edges
    * each signal contributed — a group with `text_edges = 0` was invisible
    * to every text-level dedup pass, and a chain A~text~B~sem~C is ONE
    * cluster here but two under single-signal grouping. Both pair frames
    * are session-cached; the CC engine is the shared adaptive one. Output
    * is group-level (pairs-sized, corpus-independent).
    */
  def q157MultisignalGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val textPairs = ExtQueries.simhashPairs(spark, sfDir)
      .select(col("id1"), col("id2"), lit("text").as("signal"))
    val semPairs = ExtQueries.cosinePairs04(spark, sfDir)
      .select(col("id1"), col("id2"), lit("sem").as("signal"))
    val edges = textPairs.unionByName(semPairs)
    val groups = Dedup.duplicateGroups(edges.select("id1", "id2").distinct())
    val edgeGroups = edges
      .join(groups.select(col("id").as("id1"), col("group_id")), "id1")
      .groupBy("group_id").agg(
        sum((col("signal") === "text").cast("long")).as("text_edges"),
        sum((col("signal") === "sem").cast("long")).as("sem_edges"))
    groups.groupBy("group_id").agg(count(lit(1)).as("n_members"))
      .join(edgeGroups, "group_id")
      .select(col("group_id"), col("n_members"), col("text_edges"),
        col("sem_edges"))
      .orderBy("group_id")
  }

  val q157Sql: String =
    s"""WITH RECURSIVE tp AS (
       |  SELECT id1, id2, 'text' AS signal FROM (${ExtQueries.q19Sql}) a),
       |sp AS (
       |  SELECT id1, id2, 'sem' AS signal FROM (${ExtQueries.q37Sql}) b),
       |ed AS (SELECT * FROM tp UNION ALL SELECT * FROM sp),
       |du AS (SELECT DISTINCT id1, id2 FROM ed),
       |edges AS (SELECT id1 AS x, id2 AS y FROM du
       |          UNION ALL SELECT id2, id1 FROM du),
       |reach AS (
       |  SELECT x AS id, y AS r FROM edges
       |  UNION
       |  SELECT e.x, r.r FROM edges e JOIN reach r ON e.y = r.id),
       |g AS (SELECT id, LEAST(id, MIN(r)) AS group_id FROM reach GROUP BY id),
       |eg AS (
       |  SELECT g.group_id,
       |    CAST(SUM(CASE WHEN ed.signal = 'text' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS text_edges,
       |    CAST(SUM(CASE WHEN ed.signal = 'sem' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS sem_edges
       |  FROM ed JOIN g ON ed.id1 = g.id GROUP BY g.group_id)
       |SELECT g.group_id, COUNT(*) AS n_members, eg.text_edges, eg.sem_edges
       |FROM g JOIN eg ON g.group_id = eg.group_id
       |GROUP BY g.group_id, eg.text_edges, eg.sem_edges
       |ORDER BY g.group_id""".stripMargin

  // ---- q158 weekly growth accounting ----------------------------------------

  /** Growth accounting over weekly active users: per week, actives split
    * into NEW (first-ever week), RETAINED (also active the previous week)
    * and RESURRECTED (active before, but not last week), plus CHURNED
    * (active last week, absent this week — last week's actives minus this
    * week's retained). Shapes: one distinct (user, week) projection, a
    * per-USER lag window for the retained flag (keyed, never global), one
    * week-keyed aggregation, and a single lag over the ≤weeks-sized panel
    * for churn. All counts are exact integers.
    */
  def q158GrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = ExtQueries.events(spark, sfDir)
    val uw = ev.select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("week")).distinct()
    val wUser = Window.partitionBy("user_id").orderBy("week")
    val flagged = uw
      .withColumn("first_week", min(col("week")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_week", lag(col("week"), 1).over(wUser))
      .withColumn("is_new", col("week") === col("first_week"))
      .withColumn("is_retained",
        col("prev_week").isNotNull && datediff(col("week"), col("prev_week")) === 7)
    val panel = flagged.groupBy("week").agg(
      count(lit(1)).as("n_active"),
      sum(col("is_new").cast("long")).as("n_new"),
      sum(col("is_retained").cast("long")).as("n_retained"))
      .withColumn("n_resurrected",
        col("n_active") - col("n_new") - col("n_retained"))
    // churn needs last week's actives: one lag over the weeks-sized panel
    val wPanel = Window.orderBy("week")
    panel
      .withColumn("prev_active", lag(col("n_active"), 1).over(wPanel))
      .withColumn("prev_week", lag(col("week"), 1).over(wPanel))
      .withColumn("n_churned",
        when(col("prev_week").isNotNull && datediff(col("week"), col("prev_week")) === 7,
          col("prev_active") - col("n_retained"))
          .when(col("prev_week").isNotNull, col("prev_active"))
          .otherwise(lit(0L)))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
      .orderBy("week")
  }

  val q158Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |f AS (
      |  SELECT user_id, week,
      |    MIN(week) OVER (PARTITION BY user_id ORDER BY week
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_week,
      |    LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
      |  FROM uw),
      |panel AS (
      |  SELECT week, COUNT(*) AS n_active,
      |    CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN prev_week IS NOT NULL AND week - prev_week = 7
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
      |  FROM f GROUP BY week),
      |p2 AS (
      |  SELECT *, n_active - n_new - n_retained AS n_resurrected,
      |    LAG(n_active) OVER (ORDER BY week) AS prev_active,
      |    LAG(week) OVER (ORDER BY week) AS prev_week
      |  FROM panel)
      |SELECT CAST(week AS VARCHAR) AS week,
      |  CAST(n_active AS BIGINT) AS n_active, n_new, n_retained,
      |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
      |  CAST(CASE WHEN prev_week IS NOT NULL AND week - prev_week = 7
      |       THEN prev_active - n_retained
      |       WHEN prev_week IS NOT NULL THEN prev_active
      |       ELSE 0 END AS BIGINT) AS n_churned
      |FROM p2 ORDER BY week""".stripMargin

  // ---- q159 funnel inter-stage latency --------------------------------------

  /** The timing complement of q33's conversion funnel: per stage transition
    * (first view → first later click → first later purchase, the q33
    * semantics exactly), the distribution of time-to-convert — n, median,
    * p90, max seconds. Stage times come from the same chain of keyed
    * aggregations + keyed joins (no windows over raw events); deltas are
    * exact integer microseconds, so the interpolated percentiles are small
    * rationals both engines compute identically, divided to seconds only at
    * report time.
    */
  def q159FunnelLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ExtQueries.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val a0 = base.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t0"))
    val a1 = base.filter(col("event_type") === "click").join(a0, "user_id")
      .filter(col("us") > col("t0"))
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val a2 = base.filter(col("event_type") === "purchase").join(a1, "user_id")
      .filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val d01 = a0.join(a1, "user_id")
      .select(lit("view_to_click").as("stage"),
        (col("t1") - col("t0")).cast("double").as("d_us"))
    val d12 = a1.join(a2, "user_id")
      .select(lit("click_to_purchase").as("stage"),
        (col("t2") - col("t1")).cast("double").as("d_us"))
    d01.unionByName(d12).groupBy("stage").agg(
      count(lit(1)).as("n_users"),
      round(expr("percentile(d_us, 0.5)") / 1e6, 6).as("median_s"),
      round(expr("percentile(d_us, 0.9)") / 1e6, 6).as("p90_s"),
      round(max(col("d_us")) / 1e6, 6).as("max_s"))
      .orderBy("stage")
  }

  val q159Sql: String =
    """WITH u0 AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0
      |  FROM events GROUP BY 1),
      |u1 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
      |  FROM events e JOIN u0 USING (user_id)
      |  WHERE e.event_type = 'click' AND u0.t0 IS NOT NULL AND epoch_us(e.ts) > u0.t0
      |  GROUP BY 1),
      |u2 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN u1 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > u1.t1
      |  GROUP BY 1),
      |d AS (
      |  SELECT 'view_to_click' AS stage,
      |    CAST(u1.t1 - u0.t0 AS DOUBLE) AS d_us
      |  FROM u0 JOIN u1 USING (user_id)
      |  UNION ALL
      |  SELECT 'click_to_purchase' AS stage,
      |    CAST(u2.t2 - u1.t1 AS DOUBLE) AS d_us
      |  FROM u1 JOIN u2 USING (user_id))
      |SELECT stage, COUNT(*) AS n_users,
      |  ROUND(quantile_cont(d_us, 0.5) / 1e6, 6) AS median_s,
      |  ROUND(quantile_cont(d_us, 0.9) / 1e6, 6) AS p90_s,
      |  ROUND(MAX(d_us) / 1e6, 6) AS max_s
      |FROM d GROUP BY stage ORDER BY stage""".stripMargin

  // ---- q160 quality×length mutual information -------------------------------

  /** Mutual information between quality deciles and power-of-two length
    * buckets — the continuous-feature complement of q138's categorical
    * chi-square: MI(X;Y) = Σ p log(p/(pₓ·p_y)) in nats, with the marginal
    * entropies and normalized MI. One keyed aggregation builds the ≤10×~12
    * cell grid; the float sums run as ORDER-PINNED window cumsums over the
    * (x, y) axes (the q122/q138 technique) so both engines add identical
    * doubles in identical order. High NMI means the quality score is mostly
    * re-measuring length — exactly what a filter-design review checks.
    */
  def q160MutualInformation(spark: SparkSession, sfDir: String): DataFrame = {
    // floor(log2(tokens)) via the binary-string length — exact integer
    // arithmetic in both engines (a float log2 could straddle a floor
    // boundary by one ulp at exact powers of two)
    val d = docQuality(spark, sfDir)
      .select(least(floor(col("q") * 10), lit(9L)).cast("long").as("x"),
        (length(bin(col("tokens"))) - 1).cast("long").as("y"))
    val cells = d.groupBy("x", "y").agg(count(lit(1)).as("c"))
    val mx = cells.groupBy("x").agg(sum(col("c")).as("cx"))
    val my = cells.groupBy("y").agg(sum(col("c")).as("cy"))
    val tot = cells.agg(sum(col("c")).as("n"))
    val grid = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
    val p = col("c").cast("double") / col("n")
    val px = col("cx").cast("double") / col("n")
    val py = col("cy").cast("double") / col("n")
    val terms = grid.select(col("x"), col("y"), col("n"),
      (p * log(p / (px * py))).as("mi_term"),
      // per-cell entropy shares so Hx/Hy accumulate in the same pinned order
      (p * log(px)).as("hx_term"), (p * log(py)).as("hy_term"))
    val w = Window.partitionBy(lit(0)).orderBy("x", "y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLast = Window.partitionBy(lit(0)).orderBy(col("x").desc, col("y").desc)
    terms
      .withColumn("mi", sum(col("mi_term")).over(w))
      .withColumn("hx", -sum(col("hx_term")).over(w))
      .withColumn("hy", -sum(col("hy_term")).over(w))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("n").as("n_docs"), round(col("mi"), 6).as("mi_nats"),
        round(col("hx"), 6).as("h_quality"), round(col("hy"), 6).as("h_length"),
        round(col("mi") / least(col("hx"), col("hy")), 6).as("nmi"))
  }

  val q160Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte),
       |b AS (
       |  SELECT LEAST(CAST(FLOOR(q * 10) AS BIGINT), 9) AS x,
       |    CAST(LENGTH(bin(tokens)) - 1 AS BIGINT) AS y
       |  FROM d),
       |cells AS (SELECT x, y, COUNT(*) AS c FROM b GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |terms AS (
       |  SELECT cells.x, cells.y, tot.n,
       |    (CAST(c AS DOUBLE) / n) * LN((CAST(c AS DOUBLE) / n)
       |      / ((CAST(cx AS DOUBLE) / n) * (CAST(cy AS DOUBLE) / n))) AS mi_term,
       |    (CAST(c AS DOUBLE) / n) * LN(CAST(cx AS DOUBLE) / n) AS hx_term,
       |    (CAST(c AS DOUBLE) / n) * LN(CAST(cy AS DOUBLE) / n) AS hy_term
       |  FROM cells JOIN mx USING (x) JOIN my USING (y), tot),
       |cum AS (
       |  SELECT n,
       |    SUM(mi_term) OVER (ORDER BY x, y
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mi,
       |    -SUM(hx_term) OVER (ORDER BY x, y
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hx,
       |    -SUM(hy_term) OVER (ORDER BY x, y
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hy,
       |    ROW_NUMBER() OVER (ORDER BY x DESC, y DESC) AS rn
       |  FROM terms)
       |SELECT n AS n_docs, ROUND(mi, 6) AS mi_nats,
       |  ROUND(hx, 6) AS h_quality, ROUND(hy, 6) AS h_length,
       |  ROUND(mi / LEAST(hx, hy), 6) AS nmi
       |FROM cum WHERE rn = 1""".stripMargin

  // ---- q161 deterministic subsample-stability band --------------------------

  /** Error-bar diagnostic for a corpus statistic (mean quality) without
    * RNG: 64 deterministic half-samples — replicate i keeps a doc iff the
    * md5-derived bucket of (i, doc_id) falls below 50 — each yield a
    * replicate mean, and the band is the p2.5/p97.5 spread of those means
    * (a subsample stability interval; half-sample spread upper-bounds the
    * full-sample sampling error). The replicate expansion is a row-local
    * 64-way flat map (one explode over a literal range — no shuffle until
    * the replicate-keyed aggregation), reproducible bit-for-bit by any
    * engine with md5.
    */
  def q161SubsampleStability(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir).select(col("doc_id"), col("q"))
      .select(col("doc_id"), col("q"),
        explode(sequence(lit(0), lit(63))).as("rep"))
      .filter(pmod(Dedup.portableTokenHash(
        concat(col("rep").cast("string"), lit(":"), col("doc_id").cast("string"))),
        lit(100)) < 50)
    val reps = d.groupBy("rep").agg(avg(col("q")).as("m"))
    reps.agg(
      count(lit(1)).as("n_replicates"),
      round(avg(col("m")), 6).as("mean_of_means"),
      round(expr("percentile(m, 0.025)"), 6).as("band_lo"),
      round(expr("percentile(m, 0.975)"), 6).as("band_hi"),
      round(max(col("m")) - min(col("m")), 6).as("band_range"))
  }

  val q161Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte),
       |ex AS (
       |  SELECT doc_id, q, unnest(range(0, 64)) AS rep FROM d),
       |kept AS (
       |  SELECT rep, q FROM ex
       |  WHERE CAST('0x' || substr(md5(CAST(rep AS VARCHAR) || ':' ||
       |    CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 50),
       |reps AS (SELECT rep, AVG(q) AS m FROM kept GROUP BY rep)
       |SELECT COUNT(*) AS n_replicates,
       |  ROUND(AVG(m), 6) AS mean_of_means,
       |  ROUND(quantile_cont(m, 0.025), 6) AS band_lo,
       |  ROUND(quantile_cont(m, 0.975), 6) AS band_hi,
       |  ROUND(MAX(m) - MIN(m), 6) AS band_range
       |FROM reps""".stripMargin

  // ---- q162 session path analysis -------------------------------------------

  /** Top-5 session journeys: the first three event types of every session
    * concatenated into a path string ("view>click>purchase"), counted and
    * ranked. Event ordering inside a session is the SAME keyed
    * (user-partitioned) window sessionization already pays for; the
    * journey assembly sorts a ≤3-element struct array row-locally
    * (`collect_list` alone is partition-order-nondeterministic — the
    * `sort_array` over (rank, type) structs pins it), and ranking runs over
    * the tiny journey-count frame with the count-then-string tie-break.
    */
  def q162SessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val s = graft.ext.Events.sessionize(
      ExtQueries.events(spark, sfDir), "user_id", "ts")
    val w = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val heads = s.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val journeys = heads.groupBy("user_id", "session_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("event_type").as("t")))),
        e => e.getField("t")), ">").as("journey"))
    val counts = journeys.groupBy("journey").agg(count(lit(1)).as("n_sessions"))
    // unpartitioned rank window over the journey-count frame — bounded by
    // the journey DOMAIN (≤ |event_types|³ = 125 3-step paths), never rows
    val rw = Window.orderBy(col("n_sessions").desc, col("journey"))
    counts.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("rank"), col("journey"), col("n_sessions"))
      .orderBy("rank")
  }

  val q162Sql: String =
    s"""WITH ${ExtQueries.sessionCtes},
       |r AS (
       |  SELECT user_id, sid, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
       |  FROM c),
       |j AS (
       |  SELECT user_id, sid,
       |    string_agg(event_type, '>' ORDER BY rn) AS journey
       |  FROM r WHERE rn <= 3 GROUP BY user_id, sid),
       |cnt AS (SELECT journey, COUNT(*) AS n_sessions FROM j GROUP BY journey),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, journey) AS rank
       |  FROM cnt)
       |SELECT CAST(rank AS BIGINT) AS rank, journey, n_sessions
       |FROM rk WHERE rank <= 5 ORDER BY rank""".stripMargin

  // ---- q163 unpivot/melt round trip -----------------------------------------

  /** The relational MELT (q140's pivot inverted): the wide daily activity
    * matrix unpivots back to long (day, event_type, n) with Spark's native
    * `unpivot`, zero-count cells dropped, and the per-type panel must equal
    * what a direct aggregation of the raw events produces — the
    * pivot∘unpivot identity as an oracle-checked contract. Unpivot is a
    * row-local projection (each wide row fans to a fixed column list), so
    * the whole round trip costs one extra narrow pass over the
    * days×types frame.
    */
  def q163UnpivotDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Round7Queries.q140PivotDaily(spark, sfDir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    wide.unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
      .filter(col("n") > 0)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("n")).as("total_events"))
      .orderBy("event_type")
  }

  val q163Sql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  COUNT(*) AS total_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q164 retention-decay fit ---------------------------------------------

  /** Log-linear decay fit of each cohort's retention curve: with retention
    * r_k = users at offset k / cohort size, fit ln(r_k) = a + b·k by OLS
    * and report the decay rate b and the implied half-life −ln2/b — the
    * model a growth team fits to q35's raw retention triangle. x-moments
    * are exact integers; the float moments (Σy, Σxy over the ≤weeks-long
    * curve) accumulate through an ORDER-PINNED window cumsum per cohort so
    * both engines add identical doubles in offset order. Cohorts need ≥ 3
    * observed offsets and a strictly-negative slope to report a half-life.
    */
  def q164RetentionDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val ret = graft.ext.Events.cohortRetention(ExtQueries.events(spark, sfDir))
    val n0 = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("n0"))
    val t = ret.join(n0, "cohort_week")
      .withColumn("x", col("week_offset").cast("double"))
      .withColumn("y", log(col("n_users").cast("double") / col("n0")))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLast = Window.partitionBy("cohort_week").orderBy(col("week_offset").desc)
    val fitted = t
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1 && col("n") >= 3)
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
    fitted.select(
      date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
      col("n0").as("cohort_size"),
      col("n").cast("long").as("n_offsets"),
      round(col("slope"), 6).as("decay_rate"),
      round(when(col("slope") < 0, -log(lit(2.0)) / col("slope")), 6)
        .as("half_life_weeks"))
      .orderBy("cohort_week")
  }

  val q164Sql: String =
    s"""WITH ret AS (SELECT * FROM (${ExtQueries.q35Sql}) z),
       |n0 AS (SELECT cohort_week, n_users AS n0 FROM ret WHERE week_offset = 0),
       |t AS (
       |  SELECT ret.cohort_week, ret.week_offset, n0.n0,
       |    CAST(ret.week_offset AS DOUBLE) AS x,
       |    LN(CAST(ret.n_users AS DOUBLE) / n0.n0) AS y
       |  FROM ret JOIN n0 USING (cohort_week)),
       |c AS (
       |  SELECT cohort_week, n0,
       |    CAST(COUNT(*) OVER win AS DOUBLE) AS n,
       |    SUM(x) OVER win AS sx, SUM(x * x) OVER win AS sxx,
       |    SUM(y) OVER win AS sy, SUM(x * y) OVER win AS sxy,
       |    ROW_NUMBER() OVER (PARTITION BY cohort_week
       |      ORDER BY week_offset DESC) AS rn
       |  FROM t
       |  WINDOW win AS (PARTITION BY cohort_week ORDER BY week_offset
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT cohort_week, n0, n,
       |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
       |  FROM c WHERE rn = 1 AND n >= 3)
       |SELECT CAST(CAST(cohort_week AS DATE) AS VARCHAR) AS cohort_week,
       |  CAST(n0 AS BIGINT) AS cohort_size,
       |  CAST(n AS BIGINT) AS n_offsets,
       |  ROUND(slope, 6) AS decay_rate,
       |  ROUND(CASE WHEN slope < 0 THEN -LN(2.0) / slope END, 6)
       |    AS half_life_weeks
       |FROM f ORDER BY cohort_week""".stripMargin

  // ---- q165 point-in-time (SCD-2) enrichment --------------------------------

  /** Point-in-time correctness: each purchase event joins the q104 SCD-2
    * regime interval VALID AT ITS TIMESTAMP — `ts ∈ [valid_from, valid_to)`
    * — never the current version (the classic look-ahead bug this join
    * exists to prevent). A user's intervals partition their timeline, so
    * every fact matches exactly one version; the join is user-keyed with a
    * residual range predicate — a keyed shuffle at scale, with
    * [[graft.ext.RangeJoin.overlapJoin]] as the bucketed form when one
    * user's history is long. Panel: purchase count/value by the regime the
    * buyer was in when paying.
    */
  def q165PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    val facts = ExtQueries.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val dim = ExtQueries.runIntervals(spark, sfDir)
      .select(col("user_id"), col("event_type").as("regime"),
        col("valid_from"), col("valid_to"))
    facts.join(dim, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .groupBy("regime").agg(
        count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 6).as("total_value"),
        round(avg(col("value")), 6).as("avg_value"))
      .orderBy("regime")
  }

  val q165Sql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM o),
      |runs AS (
      |  SELECT user_id, run_id, event_type AS regime, MIN(ts) AS valid_from
      |  FROM r GROUP BY 1, 2, 3),
      |scd AS (
      |  SELECT *,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
      |  FROM runs),
      |f AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
      |SELECT scd.regime, COUNT(*) AS n_purchases,
      |  ROUND(SUM(f.value), 6) AS total_value,
      |  ROUND(AVG(f.value), 6) AS avg_value
      |FROM f JOIN scd ON f.user_id = scd.user_id
      |  AND f.ts >= scd.valid_from
      |  AND (scd.valid_to IS NULL OR f.ts < scd.valid_to)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q166 lead-lag cross-correlation --------------------------------------

  /** Does click volume LEAD purchase volume? Pearson cross-correlation of
    * the two daily series at lags −3..+3: at lag k, corr(clicks_t,
    * purchases_{t+k}) over days where both series exist. The lag fan-out is
    * a row-local 7-way explode on the (≤days-sized) click series followed
    * by one keyed date join — no window over raw events, and the corr
    * aggregates run over day-count-sized groups. A positive-lag peak reads
    * "clicks today, purchases k days later".
    */
  def q166LeadLag(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = ExtQueries.events(spark, sfDir)
    def daily(t: String, out: String): DataFrame = ev
      .filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as(out))
    val x = daily("click", "x")
    val y = daily("purchase", "y")
    x.withColumn("k", explode(sequence(lit(-3), lit(3))))
      .withColumn("jday", date_add(col("day"), col("k")))
      .join(y.withColumnRenamed("day", "jday"), "jday")
      .groupBy(col("k").cast("long").as("lag_days")).agg(
        count(lit(1)).as("n_days"),
        round(corr(col("x"), col("y")), 6).as("xcorr"))
      .orderBy("lag_days")
  }

  val q166Sql: String =
    """WITH x AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |y AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |k AS (SELECT unnest(range(-3, 4)) AS k),
      |p AS (
      |  SELECT k.k, x.x, y.y
      |  FROM x CROSS JOIN k JOIN y ON y.day = x.day + CAST(k.k AS INT))
      |SELECT CAST(k AS BIGINT) AS lag_days, COUNT(*) AS n_days,
      |  ROUND(corr(x, y), 6) AS xcorr
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q142_semantic_decontam", q142SemanticDecontam, q142Sql),
    QuerySpec("q143_semdedup_prune", q143SemdedupPrune, q143Sql),
    QuerySpec("q144_domain_cap", q144DomainCap, q144Sql),
    QuerySpec("q145_epoch_allocation", q145EpochAllocation, q145Sql),
    QuerySpec("q146_split_leakage", q146SplitLeakage, q146Sql),
    QuerySpec("q147_length_curriculum", q147LengthCurriculum, q147Sql),
    QuerySpec("q148_shard_mixing", q148ShardMixing, q148Sql),
    QuerySpec("q149_neardup_leakage", q149NeardupLeakage, q149Sql),
    QuerySpec("q150_effective_tokens", q150EffectiveTokens, q150Sql),
    QuerySpec("q151_temperature_mixture", q151TemperatureMixture, q151Sql),
    QuerySpec("q152_crosslingual_dups", q152CrosslingualDups, q152Sql),
    QuerySpec("q153_peak_concurrency", q153PeakConcurrency, q153Sql),
    QuerySpec("q154_conversion_survival", q154ConversionSurvival, q154Sql),
    QuerySpec("q155_shipping_priority", q155ShippingPriority, q155Sql),
    QuerySpec("q156_fulfillment_latency", q156FulfillmentLatency, q156Sql),
    QuerySpec("q157_multisignal_groups", q157MultisignalGroups, q157Sql),
    QuerySpec("q158_growth_accounting", q158GrowthAccounting, q158Sql),
    QuerySpec("q159_funnel_latency", q159FunnelLatency, q159Sql),
    QuerySpec("q160_mutual_information", q160MutualInformation, q160Sql),
    QuerySpec("q161_subsample_stability", q161SubsampleStability, q161Sql),
    QuerySpec("q162_session_paths", q162SessionPaths, q162Sql),
    QuerySpec("q163_unpivot_daily", q163UnpivotDaily, q163Sql),
    QuerySpec("q164_retention_decay", q164RetentionDecay, q164Sql),
    QuerySpec("q165_point_in_time", q165PointInTime, q165Sql),
    QuerySpec("q166_lead_lag", q166LeadLag, q166Sql))
}
