package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Round-7 extension queries (q127+): composite quality-rule filtering,
  * distribution-drift and corpus-growth audits, changepoint detection,
  * batching efficiency, embedding drift, sketch-accuracy measurement, and
  * A/B significance testing — each with a DuckDB oracle replaying the same
  * arithmetic. Shares [[ExtQueries]]' session caches (`docs`, `docQuality`,
  * `tokenCounts`) so nothing re-reads or re-tokenizes per query.
  */
object Round7Queries {

  import ExtQueries.{cached, docs, docQuality, events, emb, tokenCounts}

  // ---- q127 Gopher-style quality-rule audit ---------------------------------

  /** Composite rule-based quality filter in the Gopher/C4 mold: per-document
    * word count bounds, mean word length band, stopword presence, and
    * type-token ratio, with per-rule rejection counts and the surviving
    * fraction per source. Every rule is a row-local projection over one
    * tokenize pass (let-bound so the split runs once per row), so the whole
    * audit is a single keyed aggregation — embarrassingly parallel at corpus
    * scale. Rule flags compare exactly-computed IEEE doubles (no rounding
    * needed: both engines evaluate the identical division), and the oracle
    * replays each rule from DuckDB's split.
    */
  def q127GopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.core.Exprs.bindOnce(split(col("text"), " "), t => {
      val words = size(t).cast("long")
      val chars = length(col("text")).cast("long")
      val meanLen = (chars - (words - 1)).cast("double") / words
      val stops = size(filter(t, w => w === "the" || w === "a")).cast("long")
      val ttr = size(array_distinct(t)).cast("double") / words
      struct(words.as("words"), meanLen.as("mean_len"), stops.as("stops"),
        ttr.as("ttr"))
    })
    docs(spark, sfDir).select(col("source"), d.as("m"))
      .select(col("source"),
        (col("m.words") < 20).as("f_short"),
        (col("m.words") > 100).as("f_long"),
        (col("m.mean_len") < 3.0 || col("m.mean_len") > 7.0).as("f_wordlen"),
        (col("m.stops") < 1).as("f_stopword"),
        (col("m.ttr") < 0.25).as("f_ttr"))
      .withColumn("pass", !col("f_short") && !col("f_long") &&
        !col("f_wordlen") && !col("f_stopword") && !col("f_ttr"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("f_short").cast("long")).as("fail_short"),
        sum(col("f_long").cast("long")).as("fail_long"),
        sum(col("f_wordlen").cast("long")).as("fail_wordlen"),
        sum(col("f_stopword").cast("long")).as("fail_stopword"),
        sum(col("f_ttr").cast("long")).as("fail_ttr"),
        sum(col("pass").cast("long")).as("pass_all"),
        round(sum(col("pass").cast("long")).cast("double") / count(lit(1)), 6)
          .as("pass_rate"))
      .orderBy("source")
  }

  val q127Sql: String =
    """WITH m AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS words,
      |    CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_len,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
      |      AS stops,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS ttr
      |  FROM documents),
      |f AS (
      |  SELECT source,
      |    words < 20 AS f_short, words > 100 AS f_long,
      |    mean_len < 3.0 OR mean_len > 7.0 AS f_wordlen,
      |    stops < 1 AS f_stopword, ttr < 0.25 AS f_ttr,
      |    NOT (words < 20 OR words > 100 OR mean_len < 3.0 OR mean_len > 7.0
      |         OR stops < 1 OR ttr < 0.25) AS pass
      |  FROM m)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS fail_short,
      |  CAST(SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS fail_long,
      |  CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
      |  CAST(SUM(CASE WHEN f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
      |  CAST(SUM(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS fail_ttr,
      |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
      |  ROUND(CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
      |    AS pass_rate
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---- q128 two-sample KS drift per source ----------------------------------

  /** Two-sample Kolmogorov–Smirnov drift detector: per source, the KS
    * statistic between that source's document-length distribution and the
    * whole corpus, with the α = 0.05 critical value
    * `1.36·√((n_s+n_g)/(n_s·n_g))`. Complements the binned PSI (q112) and
    * Jensen–Shannon (q122) drift panels with the unbinned sup-norm test.
    * ECDFs are evaluated on the shared grid of distinct observed lengths
    * (sources × distinct-lengths rows — O(|S|·|L|), thousands of rows at any
    * corpus scale, never O(rows)), via one window cumsum per side.
    */
  def q128KsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
    val lengths = d.select(col("tokens")).distinct()
    val perSource = d.groupBy("source", "tokens").agg(count(lit(1)).as("c_s"))
    val srcTotals = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    // global ECDF: a window over DISTINCT lengths only — O(|L|) rows, the
    // same bounded-global-window shape as the fenced benchmark-lag path
    val globalCum = d.groupBy("tokens").agg(count(lit(1)).as("c_g"))
      .withColumn("cum_g", sum(col("c_g")).over(
        Window.orderBy("tokens").rowsBetween(Window.unboundedPreceding, 0)))
    val nGlobal = d.agg(count(lit(1)).as("n_g")) // 1-row scalar attach
    val grid = srcTotals.crossJoin(lengths)
      .join(perSource, Seq("source", "tokens"), "left")
      .na.fill(0L, Seq("c_s"))
      .withColumn("cum_s", sum(col("c_s")).over(
        Window.partitionBy("source").orderBy("tokens")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(globalCum.select("tokens", "cum_g"), Seq("tokens"))
      .crossJoin(nGlobal)
    grid.groupBy("source").agg(
        max(col("n_s")).as("n_docs"),
        round(max(abs(col("cum_s").cast("double") / col("n_s") -
          col("cum_g").cast("double") / col("n_g"))), 6).as("ks_stat"),
        round(lit(1.36) * sqrt((max(col("n_s")) + max(col("n_g"))).cast("double") /
          (max(col("n_s")) * max(col("n_g")))), 6).as("crit_05"))
      .withColumn("drifted",
        (col("ks_stat") > col("crit_05")).cast("long"))
      .orderBy("source")
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
      |      AS tokens
      |  FROM documents),
      |lengths AS (SELECT DISTINCT tokens FROM d),
      |st AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY 1),
      |cs AS (SELECT source, tokens, COUNT(*) AS c_s FROM d GROUP BY 1, 2),
      |g AS (
      |  SELECT tokens, SUM(COUNT(*)) OVER (ORDER BY tokens) AS cum_g
      |  FROM d GROUP BY tokens),
      |ng AS (SELECT COUNT(*) AS n_g FROM d),
      |grid AS (
      |  SELECT st.source, st.n_s, l.tokens, COALESCE(cs.c_s, 0) AS c_s
      |  FROM st CROSS JOIN lengths l
      |  LEFT JOIN cs ON cs.source = st.source AND cs.tokens = l.tokens),
      |cum AS (
      |  SELECT source, n_s, tokens,
      |    SUM(c_s) OVER (PARTITION BY source ORDER BY tokens) AS cum_s
      |  FROM grid)
      |SELECT c.source, MAX(c.n_s) AS n_docs,
      |  ROUND(MAX(ABS(CAST(c.cum_s AS DOUBLE) / c.n_s
      |    - CAST(g.cum_g AS DOUBLE) / ng.n_g)), 6) AS ks_stat,
      |  ROUND(1.36 * SQRT(CAST(MAX(c.n_s) + ng.n_g AS DOUBLE)
      |    / (MAX(c.n_s) * ng.n_g)), 6) AS crit_05,
      |  CAST(CASE WHEN
      |    ROUND(MAX(ABS(CAST(c.cum_s AS DOUBLE) / c.n_s
      |      - CAST(g.cum_g AS DOUBLE) / ng.n_g)), 6) >
      |    ROUND(1.36 * SQRT(CAST(MAX(c.n_s) + ng.n_g AS DOUBLE)
      |      / (MAX(c.n_s) * ng.n_g)), 6)
      |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
      |FROM cum c JOIN g ON g.tokens = c.tokens CROSS JOIN ng
      |GROUP BY c.source, ng.n_g ORDER BY c.source""".stripMargin

  // ---- q129 Heaps'-law vocabulary growth ------------------------------------

  /** Heaps'-law corpus-growth audit: per source, vocabulary size after the
    * first half of the documents (by doc_id order) vs the full corpus, and
    * the implied Heaps exponent β = ln(V/V½)/ln(N/N½). A sub-linear β is the
    * expected web-corpus signature; β ≈ 0 means the source has exhausted its
    * vocabulary (synthetic/templated text) — a data-quality signal scale
    * can't hide. One row_number window over the per-doc token projection and
    * two conditional distinct-counts over the shared token frame.
    */
  def q129VocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
    val ranked = d
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("first_half", col("rn") <= (col("n") + 1) / 2)
      .select("doc_id", "source", "first_half", "tokens")
    val v = tokenCounts(spark, sfDir).drop("source", "lang")
      .join(ranked.select("doc_id", "source", "first_half"), Seq("doc_id"))
      .groupBy("source").agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count_distinct(col("t")).as("vocab"),
        count_distinct(when(col("first_half"), col("t"))).as("vocab_half"))
    v.join(
        ranked.groupBy("source").agg(
          sum(col("tokens")).as("n_tokens"),
          sum(when(col("first_half"), col("tokens")).otherwise(0L))
            .as("n_tokens_half")),
        Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("vocab_half"),
        round(when(col("n_tokens") > col("n_tokens_half"),
          log(col("vocab").cast("double") / col("vocab_half")) /
            log(col("n_tokens").cast("double") / col("n_tokens_half")))
          .otherwise(lit(null)), 6).as("heaps_beta"))
      .orderBy("source")
  }

  val q129Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
      |      AS tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, tokens,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM d),
      |h AS (SELECT doc_id, source, tokens, rn <= (n + 1) // 2 AS first_half
      |      FROM r),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |  FROM documents),
      |j AS (SELECT h.source, h.first_half, tok.t, tok.doc_id
      |      FROM tok JOIN h ON tok.doc_id = h.doc_id),
      |v AS (
      |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
      |    COUNT(DISTINCT t) AS vocab,
      |    COUNT(DISTINCT CASE WHEN first_half THEN t END) AS vocab_half
      |  FROM j GROUP BY source),
      |tk AS (
      |  SELECT source, SUM(tokens) AS n_tokens,
      |    SUM(CASE WHEN first_half THEN tokens ELSE 0 END) AS n_tokens_half
      |  FROM h GROUP BY source)
      |SELECT v.source, v.n_docs, CAST(tk.n_tokens AS BIGINT) AS n_tokens,
      |  v.vocab, v.vocab_half,
      |  ROUND(CASE WHEN tk.n_tokens > tk.n_tokens_half THEN
      |    LN(CAST(v.vocab AS DOUBLE) / v.vocab_half)
      |      / LN(CAST(tk.n_tokens AS DOUBLE) / tk.n_tokens_half)
      |  END, 6) AS heaps_beta
      |FROM v JOIN tk ON v.source = tk.source ORDER BY v.source""".stripMargin

  // ---- q130 CUSUM changepoint detection -------------------------------------

  /** CUSUM changepoint detection over the daily event-count series: per
    * event type, the cumulative sum of deviations from the series mean,
    * its max/min, the normalized range (max−min)/σ, and the estimated
    * changepoint day (argmax |S|, earliest-day tiebreak). The classic
    * level-shift detector — complements q100's windowed burst z-scores
    * (local spikes) with a global mean-shift statistic. The cumsum runs in
    * day order inside each type partition, so both engines accumulate
    * bit-identically; series are daily aggregates, so the window input is
    * O(days), never O(events).
    */
  def q130CusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy("event_type").agg(
      avg(col("x")).as("mu"), stddev_samp(col("x")).as("sd"),
      count(lit(1)).as("n_days"))
    val s = daily.join(stats, Seq("event_type"))
      .withColumn("cusum", sum(col("x").cast("double") - col("mu")).over(
        Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val cp = s.withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("cusum")).desc,
          col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("changepoint_day"))
    s.groupBy("event_type").agg(
        max(col("n_days")).as("n_days"),
        round(max(col("cusum")), 6).as("s_max"),
        round(min(col("cusum")), 6).as("s_min"),
        round((max(col("cusum")) - min(col("cusum"))) / max(col("sd")), 6)
          .as("cusum_range"))
      .join(cp, Seq("event_type"))
      .orderBy("event_type")
  }

  val q130Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, AVG(x) AS mu, STDDEV_SAMP(x) AS sd,
      |    COUNT(*) AS n_days
      |  FROM daily GROUP BY 1),
      |s AS (
      |  SELECT d.event_type, d.day, st.sd, st.n_days,
      |    SUM(CAST(d.x AS DOUBLE) - st.mu)
      |      OVER (PARTITION BY d.event_type ORDER BY d.day) AS cusum
      |  FROM daily d JOIN st ON d.event_type = st.event_type),
      |cp AS (
      |  SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day
      |  FROM (SELECT event_type, day, ROW_NUMBER() OVER (
      |          PARTITION BY event_type ORDER BY ABS(cusum) DESC, day) AS rn
      |        FROM s) WHERE rn = 1)
      |SELECT s.event_type, MAX(s.n_days) AS n_days,
      |  ROUND(MAX(s.cusum), 6) AS s_max,
      |  ROUND(MIN(s.cusum), 6) AS s_min,
      |  ROUND((MAX(s.cusum) - MIN(s.cusum)) / MAX(s.sd), 6) AS cusum_range,
      |  MAX(cp.changepoint_day) AS changepoint_day
      |FROM s JOIN cp ON s.event_type = cp.event_type
      |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin

  // ---- q131 length-bucketed padding efficiency ------------------------------

  /** Length-bucketed batching audit — the padding-waste calculation every
    * fixed-shape training loop runs: documents bucketed to power-of-two
    * context caps, per-bucket padded-token cost (n·cap) vs real tokens, and
    * the corpus-wide efficiency vs naive pad-to-global-max batching. The cap
    * is a closed CASE chain (no float log2 edge cases), so the whole audit
    * is one keyed aggregation plus a 1-row scalar attach.
    */
  def q131PaddingEfficiency(spark: SparkSession, sfDir: String): DataFrame = {
    def capOf(c: Column): Column =
      when(c <= 8, 8L).when(c <= 16, 16L).when(c <= 32, 32L)
        .when(c <= 64, 64L).when(c <= 128, 128L).when(c <= 256, 256L)
        .otherwise(512L)
    val d = docQuality(spark, sfDir).select(col("tokens"),
      capOf(col("tokens")).as("cap"))
    val naive = d.agg(
      (sum(col("tokens")).cast("double") /
        (count(lit(1)) * max(col("tokens")))).as("__naive_eff"))
    d.groupBy("cap").agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("real_tokens"),
        (count(lit(1)) * col("cap")).as("padded_tokens"),
        round(sum(col("tokens")).cast("double") /
          (count(lit(1)) * col("cap")), 6).as("bucket_efficiency"))
      .crossJoin(naive)
      .withColumn("naive_efficiency", round(col("__naive_eff"), 6))
      .drop("__naive_eff")
      .orderBy("cap")
  }

  val q131Sql: String =
    """WITH d AS (
      |  SELECT CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
      |      AS tokens
      |  FROM documents),
      |c AS (
      |  SELECT tokens,
      |    CASE WHEN tokens <= 8 THEN 8 WHEN tokens <= 16 THEN 16
      |         WHEN tokens <= 32 THEN 32 WHEN tokens <= 64 THEN 64
      |         WHEN tokens <= 128 THEN 128 WHEN tokens <= 256 THEN 256
      |         ELSE 512 END AS cap
      |  FROM d),
      |naive AS (
      |  SELECT CAST(SUM(tokens) AS DOUBLE) / (COUNT(*) * MAX(tokens)) AS ne
      |  FROM d)
      |SELECT CAST(cap AS BIGINT) AS cap, COUNT(*) AS n_docs,
      |  CAST(SUM(tokens) AS BIGINT) AS real_tokens,
      |  CAST(COUNT(*) * cap AS BIGINT) AS padded_tokens,
      |  ROUND(CAST(SUM(tokens) AS DOUBLE) / (COUNT(*) * cap), 6)
      |    AS bucket_efficiency,
      |  ROUND(ANY_VALUE(naive.ne), 6) AS naive_efficiency
      |FROM c CROSS JOIN naive GROUP BY cap ORDER BY cap""".stripMargin

  // ---- q132 per-label embedding centroid drift ------------------------------

  /** Embedding drift between two corpus snapshots (even vs odd vec_id — the
    * deterministic stand-in for "last month vs this month"): per label, the
    * cosine similarity and L2 distance between the two half-corpus
    * centroids. The canonical embedding-space stability check before
    * reusing clustering/ANN artifacts across refreshes. Centroids come from
    * one grouped element-wise mean (64-dim arrays, map-side combined — the
    * exploded O(rows×dims) shuffle shape is confined to the oracle);
    * per-label cosine is a 64-element fold on 10 rows.
    */
  def q132CentroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val halves = emb(spark, sfDir)
      .withColumn("half", (col("vec_id") % 2 === 0).cast("int"))
      .groupBy("label", "half").agg(
        graft.functions.VectorAgg.vectorAvg(
          col("embedding").cast("array<double>")).as("c"),
        count(lit(1)).as("n"))
    val a = halves.filter(col("half") === 1)
      .select(col("label"), col("c").as("ca"), col("n").as("n_even"))
    val b = halves.filter(col("half") === 0)
      .select(col("label"), col("c").as("cb"), col("n").as("n_odd"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    a.join(b, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))),
          6).as("centroid_cos"),
        round(sqrt(aggregate(zip_with(col("ca"), col("cb"),
          (p, q) => (p - q) * (p - q)), lit(0.0), (acc, v) => acc + v)), 6)
          .as("centroid_l2"))
      .orderBy("label")
  }

  val q132Sql: String =
    """WITH u AS (
      |  SELECT label, CAST(vec_id % 2 = 0 AS INT) AS half,
      |    generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x, vec_id
      |  FROM embeddings),
      |c AS (
      |  SELECT label, half, dim, AVG(x) AS m,
      |    COUNT(DISTINCT vec_id) AS n
      |  FROM u GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT a.label, MAX(a.n) AS n_even, MAX(b.n) AS n_odd,
      |    SUM(a.m * b.m) AS dotab, SUM(a.m * a.m) AS dota,
      |    SUM(b.m * b.m) AS dotb, SUM((a.m - b.m) * (a.m - b.m)) AS d2
      |  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
      |  WHERE a.half = 1 AND b.half = 0
      |  GROUP BY a.label)
      |SELECT label, n_even, n_odd,
      |  ROUND(dotab / (SQRT(dota) * SQRT(dotb)), 6) AS centroid_cos,
      |  ROUND(SQRT(d2), 6) AS centroid_l2
      |FROM p ORDER BY label""".stripMargin

  // ---- q133 MinHash estimator accuracy audit --------------------------------

  /** Sketch-accuracy measurement for the MinHash Jaccard estimator: on a
    * deterministic 25% document sample, compare the 16-permutation portable
    * MinHash estimate (fraction of agreeing signature minima) against the
    * exact bigram-shingle Jaccard for every overlapping pair, bucketed by exact
    * Jaccard decile. This is the calibration table a 100-TB dedup run reads
    * before picking its LSH threshold — the expected |estimate − truth| per
    * similarity band. Signatures are row-local (16 md5 minima per doc over
    * the distinct-shingle explode); pairs come from the same inverted-index
    * join as the exact-Jaccard oracles, restricted to the sample, so both
    * engines enumerate the identical pair universe (pairs sharing ≥ 1
    * shingle).
    */
  def q133MinhashAccuracy(spark: SparkSession, sfDir: String): DataFrame = {
    val nPerms = 16
    val sample = cached(spark, sfDir, "q133_sample_shingles")(
      docs(spark, sfDir).filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(lower(col("text")), 2)).as("s"))
        .filter(size(col("s")) > 0))
    // 16 portable minima per doc: explode distinct shingles once, hash per
    // permutation via md5(i ':' shingle) — the oracle replays bit-for-bit.
    val minAggs = (0 until nPerms).map(i =>
      min(conv(substring(md5(concat(lit(s"$i:"), col("g")).cast("binary")),
        1, 15), 16, 10).cast("long")).as(s"m$i"))
    val sigs = cached(spark, sfDir, "q133_sigs")(
      sample.select(col("doc_id"), explode(col("s")).as("g"))
        .groupBy("doc_id")
        .agg(minAggs.head, minAggs.tail: _*))
    // the exact-Jaccard pair universe is itself a reusable calibration
    // artifact (sample-bounded): cache it like the signature frames so the
    // inverted-index join runs once per (session, sf)
    val pairs = cached(spark, sfDir, "q133_pairs") {
      val ex = sample.select(col("doc_id"), size(col("s")).as("sz"),
        explode(col("s")).as("g"))
      ex.as("x").join(ex.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
        .agg(count(lit(1)).as("inter"), first(col("x.sz")).as("sz1"),
          first(col("y.sz")).as("sz2"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")))
    }
    val s1 = sigs.toDF("doc_id" +: (0 until nPerms).map(i => s"a$i"): _*)
    val s2 = sigs.toDF("doc_id" +: (0 until nPerms).map(i => s"b$i"): _*)
    val est = (0 until nPerms).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1.0).otherwise(0.0))
      .reduce(_ + _) / nPerms
    pairs
      .join(s1.withColumnRenamed("doc_id", "id1"), Seq("id1"))
      .join(s2.withColumnRenamed("doc_id", "id2"), Seq("id2"))
      .withColumn("est", est)
      .groupBy(least(floor(col("jaccard") * 10), lit(9L)).as("j_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"),
        round(avg(col("est")), 6).as("mean_estimate"),
        round(avg(abs(col("est") - col("jaccard"))), 6).as("mean_abs_err"),
        round(max(abs(col("est") - col("jaccard"))), 6).as("max_abs_err"))
      .orderBy("j_decile")
  }

  val q133Sql: String = {
    val nPerms = 16
    val mins = (0 until nPerms).map(i =>
      s"MIN(CAST('0x' || substr(md5('$i:' || g), 1, 15) AS BIGINT)) AS m$i")
      .mkString(", ")
    val agree = (0 until nPerms).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1.0 ELSE 0.0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 4 = 0),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
       |    ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END) AS s
       |  FROM toks),
       |nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM nz),
       |sig AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS id1, y.doc_id AS id2, COUNT(*) AS inter,
       |    any_value(x.sz) AS sz1, any_value(y.sz) AS sz2
       |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT id1, id2,
       |    CAST(inter AS DOUBLE) / (sz1 + sz2 - inter) AS jaccard
       |  FROM pairs),
       |e AS (
       |  SELECT j.jaccard, ($agree) / $nPerms AS est
       |  FROM j JOIN sig a ON a.doc_id = j.id1 JOIN sig b ON b.doc_id = j.id2)
       |SELECT CAST(LEAST(FLOOR(jaccard * 10), 9) AS BIGINT) AS j_decile,
       |  COUNT(*) AS n_pairs,
       |  ROUND(AVG(jaccard), 6) AS mean_jaccard,
       |  ROUND(AVG(est), 6) AS mean_estimate,
       |  ROUND(AVG(ABS(est - jaccard)), 6) AS mean_abs_err,
       |  ROUND(MAX(ABS(est - jaccard)), 6) AS max_abs_err
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q134 Welch's t-test A/B audit ----------------------------------------

  /** Welch's unequal-variance t-test between two deterministic user cohorts
    * (even vs odd user_id) on event value, per event type: cohort means,
    * sample variances, the t statistic, and the Welch–Satterthwaite degrees
    * of freedom. The standard A/B significance readout — and on a hashed
    * 50/50 split of untreated users it doubles as an A/A sanity check (|t|
    * should be small). One grouped aggregation; every statistic is a
    * conditional sum, so the whole test is a single map-side-combined pass
    * at any event volume.
    */
  def q134WelchAb(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir).withColumn("cohort",
      (col("user_id") % 2 === 0).cast("int"))
    e.groupBy("event_type").agg(
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_b"),
        avg(when(col("cohort") === 1, col("value"))).as("__ma"),
        avg(when(col("cohort") === 0, col("value"))).as("__mb"),
        var_samp(when(col("cohort") === 1, col("value"))).as("__va"),
        var_samp(when(col("cohort") === 0, col("value"))).as("__vb"))
      .withColumn("se2",
        col("__va") / col("n_a") + col("__vb") / col("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("__ma"), 6).as("mean_a"),
        round(col("__mb"), 6).as("mean_b"),
        round((col("__ma") - col("__mb")) / sqrt(col("se2")), 4).as("t_stat"),
        round(pow(col("se2"), 2) / (
          pow(col("__va") / col("n_a"), 2) / (col("n_a") - 1) +
          pow(col("__vb") / col("n_b"), 2) / (col("n_b") - 1)), 2).as("welch_df"))
      .orderBy("event_type")
  }

  val q134Sql: String =
    """WITH c AS (
      |  SELECT event_type, value,
      |    CAST(user_id % 2 = 0 AS INT) AS cohort
      |  FROM events),
      |s AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    AVG(CASE WHEN cohort = 1 THEN value END) AS ma,
      |    AVG(CASE WHEN cohort = 0 THEN value END) AS mb,
      |    VAR_SAMP(CASE WHEN cohort = 1 THEN value END) AS va,
      |    VAR_SAMP(CASE WHEN cohort = 0 THEN value END) AS vb
      |  FROM c GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
      |  ROUND((ma - mb) / SQRT(va / n_a + vb / n_b), 4) AS t_stat,
      |  ROUND(POWER(va / n_a + vb / n_b, 2) /
      |    (POWER(va / n_a, 2) / (n_a - 1) + POWER(vb / n_b, 2) / (n_b - 1)), 2)
      |    AS welch_df
      |FROM s ORDER BY event_type""".stripMargin

  // ---- q135 trimmed-mean robust A/B -----------------------------------------

  /** Robust (10%-trimmed) A/B comparison per event type — the
    * outlier-resistant companion to q134: per cohort, the mean of values
    * inside that cohort's [p10, p90] band, the trimmed-mean lift, and how
    * many observations each side trimmed. Heavy-tailed metrics (revenue)
    * flip plain-mean A/B signs on a handful of whales; the trimmed contrast
    * is the standard first defense. Quantile bounds come from one
    * `percentile` pass per (type, cohort) — both engines interpolate
    * `(n−1)·p` linearly, so the band edges (and thus the filter set) match
    * bit-for-bit — then one conditional aggregation.
    */
  def q135TrimmedAb(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir).withColumn("cohort",
      (col("user_id") % 2 === 0).cast("int"))
    // Band edges via explicit rank interpolation (k = p·(n−1), i = ⌊k⌋,
    // v[i+1]·(1−f) + v[i+2]·f) instead of the built-in percentile:
    // Spark's `percentile` and DuckDB's `quantile_cont` interpolate with
    // differently-associated float expressions, and a 1-ulp edge difference
    // flips membership for rows sitting exactly on the cut (observed at
    // sf0.1). Writing the arithmetic out pins both engines to the identical
    // IEEE operation sequence; the two nonzero terms meet in a commutative
    // two-addend sum, so accumulation order cannot perturb it either.
    val ranked = e
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "cohort").orderBy("value")))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type", "cohort")))
    def edge(p: Double): Column = {
      val k = (col("n") - 1).cast("double") * p
      val i = floor(k)
      val f = k - i
      sum(when(col("rn") === i + 1, col("value") * (lit(1.0) - f))
        .when(col("rn") === i + 2, col("value") * f)
        .otherwise(lit(0.0)))
    }
    val bounds = ranked.groupBy("event_type", "cohort").agg(
      edge(0.1).as("lo"), edge(0.9).as("hi"))
    val t = e.join(bounds, Seq("event_type", "cohort"))
      .withColumn("inband", col("value") >= col("lo") && col("value") <= col("hi"))
    t.groupBy("event_type").agg(
        sum(when(col("cohort") === 1 && col("inband"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0 && col("inband"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1 && !col("inband"), 1L).otherwise(0L)).as("trimmed_a"),
        sum(when(col("cohort") === 0 && !col("inband"), 1L).otherwise(0L)).as("trimmed_b"),
        round(avg(when(col("cohort") === 1 && col("inband"), col("value"))), 6).as("tmean_a"),
        round(avg(when(col("cohort") === 0 && col("inband"), col("value"))), 6).as("tmean_b"))
      .withColumn("lift", round(col("tmean_a") - col("tmean_b"), 6))
      .orderBy("event_type")
  }

  val q135Sql: String =
    """WITH c AS (
      |  SELECT event_type, value, CAST(user_id % 2 = 0 AS INT) AS cohort
      |  FROM events),
      |r AS (
      |  SELECT event_type, cohort, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, cohort ORDER BY value)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type, cohort) AS n
      |  FROM c),
      |b AS (
      |  SELECT event_type, cohort,
      |    SUM(CASE
      |      WHEN rn = FLOOR(CAST(n - 1 AS DOUBLE) * 0.1) + 1
      |        THEN value * (1.0 - (CAST(n - 1 AS DOUBLE) * 0.1
      |          - FLOOR(CAST(n - 1 AS DOUBLE) * 0.1)))
      |      WHEN rn = FLOOR(CAST(n - 1 AS DOUBLE) * 0.1) + 2
      |        THEN value * (CAST(n - 1 AS DOUBLE) * 0.1
      |          - FLOOR(CAST(n - 1 AS DOUBLE) * 0.1))
      |      ELSE 0.0 END) AS lo,
      |    SUM(CASE
      |      WHEN rn = FLOOR(CAST(n - 1 AS DOUBLE) * 0.9) + 1
      |        THEN value * (1.0 - (CAST(n - 1 AS DOUBLE) * 0.9
      |          - FLOOR(CAST(n - 1 AS DOUBLE) * 0.9)))
      |      WHEN rn = FLOOR(CAST(n - 1 AS DOUBLE) * 0.9) + 2
      |        THEN value * (CAST(n - 1 AS DOUBLE) * 0.9
      |          - FLOOR(CAST(n - 1 AS DOUBLE) * 0.9))
      |      ELSE 0.0 END) AS hi
      |  FROM r GROUP BY 1, 2),
      |t AS (
      |  SELECT c.event_type, c.cohort, c.value,
      |    c.value >= b.lo AND c.value <= b.hi AS inband
      |  FROM c JOIN b ON c.event_type = b.event_type AND c.cohort = b.cohort),
      |s AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN cohort = 1 AND inband THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN cohort = 0 AND inband THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN cohort = 1 AND NOT inband THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_a,
      |    CAST(SUM(CASE WHEN cohort = 0 AND NOT inband THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_b,
      |    ROUND(AVG(CASE WHEN cohort = 1 AND inband THEN value END), 6) AS tmean_a,
      |    ROUND(AVG(CASE WHEN cohort = 0 AND inband THEN value END), 6) AS tmean_b
      |  FROM t GROUP BY 1)
      |SELECT event_type, n_a, n_b, trimmed_a, trimmed_b, tmean_a, tmean_b,
      |  ROUND(tmean_a - tmean_b, 6) AS lift
      |FROM s ORDER BY event_type""".stripMargin

  // ---- q136 cross-modal alignment audit -------------------------------------

  /** Text↔embedding cross-modal alignment: documents joined to their
    * embedding rows (doc_id = vec_id), per embedding label: coverage, mean
    * text quality, mean token count, and the dominant language with its
    * share. The sanity panel before any joint text/embedding training run —
    * a label whose dominant-language share is ~1/|langs| embeds noise, one
    * whose mean quality sags pollutes its cluster. One broadcast-joined
    * pass + a first-appearance-stable argmax via window rank.
    */
  def q136ModalAlignment(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = cached(spark, sfDir, "q136_joined")(
      docQuality(spark, sfDir).join(
        emb(spark, sfDir).select(col("vec_id").as("doc_id"), col("label")),
        Seq("doc_id")))
    val byLabel = joined.groupBy("label").agg(
      count(lit(1)).as("n_docs"),
      round(avg(col("q")), 6).as("mean_quality"),
      round(avg(col("tokens")), 6).as("mean_tokens"))
    val langCounts = joined.groupBy("label", "lang")
      .agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy(col("lc").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("label"), col("lang").as("top_lang"), col("lc"))
    byLabel.join(langCounts, Seq("label"))
      .withColumn("top_lang_share",
        round(col("lc").cast("double") / col("n_docs"), 6))
      .drop("lc")
      .orderBy("label")
  }

  /** DuckDB replica of [[graft.ext.TextStats.qualityScore]] over documents —
    * the same formula the q39 oracle uses (length, word-length band,
    * punctuation ratio), rounded to 3 like `docQuality`.
    */
  private val docQualitySqlCte: String =
    """dq AS (
      |  SELECT doc_id, source, lang,
      |    ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
      |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
      |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) AS q,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS tokens
      |  FROM documents)""".stripMargin

  val q136Sql: String =
    s"""WITH $docQualitySqlCte,
      |j AS (
      |  SELECT e.label, dq.lang, dq.tokens, dq.q, dq.doc_id
      |  FROM dq JOIN embeddings e ON dq.doc_id = e.vec_id),
      |bl AS (
      |  SELECT label, COUNT(*) AS n_docs,
      |    ROUND(AVG(q), 6) AS mean_quality,
      |    ROUND(AVG(tokens), 6) AS mean_tokens
      |  FROM j GROUP BY 1),
      |lc AS (
      |  SELECT label, lang, COUNT(*) AS lc,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY COUNT(*) DESC, lang)
      |      AS rn
      |  FROM j GROUP BY 1, 2)
      |SELECT bl.label, bl.n_docs, bl.mean_quality, bl.mean_tokens,
      |  lc.lang AS top_lang,
      |  ROUND(CAST(lc.lc AS DOUBLE) / bl.n_docs, 6) AS top_lang_share
      |FROM bl JOIN lc ON bl.label = lc.label AND lc.rn = 1
      |ORDER BY bl.label""".stripMargin

  // ---- q137 quality-threshold filter sweep ----------------------------------

  /** Filter-threshold sweep — the tuning curve read before fixing a quality
    * cutoff: for each threshold t ∈ {0.0,0.1,…,0.9}, the documents and
    * tokens surviving `q ≥ t` and the surviving token fraction. Computed as
    * a quality-decile histogram plus one suffix cumsum over ≤10 rows — the
    * whole sweep costs one keyed aggregation regardless of corpus size,
    * instead of ten filtered re-scans.
    */
  def q137FilterSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
      // decile floor: q ∈ [0,1], clamp 1.0 into the 0.9 bucket
      .withColumn("bucket", least(floor(col("q") * 10), lit(9L)))
    val hist = d.groupBy("bucket").agg(
      count(lit(1)).as("bn"), sum(col("tokens")).as("bt"))
    val total = d.agg(sum(col("tokens")).as("all_tokens"))
    // suffix cumsum over ≤10 decile rows: docs/tokens surviving q ≥ bucket/10
    hist.crossJoin(total)
      .withColumn("surviving_docs", sum(col("bn")).over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("surviving_tokens", sum(col("bt")).over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(
        round(col("bucket").cast("double") / 10, 1).as("threshold"),
        col("surviving_docs"), col("surviving_tokens"),
        round(col("surviving_tokens").cast("double") / col("all_tokens"), 6)
          .as("token_fraction"))
      .orderBy("threshold")
  }

  val q137Sql: String =
    s"""WITH $docQualitySqlCte,
      |b AS (
      |  SELECT LEAST(FLOOR(q * 10), 9) AS bucket, COUNT(*) AS bn,
      |    SUM(tokens) AS bt
      |  FROM dq GROUP BY 1),
      |tot AS (SELECT SUM(tokens) AS all_tokens FROM dq),
      |acc AS (
      |  SELECT bucket,
      |    SUM(bn) OVER (ORDER BY bucket DESC) AS surviving_docs,
      |    SUM(bt) OVER (ORDER BY bucket DESC) AS surviving_tokens
      |  FROM b)
      |SELECT ROUND(bucket / 10.0, 1) AS threshold,
      |  CAST(surviving_docs AS BIGINT) AS surviving_docs,
      |  CAST(surviving_tokens AS BIGINT) AS surviving_tokens,
      |  ROUND(CAST(surviving_tokens AS DOUBLE) / tot.all_tokens, 6)
      |    AS token_fraction
      |FROM acc CROSS JOIN tot ORDER BY threshold""".stripMargin

  // ---- q138 chi-square independence lang × source ---------------------------

  /** Chi-square test of independence between language and source — "is the
    * language mix the same across sources?", the first contingency check on
    * any multi-source multilingual corpus. Expected counts from the margin
    * products, χ² accumulated in (lang, source) cell order via an ordered
    * running window (the q111/q112 technique) so the float sum is
    * bit-identical across engines, plus degrees of freedom and the
    * Cramér's V effect size. O(|langs|·|sources|) after one keyed count.
    */
  def q138Chi2Independence(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = docs(spark, sfDir).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val langM = cells.groupBy("lang").agg(sum(col("o")).as("ml"))
    val srcM = cells.groupBy("source").agg(sum(col("o")).as("ms"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("lang")).as("nl"),
      count_distinct(col("source")).as("ns"))
    // complete grid (zero cells contribute E, not 0) — margins × margins
    val grid = langM.crossJoin(srcM)
      .join(cells, Seq("lang", "source"), "left").na.fill(0L, Seq("o"))
      .crossJoin(tot)
      .withColumn("e", col("ml").cast("double") * col("ms") / col("n"))
      .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
    // ordered accumulation: one running sum in (lang, source) order, take last
    val chi2 = grid
      .withColumn("cum", sum(col("term")).over(
        Window.orderBy("lang", "source")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("lang").desc, col("source").desc)))
      .filter(col("rn") === 1)
    chi2.select(
      col("n").as("n_docs"),
      ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
      round(col("cum"), 6).as("chi2"),
      round(sqrt(col("cum") / (col("n") *
        least(col("nl") - 1, col("ns") - 1))), 6).as("cramers_v"))
  }

  val q138Sql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |lm AS (SELECT lang, SUM(o) AS ml FROM cells GROUP BY 1),
      |sm AS (SELECT source, SUM(o) AS ms FROM cells GROUP BY 1),
      |tot AS (
      |  SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS nl,
      |    COUNT(DISTINCT source) AS ns
      |  FROM cells),
      |grid AS (
      |  SELECT lm.lang, sm.source, lm.ml, sm.ms, COALESCE(c.o, 0) AS o
      |  FROM lm CROSS JOIN sm
      |  LEFT JOIN cells c ON c.lang = lm.lang AND c.source = sm.source),
      |terms AS (
      |  SELECT g.lang, g.source,
      |    POWER(g.o - CAST(g.ml AS DOUBLE) * g.ms / t.n, 2)
      |      / (CAST(g.ml AS DOUBLE) * g.ms / t.n) AS term
      |  FROM grid g CROSS JOIN tot t),
      |acc AS (
      |  SELECT SUM(term) OVER (ORDER BY lang, source) AS cum,
      |    ROW_NUMBER() OVER (ORDER BY lang DESC, source DESC) AS rn
      |  FROM terms)
      |SELECT CAST(t.n AS BIGINT) AS n_docs,
      |  CAST((t.nl - 1) * (t.ns - 1) AS BIGINT) AS dof,
      |  ROUND(a.cum, 6) AS chi2,
      |  ROUND(SQRT(a.cum / (t.n * LEAST(t.nl - 1, t.ns - 1))), 6) AS cramers_v
      |FROM acc a CROSS JOIN tot t WHERE a.rn = 1""".stripMargin

  // ---- q139 Wilson conversion intervals -------------------------------------

  /** Per-source purchase-conversion rate with the Wilson 95% score interval
    * — the proportion CI that stays inside [0,1] at small n, which is what
    * you publish on a dashboard instead of the naive Wald interval. A user
    * counts as converted if they have ≥1 purchase event; the proportion is
    * over distinct active users per event-source bucket (user_id % 20 → a
    * deterministic traffic-split stand-in). Closed-form arithmetic over one
    * distinct-user aggregation.
    */
  def q139WilsonCi(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 1.959963984540054 // Φ⁻¹(0.975)
    val users = events(spark, sfDir)
      .withColumn("bucket", col("user_id") % 20)
      .groupBy("bucket", "user_id").agg(
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("converted"))
    users.groupBy("bucket").agg(
        count(lit(1)).as("n_users"),
        sum(col("converted")).cast("long").as("n_converted"))
      .withColumn("p", col("n_converted").cast("double") / col("n_users"))
      .withColumn("den", lit(1.0) + lit(z * z) / col("n_users"))
      .withColumn("center",
        (col("p") + lit(z * z) / (col("n_users") * 2)) / col("den"))
      .withColumn("margin",
        lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n_users") +
          lit(z * z) / (lit(4.0) * col("n_users") * col("n_users"))) / col("den"))
      .select(col("bucket"), col("n_users"), col("n_converted"),
        round(col("p"), 6).as("conversion"),
        round(col("center") - col("margin"), 6).as("wilson_lo"),
        round(col("center") + col("margin"), 6).as("wilson_hi"))
      .orderBy("bucket")
  }

  val q139Sql: String =
    """WITH u AS (
      |  SELECT user_id % 20 AS bucket, user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT bucket, COUNT(*) AS n_users,
      |    CAST(SUM(converted) AS BIGINT) AS n_converted
      |  FROM u GROUP BY 1),
      |w AS (
      |  SELECT bucket, n_users, n_converted,
      |    CAST(n_converted AS DOUBLE) / n_users AS p,
      |    1.959963984540054 AS z
      |  FROM s)
      |SELECT bucket, n_users, n_converted,
      |  ROUND(p, 6) AS conversion,
      |  ROUND((p + z*z / (n_users * 2)) / (1.0 + z*z / n_users)
      |    - z * SQRT(p * (1.0 - p) / n_users + z*z / (4.0 * n_users * n_users))
      |      / (1.0 + z*z / n_users), 6) AS wilson_lo,
      |  ROUND((p + z*z / (n_users * 2)) / (1.0 + z*z / n_users)
      |    + z * SQRT(p * (1.0 - p) / n_users + z*z / (4.0 * n_users * n_users))
      |      / (1.0 + z*z / n_users), 6) AS wilson_hi
      |FROM w ORDER BY bucket""".stripMargin

  // ---- q140 pivoted daily activity matrix -----------------------------------

  /** Daily activity matrix via relational pivot: one row per day, one count
    * column per event type — the wide layout dashboards and downstream
    * spreadsheet-ish consumers ask for. Uses `groupBy().pivot()` with an
    * explicit value list, which keeps the plan a single aggregation (Spark
    * skips the extra distinct-values job and the column set is fixed at
    * plan time — the scalable form; an open-ended pivot would scan twice
    * and produce a data-dependent schema). The oracle is the classic
    * conditional-aggregation spelling.
    */
  def q140PivotDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(spark, sfDir)
      .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .groupBy("day").pivot("event_type", types).count()
      .na.fill(0L, types)
      .orderBy("day")
  }

  val q140Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q141 interval RANGE-frame trailing window ----------------------------

  /** Trailing 7-day activity via a RANGE window frame over integer epoch
    * days — the frame variant q28's rolling Sharpe (ROWS frame) cannot
    * express: with gaps in the daily series, `ROWS 6 PRECEDING` spans more
    * than a week while `RANGE 6 PRECEDING` is calendar-correct without
    * densifying the series first. Integer day arithmetic keeps the frame
    * bound exact in both engines; the input is the daily aggregate, so the
    * window runs over O(days·types) rows partitioned by type.
    */
  def q141RangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("epoch_day")
      .rangeBetween(-6, 0)
    daily
      .withColumn("trail7_events", sum(col("x")).over(w))
      .withColumn("trail7_days", count(lit(1)).over(w))
      .select(col("event_type"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          col("epoch_day").cast("int")), "yyyy-MM-dd").as("day"),
        col("x").as("n_events"), col("trail7_events"), col("trail7_days"),
        round(col("trail7_events").cast("double") / col("trail7_days"), 6)
          .as("trail7_daily_avg"))
      .orderBy("event_type", "day")
  }

  val q141Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
      |    COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, epoch_day, x,
      |    SUM(x) OVER (PARTITION BY event_type ORDER BY epoch_day
      |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS trail7_events,
      |    COUNT(*) OVER (PARTITION BY event_type ORDER BY epoch_day
      |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS trail7_days
      |  FROM daily)
      |SELECT event_type,
      |  CAST(DATE '1970-01-01' + CAST(epoch_day AS INT) AS VARCHAR) AS day,
      |  CAST(x AS BIGINT) AS n_events,
      |  CAST(trail7_events AS BIGINT) AS trail7_events,
      |  CAST(trail7_days AS BIGINT) AS trail7_days,
      |  ROUND(CAST(trail7_events AS DOUBLE) / trail7_days, 6)
      |    AS trail7_daily_avg
      |FROM w ORDER BY event_type, day""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q127_gopher_rules", q127GopherRules, q127Sql),
    QuerySpec("q128_ks_drift", q128KsDrift, q128Sql),
    QuerySpec("q129_vocab_growth", q129VocabGrowth, q129Sql),
    QuerySpec("q130_cusum_changepoint", q130CusumChangepoint, q130Sql),
    QuerySpec("q131_padding_efficiency", q131PaddingEfficiency, q131Sql),
    QuerySpec("q132_centroid_drift", q132CentroidDrift, q132Sql),
    QuerySpec("q133_minhash_accuracy", q133MinhashAccuracy, q133Sql),
    QuerySpec("q134_welch_ab", q134WelchAb, q134Sql),
    QuerySpec("q135_trimmed_ab", q135TrimmedAb, q135Sql),
    QuerySpec("q136_modal_alignment", q136ModalAlignment, q136Sql),
    QuerySpec("q137_filter_sweep", q137FilterSweep, q137Sql),
    QuerySpec("q138_chi2_independence", q138Chi2Independence, q138Sql),
    QuerySpec("q139_wilson_ci", q139WilsonCi, q139Sql),
    QuerySpec("q140_pivot_daily", q140PivotDaily, q140Sql),
    QuerySpec("q141_range_window", q141RangeWindow, q141Sql))
}
