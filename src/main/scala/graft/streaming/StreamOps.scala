package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Exprs

/** Structured Streaming operators over the `events` schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform takes a (possibly streaming) DataFrame from `readStream`
  * and returns the windowed/stateful aggregation; callers attach
  * `writeStream`. Watermarks bound state: late rows beyond the watermark are
  * dropped, which is what makes these plans runnable over unbounded 100-TB/day
  * feeds with finite executor state.
  */
object StreamOps {

  /** Backward as-of alignment of a stream against a STATIC, slowly-changing
    * snapshot table — the stream-static twin of
    * [[graft.core.AsOfJoin.backward]] (reference semantics: join_asof,
    * alphastats/stats.py:444-449). The static side is compiled once into
    * validity intervals `[ts, next_ts)` via a lead window (partitioned by
    * `keys` when given; a snapshot table is bounded — one row per
    * (key, change), not per event), and each streaming row LEFT-joins the
    * unique interval containing its event time. The join is STATELESS
    * (stream-static joins keep no watermark state, so this runs over an
    * unbounded feed with zero state store) and exact: a row at exactly a
    * snapshot timestamp matches that snapshot, like the batch operator.
    * Output = all stream columns + `asof_ts` (the matched snapshot time,
    * null before the first snapshot) + the snapshot `valueCols`.
    */
  def asOfJoinStatic(stream: DataFrame, static: DataFrame, streamTs: String,
      staticTs: String, valueCols: Seq[String],
      keys: Seq[String] = Nil): DataFrame = {
    // the final select emits every stream column PLUS asof_ts + valueCols;
    // a name collision would produce a frame with duplicate column names
    // (downstream col("asof_ts") becomes AMBIGUOUS_REFERENCE) — fail loudly
    // here instead
    val clash = ("asof_ts" +: valueCols).toSet.intersect(stream.columns.toSet)
    require(clash.isEmpty,
      s"asOfJoinStatic output columns collide with stream columns: " +
        s"${clash.mkString(", ")} — rename the stream side or the valueCols")
    // tie order mirrors AsOfJoin.backward's documented contract for
    // DUPLICATE snapshot timestamps on one key: order by (__bd, valueCols)
    // so the greatest value tuple sorts last, gets the real next-ts
    // interval, and deterministically wins; earlier duplicates receive the
    // empty [ts, ts) interval and never match.
    val tieOrder = col("__bd") +: valueCols.map(col)
    val w =
      if (keys.isEmpty)
        org.apache.spark.sql.expressions.Window.orderBy(tieOrder: _*)
      else org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(tieOrder: _*)
    val iv = static.select(
      (keys.map(col) :+ col(staticTs).as("__bd")) ++ valueCols.map(col): _*)
      .withColumn("__bd_end", lead(col("__bd"), 1).over(w))
    val base = stream(streamTs) >= iv("__bd") &&
      (iv("__bd_end").isNull || stream(streamTs) < iv("__bd_end"))
    val cond = keys.foldLeft(base)((c, k) => c && stream(k) === iv(k))
    stream.join(iv, cond, "left").select(
      stream.columns.toSeq.map(stream(_)) ++
        (iv("__bd").as("asof_ts") +: valueCols.map(iv(_))): _*)
  }

  /** Tumbling-window counts/sums per event type, watermarked. */
  def tumblingStats(events: DataFrame, window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"), col("total_value"))

  /** The incremental-maintenance monoid (q220's [[graft.ext.Incremental]])
    * as an update-mode stateful aggregation: per event type, the state
    * store holds exactly (count, exact micro-unit sum, min, max) and each
    * micro-batch folds its delta in — the streaming form of fold-the-CDC-
    * delta-into-the-stored-state. Because every component is a
    * commutative monoid over exact integers, the final state is
    * BIT-identical to `Incremental.state` over the union of all batches
    * regardless of batch boundaries (StreamingSpec pins equality).
    */
  def streamingMonoidState(events: DataFrame): DataFrame =
    events
      .withColumn("__micros", round(col("value") * 1e6, 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("__micros")).as("sum_micros"),
        min(col("__micros")).as("min_micros"), max(col("__micros")).as("max_micros"))

  /** Per-day KMV/bottom-k distinct sketches (q226's
    * [[graft.queries.Round14Queries]] family) as a streaming aggregation:
    * the state per day is the k smallest 48-bit user hashes, and because
    * a bounded k-minimum multiset is MERGE-ORDER-INVARIANT (like HLL's
    * register max and DDSketch's bucket sums), the streaming state-store
    * merges produce hash lists BIT-identical to a batch aggregation over
    * the same rows regardless of micro-batch boundaries (StreamingSpec
    * pins exact equality). PRECONDITION (as in the batch q226, which
    * deduplicates (day, user) first): feed each (day, user) at most once —
    * duplicate hashes would displace real distinct values from the
    * k-buffer; chain the existing streaming dedup upstream for at-least-
    * once sources. Downstream union/intersection estimation composes
    * row-locally on the emitted sketches.
    */
  def streamingKmvDaily(events: DataFrame, k: Int = 64): DataFrame = {
    val h = conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))
      .cast("binary")), 1, 12), 16, 10).cast("long")
    events
      .select(to_date(col("ts")).as("d"), h.as("h"))
      .groupBy("d")
      .agg(graft.functions.TopKAgg.topK(-col("h").cast("double"), col("h"), k)
        .as("tk"))
      .select(col("d"), transform(col("tk"), e => e.getField("id")).as("hs"))
  }

  /** Tumbling-window quantile estimates per event type from the DDSketch
    * aggregator ([[graft.functions.DDSketchAgg]]) — bounded state per
    * (type, window): O(log value-range) occupied buckets, never the value
    * multiset an exact percentile would buffer. Because DDSketch is
    * MERGE-ORDER-INVARIANT, the streaming state-store merges produce BIT-
    * IDENTICAL estimates to a batch aggregation over the same rows
    * (StreamingSpec pins exact equality) — a parity t-digest/GK could not
    * promise even in principle.
    */
  def streamingQuantileSketch(events: DataFrame, window: String = "1 hour",
      watermark: String = "10 minutes", alpha: Double = 0.01,
      qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    val sk = udaf(new graft.functions.DDSketchAgg.Quantiles(alpha, qs),
      org.apache.spark.sql.Encoders.scalaDouble)
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sk(col("value")).as("dd"))
      .select((Seq(col("window.start").as("window_start"), col("event_type"),
        col("n")) ++ qs.indices.map(i =>
          element_at(col("dd"), i + 1).as(s"est_q$i"))): _*)
  }

  /** Daily OHLC bars per event type — the streaming twin of the batch q106
    * resample. `min_by`/`max_by` are declarative aggregates with a merge
    * expression, so the stream keeps ONE `(value, ts)` witness pair per
    * (type, window) in state — state size is bars, never events — and late
    * rows inside the watermark still land on the correct open/close because
    * the merge compares event times, not arrival order.
    */
  def ohlcBars(events: DataFrame, window: String = "1 day",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("day"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))

  /** Sliding-window distinct-ish user activity (approx at stream scale). */
  def slidingUserActivity(events: DataFrame, window: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window, slide))
      .agg(approx_count_distinct("user_id").as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("approx_users"), col("n_events"))

  /** Running Welch's t-test monitor per event type — the streaming twin of
    * the batch q134 A/B audit ([[graft.queries.Round7Queries.q134WelchAb]]).
    * Cohort A = even user_id, matching the batch split. State is the six
    * sufficient statistics (n, Σx, Σx²) per cohort per event type —
    * O(types), never O(events) — so the monitor runs indefinitely in
    * update/complete mode without a watermark; the t statistic and
    * Welch–Satterthwaite df are recomputed declaratively from the merged
    * sums at every trigger. `var = (Σx² − (Σx)²/n)/(n−1)` is the mergeable
    * form of the batch `var_samp`.
    */
  def streamingAbMonitor(events: DataFrame): DataFrame = {
    val a = col("user_id") % 2 === 0
    val g = events.groupBy("event_type").agg(
      sum(when(a, 1L).otherwise(0L)).as("n_a"),
      sum(when(!a, 1L).otherwise(0L)).as("n_b"),
      sum(when(a, col("value"))).as("s_a"),
      sum(when(!a, col("value"))).as("s_b"),
      sum(when(a, col("value") * col("value"))).as("ss_a"),
      sum(when(!a, col("value") * col("value"))).as("ss_b"))
    val ma = col("s_a") / col("n_a")
    val mb = col("s_b") / col("n_b")
    val va = (col("ss_a") - col("s_a") * col("s_a") / col("n_a")) / (col("n_a") - 1)
    val vb = (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) / (col("n_b") - 1)
    val se2 = va / col("n_a") + vb / col("n_b")
    g.select(col("event_type"), col("n_a"), col("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      ((ma - mb) / sqrt(se2)).as("t_stat"),
      (se2 * se2 / (
        (va / col("n_a")) * (va / col("n_a")) / (col("n_a") - 1) +
        (vb / col("n_b")) * (vb / col("n_b")) / (col("n_b") - 1))).as("welch_df"))
  }

  /** Session windows via the built-in session_window (gap-based), the
    * streaming twin of [[graft.ext.Events.sessionize]].
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming session co-presence — the stream-stream twin of the batch
    * bucketed range join behind q85 ([[graft.ext.RangeJoin.overlapJoin]]).
    * Input is a stream of CLOSED session intervals `(user, start, end)`
    * (e.g. from [[sessionStats]]); output is every cross-user pair whose
    * intervals overlap, with the overlap length in seconds.
    *
    * Spark refuses stream-stream joins without an equality predicate — the
    * pure interval condition cannot run natively — and the SAME bucket
    * decomposition the batch path uses is what fixes it: each interval
    * replicates (statelessly, pre-join) to every `bucketWidth`-second
    * bucket it touches, the join becomes a bucket equi-join, the exact
    * overlap predicate rides along, and the overlap-start ownership rule
    * keeps each pair emitted exactly once. With session length capped at
    * `maxDuration`, overlap implies `|start1 − start2| <= maxDuration`;
    * that range on the two watermarked start columns is what lets the state
    * store evict rows older than watermark + range — finite state on an
    * unbounded feed.
    */
  def streamingCopresence(sessions: DataFrame, userCol: String = "user_id",
      startCol: String = "session_start", endCol: String = "session_end",
      bucketWidth: Long = 3600L, maxDuration: String = "2 hours",
      watermark: String = "10 minutes"): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be positive")
    def bucketOf(c: Column): Column =
      floor(c.cast("long") / bucketWidth).cast("long")
    def side(u: String, s: String, e: String, b: String): DataFrame =
      sessions.select(col(userCol).as(u), col(startCol).as(s),
          col(endCol).as(e))
        .withWatermark(s, watermark)
        .withColumn(b, explode(
          when(col(e) >= col(s), sequence(bucketOf(col(s)), bucketOf(col(e))))
            .otherwise(raise_error(concat(
              lit("streamingCopresence: interval end < start: "),
              col(s).cast("string"), lit(" > "), col(e).cast("string"))))))
    val l = side("u1", "s1", "e1", "__b1")
    val r = side("u2", "s2", "e2", "__b2")
    val range = expr(s"INTERVAL $maxDuration")
    l.join(r,
      col("__b1") === col("__b2") && col("u1") < col("u2") &&
        col("s1") >= col("s2") - range && col("s1") <= col("s2") + range &&
        col("s1") <= col("e2") && col("s2") <= col("e1") &&
        bucketOf(greatest(col("s1"), col("s2"))) === col("__b1"))
      .select(col("u1"), col("u2"),
        (least(col("e1"), col("e2")).cast("long") -
          greatest(col("s1"), col("s2")).cast("long")).as("overlap_len"))
  }

  /** Exactly-once-style stream dedup on event_id within the watermark. */
  def dedupeEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming approximate distinct count of `keyCol` per `groupCol`: the
    * portable HLL register table ([[graft.ext.Sketches.hllRegisters]]) run as
    * a streaming aggregation. The register merge is `max` — commutative,
    * associative, idempotent — so the state stays bounded at ≤ 2^p rows per
    * group no matter how long the stream runs, and the final registers are
    * IDENTICAL to a batch pass over the same rows (asserted in
    * StreamingSpec). Finish with [[graft.ext.Sketches.hllEstimate]] over the
    * sink table; emit with Complete/Update output mode.
    */
  def approxDistinctRegisters(events: DataFrame, keyCol: String,
      groupCol: String, p: Int = 9): DataFrame =
    graft.ext.Sketches.hllRegisters(events, keyCol, Seq(groupCol), p)

  /** Streaming count-min cells over a raw item stream: cell merge is `+`
    * (commutative, associative), so cross-batch state lands on exactly the
    * batch sketch over the same rows (asserted in StreamingSpec). State is
    * bounded at d×w rows regardless of stream length; Complete/Update
    * output mode. Probe the sink table with
    * [[graft.ext.Sketches.cmEstimate]].
    */
  def cmCellsStream(items: DataFrame, itemCol: String,
      d: Int = 4, w: Int = 64): DataFrame =
    graft.ext.Sketches.cmCells(
      items.withColumn("__one", lit(1L)), itemCol, "__one", d, w)

  /** Streaming shard-mixing cells: per-(shard, source) document counts as a
    * continuous aggregation (Complete/Update mode). Counts are the
    * commutative sufficient statistic of the shard-homogeneity audit, so
    * the cross-batch state equals the batch cell frame over the same rows
    * and the [[graft.ext.Splits.shardMixingChi2]] epilogue turns either
    * into the identical chi2 panel (asserted in StreamingSpec) — the
    * continuous-ingestion form of q148: as documents stream into output
    * shards, the mixing audit stays current without rescanning the corpus.
    * State is one counter per (shard, source) cell — marginal-sized.
    */
  def shardCellsStream(docs: DataFrame, shards: Int = 16,
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame =
    docs.select(graft.ext.Splits.shardId(col(idCol), shards).as("shard"),
        col(sourceCol).as("source"))
      .groupBy("shard", "source").agg(count(lit(1)).as("o"))

  /** Streaming language identification — the continuous-ingestion twin of
    * the q210/q211 batch classifier: every arriving document gets the
    * char-trigram Naive-Bayes prediction ([[graft.ext.LangId.predictCol]])
    * computed ROW-LOCALLY — the few-hundred-row profile rides the plan as
    * a literal map and the score sum folds over the trigram array, so the
    * operator is completely stateless (no watermark, no store, no
    * shuffle). Identical argmax semantics to the batch explode+join path;
    * StreamingSpec pins row-for-row parity.
    */
  def streamingLangId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.ext.LangId.predictCol(col(textCol)).as("lang_pred"))

  /** Streaming semantic decontamination — the continuous-ingestion guard of
    * the q142 batch audit: each arriving embedding's max cosine against the
    * benchmark set, computed ROW-LOCALLY against plan-literal normalized
    * benchmark vectors (codegen'd [[graft.functions.VectorExprs]] dots, a
    * `greatest` fold over the benchmark axis). Completely stateless — no
    * watermark, no store — because the benchmark side is fixed; this is the
    * same bounded-side contract as the batch broadcast nested-loop. Keep
    * the benchmark small (eval sets are); at thousands of benchmark rows
    * switch to the batch job's broadcast join instead of plan literals.
    */
  def semanticDecontamStream(vecs: DataFrame, bench: Seq[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", threshold: Double = 0.35): DataFrame = {
    require(bench.size >= 2, "benchmark must have at least 2 vectors")
    // zero-norm guard: an all-zero vector on either side yields NaN cosine,
    // which would silently poison the greatest-fold and the flagged verdict.
    // Degenerate BENCHMARK vectors fail loudly here (config error);
    // degenerate STREAM vectors get a null max-cosine (flagged stays false —
    // nothing to compare), mirroring the batch q142 guard.
    bench.zipWithIndex.foreach { case (b, i) =>
      require(b.exists(_ != 0.0), s"benchmark vector $i has zero norm")
    }
    val v = col(vecCol).cast("array<double>")
    val vn = sqrt(graft.ext.Similarity.norm2(v))
    val dots = bench.map { b =>
      val bn = math.sqrt(b.map(x => x * x).sum)
      graft.ext.Similarity.dot(v, typedLit(b.toSeq)) / (vn * lit(bn))
    }
    vecs.select(col(idCol), col(labelCol),
        when(vn > 0.0, greatest(dots: _*)).as("mc"))
      .withColumn("flagged", coalesce(col("mc") >= threshold, lit(false)))
  }

  /** Streaming running top-k per group: a truncated merge under the TOTAL
    * order (score desc, id asc — [[graft.functions.TopKAgg]]) is
    * commutative and associative, so the cross-batch state lands on
    * exactly the batch top-k over the same rows (asserted in
    * StreamingSpec) and stays bounded at k entries per group no matter
    * how long the stream runs. Complete/Update output mode. The same
    * shape is streaming weighted sampling: feed Efraimidis–Spirakis keys
    * as the score (the q81 construction) and the running state IS the
    * weighted sample of everything seen so far.
    */
  def topKStream(rows: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int = 5): DataFrame =
    rows.groupBy(col(groupCol))
      .agg(graft.functions.TopKAgg.topK(col(scoreCol), col(idCol), k).as("tk"))

  /** Stream-static enrichment: broadcast-join a small static dimension onto
    * the stream (the standard lookup/enrichment pattern — the static side
    * re-reads per micro-batch, no stream state), then a watermarked tumbling
    * aggregation of the enriched values. Dimension rows absent for an
    * event_type drop the event (inner join) — quarantine-style filtering of
    * unknown types.
    */
  def enrichedTumblingStats(events: DataFrame, dim: DataFrame,
      window: String = "1 hour", watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value") * col("weight")).as("weighted_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("weighted_value"))

  /** Stream-STREAM interval join: qualifying (purchase, click) pairs where
    * the click happened within `windowSeconds` at or before the purchase,
    * per user. Both sides carry watermarks and the time-range predicate is
    * bounded on both ends, so Spark derives a state-eviction bound for each
    * side (unbounded join state is the stream-stream failure mode at scale;
    * this shape keeps state ∝ watermark × rate). Emits ALL qualifying pairs;
    * latest-click selection is a downstream aggregation
    * ([[graft.ext.Events.lastClickAttribution]] is the batch twin — the
    * parity test compares pair sets).
    */
  def streamAttributionPairs(clicks: DataFrame, purchases: DataFrame,
      windowSeconds: Long = 1800, watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val p = purchases.select(col("event_id").as("p_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    p.join(c, expr(
      s"""p_user = c_user AND
         |c_ts <= p_ts AND
         |c_ts >= p_ts - INTERVAL $windowSeconds SECONDS""".stripMargin))
      .select(col("p_id"), col("p_user").as("user_id"), col("p_ts"),
        col("c_ts"), col("value"))
  }

  // ---- custom state: per-user running counters via flatMapGroupsWithState --

  case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserState(nEvents: Long, totalValue: Double, lastTs: Long)
  case class UserSnapshot(user_id: Long, n_events: Long, total_value: Double)

  // ---- streaming near-duplicate suppression --------------------------------

  case class DocSig(doc_id: Long, ts: Timestamp, simhash: Long, band: Int, key: Long)
  case class BucketState(seen: List[(Long, Long)]) // (doc_id, simhash), newest first
  case class DupHit(doc_id: Long, dup_of: Long, hamming: Int)

  /** Streaming near-duplicate detection over an unbounded document feed —
    * what a crawl-ingest pipeline runs BEFORE paying for downstream
    * processing. Each doc's 64-bit SimHash (row-local column, streaming-safe)
    * is split into `bands` 16-bit band keys; per (band, key) bucket a
    * flatMapGroupsWithState keeps the last `bucketCap` (doc_id, simhash)
    * pairs and emits a [[DupHit]] for every stored doc within `maxHamming`.
    *
    * Exactness: for maxHamming ≤ bands−1, a pair within the threshold must
    * share ≥ 1 band (pigeonhole), so — while no bucket overflows its cap —
    * the DISTINCT (doc_id, dup_of) hits equal the batch
    * [[graft.ext.Dedup.simhashNearDuplicates]] pair set (a pair colliding in
    * several bands emits once per shared band; callers dedup). The cap
    * bounds executor state on degenerate feeds, trading recall only on
    * near-constant content — the same trade `lshCandidatePairs.maxBucket`
    * makes in batch.
    */
  def streamingNearDuplicates(docs: DataFrame, idCol: String = "doc_id",
      tsCol: String = "ts", textCol: String = "text", maxHamming: Int = 3,
      bands: Int = 4, bucketCap: Int = 64,
      portableHash: Boolean = false): Dataset[DupHit] = {
    import docs.sparkSession.implicits._
    require(maxHamming < bands, "exactness needs maxHamming <= bands - 1 (pigeonhole)")
    // portable = the 60-bit md5-derived signature family the batch oracle
    // gates (15-bit bands); default = the fast 64-bit xxhash one (16-bit)
    val bits = if (portableHash) 60 else 64
    val signature =
      if (portableHash) graft.ext.Dedup.simhashColPortable(col(textCol))
      else graft.ext.Dedup.simhashCol(col(textCol), 64)
    bandedDupHits(docs.select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
      signature.as("simhash")), bits, bands, maxHamming, bucketCap)
  }

  /** Streaming PERCEPTUAL near-duplicate suppression over a binary IMAGE
    * feed — the pixel twin of [[streamingNearDuplicates]]: each item is
    * ImageIO-decoded and aHashed partition-locally (a stateless `map`, legal
    * before the stateful op), then flows through the identical banded bucket
    * state over the 64-bit signature. Undecodable items are dropped (they
    * have no pixels to compare; a curation pipeline quarantines them in its
    * decode stage instead). Catches re-encoded/resized/tinted re-uploads a
    * byte-hash stream dedup never sees, across micro-batches.
    */
  def streamingImageNearDuplicates(items: DataFrame, idCol: String = "id",
      tsCol: String = "ts", mediaCol: String = "media", maxHamming: Int = 3,
      bands: Int = 4, bucketCap: Int = 64): Dataset[DupHit] = {
    import items.sparkSession.implicits._
    require(maxHamming < bands, "exactness needs maxHamming <= bands - 1 (pigeonhole)")
    val sigs = items
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"), col(mediaCol).as("media"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, t, bytes) =>
        graft.ext.Multimodal.perceptualHashOf(bytes).map(ph => (id, t, ph))
      })
      .toDF("doc_id", "ts", "simhash")
    bandedDupHits(sigs, bits = 64, bands, maxHamming, bucketCap)
  }

  /** Streaming AUDIO near-duplicate suppression — the fourth modality over
    * the shared banded engine: each payload's loudness-invariant 64-segment
    * energy signature ([[graft.ext.Multimodal.audioPerceptualHashOf]], a
    * stateless row-local decode) flows through the same banded bucket state
    * as the text/image/embedding signatures; undecodable payloads drop out
    * (the batch path's quarantine). Hit set equals the batch
    * [[graft.ext.Dedup.perceptualNearDuplicatePairs]] over the same
    * signatures for maxHamming < bands (pigeonhole).
    */
  def streamingAudioNearDuplicates(items: DataFrame, idCol: String = "id",
      tsCol: String = "ts", mediaCol: String = "media", maxHamming: Int = 3,
      bands: Int = 4, bucketCap: Int = 64): Dataset[DupHit] = {
    import items.sparkSession.implicits._
    require(maxHamming < bands, "exactness needs maxHamming <= bands - 1 (pigeonhole)")
    val sigs = items
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"), col(mediaCol).as("media"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, t, bytes) =>
        graft.ext.Multimodal.audioPerceptualHashOf(bytes).map(h => (id, t, h))
      })
      .toDF("doc_id", "ts", "simhash")
    bandedDupHits(sigs, bits = 64, bands, maxHamming, bucketCap)
  }

  /** Streaming SEMANTIC (embedding) near-duplicate suppression — the third
    * modality over the shared banded engine: each vector's
    * sign-random-projection signature ([[graft.ext.Similarity.srpBucket]],
    * deterministic hyperplanes, a stateless row-local projection) flows
    * through the banded bucket state; SRP-bit hamming is the
    * streaming-legal angular-distance proxy (state stores one long per
    * doc — raw vectors would put dims×8 bytes per doc in the store). For
    * maxHamming < bands the hit set equals the batch
    * [[graft.ext.Dedup.simhashNearDuplicatesFromHashes]] pairs over the
    * same signatures (pigeonhole, as ever). Size `bucketCap` well above the
    * expected bucket occupancy n / (bands · 2^(planes/bands)) — an
    * overflowing bucket evicts oldest entries and trades recall.
    */
  def streamingEmbeddingNearDuplicates(vectors: DataFrame,
      idCol: String = "vec_id", tsCol: String = "ts",
      vecCol: String = "embedding", dims: Int, planes: Int = 20,
      maxHamming: Int = 3, bands: Int = 4,
      bucketCap: Int = 256): Dataset[DupHit] = {
    require(planes % bands == 0, s"planes=$planes must divide into bands=$bands")
    val sig = graft.ext.Similarity.srpBucket(col(vecCol), dims, planes)
    bandedDupHits(vectors.select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
      sig.as("simhash")), bits = planes, bands, maxHamming, bucketCap)
  }

  /** Shared banded-bucket dup-hit state engine over (doc_id, ts, simhash)
    * rows — the signature family (text SimHash, portable SimHash, image
    * aHash, embedding SRP) is the caller's choice; the state shape and
    * exactness argument are identical.
    */
  private def bandedDupHits(docsSigs: DataFrame, bits: Int, bands: Int,
      maxHamming: Int, bucketCap: Int): Dataset[DupHit] = {
    import docsSigs.sparkSession.implicits._
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    val sigs = docsSigs
      .select(col("doc_id"), col("ts"), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .as[DocSig]
    sigs.groupByKey(s => (s.band, s.key))
      .flatMapGroupsWithState[BucketState, DupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[DocSig], state: GroupState[BucketState]) =>
          var seen = state.getOption.map(_.seen).getOrElse(Nil)
          val out = List.newBuilder[DupHit]
          // deterministic arrival order within a micro-batch
          rows.toSeq.sortBy(s => (s.ts.getTime, s.doc_id)).foreach { s =>
            seen.foreach { case (id, sh) =>
              val ham = java.lang.Long.bitCount(sh ^ s.simhash)
              if (ham <= maxHamming) out += DupHit(s.doc_id, id, ham)
            }
            seen = ((s.doc_id, s.simhash) :: seen).take(bucketCap)
          }
          state.update(BucketState(seen))
          out.result().iterator
      }
  }

  // ---- streaming curation (incremental q60 twin) ---------------------------

  case class CurDoc(doc_id: Long, ts: Timestamp, source: String, tokens: Long,
      q: Double, overlap: Long, dg: String)
  case class SeenState(seen: Boolean)
  case class CurFlag(doc_id: Long, source: String, tokens: Long, q: Double,
      overlap: Long, novel: Boolean)

  /** Streaming curation stage engine — the continuous-ingestion shape of the
    * batch pipeline behind q60. Row-local (stateless) projections compute
    * per doc: token count, quality score, and the contamination overlap
    * (distinct 3-shingle hashes intersected against the BROADCAST benchmark
    * span set — the static-side analog of the batch Bloom+join; identical
    * count because the batch side also counts a doc's distinct spans hitting
    * the benchmark's distinct set). The single stateful op is first-arrival
    * exact dedup keyed by content digest (`novel` = no earlier doc with the
    * same bytes, across and within micro-batches — arrival order ≡ the
    * batch min-doc-id rule for id-ordered feeds).
    *
    * State bound: EXACT global dedup needs one entry per distinct digest
    * ever seen, so unlike the watermarked/capped ops in this file the state
    * here grows with corpus cardinality (~48 B/digest in the store). A
    * production deployment bounds it by restarting per corpus epoch, or
    * trades exactness for a digest Bloom filter / state TTL — the same
    * trade [[graft.ext.Dedup.bloomContaminationReportFromSets]] makes in
    * batch.
    *
    * Compose with [[streamingNearDuplicates]] (portableHash=true for the
    * oracle-gated signature family) for the near-dup stage and a batch
    * [[graft.ext.Curation.selectByTokenBudget]] epilogue over the surviving
    * pool for the global-budget stage — global selection is inherently a
    * periodic batch decision over accumulated state, not a per-row one.
    * StreamingSpec asserts the composed staged counts equal the batch q60
    * panel row-for-row over a multi-batch feed.
    */
  def streamingCurationFlags(docs: DataFrame, benchSpans: Seq[Long],
      idCol: String = "doc_id", tsCol: String = "ts", textCol: String = "text",
      sourceCol: String = "source", shingleSize: Int = 3): Dataset[CurFlag] = {
    import docs.sparkSession.implicits._
    val sset = array_distinct(graft.ext.Dedup.shingleHashesFromTokenHashes(
      graft.ext.Dedup.tokenHashes(col(textCol)), shingleSize))
    val projected = docs.select(
      col(idCol).as("doc_id"), col(tsCol).as("ts"), col(sourceCol).as("source"),
      graft.ext.TextStats.tokenCountSimple(col(textCol)).cast("long").as("tokens"),
      round(graft.ext.TextStats.qualityScore(col(textCol)), 3).as("q"),
      size(array_intersect(sset, typedLit(benchSpans))).cast("long").as("overlap"),
      md5(col(textCol).cast("binary")).as("dg")).as[CurDoc]
    projected.groupByKey(_.dg)
      .flatMapGroupsWithState[SeenState, CurFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CurDoc], state: GroupState[SeenState]) =>
          var seen = state.getOption.exists(_.seen)
          // deterministic arrival order within a micro-batch
          val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
            val novel = !seen
            seen = true
            CurFlag(r.doc_id, r.source, r.tokens, r.q, r.overlap, novel)
          }
          state.update(SeenState(true))
          out.iterator
      }
  }

  // ---- streaming recency-decayed engagement ----------------------------------

  case class DecayTerm(user_id: Long, us: Long, term: Double)
  case class DecayState(n: Long, anchored: Double)
  case class DecayScore(user_id: Long, n_events: Long, decayed_score: Double)

  /** Streaming twin of the q236 recency-decayed engagement sum. The batch
    * operator anchors every term at the corpus max timestamp — a fixed
    * anchor makes the decayed sum a PLAIN weighted sum (a commutative
    * monoid), so streaming state is two numbers per user (count, anchored
    * sum). The per-row term `value · 0.5^(Δdays/halflife)` is computed by
    * the SAME Column expression the batch aggregation uses (a stateless
    * projection BEFORE the stateful sum), so an ordered feed reproduces the
    * batch sums exactly — the parity StreamingSpec pins. `anchor` must be
    * supplied (a stream cannot know the corpus max); scores for any later
    * "now" are `anchored · 0.5^((now−anchor)/halflife)` — a post-hoc
    * scalar, state never decays in place, which is what makes the operator
    * merge-safe.
    *
    * State contract: UNBOUNDED by design — one (count, sum) pair per
    * distinct user forever (NoTimeout), because a decayed lifetime score
    * has no horizon after which a user's state is dead. If the user
    * universe outgrows state storage, bound it operationally: key by
    * (user_id, coarse epoch) and age out closed epochs with a timeout, or
    * periodically snapshot-and-restart the query — the anchored sum makes
    * either exact (old state re-enters as one pre-anchored term).
    */
  def streamingDecayedEngagement(events: DataFrame, anchor: Timestamp,
      halflifeDays: Double = 7.0): Dataset[DecayScore] = {
    import events.sparkSession.implicits._
    // full microsecond anchor: Timestamp.getTime truncates to milliseconds,
    // which would shift every decay term off the batch q236 value when the
    // corpus max ts carries sub-ms digits (events.parquet is µs-precision)
    val anchorUs = anchor.getTime / 1000L * 1000000L + anchor.getNanos / 1000L
    val dtDays = (lit(anchorUs) - unix_micros(col("ts"))).cast("double") /
      86400000000.0 / halflifeDays
    val rows = events.select(col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("us"),
      (col("value") * pow(lit(0.5), dtDays)).as("term")).as[DecayTerm]
    rows.groupByKey(_.user_id)
      .flatMapGroupsWithState[DecayState, DecayScore](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rs: Iterator[DecayTerm], state: GroupState[DecayState]) =>
          val prev = state.getOption.getOrElse(DecayState(0L, 0.0))
          var n = prev.n
          var s = prev.anchored
          // deterministic within-batch order (the batch sum's tie order)
          rs.toSeq.sortBy(r => (r.us, r.term)).foreach { r =>
            n += 1
            s += r.term
          }
          state.update(DecayState(n, s))
          Iterator.single(DecayScore(uid, n, s))
      }
  }

  // ---- streaming segment-level dedup ----------------------------------------

  case class SegRow(doc_id: Long, seg_idx: Int, dg: String)
  case class SegSeen(seen: Boolean)
  case class SegKeep(doc_id: Long, seg_idx: Int, kept: Boolean)

  /** Streaming twin of [[graft.ext.Dedup.dedupSegmentsRebuild]]'s keep/drop
    * decision: continuous paragraph-level dedup where a segment survives iff
    * its content digest was never seen before — across ALL previous
    * micro-batches (state: one boolean per distinct segment digest) and
    * earlier rows of the same batch under the batch operator's (doc_id,
    * seg_idx) order. Feeding documents in doc_id order reproduces the batch
    * kept-set EXACTLY (the parity StreamingSpec pins); out-of-order feeds
    * keep the streaming contract (first ARRIVAL wins), which is the right
    * semantics for an append-only ingest pipeline. Reconstruction is a
    * row-local join + collect downstream, same as batch.
    *
    * State contract: UNBOUNDED by design — one boolean per distinct segment
    * digest forever (NoTimeout). Exact first-seen dedup is inherently
    * corpus-lifetime state; bounding it means accepting re-admission:
    * either a TTL timeout (segments recur after the horizon) or swapping
    * the per-digest boolean for a Bloom filter partition (false-positive
    * drops, bounded bytes). Both are operational trades, not twins of the
    * exact batch semantics, so the exact variant is what ships here.
    */
  def streamingSegmentDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", segTokens: Int = 16): Dataset[SegKeep] = {
    import docs.sparkSession.implicits._
    val segs = graft.ext.Dedup.segmentRows(docs, idCol, textCol, segTokens)
      .select(col("id").cast("long").as("doc_id"), col("seg_idx"),
        col("k").as("dg")).as[SegRow]
    segs.groupByKey(_.dg)
      .flatMapGroupsWithState[SegSeen, SegKeep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[SegRow], state: GroupState[SegSeen]) =>
          var seen = state.getOption.exists(_.seen)
          val out = rows.toSeq.sortBy(r => (r.doc_id, r.seg_idx)).map { r =>
            val kept = !seen
            seen = true
            SegKeep(r.doc_id, r.seg_idx, kept)
          }
          state.update(SegSeen(true))
          out.iterator
      }
  }

  // ---- streaming snapshot diff (CDC classification) ------------------------

  case class SnapRow(id: Long, text: String) // text null = deletion tombstone
  case class DigestState(digest: Option[String])
  case class DiffOut(id: Long, change: String)

  /** Streaming twin of [[graft.ext.Curation.snapshotDiff]] — continuous
    * change-data-capture classification: per-id state holds the last
    * content digest; each arriving row is emitted as `added` (id never
    * seen with content), `changed` (digest moved), `unchanged` (digest
    * equal), or `removed` (a null-payload tombstone — streams can't
    * observe absence, so deletions must arrive as explicit tombstones;
    * the batch diff derives them from the full-outer join instead). State
    * is one 32-char digest per live id. Replaying snapshot A then
    * (B + tombstones for A∖B ids) emits exactly the batch diff's classes
    * in the second batch — the parity the spec pins.
    */
  def streamingSnapshotDiff(rows: DataFrame, idCol: String = "id",
      payloadCol: String = "text"): Dataset[DiffOut] = {
    import rows.sparkSession.implicits._
    val projected = rows.select(col(idCol).cast("long").as("id"),
      md5(col(payloadCol).cast("binary")).as("text")).as[SnapRow]
    projected.groupByKey(_.id)
      .flatMapGroupsWithState[DigestState, DiffOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[SnapRow], state: GroupState[DigestState]) =>
          var cur = state.getOption.flatMap(_.digest)
          val out = it.map { r =>
            val next = Option(r.text)
            val cls = (cur, next) match {
              case (None, Some(_))              => "added"
              case (Some(_), None)              => "removed"
              case (Some(a), Some(b)) if a != b => "changed"
              case (Some(_), Some(_))           => "unchanged"
              case (None, None)                 => "removed"
            }
            cur = next
            DiffOut(id, cls)
          }.toSeq
          if (cur.isEmpty) state.remove() // dead ids hold no state
          else state.update(DigestState(cur))
          out.iterator
      }
  }

  // ---- streaming funnel ----------------------------------------------------

  case class FunnelState(stageTimes: List[Long])
  case class FunnelProgress(user_id: Long, stage: Int, ts: Timestamp)

  /** Real-time funnel tracking: per-user state holds the timestamps of
    * stages attained so far; an event advances the user exactly when it is
    * the NEXT stage's type and strictly after the previous stage — emitting
    * a [[FunnelProgress]] row per advancement. For a time-ordered feed the
    * per-user stage set equals the batch [[graft.ext.Events.funnel]]
    * earliest-qualifying semantics (greedy-first IS the minimum when events
    * arrive in order; within a micro-batch rows are sorted).
    */
  def streamingFunnel(events: Dataset[EventRow],
      stages: Seq[String]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.stageTimes).getOrElse(Nil)
          val out = List.newBuilder[FunnelProgress]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val next = times.length
            if (next < stages.length && e.event_type == stages(next) &&
              (times.isEmpty || e.ts.getTime > times.last)) {
              times = times :+ e.ts.getTime
              out += FunnelProgress(uid, next, e.ts)
            }
          }
          state.update(FunnelState(times))
          out.result().iterator
      }
  }

  /** Custom stateful operator: running per-user totals, emitted on every
    * update — the mapGroupsWithState pattern for state Spark's windowed aggs
    * can't express (e.g. cross-window lifetime counters).
    */
  def runningUserTotals(events: Dataset[EventRow]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          var n = prev.nEvents
          var tot = prev.totalValue
          var last = prev.lastTs
          rows.foreach { e =>
            n += 1; tot += e.value; last = math.max(last, e.ts.getTime)
          }
          state.update(UserState(n, tot, last))
          Iterator.single(UserSnapshot(userId, n, tot))
      }
  }

  // ---- streaming EWMA anomaly monitor ---------------------------------------

  case class DayRev(event_type: String, day: String, revc: Long)
  case class EwmaState(a: Double, w: Double, prevEwma: Double, hasPrev: Boolean)
  case class EwmaFlag(event_type: String, day: String, rev_cents: Long,
      ewma_cents: Double, anomaly: Boolean)

  /** Streaming twin of the q177 EWMA anomaly baseline: per series, state is
    * the pair (A_t, W_t) of the adjust=true EWMA ratio — A_t = r·A_{t−1} +
    * x_t, W_t = r·W_{t−1} + 1, ewma = A_t/W_t — two doubles per key, bounded
    * forever. Mathematically identical to the batch closed form (a ratio of
    * cumulative sums of x_i·r^{−i}); the recursive and closed-form float
    * fold orders differ in the last ulps, so StreamingSpec asserts 1e-9
    * relative parity rather than bit equality. Input contract: one row per
    * (series, day) with days arriving in nondecreasing order per series —
    * the shape an upstream watermarked daily rollup emits as windows close;
    * within a micro-batch rows are sorted by day.
    */
  def ewmaAnomalyStream(daily: Dataset[DayRev], alpha: Double = 0.3,
      band: Double = 0.5): Dataset[EwmaFlag] = {
    import daily.sparkSession.implicits._
    val r = 1.0 - alpha
    daily.groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[DayRev], state: GroupState[EwmaState]) =>
          var s = state.getOption.getOrElse(EwmaState(0.0, 0.0, 0.0, false))
          val out = List.newBuilder[EwmaFlag]
          rows.toSeq.sortBy(_.day).foreach { d =>
            val a = r * s.a + d.revc.toDouble
            val w = r * s.w + 1.0
            val ewma = a / w
            val anomaly = s.hasPrev &&
              math.abs(d.revc.toDouble - s.prevEwma) > band * s.prevEwma
            out += EwmaFlag(key, d.day, d.revc, ewma, anomaly)
            s = EwmaState(a, w, ewma, hasPrev = true)
          }
          state.update(s)
          out.result().iterator
      }
  }

  // ---- streaming wealth / peak / drawdown ----------------------------------

  case class RetRow(asset: String, d: java.sql.Date, r: Double)
  case class WealthState(wealth: Double, peak: Double, lastD: Long)
  case class WealthOut(asset: String, d: java.sql.Date, r: Double,
      wealth: Double, peak: Double, dd: Double)

  /** Running wealth / peak / drawdown per asset — the streaming twin of the
    * batch cumulative-product path ([[graft.api.GroupedStats.withDrawdown]];
    * reference semantics: to_drawdowns, alphastats/stats.py:388-416). State
    * per asset is exactly THREE scalars (running wealth, running peak, last
    * event date) — O(assets), never O(rows) — so the monitor runs
    * indefinitely over an unbounded daily-returns feed.
    *
    * Parity: wealth multiplies left-to-right in date order, the same
    * associativity as the batch running-window [[graft.functions
    * .GraftProduct]] (window frames evaluate update-per-row in order, no
    * partial merge), so emitted wealth/peak/dd are BIT-identical to the
    * batch columns on the same rows regardless of micro-batch boundaries
    * (StreamingSpec pins exact equality). Rows are sorted by date INSIDE
    * each micro-batch; ACROSS batches the feed must be per-asset
    * chronological (the natural shape of a daily returns feed) — a row
    * older than the asset's state raises rather than silently corrupting
    * the running product. Null returns are the batch path's padding
    * concern, not a feed's; they are rejected by the Dataset encoder.
    */
  def streamingWealthDrawdown(returns: DataFrame, assetCol: String = "asset",
      dateCol: String = "d", retCol: String = "r"): Dataset[WealthOut] = {
    import returns.sparkSession.implicits._
    returns
      .select(col(assetCol).cast("string").as("asset"), col(dateCol).as("d"),
        col(retCol).cast("double").as("r"))
      .as[RetRow]
      .groupByKey(_.asset)
      .flatMapGroupsWithState[WealthState, WealthOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (asset: String, rows: Iterator[RetRow], state: GroupState[WealthState]) =>
          var s = state.getOption.getOrElse(
            WealthState(1.0, Double.NegativeInfinity, Long.MinValue))
          val out = List.newBuilder[WealthOut]
          rows.toSeq.sortBy(_.d.getTime).foreach { row =>
            if (row.d.getTime < s.lastD)
              throw new IllegalStateException(
                s"streamingWealthDrawdown: out-of-order row for asset=$asset " +
                  s"at ${row.d} (state is at ${new java.sql.Date(s.lastD)}); " +
                  "the feed must be per-asset chronological across batches")
            val w = s.wealth * (1.0 + row.r)
            val p = math.max(s.peak, w)
            // batch twin: least(fdiv(wealth, peak) - 1, 0), on the scalar
            // rule the batch column evaluates; peak can only be <= 0 if a
            // return <= -100% drove wealth non-positive.
            // Spark's least() orders NaN as the LARGEST double, so the batch
            // least(NaN, 0.0) = 0.0 — replicate, don't math.min (NaN-poisoning)
            val x = Exprs.fdiv(w, p) - 1.0
            val dd = if (x.isNaN) 0.0 else math.min(x, 0.0)
            out += WealthOut(asset, row.d, row.r, w, p, dd)
            s = WealthState(w, p, row.d.getTime)
          }
          state.update(s)
          out.result().iterator
      }
  }

  // ---- streaming winnowing fingerprints -------------------------------------

  case class FpRow(doc_id: Long, pos: Int, hv: Long)
  case class FpNovel(doc_id: Long, pos: Int, hv: Long, novel: Boolean)

  /** Streaming twin of the q233 winnowing operator: fingerprint SELECTION
    * ([[graft.ext.Dedup.winnowFingerprints]] — per-document window minima)
    * is a pure row-local projection, so it runs unchanged on the stream;
    * the stateful part is the cross-batch SHARING signal — `novel` is true
    * iff this fingerprint value was never selected by any earlier document
    * (earlier micro-batches, or earlier (doc_id, pos) rows of the same
    * batch). `novel = false` rows are the boilerplate/duplication signal
    * q233 aggregates as `n_fp_shared`; a dedup pipeline uses them as
    * MOSS-style local-copy evidence as documents arrive. Feeding documents
    * in doc_id order reproduces the batch first-claimant exactly
    * (StreamingSpec pins parity over uneven micro-batches).
    *
    * State contract: UNBOUNDED by design — one boolean per distinct
    * selected fingerprint (NoTimeout), the same corpus-lifetime contract
    * as [[streamingSegmentDedup]]; winnowing guarantees density ≤ 2/(w+1)
    * of k-grams, so state grows ~0.4 entries per k-gram at the defaults.
    */
  def streamingWinnowing(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5, w: Int = 4): Dataset[FpNovel] = {
    import docs.sparkSession.implicits._
    val fps = graft.ext.Dedup.winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col("id").cast("long").as("doc_id"), col("pos"), col("hv"))
      .as[FpRow]
    fps.groupByKey(_.hv)
      .flatMapGroupsWithState[SegSeen, FpNovel](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[FpRow], state: GroupState[SegSeen]) =>
          var seen = state.getOption.exists(_.seen)
          val out = rows.toSeq.sortBy(r => (r.doc_id, r.pos)).map { r =>
            val novel = !seen
            seen = true
            FpNovel(r.doc_id, r.pos, r.hv, novel)
          }
          state.update(SegSeen(true))
          out.iterator
      }
  }

  // ---- streaming containment candidates --------------------------------------

  case class ShRow(g: Long, doc_id: Long, sz: Int, in_prefix: Boolean)
  case class ContainOwners(aSide: List[(Long, Int)], bSide: List[(Long, Int)])
  case class ContainCand(a_id: Long, b_id: Long, sz_a: Int, sz_b: Int)

  /** Cross-batch set-containment CANDIDATE mining — the streaming twin of
    * the q235 prefix-filter stage ([[graft.ext.Dedup
    * .containmentPairsFromRankedIndex]]): emit every ordered pair (A, B)
    * sharing a shingle from A's prefix with `|B| ≥ ⌈t·|A|⌉`, where A and B
    * may arrive in different micro-batches and in either order.
    *
    * The batch operator's prefix order is global-document-frequency
    * rarest-first — unknowable on a stream — so the twin uses the shingle
    * HASH as the total order. Prefix filtering is lossless under ANY
    * global total order (Chaudhuri et al., ICDE'06), so recall is still 1:
    * every true containment pair is emitted as a candidate (StreamingSpec
    * pins candidates ⊇ the batch verified pairs, and exact set-parity
    * against a same-order batch reference). What the hash order gives up
    * is SKEW RESISTANCE — a frequent shingle can land in many prefixes —
    * which `maxOwners` restores operationally: an element whose owner
    * list is full stops REGISTERING new owners (existing owners keep
    * matching; a pair is lost only if EVERY shared prefix element
    * overflowed — the [[streamingNearDuplicates]] bucketCap trade).
    *
    * Per element g, state holds (doc_id, sz) owner lists for the A side
    * (g in prefix) and B side (all elements); a pair is emitted exactly
    * when its LATER member arrives, so the candidate set is independent
    * of micro-batch boundaries. A pair sharing several prefix elements
    * emits once per element — downstream exact verification (join the
    * candidate ids back to their stored sets, `array_intersect`, the q235
    * verify stage) dedups, same as batch `.distinct()`.
    *
    * State contract: owner lists are corpus-lifetime (NoTimeout), bounded
    * per element by `maxOwners` — total state ≤ distinct shingles ×
    * maxOwners, the streaming rendition of the batch inverted index.
    */
  def streamingContainmentCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3, threshold: Double = 0.5,
      maxOwners: Int = 1024): Dataset[ContainCand] = {
    import docs.sparkSession.implicits._
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    // ⌈t·sz⌉ with the batch operator's round-guard (ceil(round(t·sz, 6)))
    def req(sz: Int): Int = math.ceil(java.math.BigDecimal.valueOf(threshold * sz)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()).toInt
    val sets = graft.ext.Dedup.shingleSets(docs, idCol, textCol, shingleSize)
    val prefixLen = size(col("sset")) -
      ceil(round(lit(threshold) * size(col("sset")), 6)) + 1
    val rows = sets.filter(size(col("sset")) > 0)
      .select(col("id").cast("long").as("doc_id"),
        size(col("sset")).as("sz"), prefixLen.as("pl"),
        posexplode(array_sort(col("sset"))).as(Seq("p", "g")))
      .select(col("g"), col("doc_id"), col("sz"),
        (col("p") < col("pl")).as("in_prefix"))
      .as[ShRow]
    rows.groupByKey(_.g)
      .flatMapGroupsWithState[ContainOwners, ContainCand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rs: Iterator[ShRow], state: GroupState[ContainOwners]) =>
          val st = state.getOption.getOrElse(ContainOwners(Nil, Nil))
          var a = st.aSide
          var b = st.bSide
          // owner-list lengths tracked incrementally: List.size is O(n), so
          // calling it per arriving row made a hot shingle group O(rows ×
          // maxOwners) just to CHECK the cap — count once per invocation,
          // increment on prepend (ADVICE r12)
          var na = a.size
          var nb = b.size
          val out = List.newBuilder[ContainCand]
          rs.toSeq.sortBy(_.doc_id).foreach { r =>
            // r as the B side of stored prefixes; r as the A side vs all
            // stored owners of g — each pair fires when its later member
            // arrives, so candidates are batch-boundary-independent
            a.foreach { case (aid, asz) =>
              if (aid != r.doc_id && r.sz >= req(asz))
                out += ContainCand(aid, r.doc_id, asz, r.sz)
            }
            if (r.in_prefix) b.foreach { case (bid, bsz) =>
              if (bid != r.doc_id && bsz >= req(r.sz))
                out += ContainCand(r.doc_id, bid, r.sz, bsz)
            }
            if (nb < maxOwners) { b = (r.doc_id, r.sz) :: b; nb += 1 }
            if (r.in_prefix && na < maxOwners) { a = (r.doc_id, r.sz) :: a; na += 1 }
          }
          state.update(ContainOwners(a, b))
          out.result().iterator
      }
  }
}
