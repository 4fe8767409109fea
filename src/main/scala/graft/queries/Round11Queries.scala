package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Curation, TextStats}
import graft.queries.ExtQueries.{cached, docs}

/** Round-11 queries: exact merge-table BPE token accounting (q208/q209) —
  * the real-tokenizer upgrade over the ~4-chars/token heuristic that q17's
  * `avg_bpe_tokens` demonstrates. Token counts here are EXACT and replayed
  * byte-identically by the DuckDB oracle through a recursive CTE applying
  * the same embedded merges ([[graft.ext.Bpe.dictCteSql]]).
  */
object Round11Queries {

  /** Per-doc exact BPE token counts + quality, cached per (session, sf):
    * q208 aggregates it by source, q209 runs budget curation over it.
    */
  private def docBpe(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "doc_bpe") {
      val d = docs(spark, sfDir)
      d.select(col("doc_id"), col("source"), col("lang"),
          round(TextStats.qualityScore(col("text")), 3).as("q"))
        .join(Bpe.docTokenCounts(d, "doc_id", col("text")), "doc_id")
    }

  // ---- q208 exact BPE token accounting per source ---------------------------

  /** Corpus token accounting with the REAL tokenizer: exact BPE token
    * totals per source. The engine path encodes each distinct word once
    * (dictionary frame) and joins counts back — the corpus-sized side never
    * re-encodes ([[Bpe.docTokenCounts]]). The oracle replays the identical
    * merge table through a recursive CTE, so the gate is byte-identical
    * token counts, not a heuristic's approximation.
    */
  def q208BpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    docBpe(spark, sfDir)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe_tokens")).as("sum_tokens"),
        round(avg(col("bpe_tokens")), 6).as("avg_tokens"),
        max(col("bpe_tokens")).as("max_tokens"))
      .orderBy("source")

  val q208Sql: String =
    s"""WITH RECURSIVE
       |${Bpe.dictCteSql},
       |${Bpe.occCteSql},
       |per_doc AS (
       |  SELECT o.doc_id, SUM(o.occ * d.n_tok) AS bpe_tokens
       |  FROM occ o JOIN bpe_dict d USING (w) GROUP BY o.doc_id),
       |j AS (
       |  SELECT doc.source, CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
       |  FROM documents doc LEFT JOIN per_doc p USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(bpe_tokens) AS BIGINT) AS sum_tokens,
       |  ROUND(AVG(bpe_tokens), 6) AS avg_tokens,
       |  CAST(MAX(bpe_tokens) AS BIGINT) AS max_tokens
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---- q209 token-budget curation on exact BPE counts -----------------------

  /** The q39 budget-curation shape re-gated on EXACT BPE token accounting:
    * fill a 30k-token budget with the highest-quality documents (quality
    * quantized to 3 dp, ties by doc_id), report the selection per lang.
    * Engine path is the histogram + boundary-partition
    * [[Curation.selectByTokenBudget]] (no global window); the oracle is the
    * naive global `cum_sum ≤ budget` definition over the recursive-CTE
    * token counts.
    */
  def q209BpeBudget(spark: SparkSession, sfDir: String): DataFrame =
    Curation.selectByTokenBudget(
        docBpe(spark, sfDir), "doc_id", "q", "bpe_tokens", 30000L)
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe_tokens")).as("sum_tokens"),
        round(avg(col("q")), 6).as("avg_quality"))
      .orderBy("lang")

  val q209Sql: String =
    s"""WITH RECURSIVE
       |${Bpe.dictCteSql},
       |${Bpe.occCteSql},
       |per_doc AS (
       |  SELECT o.doc_id, SUM(o.occ * d.n_tok) AS bpe_tokens
       |  FROM occ o JOIN bpe_dict d USING (w) GROUP BY o.doc_id),
       |dq AS (
       |  SELECT doc.doc_id, doc.lang,
       |    ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
       |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
       |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
       |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
       |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) AS q,
       |    CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS tokens
       |  FROM documents doc LEFT JOIN per_doc p USING (doc_id)),
       |c AS (
       |  SELECT *, SUM(tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM dq)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
       |  ROUND(AVG(q), 6) AS avg_quality
       |FROM c WHERE cum <= 30000 GROUP BY lang ORDER BY lang""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q208_bpe_tokens", q208BpeTokens, q208Sql),
    QuerySpec("q209_bpe_budget", q209BpeBudget, q209Sql))
}
