package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Dedup scale probe: synthesizes an n-doc corpus (default 100k — 20× the
  * sf0.1 bench corpus) of random-token documents with planted near-duplicate
  * pairs, and runs the full MinHash→LSH→verify pipeline end to end.
  *
  * The corpus is constructed so the TRUE pair set scales linearly with n
  * (random 80-token docs over a 50k vocab share almost no shingles; only the
  * planted pairs are near-dups), which makes the probe's invariants sharp:
  * found pairs == planted pairs (recall 1 at J≈0.85 with 32/16 banding,
  * miss prob < 1e-9), zero oversized buckets, and wall time that should
  * scale ~linearly in n. Run: `sbt "runMain graft.tools.DedupScaleProbe [n]"`.
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Session.local()

    val tokensPerDoc = 80
    val vocab = 50000
    // deterministic random-token text per id; token j of doc i derives from
    // xxhash64(i, j) — no Scala-side data generation, all distributed
    def text(idCol: org.apache.spark.sql.Column, mutate: Boolean) = {
      val tok = (j: org.apache.spark.sql.Column) => {
        val h = pmod(xxhash64(idCol, j), lit(vocab))
        // planted variant: tokens 10 and 50 differ → J≈0.85, above threshold
        val hv = if (mutate) when(j === 10 || j === 50, h + lit(vocab)).otherwise(h) else h
        concat(lit("w"), hv.cast("string"))
      }
      concat_ws(" ", transform(sequence(lit(1), lit(tokensPerDoc)), tok))
    }
    val base = spark.range(n).select(col("id").as("doc_id"), text(col("id"), mutate = false).as("text"))
    val planted = spark.range(n).filter(col("id") % 100 === 0)
      .select((col("id") + n).as("doc_id"), text(col("id"), mutate = true).as("text"))
    val corpus = base.unionByName(planted).cache()
    val total = corpus.count()
    val expectedPairs = (n + 99) / 100

    val t0 = System.nanoTime()
    val pairs = Dedup.nearDuplicatePairs(corpus, "doc_id", "text",
      threshold = 0.5, numHashes = 32, shingleSize = 3, bands = 16).count()
    val wall = (System.nanoTime() - t0) / 1e9

    val audit = Dedup.lshBucketStats(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 32, 3),
      bands = 16, numHashes = 32).head()

    println(f"docs=$total pairs_found=$pairs pairs_expected=$expectedPairs " +
      f"wall=$wall%.2f s colliding_buckets=${audit.getAs[Long]("n_colliding_buckets")} " +
      f"oversized=${audit.getAs[Long]("n_oversized_buckets")} max_bucket=${audit.getAs[Long]("max_bucket")}")
    assert(pairs == expectedPairs, s"recall/precision break: $pairs != $expectedPairs")
    spark.stop()
  }
}
