package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** Offline BPE trainer (run once; output embedded in [[graft.ext.Bpe]]).
  *
  * Standard byte-pair-encoding training (Sennrich et al. 2016, public
  * method): start from characters, repeatedly merge the most frequent
  * adjacent symbol pair over the word-frequency table. Determinism:
  * ties broken by the lexicographically smallest (a, b) pair, and the
  * word-frequency table is an exact distributed count collected once
  * (the vocabulary is dictionary-scale — a `require` guards the collect).
  *
  * Merge application during training is the same left-to-right
  * non-overlapping scan that [[graft.ext.Bpe.encodedCol]] and the DuckDB
  * oracle replay via literal string `replace`, so the embedded merges and
  * the runtime tokenizer are one algorithm end-to-end.
  *
  * Usage: sbt "runMain graft.tools.BpeTrain /root/testdata/sf0.001 32"
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.Session.local(8)

    val freqRows = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.ext.Bpe.preTokens(col("text"))).as("w"))
      .groupBy("w").count()
      .limit(200001)
      .collect()
    require(freqRows.length <= 200000,
      "vocabulary too large for driver-side training; raise the cap knowingly")
    val freqs: Map[String, Long] =
      freqRows.map(r => r.getString(0) -> r.getLong(1)).toMap

    var words: Map[String, Vector[String]] =
      freqs.keysIterator.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = mutable.ArrayBuffer.empty[(String, String)]

    def mergeWord(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }

    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val pairCounts = mutable.Map.empty[(String, String), Long]
      words.foreach { case (w, syms) =>
        val f = freqs(w)
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val maxF = pairCounts.valuesIterator.max
        val best = pairCounts.iterator.collect { case (p, c) if c == maxF => p }
          .minBy { case (a, b) => (a, b) }
        merges += best
        words = words.map { case (w, s) => w -> mergeWord(s, best._1, best._2) }
        step += 1
      }
    }

    println(s"// BPE merges: $step pairs trained on $dir documents " +
      s"(${freqs.size} distinct words); paste into graft.ext.Bpe")
    println("val Merges: Seq[(String, String)] = Seq(")
    println(merges.map { case (a, b) => s"""    ("$a", "$b")""" }.mkString(",\n"))
    println("  )")
    val sample = words.toSeq.sortBy(_._1).take(40)
    sample.foreach { case (w, s) => println(s"// $w -> ${s.mkString("|")}") }
    spark.stop()
  }
}
