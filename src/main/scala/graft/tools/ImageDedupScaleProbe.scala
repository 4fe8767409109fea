package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal}

/** Perceptual image dedup at scale: n pattern PNGs in groups of 4 (same
  * content, different sizes and tints — byte-distinct planted near-dups),
  * decoded + aHashed partition-locally, then banded-LSH pair mining. Prints
  * wall times per stage and asserts planted-pair recall ≥ 0.99 with zero
  * cross-group noise pairs at hamming ≤ 3. The probe that shows the newest
  * dedup modality keeps the same linear plan shape as the text family.
  * Run: `sbt "runMain graft.tools.ImageDedupScaleProbe [n] [cores]"`.
  */
object ImageDedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Session.local(cores)
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // groups of 4: same contentKey, sizes 24..55, tint = id
    val items = spark.range(n).as[Long].mapPartitions(_.map { id =>
      val w = 24 + (id % 4).toInt * 8 + (id / 4 % 8).toInt
      val h = 20 + (id % 4).toInt * 6 + (id / 4 % 5).toInt
      Multimodal.MediaItem(id, Multimodal.synthesizePatternPng(id, id / 4, w, h),
        "image/png")
    })

    val ph = timed("decode + aHash") {
      val df = Multimodal.perceptualHashes(items).toDF().cache()
      val bad = df.filter(!col("decoded")).count()
      require(bad == 0, s"$bad quarantined")
      df
    }
    val pairs = timed("banded pair mining") {
      Dedup.perceptualNearDuplicatePairs(ph, maxHamming = 3)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val planted = pairs.count { case (a, b) => a / 4 == b / 4 }
    val noise = pairs.length - planted
    val expected = (n / 4) * 6 // C(4,2) per full group
    val recall = planted.toDouble / expected
    println(f"pairs ${pairs.length}%d planted $planted%d/$expected%d " +
      f"(recall $recall%.4f) noise $noise%d")
    require(recall >= 0.99, f"planted recall $recall%.4f below 0.99")
    require(noise <= n / 1000, s"cross-group noise pairs: $noise")
    spark.stop()
  }
}
