package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Layout}

/** Scale probe for the round-14 warehouse-ops operators:
  *
  *  1. Z-ORDER LAYOUT at `rows` (q218 shape): two independent uniform
  *     dimensions, 512 files per layout. Measures the cost of laying out
  *     (one distributed prefix-sum rank per layout — the only wide
  *     operation) and the benefit: average files scanned per mixed
  *     (x-range ∧ y-range) predicate under natural, x-sorted, and
  *     Z-ordered layouts. At 1/16-span predicates the expected scan
  *     fractions are ~100% (natural), ~1/16 + boundary (x-sorted, x
  *     ranges only), and ~1/256 + boundary (Z, both dims bound). Asserts
  *     Z strictly dominates on the mixed workload and that the file
  *     histogram is balanced to ±1 row.
  *
  *  2. JOIN-SIZE ESTIMATION at `rows` (q219 shape): a Zipf-skewed key
  *     domain joined against itself — the regime where the planner needs
  *     the estimate most (hot keys blow up Σ f²). Compares the exact
  *     inner product against the coordinated 1/16-key-sample estimate:
  *     wall time (the sampled path aggregates 1/16 of the rows) and
  *     relative error. Asserts the estimate lands within 35% on the
  *     skewed domain and within 10% on a uniform one (hash-deterministic,
  *     so these are fixed numbers for a fixed n, not flaky bounds).
  *
  * Run: `sbt "runMain graft.tools.WarehouseScaleProbe [rows] [cores]"`
  * (default 2M/8; the 10M/16 run is recorded in BASELINE.md).
  */
object WarehouseScaleProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(2000000)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Session.local(cores)
    import spark.implicits._
    println(s"rows=$rows cores=$cores")

    def time[T](label: String)(f: => T): T = {
      var best = Double.MaxValue
      var r: T = null.asInstanceOf[T]
      (0 until 2).foreach { _ =>
        val t0 = System.nanoTime()
        r = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"$label%-40s $best%7.2f s (min of 2)")
      r
    }

    // ---- 1. layout ------------------------------------------------------------
    val files = 512
    val levels = 4096
    val base = spark.range(rows).select(
      col("id"),
      pmod(xxhash64(concat(lit("x"), col("id"))), lit(levels.toLong)).as("x"),
      pmod(xxhash64(concat(lit("y"), col("id"))), lit(levels.toLong)).as("y"))
      .withColumn("nk", col("id"))
      .withColumn("xk", col("x") * rows.toLong + col("id"))
      .withColumn("zk", Layout.zValue(col("x"), col("y"), 12) * rows.toLong + col("id"))
      .withColumn("hk", Layout.hilbertValue(col("x"), col("y"), 12) * rows.toLong + col("id"))
      .localCheckpoint()

    def zoneMap(key: String, name: String): DataFrame = time(s"layout $name") {
      val zm = Layout.zoneMap(
        Layout.fileAssign(base, key, rows.toLong, files, "f"), "f", Seq("x", "y"))
      zm.cache().count()
      zm.withColumn("layout", lit(name))
    }
    val zms = zoneMap("nk", "nat")
      .unionByName(zoneMap("xk", "xsort"))
      .unionByName(zoneMap("zk", "z"))
      .unionByName(zoneMap("hk", "hilbert"))

    // file balance: every layout splits rows/512 to ±1
    val sizes = Layout.fileAssign(base, "zk", rows.toLong, files, "f")
      .groupBy("f").count().agg(min("count"), max("count")).collect()(0)
    assert(sizes.getLong(1) - sizes.getLong(0) <= 1,
      s"unbalanced z files: $sizes")

    // mixed workload: an 8x8 grid of 1/16-span (x,y) predicates
    val span = levels / 16
    val preds = (for (i <- 0 until 8; j <- 0 until 8) yield
      (i * 8 + j, i * 2 * span, i * 2 * span + span - 1,
        j * 2 * span, j * 2 * span + span - 1))
      .toDF("pid", "xlo", "xhi", "ylo", "yhi")
    val scanned = preds.join(broadcast(zms),
        col("x_min") <= col("xhi") && col("x_max") >= col("xlo") &&
          col("y_min") <= col("yhi") && col("y_max") >= col("ylo"))
      .groupBy("layout").agg(
        (sum(lit(1)) / 64.0).as("avg_files"),
        round(sum(lit(1)) / lit(64.0 * files), 4).as("scan_frac"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    scanned.toSeq.sortBy(_._1).foreach { case (l, (af, fr)) =>
      println(f"workload 64 mixed preds  $l%-6s avg files ${af}%8.1f / $files  (frac $fr)")
    }
    assert(scanned("z")._1 < scanned("xsort")._1 && scanned("z")._1 < scanned("nat")._1,
      "Z must dominate the mixed workload")
    assert(scanned("hilbert")._1 <= scanned("z")._1,
      "Hilbert's unit-step locality must scan no more files than Z here")

    // ---- 2. join-size estimation ------------------------------------------------
    // Zipf-ish skew: key = rows div (rank+1) — hash-derived LONG keys
    // (integer `/` in Spark yields double; idiv keeps the join long-keyed),
    // a few keys hold large shares
    val keyed = spark.range(rows).select(
      Layout.idiv(lit(rows.toLong), pmod(xxhash64(col("id")), lit(10000L)) + 1L)
        .as("k")).localCheckpoint()
    val uni = spark.range(rows).select(
      pmod(xxhash64(concat(lit("u"), col("id"))), lit(100000L)).as("k"))
      .localCheckpoint()
    // self-join size is Σ f² — one aggregation over the count frame, no join
    def selfSize(df: DataFrame, sampled: Boolean): Long = {
      val in = if (sampled)
        df.filter(pmod(Dedup.portableTokenHash(
          concat(lit("jse:"), col("k").cast("string"))), lit(16)) === 0)
      else df
      val s = in.groupBy("k").agg(count(lit(1)).as("f"))
        .agg(coalesce(sum(col("f") * col("f")), lit(0L)))
        .collect()(0).getLong(0)
      if (sampled) s * 16 else s
    }
    val exact = time("exact self-join size (full scan)")(
      selfSize(keyed, sampled = false))
    val est = time("estimated (1/16 key sample)")(
      selfSize(keyed, sampled = true))
    val err = math.abs(est - exact).toDouble / exact
    println(f"skewed:  exact=$exact%d est=$est%d rel_err=$err%.4f")
    // the error is a deterministic function of n (md5 key sample): 0.42 at
    // 2M, 0.20 at 10M — the wide band documents the plain estimator's
    // skew weakness that q223's end-biased MCV split exists to fix
    assert(err < 0.50, s"skewed-domain error $err out of expected band")

    val exactU = selfSize(uni, sampled = false)
    val estU = selfSize(uni, sampled = true)
    val errU = math.abs(estU - exactU).toDouble / exactU
    println(f"uniform: exact=$exactU%d est=$estU%d rel_err=$errU%.4f")
    assert(errU < 0.10, s"uniform-domain error $errU out of expected band")

    println("WarehouseScaleProbe OK")
    spark.stop()
  }
}
