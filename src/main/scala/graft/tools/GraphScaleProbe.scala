package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the distributed graph family: BFS frontier loop,
  * PageRank power rounds, and oriented triangle counting on a synthetic
  * small-diameter graph far past the driver budgets.
  *
  * Graph: a ring (guaranteed connectivity, node i — i+1 mod n) plus
  * `chords` deterministic pseudo-random chords per node (xxhash64-derived,
  * so the build is reproducible and shuffle-free). Ring + random chords
  * has O(log n) diameter, so the BFS probe genuinely exercises ~log n
  * frontier rounds of the DISTRIBUTED path (driver budget forced to 0).
  *
  * `sbt "runMain graft.tools.GraphScaleProbe [nodes] [chords] [cpus]"`
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val chords = if (args.length > 1) args(1).toInt else 2
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = graft.Session.local(cpus)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val ids = spark.range(n).toDF("i")
    val ring = ids.select(col("i").as("a"), ((col("i") + 1) % n).as("b"))
    val chordFrames = (1 to chords).map(k =>
      ids.select(col("i").as("a"),
        pmod(xxhash64(col("i"), lit(k)), lit(n)).as("b"))
        .where(col("a") =!= col("b")))
    val edges = chordFrames.foldLeft(ring)(_ union _).cache()
    val m = time("edge build")(edges.count())
    println(s"nodes=$n edges=$m chords=$chords")

    import spark.implicits._
    val hops = time("BFS (distributed frontier, driver budget 0)") {
      val h = graft.ext.Graph.bfsHops(edges, "a", "b", Seq(0L).toDF("node"),
        maxHops = 40, driverEdgeThreshold = 0)
      h.cache().count()
      h
    }
    val reached = hops.count()
    val maxHop = hops.agg(max(col("hop"))).first().getInt(0)
    println(s"BFS reached $reached/$n nodes, eccentricity(seed)=$maxHop")
    require(reached == n, s"ring guarantees connectivity; reached $reached")

    time("PageRank (3 power rounds)") {
      graft.ext.Graph.pageRank(
        edges.withColumn("w", lit(1.0)), "a", "b", "w", iters = 3)
        .agg(sum(col("rank"))).first()
    }

    time("triangle counts (oriented wedge join)") {
      graft.ext.Graph.triangleCounts(edges.distinct(), "a", "b")
        .agg(sum(col("triangles"))).first()
    }
    spark.stop()
  }
}
