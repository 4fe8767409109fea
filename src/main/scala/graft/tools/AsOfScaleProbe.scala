package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the temporal-join family: [[graft.core.AsOfJoin.backward]]
  * (the q13 benchmark-align shape) and the q165 SCD-2 point-in-time interval
  * join, at 10M facts x 100k dimension versions — far past the fixture scale
  * the oracle gate runs at.
  *
  * Construction is deterministic and shuffle-free (spark.range + xxhash64):
  * `users` users each carry `versions` dimension versions at uniform
  * boundaries vts = k*step over the fact time range, and the version VALUE
  * ENCODES ITS INDEX — so the as-of answer for a fact at time ts is the
  * closed form min(floor(ts/step), versions-1) and the probe verifies ALL
  * 10M joined rows exactly, distributed (a mismatch count, no sampling).
  *
  * Plan assertions, read from the EXECUTED plan:
  *   - no `Exchange SinglePartition` anywhere (the union+last window must
  *     hash-partition on the asset/user key — a single-partition global
  *     window is the scale failure mode this probe exists to rule out);
  *   - the SCD-2 join is a keyed join (no CartesianProduct, no
  *     BroadcastNestedLoop): the user-key equi-clause must drive the join,
  *     the interval predicate is residual.
  *
  * `sbt "runMain graft.tools.AsOfScaleProbe [facts] [users] [versions] [cpus]"`
  */
object AsOfScaleProbe {
  def main(args: Array[String]): Unit = {
    val nFacts = args.headOption.map(_.toLong).getOrElse(10000000L)
    val users = if (args.length > 1) args(1).toLong else 20000L
    val versions = if (args.length > 2) args(2).toInt else 5
    val cpus = if (args.length > 3) args(3).toInt else 16
    val spark = graft.Session.local(cpus)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val horizon = 1000000L // fact timestamps in [0, horizon)
    val step = horizon / versions // uniform version boundaries

    // facts: (user_id, ts) — ts pseudo-random but deterministic
    val facts = spark.range(nFacts).select(
      pmod(xxhash64(col("id")), lit(users)).as("user_id"),
      pmod(xxhash64(col("id"), lit(1)), lit(horizon)).as("ts"))
      .cache()
    println(s"facts=${facts.count()} users=$users versions=$versions " +
      s"(dim rows=${users * versions})")

    // dimension: per user, `versions` rows at vts = k*step; val encodes the
    // version index so the as-of answer has a closed form. Built by integer
    // div/mod over one range (no crossJoin: a BNLJ in the build would
    // pollute the substring-based plan assertions below via the cached
    // relation's embedded plan).
    val dim = spark.range(users * versions).select(
      (col("id") / versions).cast("long").as("user_id"),
      (pmod(col("id"), lit(versions.toLong)) * step).as("vts"),
      pmod(col("id"), lit(versions.toLong)).as("ver"))
      .cache()
    dim.count()

    // ---- 1. AsOfJoin.backward at 10M x 100k ---------------------------------
    val joined = graft.core.AsOfJoin.backward(
      facts, dim, leftTs = "ts", rightTs = "vts",
      valueCols = Seq("ver"), partitionKeys = Seq("user_id"))
    val bad = time("as-of join + full exact verification") {
      joined
        .withColumn("want", least(floor(col("ts") / step), lit(versions - 1L)))
        .filter(col("ver") =!= col("want") || col("ver").isNull)
        .count()
    }
    require(bad == 0L, s"$bad as-of rows disagree with the closed form")
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("SinglePartition"),
      "as-of plan contains a single-partition exchange:\n" + plan)
    println("OK: as-of exact on all rows; window hash-partitions on user_id")

    // ---- 2. q165 SCD-2 point-in-time shape ----------------------------------
    // intervals [k*step, (k+1)*step), last one open-ended (valid_to null)
    val scd = dim.select(col("user_id"), col("ver"),
      col("vts").as("valid_from"),
      when(col("ver") < versions - 1, col("vts") + step).as("valid_to"))
    val pit = facts.join(scd, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
    val matched = time("SCD-2 point-in-time join") {
      pit.groupBy("ver").agg(count(lit(1)).as("n"))
        .agg(sum(col("n"))).first().getLong(0)
    }
    // timeline partition: every fact matches exactly one version
    require(matched == nFacts, s"matched $matched of $nFacts facts")
    val pitPlan = pit.queryExecution.executedPlan.toString
    require(!pitPlan.contains("CartesianProduct") &&
      !pitPlan.contains("BroadcastNestedLoop"),
      "SCD-2 join is not keyed:\n" + pitPlan)
    require(!pitPlan.contains("SinglePartition"),
      "SCD-2 plan contains a single-partition exchange:\n" + pitPlan)
    println("OK: SCD-2 join keyed on user_id, every fact matched exactly once")

    spark.stop()
  }
}
