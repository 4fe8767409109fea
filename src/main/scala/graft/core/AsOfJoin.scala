package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join and positional (horizontal) concat — the two benchmark
  * alignment modes of the reference (join_asof at alphastats/stats.py:444-449;
  * horizontal concat at alphastats/stats.py:451).
  *
  * Spark has no native as-of join; this uses the classic union + running
  * `last(ignoreNulls)` window: one shuffle on (keys, ts), O(n log n), scales
  * to arbitrarily many rows and — with `partitionKeys` — arbitrarily many
  * series. No driver-side materialization.
  */
object AsOfJoin {

  /** For each left row, attach the latest right `valueCols` with
    * rightTs <= leftTs (backward semantics, ties include equal timestamps).
    *
    * A caller whose frames carry a series key must pass it as
    * `partitionKeys` (and give the right side a row per key): each series
    * then aligns in its own window partition. An unkeyed call is ONE global
    * window — a single-partition exchange and sort over every row of both
    * sides — which is right only for one series, as in the wide `Stats`
    * benchmark calls.
    */
  def backward(left: DataFrame, right: DataFrame, leftTs: String, rightTs: String,
      valueCols: Seq[String], partitionKeys: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    val passThrough = leftCols.filterNot(c => c == leftTs || partitionKeys.contains(c))
    // side 0 = right, 1 = left: at equal ts the right row sorts first, so the
    // running last() sees it — backward as-of includes exact matches.
    val lTagged = left.select(
      (partitionKeys.map(col) :+ col(leftTs).as("__ts") :+ lit(1).as("__side")) ++
        passThrough.map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rTagged = right.select(
      (partitionKeys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__side")) ++
        passThrough.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(col): _*)
    // Tie order matters twice: side 0 < 1 puts the right row before the
    // left at equal timestamps (backward as-of includes exact matches),
    // and DUPLICATE right timestamps need a total order — without the
    // value-column suffix the winning duplicate would be whichever row the
    // shuffle happened to place last (nondeterministic across runs). The
    // reference's polars join_asof presumes sorted unique keys; for
    // duplicated keys this engine deterministically keeps the row with the
    // greatest value tuple (documented contract, stable under any
    // partitioning).
    val w = Window.partitionBy(partitionKeys.map(col): _*)
      .orderBy(col("__ts") +: col("__side") +: valueCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lTagged.unionByName(rTagged).select(
      (partitionKeys.map(col) :+ col("__ts") :+ col("__side")) ++
        passThrough.map(col) ++
        valueCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
    filled.filter(col("__side") === 1)
      .select((partitionKeys.map(col) :+ col("__ts").as(leftTs)) ++
        passThrough.map(col) ++ valueCols.map(col): _*)
  }

  /** Row-position zip of two frames (no time axis), as in the reference's
    * horizontal concat path. Positions come from `RDD.zipWithIndex` —
    * per-partition offsets from a lightweight size pass, so no global
    * single-partition window and no driver materialization; the subsequent
    * equi-join on the unique position key is an ordinary keyed shuffle.
    * "Position" means ingestion (partition) order, the same contract the
    * reference's frame concat has — only meaningful for frames with a
    * deterministic row order (in-memory panels, sorted reads).
    */
  def positional(left: DataFrame, right: DataFrame): DataFrame = {
    def indexed(df: DataFrame): DataFrame = {
      val schema = org.apache.spark.sql.types.StructType(
        df.schema.fields :+ org.apache.spark.sql.types.StructField(
          "__rn", org.apache.spark.sql.types.LongType, nullable = false))
      // zipWithIndex runs two jobs (partition-size pass, then the zip); an
      // eager localCheckpoint freezes partition contents so both passes see
      // identical rows even when the upstream's intra-partition order is
      // nondeterministic (e.g. post-shuffle). Blocks are freed on RDD GC.
      val frozen = df.localCheckpoint(eager = true)
      val rdd = frozen.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }
      df.sparkSession.createDataFrame(rdd, schema)
    }
    indexed(left).join(indexed(right), Seq("__rn"), "full_outer")
      .orderBy("__rn").drop("__rn")
  }
}
