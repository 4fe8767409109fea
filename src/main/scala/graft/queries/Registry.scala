package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark implementation over an sf directory, the
  * DuckDB SQL that must return the same rows, and whether it is an exact
  * audit — brute-force ground truth grading a scale structure, whose time
  * Bench reports apart from the production total.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    audit: Boolean = false)

/** Every driver query, in registration order. Each query object keeps its
  * own `specs` list and none of them refers to this aggregate, so whichever
  * object a JVM loads first, no static initializer re-enters a half-built
  * one.
  */
object Registry {

  /** `specs` unchanged, after checking that no name occurs twice. */
  def checked(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  val specs: Seq[QuerySpec] = checked(Seq(
    Queries.specs, ExtQueries.specs, Round7Queries.specs, Round8Queries.specs,
    Round9Queries.specs, Round10Queries.specs, Round11Queries.specs,
    Round12Queries.specs, Round13Queries.specs, Round14Queries.specs,
    Round15Queries.specs, Round16Queries.specs, Round17Queries.specs).flatten)

  private val byName: Map[String, QuerySpec] = specs.map(s => s.name -> s).toMap

  /** The specs named exactly (after trimming) by `names`, in that order.
    * An unknown name, or no name at all, fails before anything runs: a
    * typo must not run nothing and pass.
    */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val wanted = names.map(_.trim).filter(_.nonEmpty).distinct
    require(wanted.nonEmpty, "no query names given")
    val unknown = wanted.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    wanted.map(byName)
  }

  def apply(name: String): QuerySpec = select(Seq(name)).head
}
