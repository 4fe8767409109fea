package graft.stats

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Exprs, ReturnsFrame}

/** Calendar bucketing (`_simple_returns`) and trailing/period windows
  * (reference: alphastats/stats.py:736-774, 1650-1738). The bucket keys of
  * every calendar grain ([[Grain]]) and the trailing-period predicate
  * ([[within]]) are built here only: the wide API, `Reports` and
  * `GroupedStats.calendarReturns` share them.
  */
object Calendar {

  sealed trait Period
  case object Mtd extends Period
  case object Ytd extends Period
  final case class Months(n: Int) extends Period
  final case class Years(n: Int) extends Period
  case object All extends Period

  /** A calendar bucket grain: the named date parts that key its buckets,
    * (year, week of year), (year, month), (year, quarter) or (year) — the
    * reference's `_simple_returns` groupings (alphastats/stats.py:736-774).
    */
  sealed abstract class Grain(val parts: (String, Column => Column)*) {
    def names: Seq[String] = parts.map(_._1)
    /** The bucket keys of temporal column `t`, each named after its part. */
    def keys(t: Column): Seq[Column] = parts.map { case (n, f) => f(t).as(n) }
  }

  object Grain {
    private val yearKey = "__year" -> (year _)
    case object Week extends Grain(yearKey, "__week" -> (weekofyear _))
    case object Month extends Grain(yearKey, "__month" -> (month _))
    case object Quarter extends Grain(yearKey, "__quarter" -> (quarter _))
    case object Year extends Grain(yearKey)

    /** The reference's `aggregate` argument as a grain; None — no
      * re-bucketing — for none, a daily one or one it does not name
      * (alphastats/stats.py:736-774).
      */
    def parse(aggregate: Option[String]): Option[Grain] =
      aggregate.map(_.toLowerCase).flatMap { k =>
        if (k.contains("day")) None
        else if (k.contains("week") || Set("w", "eow")(k)) Some(Week)
        else if (k.contains("month") || Set("m", "me", "eom")(k)) Some(Month)
        else if (k.contains("quarter") || Set("q", "qe", "eoq")(k)) Some(Quarter)
        else if (Set("y", "ye", "eoy", "year", "yearly", "annual")(k)) Some(Year)
        else None
      }
  }

  /** One bucket's return: compounded Π(1+r) − 1, or the plain sum. */
  private[graft] def bucketReturn(r: Column, compounded: Boolean): Column =
    if (compounded) Exprs.comp(r) else sum(r)

  /** Re-bucket per-period returns into calendar buckets, comp-or-sum per
    * column; buckets emit in FIRST-APPEARANCE order of the input rows —
    * Polars' `maintain_order=True` semantics (reference:
    * alphastats/stats.py:745) — via a carried min(row-ordinal) per bucket,
    * correct for unsorted input too; bucket keys are then dropped
    * (reference: alphastats/stats.py:736-774).
    */
  def simpleReturns(rfm: ReturnsFrame, aggregate: Option[String],
      compounded: Boolean): DataFrame = {
    val numericSel = rfm.numericCols.map(col)
    Grain.parse(aggregate) match {
      case None => rfm.df.select(numericSel: _*)
      case Some(grain) =>
        val keys = grain.keys(col(rfm.requireTemporal))
        // physical-row ordinal (partition-ordered monotonic id): its
        // per-bucket minimum IS the first-appearance index
        val keyed = rfm.df.withColumn("__appear", monotonically_increasing_id())
          .select(keys ++ numericSel :+ col("__appear"): _*)
        val aggExprs = rfm.numericCols.map(c => bucketReturn(col(c), compounded).as(c)) :+
          min(col("__appear")).as("__first")
        keyed.groupBy(grain.names.map(col): _*)
          .agg(aggExprs.head, aggExprs.tail: _*)
          .orderBy(col("__first"))
          .select(numericSel: _*)
    }
  }

  /** Date-filter the frame relative to max(temporal) (reference `_date_filtered_returns`,
    * alphastats/stats.py:1650-1674). Calendar arithmetic happens driver-side on
    * the collected max — one tiny scalar job, then a pushable filter.
    */
  private[graft] def dateFiltered(rfm: ReturnsFrame, period: Period): DataFrame = {
    val t = col(rfm.requireTemporal)
    if (period == All) return rfm.df
    val maxVal = rfm.df.agg(max(t)).head().get(0)
    if (maxVal == null) rfm.df else rfm.df.filter(within(t, period, maxVal))
  }

  /** `t` lies in the trailing `period` that ends at the collected temporal
    * scalar `max`: its month (MTD) or year (YTD), or on or after `max`
    * shifted back by n months or years. `Reports` and [[dateFiltered]]
    * share it.
    */
  private[graft] def within(t: Column, period: Period, max: Any): Column = period match {
    case Mtd =>
      val (y, m) = yearMonth(max)
      year(t) === y && month(t) === m
    case Ytd => year(t) === yearMonth(max)._1
    case Months(n) => t >= lit(shift(max, -n, 0))
    case Years(n) => t >= lit(shift(max, 0, -n))
    case All => lit(true)
  }

  /** (year, month) of a collected temporal scalar — handles both the legacy
    * java.sql types and the java8 datetime API types.
    */
  private def yearMonth(v: Any): (Int, Int) = v match {
    case d: Date => (d.toLocalDate.getYear, d.toLocalDate.getMonthValue)
    case ts: Timestamp => (ts.toLocalDateTime.getYear, ts.toLocalDateTime.getMonthValue)
    case ldt: LocalDateTime => (ldt.getYear, ldt.getMonthValue)
    case ld: java.time.LocalDate => (ld.getYear, ld.getMonthValue)
    case i: java.time.Instant =>
      val ldt = LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
      (ldt.getYear, ldt.getMonthValue)
  }

  /** Calendar-aware shift matching Polars `offset_by("-Nmo"/"-Ny")` (clamps
    * to end of month, keeps time-of-day). Returns the same temporal type.
    */
  private def shift(v: Any, months: Int, years: Int): Any = v match {
    case d: Date => Date.valueOf(d.toLocalDate.plusMonths(months).plusYears(years))
    case ts: Timestamp => Timestamp.valueOf(ts.toLocalDateTime.plusMonths(months).plusYears(years))
    case ldt: LocalDateTime => ldt.plusMonths(months).plusYears(years)
    case ld: java.time.LocalDate => ld.plusMonths(months).plusYears(years)
    case i: java.time.Instant =>
      LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
        .plusMonths(months).plusYears(years).toInstant(java.time.ZoneOffset.UTC)
  }

  def periodComp(returns: DataFrame, period: Period): DataFrame = {
    val rfm = ReturnsFrame(returns)
    ReturnsFrame(dateFiltered(rfm, period)).aggAll(Exprs.comp)
  }

  def periodCagr(returns: DataFrame, period: Period, periods: Int): DataFrame = {
    val rfm = ReturnsFrame(returns)
    rfm.requireTemporal
    ReturnsFrame(dateFiltered(rfm, period))
      .aggAll(r => Exprs.cagr(r, 0.0, compound = true, periods))
  }
}
