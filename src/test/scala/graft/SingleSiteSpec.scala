package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place and driver threads are started in one
  * place; a second site is how settings and join semantics drift apart. */
class SingleSiteSpec extends AnyFunSuite {

  private val root: Path = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).find(d => Files.exists(d.resolve("build.sbt")))
    .getOrElse(fail("no build.sbt above the working directory"))

  private val sources: Seq[(String, Seq[String])] =
    Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(root.resolve(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString ->
          Files.readAllLines(p).asScala.toSeq)
    }

  private def sitesOf(pattern: String): Seq[String] = {
    val re = pattern.r
    for {
      (file, lines) <- sources
      (line, i) <- lines.zipWithIndex if re.findFirstIn(line).isDefined
    } yield s"$file:${i + 1}"
  }

  /** The member of a file's top-level definitions that a site is in: the
    * nearest `def` or `object` above it at two-space indent.
    */
  private def memberOf(site: String): String = {
    val Array(file, line) = site.split(":")
    val Member = """  (?:private(?:\[\w+\])?\s+)?(?:def|object)\s+(\w+).*""".r
    sources.toMap.apply(file).take(line.toInt).reverseIterator
      .collectFirst { case Member(name) => name }.getOrElse("")
  }

  private def assertOnlyIn(sites: Seq[String], files: String*): Unit = {
    val stray = sites.filterNot(s => files.exists(f => s.startsWith(s"src/main/scala/graft/$f:")))
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  /** The returns modules: the wide API, the report, the long-format API
    * and their shared core. */
  private def inReturnsModules(site: String): Boolean =
    Seq("stats/", "reports/", "api/", "core/")
      .exists(d => site.startsWith(s"src/main/scala/graft/$d"))

  test("the scan sees the source tree") {
    assert(sources.size > 100)
  }

  test("sessions are built only by graft.Session") {
    assertOnlyIn(sitesOf("""SparkSession\s*\.\s*builder"""), "Session.scala")
  }

  test("ordered per-asset metrics run windows only in GroupedStats and toDrawdowns") {
    // one implementation of the ordered per-key aggregates, SeriesAgg, for
    // the wide API (smart ratios included), Reports and GroupedStats alike;
    // windows are left only where the output is row-level:
    // GroupedStats.withDrawdown (which toDrawdowns reuses), drawdownDetails
    // and rolling
    def wideApi(site: String): Boolean =
      site.startsWith("src/main/scala/graft/reports/") || site.startsWith("src/main/scala/graft/stats/")
    assertOnlyIn(sitesOf("""\.over\(""").filter(wideApi))
    assertOnlyIn(sitesOf("""GroupedStats\.withDrawdown|row_number\(""").filter(wideApi),
      "stats/Stats.scala")
    val api = sitesOf("""\.over\(|row_number\(""").filter(_.startsWith("src/main/scala/graft/api/"))
    assert(api.nonEmpty)
    val rowLevel = Set("withDrawdown", "drawdownDetails", "rolling", "Rolling")
    val stray = api.filterNot(site => rowLevel(memberOf(site)))
    assert(stray.isEmpty, stray.map(site => s"$site in ${memberOf(site)}").mkString("\n"))
  }

  test("benchmark-relative aggregates are built only in core/Exprs") {
    // the wide Stats calls, Reports and GroupedStats.benchmarked share one
    // formula set; the queries' DuckDB SQL spells these in upper case
    val sites = sitesOf("""covar_samp\(|var_samp\(|\bcorr\(""").filter(inReturnsModules)
    assert(sites.exists(_.startsWith("src/main/scala/graft/core/Exprs.scala:")))
    assertOnlyIn(sites, "core/Exprs.scala")
  }

  test("the x/0 rule is spelled only in core/Exprs") {
    // Exprs.fdiv's scalar rule is the one IEEE division: the FDiv column,
    // SeriesAgg's walk and StreamOps' wealth stream all call it; the only
    // other +Inf is VectorExprs' initial nearest distance
    val sites = sitesOf("""Double\.PositiveInfinity""").filter(_.startsWith("src/main/"))
    assert(sites.exists(_.startsWith("src/main/scala/graft/core/Exprs.scala:")))
    assert(sites.count(_.startsWith("src/main/scala/graft/functions/VectorExprs.scala:")) == 1, sites)
    assertOnlyIn(sites, "core/Exprs.scala", "functions/VectorExprs.scala")
  }

  test("wide frames are melted only by ReturnsFrame.long") {
    // the wide API, Reports and GroupedStats.fromWide share one long view,
    // so the NaN rule, the asset set and the row order cannot drift apart
    val sites = sitesOf("""explode\(map\(""").filter(inReturnsModules)
    assert(sites.nonEmpty)
    assertOnlyIn(sites, "core/ReturnsFrame.scala")
  }

  test("calendar buckets and trailing windows are keyed only in stats/Calendar") {
    // date parts, called (`year(t)`) or as function values (`year _`), live
    // in Calendar.Grain's bucket keys and Calendar.within's trailing-period
    // predicate; Calendar.simpleReturns, Reports' calendar pass and
    // GroupedStats.calendarReturns all take their keys from Grain
    val sites = sitesOf("""\b(?:weekofyear|quarter|year|month)(?:\(| _)""").filter(inReturnsModules)
    assert(sites.exists(site => memberOf(site) == "Grain"))
    assertOnlyIn(sites, "stats/Calendar.scala")
    val stray = sites.filterNot(site => Set("Grain", "within")(memberOf(site)))
    assert(stray.isEmpty, stray.map(site => s"$site in ${memberOf(site)}").mkString("\n"))
  }

  test("driver threads are started only by graft.core.Eager") {
    assertOnlyIn(sitesOf("""ExecutionContext\s*\.\s*global|\bFuture\s*\("""), "core/Eager.scala")
    // Bench's harness pool runs queries that fork through Eager, so it
    // cannot share Eager's bounded pool
    assertOnlyIn(sitesOf("""Executors\s*\.\s*new"""), "core/Eager.scala", "Bench.scala")
  }
}
