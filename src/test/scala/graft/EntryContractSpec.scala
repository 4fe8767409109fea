package graft

import graft.queries.{QuerySpec, Registry}

/** Guards on the driver contract surface itself.
  *
  * The driver's correctness gate only checks queries that appear in BOTH
  * `SparkEntry.queries` and `SparkEntry.oracleSql` — a query registered
  * without an oracle silently downgrades to a rows-only check. Round 5
  * shipped 8 silently-broken queries precisely because nothing local
  * flagged the driver-side gap; this spec makes the registration contract
  * loud. Both maps come from one `Registry` list, so a query and its
  * oracle cannot drift apart; what is left to check is that the SQL is
  * really there and that no name is registered twice.
  */
class EntryContractSpec extends SparkSpec {

  test("every registered query carries an oracle, and vice versa") {
    Registry.specs.foreach { s =>
      assert(s.oracleSql != null && s.oracleSql.trim.nonEmpty, s"blank oracle SQL: ${s.name}")
    }
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("query names are unique, stable-format, and the suite keeps growing") {
    SparkEntry.queries.keySet.foreach { n =>
      assert(n.matches("q\\d+_[a-z0-9_]+"), s"non-canonical query name: $n")
    }
    assert(SparkEntry.queries.size == Registry.specs.size)
    assert(SparkEntry.queries.size >= 154,
      s"query count regressed: ${SparkEntry.queries.size}")
  }

  test("a registry with a duplicate name fails at construction") {
    val q01 = Registry("q01_comp")
    val e = intercept[IllegalArgumentException] {
      Registry.checked(Registry.specs :+ QuerySpec("q01_comp", q01.run, "SELECT 1"))
    }
    assert(e.getMessage.contains("q01_comp"))
  }

  test("select takes exact names in the order given and rejects unknown ones") {
    assert(Registry.select(Seq(" q02_ratios", "q01_comp ")).map(_.name) ==
      Seq("q02_ratios", "q01_comp"))
    // a substring of a real name is not a name
    assert(intercept[IllegalArgumentException](Registry.select(Seq("q01_comp", "q01")))
      .getMessage.contains("q01"))
    intercept[IllegalArgumentException](Registry.select(Seq(",", " ")))
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
