package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.api.GroupedStats
import graft.stats.Stats
import graft.stats.Stats.scalar

/** Property tests the reference lacks (SURVEY.md §5): structural invariants
  * over ScalaCheck-generated return series (fixed seeds — deterministic).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val returnsGen: Gen[List[Double]] =
    Gen.chooseNum(2, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-0.99, 1.5)))

  private def cases(n: Int): Seq[List[Double]] =
    (1 to n).map(i => returnsGen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("comp >= -1 when all returns >= -1") {
    cases(8).foreach { rs =>
      val c = scalar(Stats.comp(rs.toDF("r")))
      assert(c >= -1.0 - 1e-12, s"comp $c for $rs")
    }
  }

  test("drawdowns are always <= 0") {
    cases(8).foreach { rs =>
      val dd = Stats.toDrawdowns(rs.toDF("r")).collect().map(_.getDouble(0))
      assert(dd.forall(_ <= 1e-15), s"positive dd in ${dd.toSeq} for $rs")
    }
  }

  test("max drawdown equals min of drawdown curve") {
    cases(8).foreach { rs =>
      val df = rs.toDF("r")
      val dd = Stats.toDrawdowns(df).collect().map(_.getDouble(0))
      val mdd = scalar(Stats.maxDrawdown(df))
      assert(math.abs(dd.min - mdd) < 1e-12, s"dd.min ${dd.min} vs maxDD $mdd")
    }
  }

  test("best/worst equal extrema of the series") {
    cases(8).foreach { rs =>
      val df = rs.toDF("r")
      assert(scalar(Stats.best(df)) == rs.max)
      assert(scalar(Stats.worst(df)) == rs.min)
    }
  }

  test("wide and long paths agree on sharpe per asset") {
    // fromWide normalizes as every Stats call does: a NaN is a missing
    // return (alphastats/_utils.py:34), and a numeric time column is the
    // series order, not an asset
    val withNaN = cases(1).head.updated(1, Double.NaN)
    (cases(6) :+ withNaN).foreach { rs =>
      val wide = dates(rs.length).zip(rs).toDF("date", "a1")
      val byLongTime = rs.indices.map(_.toLong).zip(rs).toDF("t", "a1")
      val wideVal = scalar(Stats.sharpe(wide))
      val longs = Seq(GroupedStats.fromWide(wide, "date"), GroupedStats.fromWide(byLongTime, "t"))
      longs.foreach { long =>
        val rows = GroupedStats.aggregate(long,
          Seq("sharpe" -> (c => graft.core.Exprs.sharpe(c, 0.0, 252, annualize = true)))).collect()
        assert(rows.map(_.getString(0)).toSeq == Seq("a1"), s"assets with ts ${long.ts}")
        val longVal = rows.head.getDouble(1)
        if (!(wideVal.isNaN && longVal.isNaN)) assertApprox(longVal, wideVal, 1e-12, s"$rs")
      }
    }
  }

  test("wide and long paths agree on smart sharpe and autocorr penalty") {
    cases(6).foreach { rs =>
      val wide = dates(rs.length).zip(rs).toDF("date", "a1")
      val long = GroupedStats.fromWide(wide, "date")
      val wideSmart = scalar(Stats.smartSharpe(wide))
      val widePen = scalar(Stats.autocorrPenalty(wide))
      val row = GroupedStats.smartSharpe(long).head()
      val longPen = row.getAs[Double]("autocorr_penalty")
      val longSmart = row.getAs[Double]("smart_sharpe")
      if (!(widePen.isNaN && longPen.isNaN)) assertApprox(longPen, widePen, 1e-9)
      if (!(wideSmart.isNaN && longSmart.isNaN)) assertApprox(longSmart, wideSmart, 1e-9)
    }
  }

  test("funnel counts narrow monotonically and never decrease when events are added") {
    import java.sql.Timestamp
    val stages = Seq("view", "click", "purchase")
    val typeGen = Gen.oneOf("view", "click", "purchase", "error")
    def eventsCase(seed: Long, n: Int): Seq[(Long, Timestamp, String)] =
      (0 until n).map { i =>
        val u = Gen.chooseNum(1L, 5L).pureApply(Gen.Parameters.default, Seed(seed + i))
        val t = typeGen.pureApply(Gen.Parameters.default, Seed(seed * 31 + i))
        (u, new Timestamp(1700000000000L + i * 1000L), t)
      }
    (1 to 4).foreach { k =>
      val evs = eventsCase(100L * k, 60)
      def counts(rows: Seq[(Long, Timestamp, String)]): Seq[Long] = {
        val r = graft.ext.Events.funnel(
          rows.toDF("user_id", "ts", "event_type"), stages).head()
        stages.map(s => r.getAs[Long](s"n_$s"))
      }
      val c = counts(evs)
      // funnel narrows: each stage's count <= previous stage's
      assert(c.sliding(2).forall(p => p(0) >= p(1)), s"not narrowing: $c")
      // adding more events never loses progress (min view time only moves
      // earlier, widening every later stage's window)
      val c2 = counts(evs ++ eventsCase(999L * k, 30).map { case (u, t, ty) =>
        (u, new Timestamp(t.getTime + 100000000L), ty)
      })
      assert(c.zip(c2).forall { case (a, b) => b >= a }, s"regressed: $c -> $c2")
    }
  }

  test("exposure is within [0, 1]") {
    cases(8).foreach { rs =>
      val e = scalar(Stats.exposure(rs.toDF("r")))
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("binned quantile is rank-exact: the crossing order statistic lies in [edge, edge+width)") {
    import org.apache.spark.sql.functions._
    val w = 0.0005
    val rows = graft.queries.Queries.q64BinnedQuantiles(spark, "/root/testdata/sf0.001")
      .collect()
    val ret = graft.queries.Queries.assetReturns(spark, "/root/testdata/sf0.001").df
      .select(col("asset"), col("r")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val asset = row.getAs[String]("asset")
      val sorted = ret(asset)
      val n = sorted.length
      for ((q, col) <- Seq((0.5, "p50_binned"), (0.95, "p95_binned"))) {
        val edge = row.getAs[Double](col)
        // crossing rank = smallest k with k >= q*n (1-based)
        val os = sorted(math.ceil(q * n).toInt - 1)
        assert(os >= edge - 1e-9 && os < edge + w + 1e-9,
          s"$asset $col: order stat $os outside [$edge, ${edge + w})")
      }
    }
  }

  test("waterfill allocations match an independent bisection solver on random supplies") {
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random instances (no RNG objects — seeded hashing)
    def supplies(seed: Int, n: Int): Seq[Double] =
      (0 until n).map(i => 1.0 + math.abs((seed * 2654435761L + i * 40503L).toInt % 100000) / 10.0)
    def bisect(ts: Seq[Double], budget: Double): Double = {
      var lo = 0.0; var hi = ts.max
      (0 until 200).foreach { _ =>
        val mid = (lo + hi) / 2
        if (ts.map(math.min(_, mid)).sum < budget) lo = mid else hi = mid
      }
      (lo + hi) / 2
    }
    for (seed <- 1 to 5; n <- Seq(3, 7, 23); frac <- Seq(0.25, 0.5, 0.9)) {
      val ts = supplies(seed * 31 + n, n)
      val budget = ts.sum * frac
      val df = ts.zipWithIndex.map { case (t, i) => (s"s$i", t) }.toDF("key", "supply")
      val out = graft.ext.Curation
        .waterfillAllocations(df, "key", "supply", budget)
        .collect().map(r => r.getAs[String]("key") ->
          (r.getAs[Double]("allocation"), r.getAs[Boolean]("capped"))).toMap
      val c = bisect(ts, budget)
      // budget exhausted exactly (the closed form is exact; bisection is the witness)
      val alloc = out.values.map(_._1).sum
      assert(math.abs(alloc - budget) < 1e-6 * budget,
        s"seed=$seed n=$n frac=$frac: alloc $alloc vs budget $budget")
      // per-source allocations agree with the bisection level
      ts.zipWithIndex.foreach { case (t, i) =>
        val (a, capped) = out(s"s$i")
        assert(math.abs(a - math.min(t, c)) < 1e-4 * math.max(t, 1.0),
          s"seed=$seed n=$n frac=$frac s$i: $a vs ${math.min(t, c)}")
        assert(capped == (t > c + 1e-6) || math.abs(t - c) < 1e-4)
      }
    }
    // budget above total supply: everyone fully funded, nobody capped
    val ts = supplies(7, 5)
    val df = ts.zipWithIndex.map { case (t, i) => (s"s$i", t) }.toDF("key", "supply")
    val out = graft.ext.Curation
      .waterfillAllocations(df, "key", "supply", ts.sum * 2)
      .collect()
    out.foreach { r =>
      assert(!r.getAs[Boolean]("capped"))
      assert(math.abs(r.getAs[Double]("allocation") - r.getAs[Double]("supply")) < 1e-9)
    }
  }

  test("BPE replace-chain encoding == exact symbol merge scan on random words") {
    // Property form of the Round12Spec equivalence (the round-8 prefix-only
    // encoding failed exactly here): for ARBITRARY words over the merge
    // alphabet, applying Bpe.Merges via the separator-wrapped string
    // replaces must equal the trainer's exact symbol-vector scan.
    import graft.ext.Bpe
    def mergeScan(w: String): Seq[String] = {
      var syms: Vector[String] = w.map(_.toString).toVector
      Bpe.Merges.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    // bias toward the letters that appear in merge pairs so collisions and
    // adjacent-pair runs are common, plus a few outside letters
    val alphabet = "aabcdeefghijklmnoopqrsstuvwy.z"
    val wordGen = Gen.chooseNum(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet.toSeq)).map(_.mkString))
    val words = (1 to 400).map(i =>
      wordGen.pureApply(Gen.Parameters.default, Seed(1337L + i)))
    words.foreach { w =>
      assert(Bpe.encodeWord(w) == mergeScan(w),
        s"'$w': replace ${Bpe.encodeWord(w).mkString("|")} vs scan ${mergeScan(w).mkString("|")}")
    }
    // and the Column path agrees with the Scala twin on a sample
    val sample = words.distinct.take(60)
    val got = sample.toDF("w")
      .select(org.apache.spark.sql.functions.col("w"),
        Bpe.tokenCountCol(org.apache.spark.sql.functions.col("w")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sample.foreach(w => assert(got(w) == Bpe.tokenCount(w).toLong, s"column path on '$w'"))
  }
}
