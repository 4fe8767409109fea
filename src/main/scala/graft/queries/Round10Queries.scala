package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 extension queries (q184+), three families:
  *
  *   1. The remaining classic TPC-H JOIN SHAPES the suite had not yet
  *      pinned (q184-q189): existential semi-join with a cross-table
  *      inequality (Q4), bidirectional nation-pair volume (Q7), multi-way
  *      profit rollup (Q9), group-vs-global-scalar HAVING (Q11), fact
  *      pre-aggregation feeding a relative-threshold customer cut (Q18),
  *      and a lag-bucket conditional-count matrix (Q12's shape re-expressed
  *      over the columns this schema has). Together with q155/q167-q172/
  *      q179-q183 this closes out the TPC-H shape catalogue expressible on
  *      the driver's star schema.
  *   2. EXACT-INTEGER TIME-SERIES DIAGNOSTICS over the hourly event-revenue
  *      grid (q190-q193): Durbin-Watson, Ljung-Box ACF panel, Lo-MacKinlay
  *      variance-ratio, and a diurnal harmonic (single-DFT-bin) fit. Every
  *      sum that crosses rows is an exact BIGINT in cents (or cents², or a
  *      lag cross-product of cents) — the only doubles are final scalar
  *      expressions over those exact aggregates, so partition fold order
  *      cannot move the published 6-dp values in either engine.
  *   3. RANK / NONPARAMETRIC statistics at fact-table scale (q194-q197):
  *      Spearman rho via exact half-integer average ranks, Kruskal-Wallis H
  *      across event types, Brown-Forsythe robust variance homogeneity on
  *      |x - group-median| (medians of ints are exact half-integers →
  *      deviations are exact in doubled units), and Kendall tau-b computed
  *      from a decile contingency table (pair concordance over 100 cells,
  *      never over row pairs).
  *
  * Reference scope note: alphastats (reference `stats.py`) ships Pearson
  * correlation and distribution moments but none of these shapes; they are
  * extension inventory for the large-scale pipeline audit layer, same
  * charter as q173-q183.
  */
object Round10Queries {

  import ExtQueries.{cached, events}

  // warehouse tables read UNCACHED on purpose (see Round9Queries: caching a
  // whole table would substitute an InMemoryRelation into every matching
  // scan session-wide and kill pruning/pushdown suite-wide)
  private def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  // ---- q184 priority wait audit (TPC-H Q4 shape) ----------------------------

  /** Orders per priority class that have at least one line item shipped more
    * than 60 days after the order date — the classic existential
    * ship-lateness audit (TPC-H Q4's EXISTS with a cross-table inequality).
    * Spark shape: LEFT SEMI join orders←lineitem on the order key with the
    * date inequality folded into the join condition, so the planner keeps
    * it a single keyed shuffle (no distinct, no join-back; the semi join
    * stops probing an order on its first late item). The 60-day comparison
    * is timestamp arithmetic — exact, no floats anywhere.
    */
  def q184PriorityWait(spark: SparkSession, sfDir: String): DataFrame = {
    val o = tbl(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("o_orderpriority")
  }

  val q184Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_late_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q185 bidirectional nation-pair volume (TPC-H Q7 shape) ---------------

  /** Shipping volume between every ORDERED pair of distinct nations
    * (supplier nation → customer nation) per ship year — TPC-H Q7
    * generalized from one nation pair to the full 25×24 directed matrix
    * (bounded output at any scale factor: pairs × years, not data-sized).
    * Spark shape: ONE keyed fact-fact shuffle (lineitem ⋈ orders on order
    * key); supplier, customer and the two nation lookups are broadcast.
    * Revenue quantizes to exact cents row-locally (q171 lesson) so the sums
    * are exact BIGINTs in both engines.
    */
  def q185NationPairVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = tbl(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = tbl(spark, sfDir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val orders = tbl(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("revc")).cast("double") / 100.0, 6).as("volume"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  val q185Sql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(YEAR(l_shipdate) AS INT) AS ship_year, COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6) AS volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name <> cn.n_name
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- q186 product-line profit (TPC-H Q9 shape) ----------------------------

  /** Profit contribution of one product family ('red' parts) by supplier
    * nation and ship year — TPC-H Q9's multi-way rollup with the part cost
    * proxied by `p_retailprice · quantity` (this schema has no partsupp
    * table). Per-row margin quantizes to exact cents (quantity is integral
    * 1..50, so `retail_cents · qty` is an exact BIGINT product, not a float
    * multiply), making the profit sum exact. Spark shape: the part-family
    * filter prunes at the broadcast dimension BEFORE the fact join, the
    * lineitem⋈orders fact shuffle only carries rows that survived the
    * part semi-filter.
    */
  def q186ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = tbl(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val part = tbl(spark, sfDir, "part")
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"),
        graft.core.Exprs.roundHalfUpLong(col("p_retailprice") * 100).as("retailc"))
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"),
        col("l_quantity").cast("long").as("qty"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("profitc", col("revc") - col("retailc") * col("qty"))
      .groupBy(col("supp_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("profitc")).cast("double") / 100.0, 6).as("profit"))
      .orderBy("supp_nation", "ship_year")
  }

  val q186Sql: String =
    """SELECT n_name AS supp_nation, CAST(YEAR(l_shipdate) AS INT) AS ship_year,
      |  COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
      |    - CAST(ROUND(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0, 6) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q187 above-share nations (TPC-H Q11 shape) ---------------------------

  /** Supplier nations whose shipped revenue exceeds 1.5× the equal-share
    * slice of global revenue (total/25) — TPC-H Q11's HAVING-against-a-
    * global-scalar shape, made scale-free so it selects the same kind of
    * rows at every scale factor. Spark shape: ONE aggregation produces the
    * per-nation revenue; the global total is the SUM of that 25-row frame
    * (never a second fact scan), cross-joined back as a broadcast scalar.
    * Exact-cents sums; the share and threshold comparison happen on exact
    * BIGINTs (compare `25·rev > 3·total/2` in integers — no float compare
    * at the cut, so membership is bit-deterministic).
    */
  def q187AboveShareNations(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = tbl(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_suppkey"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    val perNation = li
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("supp_nation"))
      .agg(sum(col("revc")).as("revc"), count(lit(1)).as("n_items"))
    val total = perNation.agg(sum(col("revc")).as("totalc"))
    perNation.crossJoin(broadcast(total))
      // integer-exact cut: rev > 1.5 * total / 25  ⇔  50·rev > 3·total
      .filter(col("revc") * lit(50L) > col("totalc") * lit(3L))
      .select(col("supp_nation"), col("n_items"),
        round(col("revc").cast("double") / 100.0, 6).as("revenue"),
        round(col("revc").cast("double") / col("totalc").cast("double"), 6)
          .as("share"))
      .orderBy("supp_nation")
  }

  val q187Sql: String =
    """WITH pn AS (
      |  SELECT n_name AS supp_nation,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS revc,
      |    COUNT(*) AS n_items
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1),
      |t AS (SELECT SUM(revc) AS totalc FROM pn)
      |SELECT supp_nation, n_items,
      |  ROUND(CAST(revc AS DOUBLE) / 100.0, 6) AS revenue,
      |  ROUND(CAST(revc AS DOUBLE) / CAST(totalc AS DOUBLE), 6) AS share
      |FROM pn, t
      |WHERE revc * 50 > totalc * 3
      |ORDER BY supp_nation""".stripMargin

  // ---- q188 large-volume customers (TPC-H Q18 shape) ------------------------

  /** Customers whose lifetime ordered quantity exceeds 2× the average
    * customer's — TPC-H Q18's "large volume customer" cut with a scale-free
    * relative threshold. Spark shape: quantity pre-aggregates per ORDER on
    * the lineitem side FIRST (map-side-combinable, shrinks the fact before
    * the orders join), then rolls up per customer; the threshold is a
    * broadcast scalar from the same per-customer frame; the customer name
    * attaches by broadcast only to the few surviving rows. The cut compares
    * exact integers (`n_cust · qty > 2 · total_qty`), so membership cannot
    * flip on float jitter.
    */
  def q188LargeVolumeCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrder = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("oqty"), sum(col("revc")).as("orevc"))
    val orders = tbl(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val perCust = perOrder
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("oqty")).as("total_qty"),
        sum(col("orevc")).as("revc"))
    val thresh = perCust.agg(
      sum(col("total_qty")).as("all_qty"), count(lit(1)).as("n_cust"))
    val cust = tbl(spark, sfDir, "customer").select(col("c_custkey"), col("c_name"))
    perCust.crossJoin(broadcast(thresh))
      .filter(col("total_qty") * col("n_cust") > col("all_qty") * lit(2L))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"), col("total_qty"),
        round(col("revc").cast("double") / 100.0, 6).as("revenue"))
      .orderBy("c_custkey")
  }

  val q188Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS n_orders,
      |    SUM(CAST(l_quantity AS BIGINT)) AS total_qty,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS revc
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |t AS (SELECT SUM(total_qty) AS all_qty, COUNT(*) AS n_cust FROM pc)
      |SELECT c_custkey, c_name, n_orders, CAST(total_qty AS BIGINT) AS total_qty,
      |  ROUND(CAST(revc AS DOUBLE) / 100.0, 6) AS revenue
      |FROM pc
      |CROSS JOIN t
      |JOIN customer ON o_custkey = c_custkey
      |WHERE total_qty * n_cust > all_qty * 2
      |ORDER BY c_custkey""".stripMargin

  // ---- q189 ship-lag priority matrix (TPC-H Q12 shape) ----------------------

  /** Line items bucketed by ship lag (half-year buckets of days between
    * order and ship date, clamped to [-4, 4]) × a priority split — TPC-H
    * Q12's conditional-count matrix re-expressed over the columns this
    * schema has (no l_shipmode). Counts urgent-or-high versus lower
    * priority orders per lag bucket; everything is integer date arithmetic
    * and conditional counts — exact by construction. One keyed fact-fact
    * shuffle; the CASE splits are map-side partial aggregates.
    */
  def q189ShipLagPriorityMix(spark: SparkSession, sfDir: String): DataFrame = {
    val o = tbl(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long").as("is_hi"))
    val li = tbl(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .withColumn("lag_bucket",
        greatest(least(floor(col("lag_days") / 180.0), lit(4L)), lit(-4L)))
      .groupBy(col("lag_bucket"))
      .agg(sum(col("is_hi")).as("n_high_priority"),
        sum(lit(1L) - col("is_hi")).as("n_low_priority"),
        round(avg(col("lag_days").cast("double")), 6).as("avg_lag_days"))
      .orderBy("lag_bucket")
  }

  val q189Sql: String =
    """SELECT GREATEST(LEAST(CAST(FLOOR(DATEDIFF('day', o_orderdate, l_shipdate) / 180.0) AS BIGINT), 4), -4) AS lag_bucket,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_high_priority,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS n_low_priority,
      |  ROUND(AVG(CAST(DATEDIFF('day', o_orderdate, l_shipdate) AS DOUBLE)), 6) AS avg_lag_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- shared hourly event-revenue grid -------------------------------------

  /** Zero-filled hourly revenue grid per event type: one row per
    * (event_type, hour) over the COMPLETE global [min, max] hour span of
    * the events table, `xc` = exact cents (BIGINT) of that hour's summed
    * event value, 0 where the hour had no events. `i` is the hour index
    * from the global start; `hd` the UTC hour-of-day. The grid is
    * time-bounded (span × 5 types ≈ 3,600 rows at every scale factor), so
    * the q190-q193 self-joins and windows over it are O(grid), never
    * O(data): at 100 TB the single data-sized stage is the first
    * groupBy(type, hour) — a map-side-combinable exact-integer sum.
    * Cached once per (session, sf) like the other shared frames.
    */
  private def hourlySeries(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "hourly_revenue_grid") {
      val ev = events(spark, sfDir).select(col("event_type"),
        floor(col("ts").cast("long") / 3600).cast("long").as("h"),
        graft.core.Exprs.roundHalfUpLong(col("value") * 100).as("cents"))
      val agg = ev.groupBy(col("event_type"), col("h"))
        .agg(sum(col("cents")).as("xc"))
      val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"),
          col("h0"))
      grid.join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"), (col("h") - col("h0")).as("i"),
          (col("h") % 24).as("hd"), coalesce(col("xc"), lit(0L)).as("xc"))
    }

  /** The SQL twin of [[hourlySeries]] — every q190-q193 oracle interpolates
    * this CTE chain so each oracle stays self-contained.
    */
  private val hourlySeriesCte: String =
    """ev AS (
      |  SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
      |    CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |agg AS (
      |  SELECT event_type, h, SUM(cents) AS xc FROM ev GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
      |hours AS (SELECT UNNEST(range(h0, h1 + 1)) AS h, h0 FROM b),
      |s AS (
      |  SELECT t.event_type, g.h - g.h0 AS i, g.h % 24 AS hd,
      |    COALESCE(a.xc, 0) AS xc
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN hours g
      |  LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = g.h)""".stripMargin

  // ---- q190 Durbin-Watson autocorrelation audit -----------------------------

  /** Durbin-Watson statistic of each event type's hourly revenue series:
    * DW = Σ(xᵢ−xᵢ₋₁)² / Σ(xᵢ−x̄)² — the classic 0..4 serial-correlation
    * gauge (≈2 none, →0 positive, →4 negative). Every cross-row sum is an
    * exact BIGINT (cents and cents² of the lag differences via one window
    * lag per type); the mean-centered denominator comes from the algebraic
    * identity Σ(x−x̄)² = Σx² − S²/n so no float ever crosses a partition
    * fold. 5 output rows.
    */
  def q190DurbinWatson(spark: SparkSession, sfDir: String): DataFrame = {
    val s = hourlySeries(spark, sfDir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("i"))
    val d = s.withColumn("prev", lag(col("xc"), 1).over(w))
      .withColumn("dsq",
        when(col("prev").isNotNull,
          (col("xc") - col("prev")) * (col("xc") - col("prev"))).otherwise(lit(0L)))
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("sx"),
        sum(col("xc") * col("xc")).as("sxx"), sum(col("dsq")).as("sdd"))
      .select(col("event_type"), col("n"),
        round(col("sx").cast("double") / col("n").cast("double") / 100.0, 6)
          .as("mean_hourly_rev"),
        round(col("sdd").cast("double") /
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n").cast("double")), 6).as("dw"))
      .orderBy("event_type")
  }

  val q190Sql: String =
    s"""WITH $hourlySeriesCte,
       |d AS (
       |  SELECT event_type, xc,
       |    xc - LAG(xc) OVER (PARTITION BY event_type ORDER BY i) AS dx
       |  FROM s)
       |SELECT event_type, COUNT(*) AS n,
       |  ROUND(CAST(SUM(xc) AS DOUBLE) / COUNT(*) / 100.0, 6) AS mean_hourly_rev,
       |  ROUND(CAST(SUM(COALESCE(dx * dx, 0)) AS DOUBLE) /
       |    (CAST(SUM(xc * xc) AS DOUBLE)
       |      - CAST(SUM(xc) AS DOUBLE) * CAST(SUM(xc) AS DOUBLE) / COUNT(*)), 6) AS dw
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q191 Ljung-Box ACF panel ---------------------------------------------

  /** Sample autocorrelations ρ₁..ρ₅ of the hourly purchase-revenue series
    * with the cumulative Ljung-Box Q statistic at each lag
    * (Q_k = n(n+2) Σ_{j≤k} ρ_j²/(n−j)). Each ρ_k expands to exact-BIGINT
    * ingredients — lag cross-product Σxᵢxᵢ₊ₖ, head/tail partial sums, and
    * the global S, SS — combined in one fixed scalar expression, so float
    * summation order cannot move the 6-dp output. The lag join is over the
    * bounded grid (720 × 5 rows), not the data. The Q accumulation is an
    * ordered window over 5 rows — a fixed fold order in both engines.
    */
  def q191LjungBox(spark: SparkSession, sfDir: String): DataFrame = {
    val s = hourlySeries(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("i"), col("xc"))
    val a = s.withColumn("k", explode(array((1 to 5).map(lit): _*)))
    val bS = s.select(col("i").as("j"), col("xc").as("yc"))
    val perK = a.join(bS, col("j") === col("i") + col("k"))
      .groupBy(col("k"))
      .agg(sum(col("xc") * col("yc")).as("p"),
        sum(col("xc")).as("hs"), sum(col("yc")).as("ts"))
    val g = s.agg(count(lit(1)).as("n"), sum(col("xc")).as("sx"),
      sum(col("xc") * col("xc")).as("sxx"))
    val rho = perK.crossJoin(broadcast(g))
      .withColumn("xb", col("sx").cast("double") / col("n").cast("double"))
      .withColumn("num",
        col("p").cast("double") - col("xb") * (col("hs") + col("ts")).cast("double")
          + (col("n") - col("k")).cast("double") * col("xb") * col("xb"))
      .withColumn("den",
        col("sxx").cast("double") - col("n").cast("double") * col("xb") * col("xb"))
      .withColumn("rho", col("num") / col("den"))
    val wq = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rho
      .withColumn("lb_q",
        sum(col("rho") * col("rho") / (col("n") - col("k")).cast("double")).over(wq)
          * col("n").cast("double") * (col("n").cast("double") + 2.0))
      .select(col("k").cast("int").as("lag"), round(col("rho"), 6).as("rho"),
        round(col("lb_q"), 6).as("lb_q"))
      .orderBy("lag")
  }

  val q191Sql: String =
    s"""WITH $hourlySeriesCte,
       |p AS (SELECT i, xc FROM s WHERE event_type = 'purchase'),
       |g AS (SELECT COUNT(*) AS n, SUM(xc) AS sx, SUM(xc * xc) AS sxx FROM p),
       |ks AS (SELECT k FROM (VALUES (1), (2), (3), (4), (5)) v(k)),
       |perk AS (
       |  SELECT ks.k, SUM(a.xc * b.xc) AS pp, SUM(a.xc) AS hs, SUM(b.xc) AS ts
       |  FROM ks
       |  JOIN p a ON TRUE
       |  JOIN p b ON b.i = a.i + ks.k
       |  GROUP BY 1),
       |rho AS (
       |  SELECT k, n,
       |    (CAST(pp AS DOUBLE)
       |      - (CAST(sx AS DOUBLE) / n) * CAST(hs + ts AS DOUBLE)
       |      + (n - k) * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
       |    / (CAST(sxx AS DOUBLE) - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS r
       |  FROM perk CROSS JOIN g)
       |SELECT CAST(k AS INT) AS lag, ROUND(r, 6) AS rho,
       |  ROUND(SUM(r * r / (n - k)) OVER (ORDER BY k)
       |    * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0), 6) AS lb_q
       |FROM rho ORDER BY lag""".stripMargin

  // ---- q192 variance-ratio random-walk test ---------------------------------

  /** Lo-MacKinlay-style variance ratio of the hourly purchase-revenue
    * series: VR(q) = Var(xᵢ−xᵢ₋q) / (q · Var(xᵢ−xᵢ₋₁)) for q ∈ {2,4,8} —
    * ≈1 under a random walk, <1 mean-reverting, >1 trending. All lag
    * differences and their squares are exact BIGINTs from the same bounded
    * grid self-join as q191; variances use the Σd² − (Σd)²/m identity over
    * those exact sums.
    */
  def q192VarianceRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val s = hourlySeries(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("i"), col("xc"))
    val a = s.withColumn("q", explode(array(Seq(1, 2, 4, 8).map(lit): _*)))
    val bS = s.select(col("i").as("j"), col("xc").as("yc"))
    val perQ = a.join(bS, col("j") === col("i") + col("q"))
      .select(col("q"), (col("yc") - col("xc")).as("d"))
      .groupBy(col("q"))
      .agg(count(lit(1)).as("m"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sdd"))
      .withColumn("v",
        (col("sdd").cast("double") -
          col("sd").cast("double") * col("sd").cast("double") /
            col("m").cast("double")) / col("m").cast("double"))
    val base = perQ.filter(col("q") === 1)
      .select(col("v").as("v1"))
    perQ.filter(col("q") =!= 1).crossJoin(broadcast(base))
      .select(col("q").cast("int").as("q"),
        round(col("v") / lit(1.0e4), 6).as("var_q_dollars2"),
        round(col("v") / (col("q").cast("double") * col("v1")), 6).as("vr"))
      .orderBy("q")
  }

  val q192Sql: String =
    s"""WITH $hourlySeriesCte,
       |p AS (SELECT i, xc FROM s WHERE event_type = 'purchase'),
       |qs AS (SELECT q FROM (VALUES (1), (2), (4), (8)) v(q)),
       |perq AS (
       |  SELECT qs.q, COUNT(*) AS m, SUM(b.xc - a.xc) AS sd,
       |    SUM((b.xc - a.xc) * (b.xc - a.xc)) AS sdd
       |  FROM qs
       |  JOIN p a ON TRUE
       |  JOIN p b ON b.i = a.i + qs.q
       |  GROUP BY 1),
       |v AS (
       |  SELECT q,
       |    (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
       |      / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE) AS v
       |  FROM perq)
       |SELECT CAST(a.q AS INT) AS q, ROUND(a.v / 10000.0, 6) AS var_q_dollars2,
       |  ROUND(a.v / (a.q * b.v), 6) AS vr
       |FROM v a CROSS JOIN (SELECT v FROM v WHERE q = 1) b
       |WHERE a.q <> 1 ORDER BY a.q""".stripMargin

  // ---- q193 diurnal harmonic fit --------------------------------------------

  /** First-harmonic (24-hour period) fit of the hourly purchase-revenue
    * series: the DFT-bin projection b = (2/n)Σ xᵢcos(2πhdᵢ/24),
    * c = (2/n)Σ xᵢsin(2πhdᵢ/24) — equal to the OLS cosine/sine
    * coefficients on this balanced grid — plus the harmonic amplitude
    * √(b²+c²) and the share of centered energy the harmonic explains.
    * The data collapses to 24 exact (hour-of-day, Σcents) rows FIRST; the
    * 24 trig terms then accumulate through an ORDERED window (hd 0→23), a
    * fixed fold order in both engines, so the only float sums are 24-term
    * sequential folds over identical operands.
    */
  def q193DiurnalHarmonic(spark: SparkSession, sfDir: String): DataFrame = {
    val s = hourlySeries(spark, sfDir).filter(col("event_type") === "purchase")
    val perHd = s.groupBy(col("hd"))
      .agg(sum(col("xc")).as("sh"), count(lit(1)).as("nh"))
      .withColumn("cosw", cos(lit(2.0 * math.Pi) * col("hd").cast("double") / 24.0))
      .withColumn("sinw", sin(lit(2.0 * math.Pi) * col("hd").cast("double") / 24.0))
    val g = s.agg(count(lit(1)).as("n"), sum(col("xc")).as("sx"),
      sum(col("xc") * col("xc")).as("sxx"))
    val wOrd = Window.orderBy(col("hd"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acc = perHd
      .withColumn("bacc", sum(col("cosw") * col("sh").cast("double")).over(wOrd))
      .withColumn("cacc", sum(col("sinw") * col("sh").cast("double")).over(wOrd))
      .withColumn("rn", row_number().over(Window.orderBy(col("hd").desc)))
      .filter(col("rn") === 1)
    acc.crossJoin(broadcast(g))
      .withColumn("bc", lit(2.0) * col("bacc") / col("n").cast("double"))
      .withColumn("cc", lit(2.0) * col("cacc") / col("n").cast("double"))
      .withColumn("ss",
        col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double"))
      .select(col("n"),
        round(col("bc") / 100.0, 6).as("cos_coef"),
        round(col("cc") / 100.0, 6).as("sin_coef"),
        round(sqrt(col("bc") * col("bc") + col("cc") * col("cc")) / 100.0, 6)
          .as("amplitude"),
        round((col("bc") * col("bc") + col("cc") * col("cc")) *
          col("n").cast("double") / 2.0 / col("ss"), 6).as("energy_share"))
  }

  val q193Sql: String =
    s"""WITH $hourlySeriesCte,
       |p AS (SELECT hd, xc FROM s WHERE event_type = 'purchase'),
       |perhd AS (
       |  SELECT hd, SUM(xc) AS sh,
       |    COS(2 * PI() * hd / 24.0) AS cosw, SIN(2 * PI() * hd / 24.0) AS sinw
       |  FROM p GROUP BY 1),
       |g AS (SELECT COUNT(*) AS n, SUM(xc) AS sx, SUM(xc * xc) AS sxx FROM p),
       |acc AS (
       |  SELECT SUM(cosw * CAST(sh AS DOUBLE)) OVER (ORDER BY hd) AS bacc,
       |    SUM(sinw * CAST(sh AS DOUBLE)) OVER (ORDER BY hd) AS cacc,
       |    ROW_NUMBER() OVER (ORDER BY hd DESC) AS rn
       |  FROM perhd)
       |SELECT n,
       |  ROUND(2.0 * bacc / n / 100.0, 6) AS cos_coef,
       |  ROUND(2.0 * cacc / n / 100.0, 6) AS sin_coef,
       |  ROUND(SQRT((2.0 * bacc / n) * (2.0 * bacc / n)
       |    + (2.0 * cacc / n) * (2.0 * cacc / n)) / 100.0, 6) AS amplitude,
       |  ROUND(((2.0 * bacc / n) * (2.0 * bacc / n) + (2.0 * cacc / n) * (2.0 * cacc / n))
       |    * n / 2.0
       |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n), 6)
       |    AS energy_share
       |FROM acc CROSS JOIN g WHERE rn = 1""".stripMargin

  // ---- q194 Spearman vs Pearson at fact scale -------------------------------

  /** Pearson r and Spearman ρ between line-item quantity and discounted
    * revenue over the full lineitem table. Spearman uses textbook
    * average-ranks-with-ties, but built SCALABLY: ranks are derived per
    * DISTINCT VALUE (group → count → exclusive prefix via the distributed
    * [[graft.ext.Curation.withGlobalOffset]] scan, never a global window
    * over rows), and doubled average ranks 2r = 2·prefix + count + 1 are
    * exact BIGINTs, so every cross-row sum (Σ2rx, Σ(2rx)², Σ2rx·2ry, and
    * the raw-value Pearson sums in cents) is exact; only the final
    * correlation formula runs in doubles. The squared/cross sums aggregate as
    * DECIMAL(38,0) — exact 128-bit integers matching DuckDB's HUGEINT —
    * because Σy² passes 2^63 already at sf0.1 (int64 wraps negative and
    * the correlation surfaces as NaN).
    */
  /** Shared (x = quantity, y = exact revenue cents) projection of lineitem
    * and the per-column distinct-value rank scans — q194 (Spearman) and
    * q197 (Kendall deciles) both need the exclusive-prefix scan of the SAME
    * two value domains, and the y-domain scan (near-unique revenue cents)
    * is the expensive half of both queries, so one cached copy serves both
    * (measured: the two queries together dropped from 6.2 s to the cost of
    * one scan at sf0.1).
    */
  private def liXY(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "li_xy")(
      tbl(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("y")))

  /** (value, cnt, pre) exclusive-prefix rank scan over one liXY column. */
  private def liRankScan(spark: SparkSession, sfDir: String, c: String): DataFrame =
    cached(spark, sfDir, s"li_rank_$c") {
      val perV = liXY(spark, sfDir).groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      graft.ext.Curation.withGlobalOffset(perV, c, "cnt", "pre")
    }

  def q194SpearmanPearson(spark: SparkSession, sfDir: String): DataFrame = {
    val li = liXY(spark, sfDir)
    def doubledRanks(c: String): DataFrame =
      liRankScan(spark, sfDir, c)
        .select(col(c), (col("pre") * 2 + col("cnt") + 1).as(s"r2_$c"))
    val rx = doubledRanks("x")
    val ry = doubledRanks("y")
    val ranked = li
      .join(broadcast(rx), "x") // ≤50 distinct quantities — broadcast lookup
      .join(ry, "y") // revenue cents are near-unique — keyed shuffle
    val agg = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // squared/cross sums run on DECIMAL(38,0): Σy² at fact scale passes
      // 2^63 (revenue cents² × 6e5 rows ≈ 7e19 — int64 sum wraps negative
      // and the correlation surfaces as NaN; caught by the sf0.1 gate),
      // and decimal matches DuckDB's 128-bit HUGEINT sums exactly
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
      // linear doubled-rank sums are ~n² (Σ2r ≤ 2n²) — past 2^63 near
      // n = 3e9 rows, so they ride decimal like the squared sums
      sum(col("r2_x").cast("decimal(19,0)")).as("rsx"),
      sum(col("r2_y").cast("decimal(19,0)")).as("rsy"),
      sum(col("r2_x").cast("decimal(19,0)") * col("r2_x").cast("decimal(19,0)")).as("rsxx"),
      sum(col("r2_y").cast("decimal(19,0)") * col("r2_y").cast("decimal(19,0)")).as("rsyy"),
      sum(col("r2_x").cast("decimal(19,0)") * col("r2_y").cast("decimal(19,0)")).as("rsxy"))
    def corr6(n: String, sx: String, sy: String, sxx: String, syy: String,
        sxy: String) = {
      val nd = col(n).cast("double")
      round((nd * col(sxy).cast("double") -
          col(sx).cast("double") * col(sy).cast("double")) /
        sqrt((nd * col(sxx).cast("double") -
            col(sx).cast("double") * col(sx).cast("double")) *
          (nd * col(syy).cast("double") -
            col(sy).cast("double") * col(sy).cast("double"))), 6)
    }
    agg.select(col("n"),
      corr6("n", "sx", "sy", "sxx", "syy", "sxy").as("pearson_r"),
      corr6("n", "rsx", "rsy", "rsxx", "rsyy", "rsxy").as("spearman_rho"))
  }

  val q194Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |rx AS (
      |  SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1 AS r2x
      |  FROM (SELECT x, COUNT(*) AS cnt FROM li GROUP BY 1)),
      |ry AS (
      |  SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS r2y
      |  FROM (SELECT y, COUNT(*) AS cnt FROM li GROUP BY 1)),
      |j AS (
      |  SELECT li.x, li.y, rx.r2x, ry.r2y
      |  FROM li JOIN rx ON li.x = rx.x JOIN ry ON li.y = ry.y),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |    SUM(x * y) AS sxy,
      |    SUM(r2x) AS rsx, SUM(r2y) AS rsy, SUM(r2x * r2x) AS rsxx,
      |    SUM(r2y * r2y) AS rsyy, SUM(r2x * r2y) AS rsxy
      |  FROM j)
      |SELECT n,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS pearson_r,
      |  ROUND((CAST(n AS DOUBLE) * CAST(rsxy AS DOUBLE) - CAST(rsx AS DOUBLE) * CAST(rsy AS DOUBLE))
      |    / SQRT((CAST(n AS DOUBLE) * CAST(rsxx AS DOUBLE) - CAST(rsx AS DOUBLE) * CAST(rsx AS DOUBLE))
      |         * (CAST(n AS DOUBLE) * CAST(rsyy AS DOUBLE) - CAST(rsy AS DOUBLE) * CAST(rsy AS DOUBLE))), 6) AS spearman_rho
      |FROM a""".stripMargin

  // ---- q195 Kruskal-Wallis across event types -------------------------------

  /** Kruskal-Wallis H test of event value across the 5 event types —
    * "does any event type's value distribution stochastically dominate?"
    * without normality assumptions. Same exact-rank machinery as q194/q173:
    * per-distinct-cents counts → exclusive prefix → doubled average ranks
    * (exact BIGINT), doubled per-group rank sums 2R_j by joining the
    * per-(value, type) counts back onto the per-value ranks. H and its
    * tie-corrected variant are fixed scalar expressions over the exact
    * aggregates (Σt³−t over value multiplicities for the correction).
    */
  def q195KruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("event_type"),
        graft.core.Exprs.roundHalfUpLong(col("value") * 100).as("vc"))
    val perV = ev.groupBy(col("vc")).agg(count(lit(1)).as("cnt"))
    val ranksV = graft.ext.Curation.withGlobalOffset(perV, "vc", "cnt", "pre")
      .select(col("vc"), col("cnt"),
        (col("pre") * 2 + col("cnt") + 1).as("r2"))
    val perVT = ev.groupBy(col("vc"), col("event_type")).agg(count(lit(1)).as("ct"))
    val perGroup = perVT.join(ranksV.select("vc", "r2"), "vc")
      .groupBy(col("event_type"))
      // r2·ct and its sum are ~n² — decimal operands so neither the product
      // nor the sum can wrap int64 at fact scale (DuckDB is HUGEINT here)
      .agg(sum(col("ct")).as("nj"),
        sum(col("r2").cast("decimal(19,0)") * col("ct").cast("decimal(19,0)")).as("r2j"))
    val ties = ranksV.agg(
      // cnt³ wraps int64 once any single value's multiplicity passes 2.1e6
      sum(col("cnt").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)") *
        col("cnt").cast("decimal(19,0)") - col("cnt").cast("decimal(19,0)")).as("t3"),
      sum(col("cnt")).as("n"))
    val hRaw = perGroup.crossJoin(broadcast(ties))
      // Σ R_j²/n_j with R_j = r2j/2 → Σ (r2j/2)²/n_j; keep in doubles from
      // the exact BIGINT r2j (r2j² would overflow at 1e5+ rows)
      .select(col("event_type"), col("nj"), col("r2j"), col("t3"), col("n"),
        (col("r2j").cast("double") / 2.0) * (col("r2j").cast("double") / 2.0) /
          col("nj").cast("double")).toDF(
        "event_type", "nj", "r2j", "t3", "n", "rr")
    hRaw.groupBy(col("t3"), col("n"))
      .agg(count(lit(1)).as("n_groups"), sum(col("rr")).as("srr"),
        round(max(col("r2j").cast("double") / 2.0 / col("nj").cast("double")), 6)
          .as("max_mean_rank"))
      .withColumn("h",
        lit(12.0) / (col("n").cast("double") * (col("n").cast("double") + 1.0)) *
          col("srr") - lit(3.0) * (col("n").cast("double") + 1.0))
      .withColumn("tie_c",
        lit(1.0) - col("t3").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") - col("n").cast("double")))
      .select(col("n"), col("n_groups"), round(col("h"), 6).as("h"),
        round(col("h") / col("tie_c"), 6).as("h_tie_corrected"),
        col("max_mean_rank"))
  }

  val q195Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events),
      |perv AS (SELECT vc, COUNT(*) AS cnt FROM ev GROUP BY 1),
      |ranks AS (
      |  SELECT vc, cnt, 2 * (SUM(cnt) OVER (ORDER BY vc) - cnt) + cnt + 1 AS r2
      |  FROM perv),
      |pervt AS (SELECT vc, event_type, COUNT(*) AS ct FROM ev GROUP BY 1, 2),
      |pg AS (
      |  SELECT event_type, SUM(ct) AS nj, SUM(r2 * ct) AS r2j
      |  FROM pervt JOIN ranks USING (vc) GROUP BY 1),
      |t AS (
      |  SELECT SUM(cnt * cnt * cnt - cnt) AS t3, SUM(cnt) AS n FROM perv),
      |agg AS (
      |  SELECT t.n, t.t3, COUNT(*) AS n_groups,
      |    SUM((CAST(r2j AS DOUBLE) / 2.0) * (CAST(r2j AS DOUBLE) / 2.0)
      |      / CAST(nj AS DOUBLE)) AS srr,
      |    ROUND(MAX(CAST(r2j AS DOUBLE) / 2.0 / CAST(nj AS DOUBLE)), 6) AS max_mean_rank
      |  FROM pg CROSS JOIN t GROUP BY 1, 2)
      |SELECT CAST(n AS BIGINT) AS n, n_groups,
      |  ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * srr
      |    - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h,
      |  ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * srr
      |    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      |    / (1.0 - CAST(t3 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) AS h_tie_corrected,
      |  max_mean_rank
      |FROM agg""".stripMargin

  // ---- q196 Brown-Forsythe variance homogeneity -----------------------------

  /** Brown-Forsythe test: does ship-lag DISPERSION differ across return
    * flags? One-way ANOVA F on zᵢ = |lagᵢ − median_group| — the
    * median-based Levene variant that is robust to non-normality. Group
    * medians of integer day-lags are exact half-integers, so DOUBLED
    * deviations 2z are exact BIGINTs and all ANOVA sums (Σ2z, Σ(2z)² per
    * group) are exact; the 2× scale cancels in F.
    *
    * Scale shape: day-lags are SMALL integers, so after the one fact join
    * the whole test runs on the (flag, lag, count) frame — a map-side-
    * combined aggregation to a few hundred rows. The interpolated median
    * comes from cumulative counts on that frame (m2 = vLo + vHi, the two
    * central order statistics — exactly `percentile(lag, .5) × 2`), and
    * the z-sums are count-weighted. The previous formulation scanned the
    * 60M-row join TWICE (once into an exact-`percentile` object aggregate
    * that buffers per-group values, once for the z pass) — 16 s at sf10;
    * this one joins once and aggregates once, ~4× faster, and the object
    * aggregate is gone entirely.
    */
  def q196BrownForsythe(spark: SparkSession, sfDir: String): DataFrame = {
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val o = tbl(spark, sfDir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    // r14 (guide §3.1): no join hint — the r13 shuffle_hash hint FORCED a
    // fact exchange of both sides even when the dimension side fits the
    // broadcast threshold. Size-based planning now broadcasts orders at
    // small SFs (plan: 2 fact exchanges → 0 before the tiny (flag,lag)
    // aggregate exchange — the partial agg reduces ~600k rows to ~600
    // map-side) and degrades to the spill-safe sort-merge join beyond
    // autoBroadcastJoinThreshold at cluster scale.
    val lagged = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_returnflag"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
    // localCheckpoint: the counts frame feeds BOTH the median derivation and
    // the z pass — without the pin, each consumer re-executes the 60M-row
    // fact join; with it, the join runs once and both passes read ~600 rows
    val cnt = lagged.groupBy(col("l_returnflag"), col("lag"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val wCum = Window.partitionBy("l_returnflag").orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    val withCum = cnt
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("njw", sum(col("c")).over(wAll))
    // value at 0-indexed order statistic p = min lag with cum >= p + 1;
    // pLo = (n-1) div 2, pHi = n div 2; m2 = vLo + vHi = percentile(.5) * 2
    val med = withCum.groupBy(col("l_returnflag")).agg(
      min(when(col("cum") >=
        graft.ext.Layout.idiv(col("njw") - 1, lit(2L)) + 1L, col("lag"))).as("vlo"),
      min(when(col("cum") >=
        graft.ext.Layout.idiv(col("njw"), lit(2L)) + 1L, col("lag"))).as("vhi"))
      .select(col("l_returnflag"), (col("vlo") + col("vhi")).as("m2"))
    val perG = cnt.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("c"),
        abs(col("lag") * 2 - col("m2")).as("z2"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("c")).as("nj"), sum(col("c") * col("z2")).as("sz"),
        sum(col("c") * col("z2") * col("z2")).as("szz"))
    val g = perG.agg(sum(col("nj")).as("n"), sum(col("sz")).as("tz"),
      count(lit(1)).as("k"))
    perG.crossJoin(broadcast(g))
      .select(col("nj"), col("sz"), col("szz"), col("n"), col("tz"), col("k"),
        // per-group contributions to SSB and SSW from exact sums:
        // SSB_j = n_j (z̄_j − z̄)², SSW_j = Σz² − (Σz)²/n_j
        (col("nj").cast("double") *
          (col("sz").cast("double") / col("nj").cast("double") -
            col("tz").cast("double") / col("n").cast("double")) *
          (col("sz").cast("double") / col("nj").cast("double") -
            col("tz").cast("double") / col("n").cast("double"))).as("ssb_j"),
        (col("szz").cast("double") -
          col("sz").cast("double") * col("sz").cast("double") /
            col("nj").cast("double")).as("ssw_j"))
      .groupBy(col("n"), col("k"))
      .agg(sum(col("ssb_j")).as("ssb"), sum(col("ssw_j")).as("ssw"))
      .select(col("n"), (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
        round((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")), 6).as("f_stat"))
  }

  val q196Sql: String =
    """WITH lagged AS (
      |  SELECT l_returnflag,
      |    CAST(DATEDIFF('day', o_orderdate, l_shipdate) AS BIGINT) AS lag
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |med AS (
      |  SELECT l_returnflag,
      |    CAST(ROUND(QUANTILE_CONT(lag, 0.5) * 2) AS BIGINT) AS m2
      |  FROM lagged GROUP BY 1),
      |z AS (
      |  SELECT lagged.l_returnflag, ABS(lag * 2 - m2) AS z2
      |  FROM lagged JOIN med USING (l_returnflag)),
      |pg AS (
      |  SELECT l_returnflag, COUNT(*) AS nj, SUM(z2) AS sz, SUM(z2 * z2) AS szz
      |  FROM z GROUP BY 1),
      |g AS (SELECT SUM(nj) AS n, SUM(sz) AS tz, COUNT(*) AS k FROM pg),
      |parts AS (
      |  SELECT n, k,
      |    CAST(nj AS DOUBLE)
      |      * (CAST(sz AS DOUBLE) / nj - CAST(tz AS DOUBLE) / n)
      |      * (CAST(sz AS DOUBLE) / nj - CAST(tz AS DOUBLE) / n) AS ssb_j,
      |    CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / nj AS ssw_j
      |  FROM pg CROSS JOIN g)
      |SELECT CAST(n AS BIGINT) AS n, k - 1 AS df1, CAST(n - k AS BIGINT) AS df2,
      |  ROUND((SUM(ssb_j) / (k - 1)) / (SUM(ssw_j) / (n - k)), 6) AS f_stat
      |FROM parts GROUP BY n, k""".stripMargin

  // ---- q197 Kendall tau-b via decile contingency ----------------------------

  /** Kendall tau-b between quantity and discounted revenue, computed the
    * only way that scales: both variables discretize to deciles via exact
    * integer cumulative counts (all ties share a bucket — no ntile
    * tie-break nondeterminism), and concordant/discordant pair counts come
    * from the 10×10 CONTINGENCY TABLE self-join (≤100 cells → ≤10k cell
    * pairs of exact products) — never from row-pair enumeration. Tie terms
    * use the bucket marginals; every count is an exact BIGINT and tau-b's
    * square root runs over doubles only at the end.
    */
  def q197KendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val li = liXY(spark, sfDir)
    def buckets(c: String): DataFrame = {
      val scan = liRankScan(spark, sfDir, c)
      val tot = scan.agg(sum(col("cnt")).as("n"))
      scan
        .crossJoin(broadcast(tot))
        // decile = ceil(10·cum_inclusive/n); exact in doubles < 2^53
        .select(col(c),
          least(ceil((col("pre") + col("cnt")).cast("double") * 10.0 /
            col("n").cast("double")).cast("long"), lit(10L)).as(s"b_$c"))
    }
    val bx = buckets("x")
    // r14 (optimization guide §2.3/§3): y (revenue cents) is NEAR-UNIQUE, so
    // the old per-value bucket lookup `li ⋈ by ON y` was a fact-sized
    // sort-merge join (both sides ~|lineitem| rows shuffled and sorted) just
    // to attach a decile id. The decile is MONOTONE in y (cumulative counts
    // never decrease), so the ≤10 per-bucket max values are exact bucket
    // boundaries: v belongs to bucket b iff hi(prev b) < v ≤ hi(b) — every
    // y value appears in the scan, earlier buckets hold strictly smaller
    // values, hence exactly one range matches each row. Attaching b_y is
    // then a ≤10-row broadcast range join (codegen'd nested-loop probe, ~10
    // comparisons/row) instead of a fact-fact shuffle; bucket ids, cells,
    // and every downstream count are bit-identical. The global lag window
    // is bounded: ≤10 rows (decile count), never row-scaled.
    val thrY = buckets("y").groupBy(col("b_y")).agg(max(col("y")).as("hi"))
      .withColumn("lo",
        lag(col("hi"), 1).over(Window.partitionBy(lit(0)).orderBy("b_y")))
    val cells = li.join(broadcast(bx), "x")
      .join(broadcast(thrY),
        col("y") <= col("hi") &&
          col("y") > coalesce(col("lo"), lit(Long.MinValue)))
      .groupBy(col("b_x"), col("b_y")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤100 rows; reused by 4 aggregates below
    val a = cells.select(col("b_x").as("i1"), col("b_y").as("j1"), col("c").as("c1"))
    val b = cells.select(col("b_x").as("i2"), col("b_y").as("j2"), col("c").as("c2"))
    val conc = a.join(b, col("i2") > col("i1") && col("j2") > col("j1"))
      .agg(coalesce(sum(col("c1") * col("c2")), lit(0L)).as("nc"))
    val disc = a.join(b, col("i2") > col("i1") && col("j2") < col("j1"))
      .agg(coalesce(sum(col("c1") * col("c2")), lit(0L)).as("nd"))
    val tx = cells.groupBy(col("b_x")).agg(sum(col("c")).as("r"))
      .agg(sum(col("r") * (col("r") - 1) / 2).as("tx"), sum(col("r")).as("n"))
    val ty = cells.groupBy(col("b_y")).agg(sum(col("c")).as("r"))
      .agg(sum(col("r") * (col("r") - 1) / 2).as("ty"))
    conc.crossJoin(disc).crossJoin(tx).crossJoin(ty)
      .withColumn("n0", col("n") * (col("n") - 1) / 2)
      .select(col("n"), col("nc").as("concordant"), col("nd").as("discordant"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt((col("n0") - col("tx")).cast("double") *
            (col("n0") - col("ty")).cast("double")), 6).as("tau_b"))
  }

  val q197Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |bx AS (
      |  SELECT x, LEAST(CAST(CEIL(CAST(SUM(cnt) OVER (ORDER BY x) AS DOUBLE) * 10.0
      |    / (SELECT COUNT(*) FROM li)) AS BIGINT), 10) AS b_x
      |  FROM (SELECT x, COUNT(*) AS cnt FROM li GROUP BY 1)),
      |by_ AS (
      |  SELECT y, LEAST(CAST(CEIL(CAST(SUM(cnt) OVER (ORDER BY y) AS DOUBLE) * 10.0
      |    / (SELECT COUNT(*) FROM li)) AS BIGINT), 10) AS b_y
      |  FROM (SELECT y, COUNT(*) AS cnt FROM li GROUP BY 1)),
      |cells AS (
      |  SELECT b_x, b_y, COUNT(*) AS c
      |  FROM li JOIN bx USING (x) JOIN by_ USING (y)
      |  GROUP BY 1, 2),
      |conc AS (
      |  SELECT COALESCE(SUM(a.c * b.c), 0) AS nc
      |  FROM cells a JOIN cells b ON b.b_x > a.b_x AND b.b_y > a.b_y),
      |disc AS (
      |  SELECT COALESCE(SUM(a.c * b.c), 0) AS nd
      |  FROM cells a JOIN cells b ON b.b_x > a.b_x AND b.b_y < a.b_y),
      |tx AS (
      |  SELECT SUM(r * (r - 1) / 2) AS tx, SUM(r) AS n
      |  FROM (SELECT b_x, SUM(c) AS r FROM cells GROUP BY 1)),
      |ty AS (
      |  SELECT SUM(r * (r - 1) / 2) AS ty
      |  FROM (SELECT b_y, SUM(c) AS r FROM cells GROUP BY 1))
      |SELECT CAST(n AS BIGINT) AS n, CAST(nc AS BIGINT) AS concordant,
      |  CAST(nd AS BIGINT) AS discordant,
      |  ROUND(CAST(nc - nd AS DOUBLE)
      |    / SQRT(CAST(n * (n - 1) / 2 - tx AS DOUBLE)
      |         * CAST(n * (n - 1) / 2 - ty AS DOUBLE)), 6) AS tau_b
      |FROM conc CROSS JOIN disc CROSS JOIN tx CROSS JOIN ty""".stripMargin

  // ---- q198 sole-blame supplier (TPC-H Q21 shape) ---------------------------

  /** Suppliers that were the ONLY late shipper on a multi-supplier order —
    * TPC-H Q21's nested EXISTS/NOT-EXISTS re-expressed as one per-order
    * aggregation: count distinct suppliers, count distinct LATE suppliers
    * (ship > order date + 60d), and keep orders where the late set is a
    * singleton on a ≥2-supplier order; `max` of the singleton set recovers
    * the culprit without a second join. Blame rolls up per supplier
    * nation. One keyed fact-fact shuffle + one keyed re-aggregation — the
    * correlated-subquery pair becomes two map-side-combinable aggs.
    */
  def q198SoleBlameSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val o = tbl(spark, sfDir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // two plain keyed aggs instead of a double countDistinct: the
    // (order, supplier) pre-aggregation makes rows distinct per supplier,
    // so the distinct counts become COUNT/SUM and the planner never emits
    // the 3x Expand a multi-distinct aggregate needs (measured 2.9->1.5 s
    // at sf0.1)
    // NO shuffle-hash hint here, deliberately: the sort-merge join's sorted-
    // by-orderkey output feeds the (orderkey, suppkey) aggregation — ~one
    // group per input row — as a streaming sort-based aggregate; a hash join
    // would force a 60M-entry hash aggregate that spills (measured 10 s SMJ
    // vs 27 s SHJ at sf10)
    // r14 (guide §2.4): the fact side is hash(orderkey)-partitioned ONCE
    // up front. Below the broadcast threshold the planner picks BHJ, whose
    // output keeps the probe's partitioning — without this, the r13 plan
    // paid TWO post-join fact exchanges (groupBy(ok,sk) then groupBy(ok));
    // hash(ok) satisfies both clusterings, so both aggregations now run
    // exchange-free (plan: 3 fact exchanges → 1). At cluster scale the
    // join is SMJ on ok and REQUIRES this exact exchange, so the explicit
    // repartition is the join's own shuffle, not an extra one.
    val perSupp = li.repartition(col("l_orderkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L)
        .otherwise(0L)).as("late"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ns"), sum(col("late")).as("nls"),
        max(when(col("late") === 1, col("l_suppkey"))).as("blame"))
      .filter(col("ns") >= 2 && col("nls") === 1)
    val nation = tbl(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    perOrder.join(broadcast(supp), col("blame") === col("s_suppkey"))
      .groupBy(col("supp_nation"))
      .agg(count(lit(1)).as("n_blamed_orders"),
        countDistinct(col("blame")).as("n_suppliers"))
      .orderBy("supp_nation")
  }

  val q198Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS ns,
      |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN l_suppkey END) AS nls,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN l_suppkey END) AS blame
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |SELECT n_name AS supp_nation, COUNT(*) AS n_blamed_orders,
      |  COUNT(DISTINCT blame) AS n_suppliers
      |FROM po
      |JOIN supplier ON blame = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE ns >= 2 AND nls = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q199 top supplier per year (TPC-H Q15 shape) -------------------------

  /** The top-revenue supplier(s) of each ship year — TPC-H Q15's
    * "revenue view + scalar max" with ties KEPT (the reference point of
    * that query's semantics). The tie compare runs on exact cent BIGINTs,
    * so membership can't flip on float jitter. The window max runs over
    * the per-(year, supplier) AGGREGATE frame (bounded by |suppliers|×
    * years, not data-sized), partitioned by year.
    */
  def q199TopSupplierPerYear(spark: SparkSession, sfDir: String): DataFrame = {
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_suppkey"), year(col("l_shipdate")).as("ship_year"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    val perSY = li.groupBy(col("ship_year"), col("l_suppkey"))
      .agg(sum(col("revc")).as("revc"), count(lit(1)).as("n_items"))
    val wy = Window.partitionBy(col("ship_year"))
    val supp = tbl(spark, sfDir, "supplier").select(col("s_suppkey"), col("s_name"))
    perSY.withColumn("mx", max(col("revc")).over(wy))
      .filter(col("revc") === col("mx"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("ship_year"), col("s_suppkey"), col("s_name"), col("n_items"),
        round(col("revc").cast("double") / 100.0, 6).as("revenue"))
      .orderBy("ship_year", "s_suppkey")
  }

  val q199Sql: String =
    """WITH psy AS (
      |  SELECT CAST(YEAR(l_shipdate) AS INT) AS ship_year, l_suppkey,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS revc,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT *, MAX(revc) OVER (PARTITION BY ship_year) AS mx FROM psy)
      |SELECT ship_year, s_suppkey, s_name, n_items,
      |  ROUND(CAST(revc AS DOUBLE) / 100.0, 6) AS revenue
      |FROM m JOIN supplier ON l_suppkey = s_suppkey
      |WHERE revc = mx
      |ORDER BY ship_year, s_suppkey""".stripMargin

  // ---- q200 Poisson bootstrap confidence interval ---------------------------

  /** Poisson bootstrap of the mean order revenue — the bootstrap that
    * actually works at 100 TB: instead of multinomial resampling (which
    * needs the global row count per replicate), each (row, replicate b)
    * draws an INDEPENDENT Poisson(1) weight from a deterministic
    * md5-derived uniform, so the fan-out is row-local, embarrassingly
    * parallel, and bit-reproducible in any engine with md5. B = 64
    * replicates; each replicate mean is a ratio of two exact BIGINTs
    * (Σw·cents / Σw); the 2.5/50/97.5 percentiles interpolate over the 64
    * deterministic replicate means. Inverse-CDF thresholds are shared
    * decimal literals, and the uniform u = h/2^60 rounds identically under
    * IEEE int64→double in both engines.
    */
  def q200PoissonBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrder = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
      .groupBy(col("l_orderkey")).agg(sum(col("revc")).as("orevc"))
    val point = perOrder.agg(count(lit(1)).as("n_orders"), sum(col("orevc")).as("total"))
    val expanded = perOrder
      .withColumn("b", explode(sequence(lit(0), lit(63))))
      .withColumn("h", graft.ext.Dedup.portableTokenHash(
        concat(lit("boot:"), col("b").cast("string"), lit(":"),
          col("l_orderkey").cast("string"))))
      .withColumn("u", col("h").cast("double") / lit(1.152921504606846976e18))
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0L)
          .when(col("u") < 0.7357588823428847, 1L)
          .when(col("u") < 0.9196986029286058, 2L)
          .when(col("u") < 0.9810118431238462, 3L)
          .when(col("u") < 0.9963401531726563, 4L)
          .when(col("u") < 0.9994058151824183, 5L)
          .when(col("u") < 0.9999167588507119, 6L)
          .otherwise(7L))
    val reps = expanded.groupBy(col("b"))
      .agg((sum(col("w") * col("orevc")).cast("double") /
        sum(col("w")).cast("double") / 100.0).as("m"))
    reps.agg(
        expr("percentile(m, 0.025)").as("lo"),
        expr("percentile(m, 0.5)").as("mid"),
        expr("percentile(m, 0.975)").as("hi"))
      .crossJoin(broadcast(point))
      .select(col("n_orders"),
        round(col("total").cast("double") / col("n_orders").cast("double") / 100.0, 6)
          .as("point_mean"),
        round(col("lo"), 6).as("boot_p025"),
        round(col("mid"), 6).as("boot_median"),
        round(col("hi"), 6).as("boot_p975"))
  }

  val q200Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS orevc
      |  FROM lineitem GROUP BY 1),
      |pt AS (SELECT COUNT(*) AS n_orders, SUM(orevc) AS total FROM po),
      |ex AS (
      |  SELECT g.b, po.orevc,
      |    CAST('0x' || substr(md5('boot:' || g.b || ':' || po.l_orderkey), 1, 15) AS BIGINT)
      |      / 1.152921504606846976e18 AS u
      |  FROM po CROSS JOIN generate_series(0, 63) AS g(b)),
      |w AS (
      |  SELECT b, orevc,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238462 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4
      |         WHEN u < 0.9994058151824183 THEN 5
      |         WHEN u < 0.9999167588507119 THEN 6
      |         ELSE 7 END AS w
      |  FROM ex),
      |reps AS (
      |  SELECT b, CAST(SUM(w * orevc) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0 AS m
      |  FROM w GROUP BY 1)
      |SELECT n_orders,
      |  ROUND(CAST(total AS DOUBLE) / n_orders / 100.0, 6) AS point_mean,
      |  ROUND(QUANTILE_CONT(m, 0.025), 6) AS boot_p025,
      |  ROUND(QUANTILE_CONT(m, 0.5), 6) AS boot_median,
      |  ROUND(QUANTILE_CONT(m, 0.975), 6) AS boot_p975
      |FROM reps CROSS JOIN pt
      |GROUP BY n_orders, total""".stripMargin

  // ---- q201 delete-one-nation block jackknife -------------------------------

  /** Block (delete-one-group) jackknife standard error for the ratio
    * statistic θ = total revenue / total quantity, with supplier NATIONS as
    * the 25 blocks — the grouped jackknife is how you put an error bar on
    * a ratio at cluster scale: per-block sufficient statistics are exact
    * BIGINTs, each leave-one-out replicate θ₍ⱼ₎ = (R−rⱼ)/(Q−qⱼ) is pure
    * scalar math, and the replicate moments accumulate through an ORDERED
    * 25-row window so both engines fold the same doubles in the same
    * order. Also reports the largest single-block influence |θ₍ⱼ₎ − θ̂|.
    */
  def q201NationJackknife(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = tbl(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("qty"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    val perNation = li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("revc")).as("rj"), sum(col("qty")).as("qj"))
    val tot = perNation.agg(sum(col("rj")).as("r"), sum(col("qj")).as("q"),
      count(lit(1)).as("g"))
    val loo = perNation.crossJoin(broadcast(tot))
      .withColumn("theta_j",
        (col("r") - col("rj")).cast("double") / (col("q") - col("qj")).cast("double"))
      .withColumn("theta_hat", col("r").cast("double") / col("q").cast("double"))
    val wOrd = Window.orderBy(col("n_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    loo
      .withColumn("s1", sum(col("theta_j")).over(wOrd))
      .withColumn("s2", sum(col("theta_j") * col("theta_j")).over(wOrd))
      .withColumn("mi", max(abs(col("theta_j") - col("theta_hat")))
        .over(Window.partitionBy(lit(1))))
      .withColumn("rn", row_number().over(Window.orderBy(col("n_name").desc)))
      .filter(col("rn") === 1)
      .select(col("g"),
        round(col("theta_hat") / 100.0, 6).as("theta_hat"),
        round(sqrt((col("g") - 1).cast("double") / col("g").cast("double") *
          (col("s2") - col("s1") * col("s1") / col("g").cast("double"))) / 100.0, 6)
          .as("jackknife_se"),
        round(col("mi") / 100.0, 6).as("max_influence"))
  }

  val q201Sql: String =
    """WITH pn AS (
      |  SELECT n_name,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS rj,
      |    SUM(CAST(l_quantity AS BIGINT)) AS qj
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1),
      |t AS (SELECT SUM(rj) AS r, SUM(qj) AS q, COUNT(*) AS g FROM pn),
      |loo AS (
      |  SELECT n_name, g,
      |    CAST(r - rj AS DOUBLE) / CAST(q - qj AS DOUBLE) AS theta_j,
      |    CAST(r AS DOUBLE) / CAST(q AS DOUBLE) AS theta_hat
      |  FROM pn CROSS JOIN t),
      |acc AS (
      |  SELECT g, theta_hat,
      |    SUM(theta_j) OVER (ORDER BY n_name) AS s1,
      |    SUM(theta_j * theta_j) OVER (ORDER BY n_name) AS s2,
      |    MAX(ABS(theta_j - theta_hat)) OVER () AS mi,
      |    ROW_NUMBER() OVER (ORDER BY n_name DESC) AS rn
      |  FROM loo)
      |SELECT g, ROUND(theta_hat / 100.0, 6) AS theta_hat,
      |  ROUND(SQRT(CAST(g - 1 AS DOUBLE) / g * (s2 - s1 * s1 / g)) / 100.0, 6)
      |    AS jackknife_se,
      |  ROUND(mi / 100.0, 6) AS max_influence
      |FROM acc WHERE rn = 1""".stripMargin

  // ---- q202 language diversity panel ----------------------------------------

  /** Per-source language-diversity panel over the documents corpus:
    * Shannon entropy H (nats), Simpson concentration Σp², and Hill-number
    * effective language count e^H — the standard diversity triple a
    * mixture curator watches per source. Counts are exact; the ≤|langs|
    * entropy terms accumulate through a source-partitioned ORDERED window
    * (lang ascending), so both engines fold identical doubles identically.
    */
  def q202LangDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val d = ExtQueries.docs(spark, sfDir).select(col("source"), col("lang"))
    val cells = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(col("source")).agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_langs"))
    val wOrd = Window.partitionBy(col("source")).orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(totals), "source")
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .withColumn("hacc", sum(-col("p") * log(col("p"))).over(wOrd))
      .withColumn("sacc", sum(col("p") * col("p")).over(wOrd))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("lang").desc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("n").as("n_docs"), col("n_langs"),
        round(col("hacc"), 6).as("shannon_h"),
        round(col("sacc"), 6).as("simpson"),
        round(exp(col("hacc")), 6).as("effective_langs"))
      .orderBy("source")
  }

  val q202Sql: String =
    """WITH cells AS (
      |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_langs
      |  FROM cells GROUP BY 1),
      |acc AS (
      |  SELECT cells.source, t.n, t.n_langs,
      |    SUM(-(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n))
      |      OVER (PARTITION BY cells.source ORDER BY lang) AS hacc,
      |    SUM((CAST(c AS DOUBLE) / n) * (CAST(c AS DOUBLE) / n))
      |      OVER (PARTITION BY cells.source ORDER BY lang) AS sacc,
      |    ROW_NUMBER() OVER (PARTITION BY cells.source ORDER BY lang DESC) AS rn
      |  FROM cells JOIN t ON cells.source = t.source)
      |SELECT source, n AS n_docs, n_langs,
      |  ROUND(hacc, 6) AS shannon_h, ROUND(sacc, 6) AS simpson,
      |  ROUND(EXP(hacc), 6) AS effective_langs
      |FROM acc WHERE rn = 1 ORDER BY source""".stripMargin

  // ---- q203 LSH candidate-stage quality audit -------------------------------

  /** Precision/recall of the MinHash-LSH CANDIDATE stage against the exact
    * Jaccard ≥ 0.5 truth, for two bandings of the same 16-hash signature
    * (8 bands × 2 rows and 4 bands × 4 rows) — the self-audit a dedup
    * pipeline publishes before anyone trusts its near-dup rates: banding
    * shallower (2-row bands) buys recall at the cost of candidate volume,
    * and this query measures BOTH sides of that trade on live data. Unlike
    * q18 (whose verification step makes the gated output exact regardless
    * of the candidate stage), the candidate sets themselves are the gated
    * quantity here, so the signatures must be bit-replayable: this is a
    * PORTABLE MinHash — md5 token hashes and all permutation arithmetic in
    * Z mod 1e9+7 (DuckDB errors on int64 overflow where Spark wraps, so
    * full-width xxhash permutations are not oracle-computable; the q32
    * fingerprint takes the same route). Signature construction is
    * row-local (array_min over a transformed hash array — no shuffle);
    * candidates come from the banded equi-join; truth reuses the cached
    * exact q95 prefix-join pairs filtered to ≥ 0.5 (a boundary compare of
    * an exact small-integer ratio — deterministic in both engines).
    */
  def q203LshQualityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.core.Exprs.bindOnce
    val p = 1000000007L
    val sigs = cached(spark, sfDir, "portable_minhash_16") {
      val toksRaw = graft.ext.TextStats.tokens(lower(col("text")))
      ExtQueries.docs(spark, sfDir)
        .select(col("doc_id"), toksRaw.as("__t"))
        .filter(size(col("__t")) >= 3)
        .select(col("doc_id"), bindOnce(
          transform(col("__t"), t =>
            pmod(graft.ext.Dedup.portableTokenHash(t), lit(p))), th =>
          bindOnce(
            transform(sequence(lit(0), size(th) - 3), i =>
              pmod(element_at(th, i + 1)
                + pmod(element_at(th, i + 2) * lit(131L), lit(p))
                + pmod(element_at(th, i + 3) * lit(137L), lit(p)), lit(p))),
            hs => array((0 until 16).map { i =>
              val a = ((2L * i + 1L) * 2654435761L) % p
              val b = ((i + 1L) * 982451653L) % p
              array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(p))))
            }: _*))).as("sg"))
    }
    def candidates(bands: Int): DataFrame = {
      val per = 16 / bands
      val rows = sigs.select(col("doc_id"), posexplode(
        array((0 until bands).map(b =>
          struct((0 until per).map(j => col("sg")(b * per + j)): _*)): _*)))
        .toDF("doc_id", "band", "key")
      rows.alias("a").join(rows.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
    }
    val truth = prefixJaccardPairsHalf(spark, sfDir)
    def metrics(bands: Int): DataFrame = {
      val c = candidates(bands)
      val tp = c.join(truth, Seq("id1", "id2"), "left_semi")
      c.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(bands).as("bands"), lit(16 / bands).as("rows_per_band"),
          col("n_candidates"), col("n_truth"), col("n_tp"),
          round(col("n_tp").cast("double") / col("n_candidates").cast("double"), 6)
            .as("precision"),
          round(col("n_tp").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall"))
    }
    metrics(8).unionAll(metrics(4)).orderBy(col("bands").desc)
  }

  /** Exact-truth pair set for q203: the cached q95 prefix-join pairs
    * (threshold 0.4) filtered up to 0.5 on the UNROUNDED exact ratio
    * (q95's published surface rounds to 6 dp, which could flip a
    * J ∈ [0.4999995, 0.5) pair across the boundary; the cached frame keeps
    * the exact quotient). Sound because {J ≥ 0.5} ⊂ {J ≥ 0.4}.
    */
  private def prefixJaccardPairsHalf(spark: SparkSession, sfDir: String): DataFrame =
    ExtQueries.prefixJaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.5)
      .select(col("id1"), col("id2"))

  val q203Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS s
      |  FROM toks),
      |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
      |ipairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter,
      |         any_value(a.sz) AS sz1, any_value(b.sz) AS sz2
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT id1, id2 FROM ipairs
      |  WHERE CAST(inter AS DOUBLE) / (sz1 + sz2 - inter) >= 0.5),
      |thd AS (
      |  SELECT doc_id, list_transform(t,
      |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1000000007) AS th
      |  FROM toks WHERE len(t) >= 3),
      |shh AS (
      |  SELECT doc_id, list_transform(range(1, len(th) - 1),
      |    i -> (th[i] + (th[i+1] * 131) % 1000000007 + (th[i+2] * 137) % 1000000007)
      |         % 1000000007) AS hs
      |  FROM thd),
      |sig AS (
      |  SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(hs,
      |      h -> (h * (((2*i + 1) * 2654435761) % 1000000007)
      |            + ((i + 1) * 982451653) % 1000000007) % 1000000007))) AS sg
      |  FROM shh),
      |br8 AS (
      |  SELECT doc_id, g.b, sg[2*g.b + 1] AS k1, sg[2*g.b + 2] AS k2
      |  FROM sig CROSS JOIN generate_series(0, 7) AS g(b)),
      |c8 AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM br8 a JOIN br8 b
      |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
      |br4 AS (
      |  SELECT doc_id, g.b, sg[4*g.b + 1] AS k1, sg[4*g.b + 2] AS k2,
      |    sg[4*g.b + 3] AS k3, sg[4*g.b + 4] AS k4
      |  FROM sig CROSS JOIN generate_series(0, 3) AS g(b)),
      |c4 AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM br4 a JOIN br4 b
      |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.k3 = b.k3
      |    AND a.k4 = b.k4 AND a.doc_id < b.doc_id),
      |m8 AS (
      |  SELECT 8 AS bands, 2 AS rows_per_band,
      |    (SELECT COUNT(*) FROM c8) AS n_candidates,
      |    (SELECT COUNT(*) FROM truth) AS n_truth,
      |    (SELECT COUNT(*) FROM c8 JOIN truth USING (id1, id2)) AS n_tp),
      |m4 AS (
      |  SELECT 4 AS bands, 4 AS rows_per_band,
      |    (SELECT COUNT(*) FROM c4) AS n_candidates,
      |    (SELECT COUNT(*) FROM truth) AS n_truth,
      |    (SELECT COUNT(*) FROM c4 JOIN truth USING (id1, id2)) AS n_tp)
      |SELECT bands, rows_per_band, n_candidates, n_truth, n_tp,
      |  ROUND(CAST(n_tp AS DOUBLE) / n_candidates, 6) AS precision,
      |  ROUND(CAST(n_tp AS DOUBLE) / n_truth, 6) AS recall
      |FROM (SELECT * FROM m8 UNION ALL SELECT * FROM m4)
      |ORDER BY bands DESC""".stripMargin

  // ---- q204 closed-form multiple regression ---------------------------------

  /** Two-regressor OLS at fact scale, solved in CLOSED FORM from exact
    * integer moment sums — revenue_cents ~ quantity + discount_pct over
    * all of lineitem. The distributed work is ONE aggregation producing
    * the 10 entries of [X'X | X'y] (quantity 1..50, discount points 0..10
    * and revenue cents are all exact BIGINTs; Σy² takes the q194
    * DECIMAL(38,0) route past 2^63); the 3×3 normal-equation solve is a
    * fixed Cramer expansion over those exact scalars, so both engines
    * evaluate identical doubles — no iterative fitting, no per-row
    * residual pass (SSE comes from the Σy² − β·X'y identity). Also
    * reports each regressor's PARTIAL correlation with revenue
    * controlling the other, from the same moment matrix. At 100 TB this
    * is one map-side-combinable pass regardless of width growth:
    * k regressors need k(k+3)/2 moments, still one aggregate.
    */
  def q204MultipleRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_quantity").cast("long").as("q"),
        graft.core.Exprs.roundHalfUpLong(col("l_discount") * 100).as("d"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("y"))
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("d")).as("sd"), sum(col("y")).as("sy"),
      sum(col("q") * col("q")).as("sqq"), sum(col("d") * col("d")).as("sdd"),
      sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("syy"),
      sum(col("q") * col("d")).as("sqd"),
      sum(col("q") * col("y")).as("sqy"), sum(col("d") * col("y")).as("sdy"))
    // Cramer's rule over the 3x3 normal equations [n Σq Σd; Σq Σq² Σqd;
    // Σd Σqd Σd²] β = [Σy Σqy Σdy] — every minor is a fixed expression
    // over exact scalars
    def D(c: String) = col(c).cast("double")
    val det = m.select(col("*"),
      (D("n") * (D("sqq") * D("sdd") - D("sqd") * D("sqd"))
        - D("sq") * (D("sq") * D("sdd") - D("sqd") * D("sd"))
        + D("sd") * (D("sq") * D("sqd") - D("sqq") * D("sd"))).as("det"),
      (D("sy") * (D("sqq") * D("sdd") - D("sqd") * D("sqd"))
        - D("sq") * (D("sqy") * D("sdd") - D("sqd") * D("sdy"))
        + D("sd") * (D("sqy") * D("sqd") - D("sqq") * D("sdy"))).as("det_a"),
      (D("n") * (D("sqy") * D("sdd") - D("sdy") * D("sqd"))
        - D("sy") * (D("sq") * D("sdd") - D("sqd") * D("sd"))
        + D("sd") * (D("sq") * D("sdy") - D("sqy") * D("sd"))).as("det_b1"),
      (D("n") * (D("sqq") * D("sdy") - D("sqd") * D("sqy"))
        - D("sq") * (D("sq") * D("sdy") - D("sqy") * D("sd"))
        + D("sy") * (D("sq") * D("sqd") - D("sqq") * D("sd"))).as("det_b2"))
    val beta = det
      .withColumn("a", col("det_a") / col("det"))
      .withColumn("b1", col("det_b1") / col("det"))
      .withColumn("b2", col("det_b2") / col("det"))
      // SSE = Σy² − (aΣy + b1Σqy + b2Σdy); SST = Σy² − (Σy)²/n
      .withColumn("sse", D("syy") - col("a") * D("sy") - col("b1") * D("sqy")
        - col("b2") * D("sdy"))
      .withColumn("sst", D("syy") - D("sy") * D("sy") / D("n"))
      // pairwise correlations for the partials
      .withColumn("rqy", (D("n") * D("sqy") - D("sq") * D("sy")) /
        sqrt((D("n") * D("sqq") - D("sq") * D("sq")) *
          (D("n") * D("syy") - D("sy") * D("sy"))))
      .withColumn("rdy", (D("n") * D("sdy") - D("sd") * D("sy")) /
        sqrt((D("n") * D("sdd") - D("sd") * D("sd")) *
          (D("n") * D("syy") - D("sy") * D("sy"))))
      .withColumn("rqd", (D("n") * D("sqd") - D("sq") * D("sd")) /
        sqrt((D("n") * D("sqq") - D("sq") * D("sq")) *
          (D("n") * D("sdd") - D("sd") * D("sd"))))
    beta.select(col("n"),
      round(col("a") / 100.0, 6).as("intercept"),
      round(col("b1") / 100.0, 6).as("beta_qty"),
      round(col("b2") / 100.0, 6).as("beta_disc_pct"),
      round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"),
      round((col("rqy") - col("rdy") * col("rqd")) /
        sqrt((lit(1.0) - col("rdy") * col("rdy")) *
          (lit(1.0) - col("rqd") * col("rqd"))), 6).as("partial_qty"),
      round((col("rdy") - col("rqy") * col("rqd")) /
        sqrt((lit(1.0) - col("rqy") * col("rqy")) *
          (lit(1.0) - col("rqd") * col("rqd"))), 6).as("partial_disc"))
  }

  val q204Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
      |    CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(d) AS DOUBLE) AS sd,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(q * q) AS DOUBLE) AS sqq, CAST(SUM(d * d) AS DOUBLE) AS sdd,
      |    CAST(SUM(y * y) AS DOUBLE) AS syy,
      |    CAST(SUM(q * d) AS DOUBLE) AS sqd,
      |    CAST(SUM(q * y) AS DOUBLE) AS sqy, CAST(SUM(d * y) AS DOUBLE) AS sdy,
      |    COUNT(*) AS n_rows
      |  FROM li),
      |dets AS (
      |  SELECT *,
      |    n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
      |      + sd * (sq * sqd - sqq * sd) AS det,
      |    sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)
      |      + sd * (sqy * sqd - sqq * sdy) AS det_a,
      |    n * (sqy * sdd - sdy * sqd) - sy * (sq * sdd - sqd * sd)
      |      + sd * (sq * sdy - sqy * sd) AS det_b1,
      |    n * (sqq * sdy - sqd * sqy) - sq * (sq * sdy - sqy * sd)
      |      + sy * (sq * sqd - sqq * sd) AS det_b2
      |  FROM m),
      |beta AS (
      |  SELECT *, det_a / det AS a, det_b1 / det AS b1, det_b2 / det AS b2,
      |    (n * sqy - sq * sy) / SQRT((n * sqq - sq * sq) * (n * syy - sy * sy)) AS rqy,
      |    (n * sdy - sd * sy) / SQRT((n * sdd - sd * sd) * (n * syy - sy * sy)) AS rdy,
      |    (n * sqd - sq * sd) / SQRT((n * sqq - sq * sq) * (n * sdd - sd * sd)) AS rqd
      |  FROM dets)
      |SELECT n_rows AS n,
      |  ROUND(a / 100.0, 6) AS intercept,
      |  ROUND(b1 / 100.0, 6) AS beta_qty,
      |  ROUND(b2 / 100.0, 6) AS beta_disc_pct,
      |  ROUND(1.0 - (syy - a * sy - b1 * sqy - b2 * sdy)
      |    / (syy - sy * sy / n), 6) AS r2,
      |  ROUND((rqy - rdy * rqd) / SQRT((1.0 - rdy * rdy) * (1.0 - rqd * rqd)), 6)
      |    AS partial_qty,
      |  ROUND((rdy - rqy * rqd) / SQRT((1.0 - rqy * rqy) * (1.0 - rqd * rqd)), 6)
      |    AS partial_disc
      |FROM beta""".stripMargin

  // ---- q205 forecast backtest (seasonal-naive, MASE-scored) -----------------

  /** Backtest panel for the simplest defensible forecasters on the daily
    * revenue series: seasonal-naive (x̂_d = x_{d−7}) scored by MAE, RMSE
    * and MASE (MAE relative to the one-day-naive baseline — Hyndman's
    * scale-free standard; < 1 means the seasonal model beats persistence).
    * The daily grid is zero-filled over the full [min, max] date span so
    * lags are true calendar shifts; all error sums are exact BIGINTs in
    * cents (|x−x̂| of exact integers), one 5-partition window pass.
    */
  def q205ForecastBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("event_type"),
      to_date(col("ts")).as("d"),
      graft.core.Exprs.roundHalfUpLong(col("value") * 100).as("cents"))
    val agg = ev.groupBy(col("event_type"), col("d")).agg(sum(col("cents")).as("xc"))
    val bounds = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val series = grid.join(agg, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"), coalesce(col("xc"), lit(0L)).as("xc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    series
      .withColumn("f7", lag(col("xc"), 7).over(w))
      .withColumn("f1", lag(col("xc"), 1).over(w))
      .filter(col("f7").isNotNull) // scored days have both lags
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("xc") - col("f7"))).as("ae7"),
        sum((col("xc") - col("f7")) * (col("xc") - col("f7"))).as("se7"),
        sum(abs(col("xc") - col("f1"))).as("ae1"))
      .select(col("event_type"), col("n_scored"),
        round(col("ae7").cast("double") / col("n_scored").cast("double") / 100.0, 6)
          .as("mae"),
        round(sqrt(col("se7").cast("double") / col("n_scored").cast("double")) / 100.0, 6)
          .as("rmse"),
        round(col("ae7").cast("double") / col("ae1").cast("double"), 6).as("mase"))
      .orderBy("event_type")
  }

  val q205Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |agg AS (SELECT event_type, d, SUM(cents) AS xc FROM ev GROUP BY 1, 2),
      |b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev),
      |days AS (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM b),
      |s AS (
      |  SELECT t.event_type, CAST(g.d AS DATE) AS d, COALESCE(a.xc, 0) AS xc
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN days g
      |  LEFT JOIN agg a ON a.event_type = t.event_type AND a.d = CAST(g.d AS DATE)),
      |lagged AS (
      |  SELECT event_type, xc,
      |    LAG(xc, 7) OVER (PARTITION BY event_type ORDER BY d) AS f7,
      |    LAG(xc, 1) OVER (PARTITION BY event_type ORDER BY d) AS f1
      |  FROM s)
      |SELECT event_type, COUNT(*) AS n_scored,
      |  ROUND(CAST(SUM(ABS(xc - f7)) AS DOUBLE) / COUNT(*) / 100.0, 6) AS mae,
      |  ROUND(SQRT(CAST(SUM((xc - f7) * (xc - f7)) AS DOUBLE) / COUNT(*)) / 100.0, 6) AS rmse,
      |  ROUND(CAST(SUM(ABS(xc - f7)) AS DOUBLE) / CAST(SUM(ABS(xc - f1)) AS DOUBLE), 6) AS mase
      |FROM lagged WHERE f7 IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q206 CUPED-adjusted A/B readout --------------------------------------

  /** CUPED variance reduction for an A/B readout at user grain — the
    * standard trick for shrinking experiment confidence intervals at
    * scale: regress the post-period metric on the pre-period covariate
    * (θ = cov/var, pooled) and compare arms on y − θ(x − x̄). Population =
    * every user with any event; pre/post split the fixed [min, min+15d)
    * boundary; arm = user_id parity (a deterministic traffic-split
    * stand-in, same device as q139). Everything distributed is an exact
    * BIGINT sum at user grain (per-user cents, squares and cross products
    * via DECIMAL(38,0)); θ, the adjusted means and the variance-reduction
    * ratio are fixed scalar expressions, so the output is deterministic in
    * both engines. Reports the raw and CUPED arm difference plus the
    * pooled variance-reduction factor 1 − var(y*)/var(y).
    */
  def q206CupedAb(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val bounds = ev.agg(min(to_date(col("ts"))).as("d0"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(to_date(col("ts")) < date_add(col("d0"), 15),
          graft.core.Exprs.roundHalfUpLong(col("value") * 100)).otherwise(lit(0L)).as("pre"),
        when(to_date(col("ts")) >= date_add(col("d0"), 15),
          graft.core.Exprs.roundHalfUpLong(col("value") * 100)).otherwise(lit(0L)).as("post"))
      .groupBy(col("user_id"))
      .agg(sum(col("pre")).as("x"), sum(col("post")).as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
    val perArm = perUser.groupBy(col("arm")).agg(
      count(lit(1)).as("nj"), sum(col("x")).as("sxj"), sum(col("y")).as("syj"))
    val pooled = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")).as("sxx"),
      sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("syy"),
      sum(col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("sxy"))
    def D(c: String) = col(c).cast("double")
    val wide = perArm.groupBy().pivot("arm", Seq(0, 1)).agg(
      first(col("nj")).as("n"), first(col("sxj")).as("sx"), first(col("syj")).as("sy"))
      .crossJoin(broadcast(pooled))
      .withColumn("theta",
        (D("n") * D("sxy") - D("sx") * D("sy")) /
          (D("n") * D("sxx") - D("sx") * D("sx")))
      .withColumn("vy", (D("syy") - D("sy") * D("sy") / D("n")) / D("n"))
      .withColumn("vx", (D("sxx") - D("sx") * D("sx") / D("n")) / D("n"))
      .withColumn("cxy", (D("sxy") - D("sx") * D("sy") / D("n")) / D("n"))
    wide.select(col("n"),
      round(col("theta"), 6).as("theta"),
      round((D("1_sy") / D("1_n") - D("0_sy") / D("0_n")) / 100.0, 6)
        .as("diff_raw"),
      // CUPED: ȳ*_j = ȳ_j − θ(x̄_j − x̄); the global x̄ term cancels in the
      // arm difference, leaving diff_cuped = diff_raw − θ·(x̄₁ − x̄₀)
      round((D("1_sy") / D("1_n") - D("0_sy") / D("0_n")
        - col("theta") * (D("1_sx") / D("1_n") - D("0_sx") / D("0_n"))) / 100.0, 6)
        .as("diff_cuped"),
      // pooled var(y − θx) = var(y) − 2θcov + θ²var(x) = var(y) − cov²/var(x)
      round(col("cxy") * col("cxy") / (col("vx") * col("vy")), 6)
        .as("var_reduction"))
  }

  val q206Sql: String =
    """WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
      |pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN CAST(ts AS DATE) < d0 + INTERVAL 15 DAY
      |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
      |    SUM(CASE WHEN CAST(ts AS DATE) >= d0 + INTERVAL 15 DAY
      |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
      |  FROM events CROSS JOIN b GROUP BY 1),
      |pa AS (
      |  SELECT user_id % 2 AS arm, COUNT(*) AS nj,
      |    SUM(x) AS sxj, SUM(y) AS syj
      |  FROM pu GROUP BY 1),
      |g AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM pu),
      |w AS (
      |  SELECT g.*,
      |    (SELECT nj FROM pa WHERE arm = 0) AS n0,
      |    (SELECT sxj FROM pa WHERE arm = 0) AS sx0,
      |    (SELECT syj FROM pa WHERE arm = 0) AS sy0,
      |    (SELECT nj FROM pa WHERE arm = 1) AS n1,
      |    (SELECT sxj FROM pa WHERE arm = 1) AS sx1,
      |    (SELECT syj FROM pa WHERE arm = 1) AS sy1,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
      |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n AS vy,
      |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n AS vx,
      |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n AS cxy
      |  FROM g)
      |SELECT CAST(n AS BIGINT) AS n, ROUND(theta, 6) AS theta,
      |  ROUND((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / 100.0, 6) AS diff_raw,
      |  ROUND((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0
      |    - theta * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)) / 100.0, 6) AS diff_cuped,
      |  ROUND(cxy * cxy / (vx * vy), 6) AS var_reduction
      |FROM w""".stripMargin

  // ---- registration ---------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q184_priority_wait", q184PriorityWait, q184Sql),
    QuerySpec("q185_nation_pair_volume", q185NationPairVolume, q185Sql),
    QuerySpec("q186_product_profit", q186ProductProfit, q186Sql),
    QuerySpec("q187_above_share_nations", q187AboveShareNations, q187Sql),
    QuerySpec("q188_large_volume_customers", q188LargeVolumeCustomers, q188Sql),
    QuerySpec("q189_ship_lag_priority_mix", q189ShipLagPriorityMix, q189Sql),
    QuerySpec("q190_durbin_watson", q190DurbinWatson, q190Sql),
    QuerySpec("q191_ljung_box", q191LjungBox, q191Sql),
    QuerySpec("q192_variance_ratio", q192VarianceRatio, q192Sql),
    QuerySpec("q193_diurnal_harmonic", q193DiurnalHarmonic, q193Sql),
    QuerySpec("q194_spearman_pearson", q194SpearmanPearson, q194Sql),
    QuerySpec("q195_kruskal_wallis", q195KruskalWallis, q195Sql),
    QuerySpec("q196_brown_forsythe", q196BrownForsythe, q196Sql),
    QuerySpec("q197_kendall_tau", q197KendallTau, q197Sql),
    QuerySpec("q198_sole_blame_supplier", q198SoleBlameSupplier, q198Sql),
    QuerySpec("q199_top_supplier_per_year", q199TopSupplierPerYear, q199Sql),
    QuerySpec("q200_poisson_bootstrap", q200PoissonBootstrap, q200Sql),
    QuerySpec("q201_nation_jackknife", q201NationJackknife, q201Sql),
    QuerySpec("q202_lang_diversity", q202LangDiversity, q202Sql),
    QuerySpec("q203_lsh_quality_audit", q203LshQualityAudit, q203Sql, audit = true),
    QuerySpec("q204_multiple_regression", q204MultipleRegression, q204Sql),
    QuerySpec("q205_forecast_backtest", q205ForecastBacktest, q205Sql),
    QuerySpec("q206_cuped_ab", q206CupedAb, q206Sql))
}
