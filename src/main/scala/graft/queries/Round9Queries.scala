package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 extension queries (q167+), two families:
  *
  *   1. TPC-H-shape JOIN-PLANNING queries (q167-q172) over the warehouse
  *      tables — multi-way dimension chains, correlated per-group averages,
  *      market-share conditionals, referential-integrity audits. The
  *      reference has no join engine beyond benchmark alignment; these pin
  *      the Spark-side join planning (broadcast the bounded dims, keyed
  *      shuffle for fact-fact, no cartesians — guarded in Round9Spec) that
  *      a 100-TB deployment of the same schema would need.
  *   2. Distribution-audit statistics (q173-q179): Benford first-digit
  *      conformance, Mann-Whitney U, Kolmogorov-Smirnov, PSI drift,
  *      offline-CUSUM changepoint, EWMA anomaly scoring, Neyman-allocation
  *      stratified sampling — the monitoring layer of a data pipeline.
  *      All arithmetic is either exact-integer or order-pinned so the
  *      DuckDB oracles replay it bit-for-bit.
  */
object Round9Queries {

  import ExtQueries.docQuality

  // warehouse tables are read UNCACHED on purpose: caching a whole table
  // registers an InMemoryRelation that Spark substitutes into EVERY
  // matching parquet scan session-wide, silently killing column pruning
  // and filter pushdown for all other lineitem/orders queries (and the
  // PlanSpec guards that pin them). Each q167-q172 projects/filters at the
  // scan instead — the shape that matters at 100 TB.
  private def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The q39/q79 docQuality CTE (same text as Round8Queries' private copy —
    * duplicated so every oracle carries its full self-contained twin).
    * Declared before the oracle strings that interpolate it: object vals
    * initialize in declaration order.
    */
  private val docQualitySqlCte2: String =
    """  SELECT doc_id, source, lang,
      |    ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |      + (CASE WHEN (CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      |                    / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1))
      |               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.4
      |      + (1.0 - LEAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |                     / GREATEST(LENGTH(text), 1) * 5.0, 1.0)) * 0.2, 3) AS q,
      |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS tokens
      |  FROM documents""".stripMargin

  // ---- q167 local supplier volume (TPC-H Q5 shape) --------------------------

  /** Revenue per nation where the customer and the supplier sit in the SAME
    * nation, for one region — the classic 6-table chain (lineitem ⋈ orders
    * ⋈ customer ⋈ supplier ⋈ nation ⋈ region). Spark shape: BOTH facts are
    * semi-reduced through broadcast dimension joins BEFORE they meet in the
    * one keyed shuffle on orderkey — orders by ASIA customers, and lineitem
    * by ASIA suppliers (implied: c_nationkey = s_nationkey ∧ customer ∈
    * ASIA ⟹ supplier ∈ ASIA). At one region in five that cuts the
    * fact-fact shuffle ~5× on each side (measured 7.5 s → the sf10 rewrite
    * target; the pre-reduction was the entire gap to the columnar oracle,
    * which reorders this automatically). Dimensions stay broadcast (bounded
    * at any SF; at true 100-TB customer scale the planner's size threshold
    * degrades them to keyed shuffles, the right fallback). The same-nation
    * equality is applied as a post-join filter on two broadcast lookups,
    * never as a join of facts.
    */
  def q167LocalSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val region = tbl(spark, sfDir, "region").filter(col("r_name") === "ASIA")
    val nation = tbl(spark, sfDir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = tbl(spark, sfDir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    // ASIA suppliers only: the same-nation predicate plus the customer
    // region filter implies the supplier is in ASIA — applying it here
    // semi-reduces lineitem BEFORE the orderkey shuffle
    val supp = tbl(spark, sfDir, "supplier")
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("s_nationkey"))
    val orders = tbl(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    // revenue quantizes to exact cents ROW-LOCALLY (the per-row double
    // product is deterministic; only multi-row float sums are order-
    // dependent) so the aggregate is an exact integer sum in both engines —
    // the q171 lesson: raw double sums at 1e8+ magnitude jitter past 6-dp
    // rounding under different partition fold orders
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("revc")).cast("double") / 100.0, 6).as("revenue"))
      .orderBy("n_name")
  }

  val q167Sql: String =
    """SELECT n_name, COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- q168 market share (TPC-H Q8 shape) -----------------------------------

  /** Yearly share of one supplier nation inside one region's customer
    * market: for orders placed by EUROPE customers, what fraction of the
    * revenue was supplied from NATION_7, per order year? Conditional
    * aggregation over the same join chain as q167 — the share is a ratio of
    * two sums over ONE pass, not two scans. Exact division of two rounded-
    * at-6 sums would drift; both engines round only the final ratio.
    * Orders are semi-reduced by the broadcast EUROPE-customer join BEFORE
    * the orderkey shuffle (one region in five ≈ 5× less orders-side
    * shuffle); lineitem cannot be pre-reduced here — every supplier nation
    * participates in the denominator — so its scan-wide shuffle is the
    * intrinsic cost of the query.
    */
  def q168MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val region = tbl(spark, sfDir, "region").filter(col("r_name") === "EUROPE")
    val nation = tbl(spark, sfDir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = tbl(spark, sfDir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = tbl(spark, sfDir, "supplier")
      .join(broadcast(tbl(spark, sfDir, "nation")
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val orders = tbl(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("o_year"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(col("revc")).cast("double") / 100.0, 6).as("market_revenue"),
        round(sum(when(col("supp_nation") === "NATION_7", col("revc"))
          .otherwise(lit(0L))).cast("double") / 100.0, 6).as("nation7_revenue"),
        round(sum(when(col("supp_nation") === "NATION_7", col("revc"))
          .otherwise(lit(0L))).cast("double") /
          sum(col("revc")).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  val q168Sql: String =
    """SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INT) AS o_year,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6) AS market_revenue,
      |  ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_7'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0, 6) AS nation7_revenue,
      |  ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_7'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE), 6) AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE r_name = 'EUROPE'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q169 returned-item top customers (TPC-H Q10 shape) -------------------

  /** Top-20 customers by revenue lost to returns (l_returnflag = 'R'):
    * lineitem filtered to returns, one keyed shuffle onto orders, customer
    * broadcast, then a bounded global top-k — `orderBy(...).limit(20)`
    * plans as TakeOrderedAndProject (per-partition heaps + a 20-row driver
    * merge), never a global sort. Deterministic tie-break on custkey.
    */
  def q169ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = tbl(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val orders = tbl(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = tbl(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .agg(count(lit(1)).as("n_returned"),
        round(sum(col("revc")).cast("double") / 100.0, 6).as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q169Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, COUNT(*) AS n_returned,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6) AS lost_revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2, 3
      |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---- q170 promo revenue share by month (TPC-H Q14 shape) ------------------

  /** Monthly share of revenue from PROMO-type parts across 1996: part is a
    * broadcast lookup keyed by partkey; the share is a conditional/total
    * ratio in one aggregation pass, grouped by ship month.
    */
  def q170PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val part = tbl(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_type"))
    tbl(spark, sfDir, "lineitem")
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31"))
      .select(col("l_partkey"),
        date_format(to_date(col("l_shipdate")), "yyyy-MM").as("ship_month"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).as("revc"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(when(col("p_type") === "PROMO", col("revc"))
          .otherwise(lit(0L))).cast("double") / 100.0, 6).as("promo_revenue"),
        round(lit(100.0) * sum(when(col("p_type") === "PROMO", col("revc"))
          .otherwise(lit(0L))).cast("double") /
          sum(col("revc")).cast("double"), 6).as("promo_pct"))
      .orderBy("ship_month")
  }

  val q170Sql: String =
    """SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
      |  COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0, 6) AS promo_revenue,
      |  ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE), 6) AS promo_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q171 small-quantity outliers (TPC-H Q17 shape) -----------------------

  /** Per brand, the revenue locked in "small straggler" lineitems — rows
    * whose quantity is under half their PART's average quantity. The
    * correlated per-part average is ONE keyed aggregation over lineitem
    * joined back on partkey (the standard decorrelation) — at scale that is
    * agg-shuffle + same-key join, and AQE picks broadcast for the
    * aggregated side when it is small. Quantities are small integers stored
    * as doubles, so per-part sums are exact and `avg = sum/cnt` is the same
    * double in both engines — the `< 0.5*avg` cut is deterministic.
    */
  def q171SmallQuantityOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    // extendedprice is a 2-dp amount: quantize to exact cents row-locally
    // so the brand sums are exact integers (raw double sums at 1e8+
    // magnitude flipped 6-dp rounding boundaries between engines at sf0.1)
    val li = tbl(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        graft.core.Exprs.roundHalfUpLong(col("l_extendedprice") * 100).as("pricec"))
    val partAvg = li.groupBy("l_partkey")
      .agg(avg(col("l_quantity")).as("avg_qty"))
      .withColumnRenamed("l_partkey", "pk")
    val part = tbl(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"))
    li.join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        round(sum(col("pricec")).cast("double") / 100.0, 6).as("locked_revenue"))
      .orderBy("p_brand")
  }

  val q171Sql: String =
    """WITH pa AS (
      |  SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6) AS locked_revenue
      |FROM lineitem
      |JOIN pa ON l_partkey = pk
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity < 0.5 * avg_qty
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q172 order fan-out / referential-integrity audit ---------------------

  /** Distribution of lineitems-per-order plus the referential orphans on
    * both sides — the ingest-integrity audit run after every warehouse
    * load. One keyed count over lineitem, a full-outer merge with order
    * keys, and a histogram over the (bounded) fan-out domain; orders with
    * no lineitems land in the fanout=0 bucket, lineitem orderkeys missing
    * from orders are reported as the fanout=-1 sentinel row. No join
    * carries payloads — only keys and counts.
    */
  def q172OrderFanout(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrder = tbl(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("fan"))
    val orders = tbl(spark, sfDir, "orders").select(col("o_orderkey"))
    perOrder.join(orders, col("l_orderkey") === col("o_orderkey"), "full_outer")
      .select(
        when(col("o_orderkey").isNull, lit(-1L))
          .when(col("l_orderkey").isNull, lit(0L))
          .otherwise(col("fan")).as("fanout"))
      .groupBy("fanout").agg(count(lit(1)).as("n_orders"))
      .orderBy("fanout")
  }

  val q172Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey, COUNT(*) AS fan FROM lineitem GROUP BY 1)
      |SELECT CASE WHEN o_orderkey IS NULL THEN -1
      |            WHEN l_orderkey IS NULL THEN 0
      |            ELSE fan END AS fanout,
      |  COUNT(*) AS n_orders
      |FROM po FULL OUTER JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q173 Mann-Whitney U (weekend vs weekday purchase values) -------------

  /** Rank-sum test: do weekend purchases differ in value from weekday
    * purchases? Nonparametric twin of the q141 Welch t-test — the right
    * test when values are skewed. Values quantize to EXACT cent integers
    * (the q113 convention), so tied ranks are well-defined: one aggregation
    * to per-(cent, side) counts, an ordered prefix over the DISTINCT cent
    * values (bounded by the price domain, ≤ ~50k rows, NOT by corpus size —
    * the same post-aggregation fencing as the waterfill windows) yields
    * average ranks, and U/z with the tie-corrected variance are closed-form
    * over exact integer sufficient statistics — both engines replay the
    * identical rationals.
    */
  def q173MannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = ExtQueries.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(graft.core.Exprs.roundHalfUpLong(col("value") * 100).as("vc"),
        dayofweek(col("ts")).isin(1, 7).cast("long").as("is_we"))
    val perV = ev.groupBy("vc").agg(
      count(lit(1)).as("cnt"), sum(col("is_we")).as("w_cnt"))
    // unpartitioned prefix window over DISTINCT purchase cents — bounded by
    // the value DOMAIN (cents of a bounded price range), not by row count;
    // past ~1e7 distinct values re-key to Curation.withGlobalOffset (the
    // q194/q195 distributed rank scan)
    val ord = Window.orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perV
      .withColumn("cum", sum(col("cnt")).over(ord) - col("cnt"))
      .withColumn("avg_rank",
        col("cum").cast("double") + (col("cnt").cast("double") + 1.0) / 2.0)
    ranked.agg(
        sum(col("w_cnt")).as("nw"),
        sum(col("cnt") - col("w_cnt")).as("nd"),
        sum(col("avg_rank") * col("w_cnt").cast("double")).as("rw"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
      .select(
        col("nw").as("n_weekend"), col("nd").as("n_weekday"),
        round(col("rw") - col("nw").cast("double") *
          (col("nw").cast("double") + 1.0) / 2.0, 6).as("u_stat"),
        round(
          (col("rw") - col("nw").cast("double") * (col("nw").cast("double") + 1.0) / 2.0
            - col("nw").cast("double") * col("nd").cast("double") / 2.0) /
          sqrt(col("nw").cast("double") * col("nd").cast("double") / 12.0 *
            ((col("nw") + col("nd") + 1).cast("double") -
              col("ties").cast("double") /
                ((col("nw") + col("nd")).cast("double") *
                 (col("nw") + col("nd") - 1).cast("double")))), 6).as("z_score"))
  }

  val q173Sql: String =
    """WITH e AS (
      |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
      |    CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS is_we
      |  FROM events WHERE event_type = 'purchase'),
      |pv AS (
      |  SELECT vc, COUNT(*) AS cnt, CAST(SUM(is_we) AS BIGINT) AS w_cnt
      |  FROM e GROUP BY 1),
      |rk AS (
      |  SELECT *,
      |    SUM(cnt) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - cnt AS cum
      |  FROM pv),
      |ar AS (
      |  SELECT *, CAST(cum AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS avg_rank
      |  FROM rk),
      |s AS (
      |  SELECT CAST(SUM(w_cnt) AS BIGINT) AS nw,
      |    CAST(SUM(cnt - w_cnt) AS BIGINT) AS nd,
      |    SUM(avg_rank * CAST(w_cnt AS DOUBLE)) AS rw,
      |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      |  FROM ar)
      |SELECT nw AS n_weekend, nd AS n_weekday,
      |  ROUND(rw - CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) + 1.0) / 2.0, 6) AS u_stat,
      |  ROUND((rw - CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) + 1.0) / 2.0
      |      - CAST(nw AS DOUBLE) * CAST(nd AS DOUBLE) / 2.0)
      |    / SQRT(CAST(nw AS DOUBLE) * CAST(nd AS DOUBLE) / 12.0 *
      |        (CAST(nw + nd + 1 AS DOUBLE)
      |          - CAST(ties AS DOUBLE) / (CAST(nw + nd AS DOUBLE) * CAST(nw + nd - 1 AS DOUBLE)))),
      |    6) AS z_score
      |FROM s""".stripMargin

  // ---- q174 Wasserstein-1 quality shift (English vs rest) -------------------

  /** Earth-mover (Wasserstein-1) distance between English documents'
    * quality distribution and everything else's: W₁ = Σ |F_en − F_rest|·Δq
    * over the sorted 3-dp support — the INTEGRAL of the ECDF gap, where
    * q128's KS drift panel takes its SUP. The two react differently (KS to
    * one sharp localized gap, W₁ to broad small shifts), which is why
    * distribution-shift monitoring runs both. Support ≤ 1001 values, so
    * the cumulative window is bounded by the metric's domain; ECDFs are
    * exact rationals and Δq exact 3-dp steps, so both engines fold the
    * identical products in the identical order (order-pinned window sum).
    */
  def q174WassersteinShift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
      .select(col("q"), (col("lang") === "en").cast("long").as("is_en"))
    val perQ = d.groupBy("q").agg(
      sum(col("is_en")).as("en_c"), sum(lit(1L) - col("is_en")).as("rest_c"))
    // unpartitioned ECDF windows over DISTINCT quality scores — bounded by
    // the score domain (quantized grid), not by row count
    val ord = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perQ.agg(sum(col("en_c")).as("n_en"), sum(col("rest_c")).as("n_rest"))
    val ecdf = perQ.crossJoin(tot)
      .withColumn("f_en",
        sum(col("en_c")).over(ord).cast("double") / col("n_en").cast("double"))
      .withColumn("f_rest",
        sum(col("rest_c")).over(ord).cast("double") / col("n_rest").cast("double"))
      .withColumn("dq",
        coalesce(lead(col("q"), 1).over(Window.orderBy("q")), col("q")) - col("q"))
      .withColumn("seg", abs(col("f_en") - col("f_rest")) * col("dq"))
    // order-pinned summation: fold the segments in q order so both engines
    // accumulate the identical double sequence
    val pinned = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ecdf.withColumn("w1", sum(col("seg")).over(pinned))
      .groupBy(col("n_en"), col("n_rest"), col("w1"))
      .agg(max(abs(col("f_en") - col("f_rest"))).as("sup_gap"))
      .select(col("n_en"), col("n_rest"),
        round(col("w1"), 6).as("w1_distance"),
        round(col("sup_gap"), 6).as("ks_companion"))
  }

  val q174Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte2),
       |pq AS (
       |  SELECT q, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_c,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS rest_c
       |  FROM d GROUP BY 1),
       |t AS (SELECT CAST(SUM(en_c) AS BIGINT) AS n_en,
       |             CAST(SUM(rest_c) AS BIGINT) AS n_rest FROM pq),
       |e AS (
       |  SELECT pq.q, t.n_en, t.n_rest,
       |    CAST(SUM(en_c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS DOUBLE) / CAST(t.n_en AS DOUBLE) AS f_en,
       |    CAST(SUM(rest_c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS DOUBLE) / CAST(t.n_rest AS DOUBLE) AS f_rest,
       |    COALESCE(LEAD(q, 1) OVER (ORDER BY q), q) - q AS dq
       |  FROM pq, t),
       |s AS (
       |  SELECT *,
       |    SUM(ABS(f_en - f_rest) * dq) OVER (ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS w1
       |  FROM e)
       |SELECT n_en, n_rest, ROUND(w1, 6) AS w1_distance,
       |  ROUND(MAX(ABS(f_en - f_rest)), 6) AS ks_companion
       |FROM s GROUP BY 1, 2, w1""".stripMargin

  // ---- q175 decile-bin value drift (quantile-bin PSI) -----------------------

  /** Population-stability drift over VALUE DECILES — the numeric complement
    * of q112's categorical PSI: bin edges are the first half-month's value
    * deciles (the `percentile` ≡ `quantile_cont` q05 equivalence on exact
    * cent integers), both halves are histogrammed into those 10 bins, and
    * PSI = Σ (p2−p1)·ln(p2/p1) with Laplace-smoothed shares (+0.5/bin) so
    * an empty bin cannot produce ln(0). Bin assignment compares exact cents
    * against the interpolated edges — deterministic in both engines.
    */
  def q175DecileDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = ExtQueries.events(spark, sfDir)
      .select(graft.core.Exprs.roundHalfUpLong(col("value") * 100).as("vc"),
        (to_date(col("ts")) <= lit("2024-01-15")).as("early"))
    // the exact `percentile` aggregate (same interpolating function the
    // q05 family pins against DuckDB's quantile_cont)
    val probs = (1 to 9).map(_ / 10.0)
    val exactEdges = ev.filter(col("early"))
      .agg(expr(s"percentile(vc, array(${probs.mkString(",")}))").as("edges"))
    val binned = ev.crossJoin(broadcast(exactEdges))
      .withColumn("bin",
        (0 to 8).map(i => (col("vc").cast("double") > col("edges")(i)).cast("int"))
          .reduce(_ + _))
      .groupBy("bin").agg(
        sum(col("early").cast("long")).as("c1"),
        sum((!col("early")).cast("long")).as("c2"))
    val tot = binned.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    binned.crossJoin(tot)
      .withColumn("p1", (col("c1").cast("double") + 0.5) / (col("n1").cast("double") + 5.0))
      .withColumn("p2", (col("c2").cast("double") + 0.5) / (col("n2").cast("double") + 5.0))
      .select(col("bin"), col("c1").as("n_early"), col("c2").as("n_late"),
        round((col("p2") - col("p1")) * log(col("p2") / col("p1")), 6)
          .as("psi_term"))
      .orderBy("bin")
  }

  val q175Sql: String =
    """WITH e AS (
      |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
      |    CAST(ts AS DATE) <= DATE '2024-01-15' AS early
      |  FROM events),
      |ed AS (
      |  SELECT quantile_cont(vc, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
      |  FROM e WHERE early),
      |b AS (
      |  SELECT (CASE WHEN CAST(vc AS DOUBLE) > edges[1] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[2] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[3] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[4] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[5] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[6] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[7] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[8] THEN 1 ELSE 0 END
      |        + CASE WHEN CAST(vc AS DOUBLE) > edges[9] THEN 1 ELSE 0 END) AS bin,
      |    CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM e, ed GROUP BY 1),
      |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM b)
      |SELECT bin, c1 AS n_early, c2 AS n_late,
      |  ROUND(((CAST(c2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 5.0)
      |        - (CAST(c1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 5.0))
      |    * LN(((CAST(c2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 5.0))
      |        / ((CAST(c1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 5.0))), 6) AS psi_term
      |FROM b, t ORDER BY bin""".stripMargin

  // ---- q176 Pettitt rank-based changepoint ----------------------------------

  /** Pettitt test per event type — the RANK-based changepoint detector,
    * complementing q130's CUSUM (mean-shift cumsum): U_t = Σ_{i≤t,j>t}
    * sgn(x_j − x_i) counts order relations across the split, so a single
    * outlier day cannot drag the changepoint the way it drags a cumsum.
    * K = max|U_t| with the closed-form significance p ≈ 2·exp(−6K²/(T³+T²)).
    * The pair space is the bounded DAY PANEL (30 days → 435 pairs/series):
    * a keyed self-join emits each pair's sign onto every split index it
    * straddles (sequence + explode, ≤ T rows per pair), one keyed
    * aggregation forms U_t, and argmax breaks ties on the earlier day.
    * Everything is exact integer arithmetic until the final exp.
    */
  def q176PettittChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = ExtQueries.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))
    val a = daily.select(col("event_type"), col("i").as("i1"), col("x").as("x1"))
    val b = daily.select(col("event_type"), col("i").as("i2"), col("x").as("x2"))
    val contributions = a.join(b, Seq("event_type"))
      .filter(col("i1") < col("i2"))
      .select(col("event_type"),
        when(col("x2") > col("x1"), lit(1L))
          .when(col("x2") < col("x1"), lit(-1L)).otherwise(lit(0L)).as("s"),
        explode(sequence(col("i1"), col("i2") - 1)).as("t"))
    val u = contributions.groupBy("event_type", "t")
      .agg(sum(col("s")).as("u"))
    val bigT = daily.groupBy("event_type").agg(count(lit(1)).as("bigT"))
    val k = u.withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("u")).desc, col("t"))))
      .filter(col("rk") === 1)
      .join(bigT, Seq("event_type"))
      .join(daily.select(col("event_type"), col("i").as("t"),
        col("day").as("cp_day")), Seq("event_type", "t"))
    k.select(col("event_type"),
        date_format(col("cp_day"), "yyyy-MM-dd").as("cp_day"),
        abs(col("u")).as("k_stat"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
          (col("u") * col("u")).cast("double") /
          (col("bigT") * col("bigT") * col("bigT") +
            col("bigT") * col("bigT")).cast("double"))), 6).as("p_approx"))
      .orderBy("event_type")
  }

  val q176Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |contrib AS (
      |  SELECT a.event_type,
      |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS s,
      |    UNNEST(generate_series(a.i, b.i - 1)) AS t
      |  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i),
      |u AS (
      |  SELECT event_type, t, CAST(SUM(s) AS BIGINT) AS u
      |  FROM contrib GROUP BY 1, 2),
      |bt AS (SELECT event_type, COUNT(*) AS bigT FROM daily GROUP BY 1),
      |k AS (
      |  SELECT u.*, ROW_NUMBER() OVER (PARTITION BY u.event_type
      |    ORDER BY ABS(u.u) DESC, u.t) AS rk
      |  FROM u)
      |SELECT k.event_type, CAST(idx.day AS VARCHAR) AS cp_day,
      |  ABS(k.u) AS k_stat,
      |  ROUND(LEAST(1.0, 2.0 * EXP(-6.0 * CAST(k.u * k.u AS DOUBLE)
      |    / CAST(bt.bigT * bt.bigT * bt.bigT + bt.bigT * bt.bigT AS DOUBLE))), 6)
      |    AS p_approx
      |FROM k
      |JOIN bt ON k.event_type = bt.event_type
      |JOIN idx ON idx.event_type = k.event_type AND idx.i = k.t
      |WHERE k.rk = 1 ORDER BY k.event_type""".stripMargin

  // ---- q177 EWMA anomaly scoring --------------------------------------------

  /** Exponentially-weighted daily revenue baseline + anomaly flags: the
    * monitoring chart every ingest pipeline runs. Sibling of q117's EWMA
    * TREND (dyadic integer-exact decay, no flags): this one is the ALERTING
    * form — adjust=true weighting, a ±50% band against the previous day's
    * baseline, and a stateful streaming twin
    * ([[graft.streaming.StreamOps.ewmaAnomalyStream]], 1e-9 batch parity). EWMA (adjust=true form)
    * is computed CLOSED-FORM as a ratio of ordered cumulative sums — but
    * BLOCK-DECOMPOSED: naive per-row weights r^-i overflow double at
    * i ≈ 2050 (~5.6 years of days), so rows are cut into 512-row blocks per
    * key and weights are taken relative to the block start. Every exponent
    * then stays inside [-1024, 512] for ANY series length, and history older
    * than the previous block is truncated — its relative weight is below
    * r^512 ≈ 1e-79, i.e. under double resolution, so the truncation is
    * invisible (and far inside the streaming twin's 1e-9 parity band). The
    * anomaly flag compares a day's revenue against the PREVIOUS day's
    * baseline with a fixed ±50% band. All windows keyed by event_type over
    * the bounded day panel; the block-totals side of the join is n/512 rows
    * → broadcast.
    */
  def q177EwmaAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    // α=0.3 ⇒ r=0.7 — as the LITERAL 0.7, not computed 1.0-0.3 (which is
    // 0.70000000000000011, a different double than the oracle's 0.7, and
    // pow() would amplify the difference past the 6-dp rounding)
    val r = 0.7
    val B = 512
    val daily = ExtQueries.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(graft.core.Exprs.roundHalfUpLong(col("value") * 100)).as("revc"))
    val ord = Window.partitionBy("event_type").orderBy("day")
    val blocked = daily
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("blk", ((col("rn") - 1) / lit(B)).cast("long"))
      .withColumn("off", (col("rn") - col("blk") * B).cast("double"))
    val cumB = Window.partitionBy("event_type", "blk").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = blocked
      .withColumn("p", sum(col("revc").cast("double") * pow(lit(r), -col("off"))).over(cumB))
      .withColumn("q", sum(pow(lit(r), -col("off"))).over(cumB))
    // previous-block carry: the cumsum value at each FULL block's last row
    // (blocks are full except the final one, which is never a "previous")
    val totals = cum.filter(col("off") === B.toDouble)
      .select(col("event_type"), (col("blk") + 1).as("blk"),
        col("p").as("tp"), col("q").as("tq"))
    val ew = cum.join(broadcast(totals), Seq("event_type", "blk"), "left")
      .withColumn("ewma",
        (pow(lit(r), col("off")) * col("p") +
          pow(lit(r), col("off") + B) * coalesce(col("tp"), lit(0.0))) /
        (pow(lit(r), col("off")) * col("q") +
          pow(lit(r), col("off") + B) * coalesce(col("tq"), lit(0.0))))
      .withColumn("prev_ewma", lag(col("ewma"), 1).over(ord))
    ew.select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("revc").as("rev_cents"),
        round(col("ewma"), 6).as("ewma_cents"),
        coalesce(
          abs(col("revc").cast("double") - col("prev_ewma")) >
            lit(0.5) * col("prev_ewma"),
          lit(false)).as("anomaly"))
      .orderBy("event_type", "day")
  }

  val q177Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS revc
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |blks AS (
      |  SELECT *, (rn - 1) // 512 AS blk,
      |    CAST(rn - ((rn - 1) // 512) * 512 AS DOUBLE) AS off
      |  FROM idx),
      |cum AS (
      |  SELECT *,
      |    SUM(CAST(revc AS DOUBLE) * POWER(0.7, -off)) OVER cw AS p,
      |    SUM(POWER(0.7, -off)) OVER cw AS q
      |  FROM blks
      |  WINDOW cw AS (PARTITION BY event_type, blk ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (
      |  SELECT event_type, blk + 1 AS blk, p AS tp, q AS tq
      |  FROM cum WHERE off = 512),
      |ew AS (
      |  SELECT c.event_type, c.day, c.revc,
      |    (POWER(0.7, c.off) * c.p + POWER(0.7, c.off + 512) * COALESCE(t.tp, 0))
      |      / (POWER(0.7, c.off) * c.q + POWER(0.7, c.off + 512) * COALESCE(t.tq, 0))
      |      AS ewma
      |  FROM cum c LEFT JOIN tot t
      |    ON t.event_type = c.event_type AND t.blk = c.blk),
      |l AS (
      |  SELECT *, LAG(ewma, 1) OVER (PARTITION BY event_type ORDER BY day)
      |    AS prev_ewma
      |  FROM ew)
      |SELECT event_type, CAST(day AS VARCHAR) AS day, revc AS rev_cents,
      |  ROUND(ewma, 6) AS ewma_cents,
      |  COALESCE(ABS(CAST(revc AS DOUBLE) - prev_ewma) > 0.5 * prev_ewma,
      |    FALSE) AS anomaly
      |FROM l ORDER BY event_type, day""".stripMargin

  // ---- q178 Neyman-allocation stratified sampling ---------------------------

  /** Variance-proportional sample design: allocate a 100-doc budget across
    * sources by Neyman allocation n_h ∝ N_h·σ_h (high-variance strata get
    * more draws), then take each stratum's sample deterministically by md5
    * order. σ_h comes from EXACT integer sufficient statistics (quality in
    * 3-dp milli-units: Σm, Σm², n are exact, var = (nΣm² − (Σm)²)/(n(n−1))
    * is one rational), and the allocation denominator Σ N_h·σ_h is an
    * ORDER-PINNED window sum over the bounded source panel (the q122
    * convention) so both engines fold it identically. Allocations are
    * capped at the stratum size; the realized sample mean is exact
    * milli-arithmetic.
    */
  def q178NeymanAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir)
      .select(col("doc_id"), col("source"),
        graft.core.Exprs.roundHalfUpLong(col("q") * 1000).as("m"))
    val strata = d.groupBy("source").agg(
      count(lit(1)).as("nh"),
      sum(col("m")).as("sm"),
      sum(col("m") * col("m")).as("sm2"))
      .withColumn("sigma",
        sqrt(((col("nh") * col("sm2") - col("sm") * col("sm")).cast("double")) /
          ((col("nh") * (col("nh") - 1)).cast("double"))) / 1000.0)
      .withColumn("w", col("nh").cast("double") * col("sigma"))
    val pinned = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val alloc = strata
      .withColumn("wtot", sum(col("w")).over(pinned))
      .withColumn("alloc",
        least(graft.core.Exprs.roundHalfUpLong(lit(100.0) * col("w") / col("wtot")),
          col("nh")))
    val picked = d
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(md5(col("doc_id").cast("string")))))
      .join(alloc.select(col("source"), col("alloc")), Seq("source"))
      .filter(col("rk") <= col("alloc"))
      .groupBy("source").agg(
        count(lit(1)).as("n_sampled"), sum(col("m")).as("msum"))
    alloc.join(picked, Seq("source"), "left")
      .select(col("source"), col("nh").as("n_docs"),
        round(col("sigma"), 6).as("sigma_q"), col("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        round(col("msum").cast("double") /
          (col("n_sampled").cast("double") * 1000.0), 6).as("sample_mean_q"))
      .orderBy("source")
  }

  val q178Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte2),
       |dm AS (
       |  SELECT doc_id, source, CAST(ROUND(q * 1000) AS BIGINT) AS m FROM d),
       |st AS (
       |  SELECT source, COUNT(*) AS nh,
       |    CAST(SUM(m) AS BIGINT) AS sm, CAST(SUM(m * m) AS BIGINT) AS sm2
       |  FROM dm GROUP BY 1),
       |sg AS (
       |  SELECT *, SQRT(CAST(nh * sm2 - sm * sm AS DOUBLE)
       |      / CAST(nh * (nh - 1) AS DOUBLE)) / 1000.0 AS sigma
       |  FROM st),
       |al AS (
       |  SELECT *, CAST(nh AS DOUBLE) * sigma AS w,
       |    SUM(CAST(nh AS DOUBLE) * sigma) OVER (ORDER BY source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS wtot
       |  FROM sg),
       |a2 AS (
       |  SELECT *, LEAST(CAST(ROUND(100.0 * w / wtot) AS BIGINT), nh) AS alloc
       |  FROM al),
       |rk AS (
       |  SELECT dm.*, ROW_NUMBER() OVER (PARTITION BY dm.source
       |    ORDER BY md5(CAST(dm.doc_id AS VARCHAR))) AS rk
       |  FROM dm),
       |pk AS (
       |  SELECT rk.source, COUNT(*) AS n_sampled, CAST(SUM(rk.m) AS BIGINT) AS msum
       |  FROM rk JOIN a2 ON rk.source = a2.source
       |  WHERE rk.rk <= a2.alloc GROUP BY 1)
       |SELECT a2.source, a2.nh AS n_docs, ROUND(a2.sigma, 6) AS sigma_q,
       |  a2.alloc, COALESCE(pk.n_sampled, 0) AS n_sampled,
       |  ROUND(CAST(pk.msum AS DOUBLE) / (CAST(pk.n_sampled AS DOUBLE) * 1000.0), 6)
       |    AS sample_mean_q
       |FROM a2 LEFT JOIN pk ON a2.source = pk.source
       |ORDER BY a2.source""".stripMargin

  // ---- q179 per-source KS + Benjamini-Hochberg FDR --------------------------

  /** Multiple-testing-corrected source drift screen — the FDR layer the
    * per-source drift family (q112 PSI, q122 JSD, q128 per-source-vs-corpus
    * KS at fixed α) stops short of: with dozens of sources, fixed-α
    * screens false-alarm constantly. Each source's QUALITY distribution is
    * KS-tested against the REST of the corpus (leave-one-out, not
    * vs-corpus — a big source cannot mask its own drift), the p-values
    * (one-term asymptotic 2·exp(−2·m·D²), m = n_s·n_r/(n_s+n_r) — a closed
    * form both engines compute identically, which is the point: no erf/CDF
    * library dependence) are Benjamini-Hochberg corrected at q = 0.10, and
    * every source at or below the BH cut is flagged. The per-source ECDFs
    * come from ONE (source × quality) panel (bounded by #sources × the 3-dp
    * support) with source-keyed windows; F_rest is (global − own)/(n − n_s)
    * from a broadcast global panel — no per-source rescan. The BH step is
    * an ordered window over the #sources panel.
    */
  def q179SourceDriftFdr(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docQuality(spark, sfDir).select(col("source"), col("q"))
    val perSQ = d.groupBy("source", "q").agg(count(lit(1)).as("c"))
    val perQ = d.groupBy("q").agg(count(lit(1)).as("cg"))
    val tot = d.agg(count(lit(1)).as("n"))
    // every (source, q-in-support) cell so the own-ECDF steps align with
    // the global support: source x support grid from a small cross join
    val sources = d.select("source").distinct()
    val grid = sources.crossJoin(perQ)
      .join(perSQ, Seq("source", "q"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val sOrd = Window.partitionBy("source").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cs", sum(col("c")).over(sOrd))
      .withColumn("cgc", sum(col("cg")).over(sOrd))
    val perSource = cum.groupBy("source").agg(sum(col("c")).as("ns"))
    val stats = cum.join(perSource, Seq("source")).crossJoin(tot)
      .withColumn("f_own", col("cs").cast("double") / col("ns").cast("double"))
      .withColumn("f_rest", (col("cgc") - col("cs")).cast("double") /
        (col("n") - col("ns")).cast("double"))
      .groupBy(col("source"), col("ns"), col("n"))
      .agg(max(abs(col("f_own") - col("f_rest"))).as("d_stat"))
      .withColumn("m_eff", col("ns").cast("double") *
        (col("n") - col("ns")).cast("double") / col("n").cast("double"))
      .withColumn("p_raw",
        least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("m_eff") *
          col("d_stat") * col("d_stat"))))
    val ordP = Window.orderBy(col("p_raw"), col("source"))
    val m = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bh = stats
      .withColumn("rk", row_number().over(ordP).cast("double"))
      .withColumn("m", count(lit(1)).over(m).cast("double"))
      .withColumn("bh_ok", col("p_raw") <= col("rk") / col("m") * 0.10)
      .withColumn("cut", max(when(col("bh_ok"), col("rk"))).over(m))
      .withColumn("rejected",
        coalesce(col("rk") <= col("cut"), lit(false)))
    bh.select(col("source"), col("ns").as("n_docs"),
        round(col("d_stat"), 6).as("ks_stat"),
        round(col("p_raw"), 6).as("p_value"),
        col("rk").cast("long").as("p_rank"), col("rejected"))
      .orderBy("source")
  }

  val q179Sql: String =
    s"""WITH d AS (
       |$docQualitySqlCte2),
       |psq AS (SELECT source, q, COUNT(*) AS c FROM d GROUP BY 1, 2),
       |pq AS (SELECT q, COUNT(*) AS cg FROM d GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n FROM d),
       |grid AS (
       |  SELECT s.source, pq.q, pq.cg, COALESCE(psq.c, 0) AS c
       |  FROM (SELECT DISTINCT source FROM d) s
       |  CROSS JOIN pq
       |  LEFT JOIN psq ON psq.source = s.source AND psq.q = pq.q),
       |cum AS (
       |  SELECT *,
       |    SUM(c) OVER (PARTITION BY source ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
       |    SUM(cg) OVER (PARTITION BY source ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cgc
       |  FROM grid),
       |ps AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM cum GROUP BY 1),
       |st AS (
       |  SELECT cum.source, ps.ns, t.n,
       |    MAX(ABS(CAST(cs AS DOUBLE) / CAST(ps.ns AS DOUBLE)
       |      - CAST(cgc - cs AS DOUBLE) / CAST(t.n - ps.ns AS DOUBLE))) AS d_stat
       |  FROM cum JOIN ps ON cum.source = ps.source CROSS JOIN t
       |  GROUP BY 1, 2, 3),
       |pv AS (
       |  SELECT *,
       |    LEAST(1.0, 2.0 * EXP(-2.0
       |      * (CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE) / CAST(n AS DOUBLE))
       |      * d_stat * d_stat)) AS p_raw
       |  FROM st),
       |bh AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY p_raw, source) AS DOUBLE) AS rk,
       |    CAST(COUNT(*) OVER () AS DOUBLE) AS m
       |  FROM pv),
       |cut AS (
       |  SELECT *,
       |    MAX(CASE WHEN p_raw <= rk / m * 0.10 THEN rk END) OVER () AS cutrk
       |  FROM bh)
       |SELECT source, ns AS n_docs, ROUND(d_stat, 6) AS ks_stat,
       |  ROUND(p_raw, 6) AS p_value, CAST(rk AS BIGINT) AS p_rank,
       |  COALESCE(rk <= cutrk, FALSE) AS rejected
       |FROM cut ORDER BY source""".stripMargin

  // ---- q180 Theil-Sen robust trend ------------------------------------------

  /** Robust daily-count trend per event type: the Theil-Sen estimator —
    * the MEDIAN of all pairwise slopes (y_j−y_i)/(j−i) — shrugs off the
    * outlier days that wreck OLS. The pair space is the bounded DAY PANEL
    * squared (30 days → 435 pairs per series), generated by a keyed
    * self-join on event_type with day₁ < day₂ — never a join over raw
    * events. Counts are exact integers, day indexes exact, so each slope
    * is one exact division and the interpolated median (`percentile` ≡
    * `quantile_cont`) is the q05-pinned equivalence.
    */
  def q180TheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = ExtQueries.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("double"))
    val a = daily.select(col("event_type"), col("i").as("i1"),
      col("x").cast("double").as("x1"))
    val b = daily.select(col("event_type"), col("i").as("i2"),
      col("x").cast("double").as("x2"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("i1") < col("i2"))
      .select(col("event_type"),
        ((col("x2") - col("x1")) / (col("i2") - col("i1"))).as("slope"))
    slopes.groupBy("event_type").agg(
        count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("theil_sen_slope"),
        round(expr("percentile(slope, 0.1)"), 6).as("slope_p10"),
        round(expr("percentile(slope, 0.9)"), 6).as("slope_p90"))
      .orderBy("event_type")
  }

  val q180Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS i,
      |    CAST(x AS DOUBLE) AS x
      |  FROM daily),
      |pairs AS (
      |  SELECT a.event_type, (b.x - a.x) / (b.i - a.i) AS slope
      |  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i)
      |SELECT event_type, COUNT(*) AS n_pairs,
      |  ROUND(quantile_cont(slope, 0.5), 6) AS theil_sen_slope,
      |  ROUND(quantile_cont(slope, 0.1), 6) AS slope_p10,
      |  ROUND(quantile_cont(slope, 0.9), 6) AS slope_p90
      |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q181 revenue concentration (Gini + top-customer share) ---------------

  /** Per-nation revenue inequality across customers — the GROUP-keyed form
    * of q109's global Gini/Lorenz (which ranks the whole corpus through the
    * distributed prefix scan; here ranks are per-nation window partitions,
    * the shape for "inequality per segment" panels): the Gini coefficient
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over revenue-ranked customers, plus
    * the largest customer's share. Order totals quantize to exact cents, a
    * LEFT join keeps zero-revenue customers in the population (they pull
    * G up — dropping them is the classic inequality-overstatement bug...
    * understatement bug: they'd be missing mass at the bottom), ranks are
    * nation-keyed windows, and all sums are exact integers until the two
    * final divisions.
    */
  def q181RevenueGini(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = tbl(spark, sfDir, "orders")
      .select(col("o_custkey"),
        graft.core.Exprs.roundHalfUpLong(col("o_totalprice") * 100).as("revc"))
      .groupBy("o_custkey").agg(sum(col("revc")).as("revc"))
    val cust = tbl(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_nationkey"),
        coalesce(col("revc"), lit(0L)).as("revc"))
    val rk = Window.partitionBy("c_nationkey").orderBy(col("revc"), col("c_custkey"))
    val ranked = cust.withColumn("i", row_number().over(rk).cast("long"))
    ranked.groupBy(col("c_nationkey").as("nationkey")).agg(
        count(lit(1)).as("n_cust"),
        sum(col("revc")).as("rev_cents"),
        // decimal accumulator: Σ(i·revc) wraps int64 near sf100 (q109's sf10
        // overflow one group-cardinality decade later); DuckDB's SUM(BIGINT)
        // is already HUGEINT, so the wrap would be a silent one-sided skew
        sum(col("i").cast("decimal(19,0)") * col("revc").cast("decimal(19,0)"))
          .as("iwr"),
        max(col("revc")).as("max_revc"))
      .select(col("nationkey"), col("n_cust"), col("rev_cents"),
        round(lit(2.0) * col("iwr").cast("double") /
          (col("n_cust").cast("double") * col("rev_cents").cast("double")) -
          (col("n_cust") + 1).cast("double") / col("n_cust").cast("double"), 6)
          .as("gini"),
        round(col("max_revc").cast("double") / col("rev_cents").cast("double"), 6)
          .as("top_customer_share"))
      .orderBy("nationkey")
  }

  val q181Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revc
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT c_custkey, c_nationkey, COALESCE(o.revc, 0) AS revc
      |  FROM customer LEFT JOIN o ON c_custkey = o_custkey),
      |r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |    ORDER BY revc, c_custkey) AS BIGINT) AS i
      |  FROM c)
      |SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
      |  CAST(SUM(revc) AS BIGINT) AS rev_cents,
      |  ROUND(2.0 * CAST(SUM(i * revc) AS DOUBLE)
      |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(revc) AS DOUBLE))
      |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS gini,
      |  ROUND(CAST(MAX(revc) AS DOUBLE) / CAST(SUM(revc) AS DOUBLE), 6)
      |    AS top_customer_share
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q182 clean-supplier assortment (TPC-H Q16 shape) ---------------------

  /** Distinct suppliers per (brand, size) EXCLUDING any supplier whose
    * lifetime return rate exceeds 32% — the Q16 not-in-subquery shape,
    * planned as an ANTI join on the supplier key (the tainted-supplier set
    * is an aggregation, broadcast at any realistic supplier cardinality)
    * followed by a distinct count over (brand, size, supplier). Never a
    * correlated per-row subquery. The taint test is exact integer
    * arithmetic (100·nR > 32·n), so both engines agree bit-for-bit, and the
    * threshold splits the fixture non-degenerately at every SF (22 clean
    * suppliers at sf0.01, 247 at sf0.1 — an every-supplier-tainted
    * predicate would gate only the empty set).
    */
  def q182CleanSupplierAssortment(spark: SparkSession, sfDir: String): DataFrame = {
    val li = tbl(spark, sfDir, "lineitem")
    val tainted = li.groupBy(col("l_suppkey"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("nr"),
        count(lit(1)).as("n"))
      .filter(col("nr") * 100L > col("n") * 32L)
      .select(col("l_suppkey"))
    val part = tbl(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(tainted), Seq("l_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("n_clean_suppliers"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("p_brand", "p_size")
  }

  val q182Sql: String =
    """SELECT p_brand, p_size,
      |  COUNT(DISTINCT l_suppkey) AS n_clean_suppliers,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN (
      |  SELECT l_suppkey FROM lineitem GROUP BY 1
      |  HAVING SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 100 > COUNT(*) * 32)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q183 dormant rich customers (TPC-H Q22 shape) ------------------------

  /** Customers with above-average balances and no RECENT orders (nothing on
    * or after 1999-01-01) — the Q22 shape: one scalar aggregate (global
    * average balance) broadcast as a single row, an ANTI join against
    * recent-order custkeys, grouped by market segment. The anti join keys
    * on custkey (shuffle-able at any scale); nothing is correlated. The
    * recency cutoff (not "no orders ever") keeps the gate non-degenerate:
    * every fixture customer has SOME order, so the literal Q22 predicate
    * proves only that two engines agree on an empty set.
    */
  def q183DormantRich(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = tbl(spark, sfDir, "customer")
    // cents-exact mean: Σcents/n is the same double in both engines
    val avgBal = cust.agg(
      (sum(graft.core.Exprs.roundHalfUpLong(col("c_acctbal") * 100)).cast("double") /
        count(lit(1)).cast("double")).as("avg_balc"))
    val recentKeys = tbl(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
      .select(col("o_custkey")).distinct()
    cust.select(col("c_custkey"), col("c_mktsegment"),
        graft.core.Exprs.roundHalfUpLong(col("c_acctbal") * 100).as("balc"))
      .crossJoin(broadcast(avgBal))
      .filter(col("balc").cast("double") > col("avg_balc"))
      .join(recentKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_dormant"),
        round(sum(col("balc")).cast("double") / 100.0, 6).as("total_balance"))
      .orderBy("c_mktsegment")
  }

  val q183Sql: String =
    """WITH ab AS (
      |  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_balc
      |  FROM customer)
      |SELECT c_mktsegment, COUNT(*) AS n_dormant,
      |  ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 6)
      |    AS total_balance
      |FROM customer, ab
      |WHERE CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE) > ab.avg_balc
      |  AND c_custkey NOT IN (
      |    SELECT DISTINCT o_custkey FROM orders
      |    WHERE o_orderdate >= DATE '1999-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- registration ---------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q167_local_supplier_volume", q167LocalSupplierVolume, q167Sql),
    QuerySpec("q168_market_share", q168MarketShare, q168Sql),
    QuerySpec("q169_returned_items", q169ReturnedItems, q169Sql),
    QuerySpec("q170_promo_share", q170PromoShare, q170Sql),
    QuerySpec("q171_small_quantity_outliers", q171SmallQuantityOutliers, q171Sql),
    QuerySpec("q172_order_fanout", q172OrderFanout, q172Sql),
    QuerySpec("q173_mann_whitney", q173MannWhitney, q173Sql),
    QuerySpec("q174_wasserstein_shift", q174WassersteinShift, q174Sql),
    QuerySpec("q175_decile_drift", q175DecileDrift, q175Sql),
    QuerySpec("q176_pettitt_changepoint", q176PettittChangepoint, q176Sql),
    QuerySpec("q177_ewma_anomaly", q177EwmaAnomaly, q177Sql),
    QuerySpec("q178_neyman_allocation", q178NeymanAllocation, q178Sql),
    QuerySpec("q179_source_drift_fdr", q179SourceDriftFdr, q179Sql),
    QuerySpec("q180_theil_sen", q180TheilSen, q180Sql),
    QuerySpec("q181_revenue_gini", q181RevenueGini, q181Sql),
    QuerySpec("q182_clean_supplier_assortment", q182CleanSupplierAssortment, q182Sql),
    QuerySpec("q183_dormant_rich", q183DormantRich, q183Sql))
}
