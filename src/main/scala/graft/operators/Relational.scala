package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Relational operator coverage over the driver's TPC-H-ish testdata —
 * SURVEY.md §2.3's [EXT] checklist (joins, aggregations, windows, sorts,
 * set ops, scalar functions). The reference itself has none of these
 * (its only query shape is group-by-key + holistic reduce); everything here
 * is expressed declaratively so Catalyst gets pushdown/pruning/join
 * selection for free (SURVEY.md §4.1).
 *
 * Scale notes applying to the whole file:
 *  - dimension tables (region/nation/customer/supplier/part) stay tiny
 *    relative to the fact tables at any SF, so dimension joins are
 *    broadcast (explicitly hinted where the optimizer might not see it);
 *    only fact-fact joins (orders ⋈ lineitem) shuffle, on their natural key.
 *  - aggregates are all algebraic (sum/count/min/max) → Spark runs them
 *    partial+final; the shuffle carries O(groups) bytes.
 *  - money arithmetic goes through `Tables.dec/dsum` (exact decimal) both
 *    for oracle determinism and because at 100 TB a float drift bug is
 *    unauditable.
 */
object Relational {

  /**
   * TPC-H Q1-shaped pricing summary: the canonical wide hash aggregate.
   * Partial aggregation collapses each scan partition to ≤|groups| rows
   * before the exchange.
   */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /**
   * TPC-H Q3-shaped shipping priority: customer ⋈ orders ⋈ lineitem with a
   * top-10. customer is broadcast (small dim); orders ⋈ lineitem shuffles
   * on the order key. The top-10 runs as TakeOrderedAndProject: each
   * partition keeps 10 rows, the driver merges — no global sort at scale.
   */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = t(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
    val li   = t(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
              col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /**
   * TPC-H Q5-shaped multi-join: the full snowflake
   * region ⋈ nation ⋈ {customer, supplier} ⋈ orders ⋈ lineitem.
   * All four dimension joins broadcast; the one genuine shuffle is
   * orders ⋈ lineitem on the order key.
   */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region")
    val nation = t(spark, dir, "nation")
    val cust   = t(spark, dir, "customer")
    val supp   = t(spark, dir, "supplier")
    val ord    = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li     = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
            col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /**
   * Full outer join with nulls on BOTH sides: BUILDING-segment customers
   * ⟗ per-customer 1997 order stats — BUILDING customers with no 1997
   * orders null out the right, 1997 orders from other segments null out
   * the left. The aggregate side reduces orders to O(customers) rows
   * before the join, so the outer join shuffles key-count-sized inputs.
   */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"))
    val ord97 = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    cust.join(ord97, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_nationkey"), col("o_custkey"),
              col("n_orders"), col("sum_price"))
  }

  val joinFullOuterSql: String =
    """SELECT c_custkey, c_nationkey, o_custkey, n_orders, sum_price
      |FROM (SELECT c_custkey, c_nationkey FROM customer
      |      WHERE c_mktsegment = 'BUILDING') c
      |FULL OUTER JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY o_custkey) o
      |ON c_custkey = o_custkey""".stripMargin

  /**
   * Theta (inequality-only) join: every ordered nation pair — NO
   * equi-conjunct at all, so Spark has no hash key and plans
   * BroadcastNestedLoopJoin. Legitimate only on key-count-sized inputs
   * (both sides are the 25-row nation dim, broadcast); at scale an
   * inequality join over big tables must be rewritten to the bucketed
   * range form ([[graft.operators.JoinsExt.rangeJoinPoints]]) —
   * nested-loop over facts is the plan to design AWAY from.
   */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("key_a"), col("n_regionkey").as("region_a"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("key_b"), col("n_regionkey").as("region_b"))
    n1.join(broadcast(n2), col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
              (col("region_a") === col("region_b")).as("same_region"))
  }

  val joinThetaSql: String =
    """SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
      |       a.n_regionkey = b.n_regionkey AS same_region
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey""".stripMargin

  /**
   * TPC-H Q6-shaped forecast revenue: the pure filter-and-aggregate probe.
   * All three predicates and the two-column projection push into the
   * parquet scan (`PushedFilters` + pruned `ReadSchema` — only
   * l_shipdate/l_discount/l_quantity/l_extendedprice leave the reader),
   * then one algebraic aggregate with no grouping: partial sums collapse
   * every scan partition to a single row before the one-row exchange. The
   * canonical "is pushdown actually working" query at any scale.
   */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.02, 0.04) &&
              col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_items"))

  val q6Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin

  /**
   * TPC-H Q18-shaped large-volume customers: aggregate-then-semijoin-
   * then-rejoin. The HAVING side reduces lineitem to qualifying order
   * keys first (partial+final sums, O(orders) rows), which then drive a
   * semi-join-shaped filter back onto orders ⋈ lineitem; at scale the
   * qualifying-key set is small, so AQE turns the rejoin broadcast. The
   * top-k is TakeOrderedAndProject — no global sort.
   */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val qualifying = li.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    val ord = t(spark, dir, "orders")
    ord.join(qualifying, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
              (col("o_totalprice").cast("decimal(18,2)")).cast("double").as("totalprice"),
              col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  }

  val q18Sql: String =
    """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
      |  total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150) q
      |  ON o_orderkey = q.l_orderkey
      |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin

  /**
   * TPC-H Q21-shaped multi-semijoin: suppliers who were the SOLE late
   * shipper on a finished multi-supplier order — EXISTS (another supplier
   * on the order) + NOT EXISTS (another LATE supplier on the order)
   * against the same fact table. "Late" is adapted to this testdata's
   * columns (no receipt/commit dates): shipped >60 days after the order
   * date.
   *
   * Plan shape at scale: `late` is a fact⋈fact join pre-filtered on both
   * sides (status F orders, one shuffle on orderkey); the NOT EXISTS
   * becomes a LeftAnti self-join of `late` whose two sides share one
   * exchange, and the EXISTS a LeftSemi, both hash-partitioned on the
   * SAME key (l_orderkey) so the exchanges line up back-to-back without
   * re-shuffling; the supplier dimension broadcasts; the final top-100
   * is TakeOrderedAndProject, never a global sort.
   */
  def q21WaitingOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    // late is consumed TWICE (as the probe side and as the NOT-EXISTS
    // build side) — cut its lineage so the fact⋈fact join runs once; at
    // sf1 AQE stopped reusing the exchange and the whole chain
    // re-executed (the events_mad_outliers finding, same fix).
    val late = Checkpoints.cut(li
      .join(t(spark, dir, "orders")
              .filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey")),
      eager = false)
    val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    // The NOT EXISTS runs first, as a self-join of late with no renaming:
    // both sides then hash the same canonical plan, so one exchange
    // serves both and every execution takes one plan. With the EXISTS
    // first, the anti join's probe exchange waited on the lineitem
    // broadcast and raced its build side's stage, and AQE planned one
    // more job and a second shuffle of late whenever the broadcast won.
    late.as("l1")
      .join(late.as("l3"), col("l1.l_orderkey") === col("l3.l_orderkey") &&
                           col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
      .join(others, col("l_orderkey") === col("o2") &&
                    col("l_suppkey") =!= col("s2"), "left_semi")
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  val q21Sql: String =
    """WITH late AS (
      |  SELECT l.l_orderkey, l.l_suppkey
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderstatus = 'F'
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late l1
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 100""".stripMargin

  /**
   * TPC-H Q13 shape (customer distribution): LEFT OUTER join customers to
   * a filtered orders table, count orders per customer (null-safe — a
   * customer with no qualifying orders counts 0), then histogram the
   * counts. The aggregate-of-aggregate with an outer join is the one
   * classic shape the surface lacked: the first agg shuffles on custkey
   * (orders side pre-filtered at the scan), the second on the tiny count
   * domain. The reference dataset has no o_comment, so the classic
   * NOT-LIKE filter becomes an o_orderpriority exclusion — same plan.
   * Ref: TPC-H spec §B.13; cf. /root/reference/README.md (query surface).
   */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    val perCust = t(spark, dir, "customer").select(col("c_custkey"))
      .join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips nulls
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  val q5Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM region, nation, customer, supplier, orders, lineitem
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY r_name, n_name""".stripMargin

  /** Explicit broadcast-hash join of the fact table against a hinted small
    * dimension (part): revenue by brand. */
  def joinBroadcastPart(spark: SparkSession, dir: String): DataFrame = {
    val li   = t(spark, dir, "lineitem")
    val part = t(spark, dir, "part")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n_items"))
  }

  val joinBroadcastPartSql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  /** Left-semi join (EXISTS): orders that contain at least one high-quantity
    * line. Semi joins ship no payload columns from the probe side and stop
    * at first match — cheaper than join+distinct at scale. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val big = t(spark, dir, "lineitem").filter(col("l_quantity") >= 48)
    ord.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
  }

  val joinSemiSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders on file. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val ord  = t(spark, dir, "orders")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** Ranking top-3 orders per customer by price — the rank-window idiom
    * (`row_number() OVER (PARTITION BY cust ORDER BY price DESC) <= 3`,
    * which the oracle SQL keeps) executed as the bounded-heap aggregate
    * [[graft.functions.TopKByCount]]: the window formulation SORTS every
    * customer's entire order history inside one exchange, while the heap
    * keeps 3 entries per customer, combines map-side, and ships only
    * 3-sized partial buffers through the shuffle (measured 9.5× the
    * oracle as a window at sf1; the window family stays demonstrated by
    * window_analytics / window_range_frame / window_distribution).
    *
    * Key encoding makes the heap order EQUAL the window order: prices are
    * exact 2-decimal positives, so ranking on cents = round(price·100) as
    * a long is monotone with the double and cents/100.0 reconstructs the
    * identical double bit-for-bit; the tiebreak (o_orderkey ASC) rides in
    * the tag as a zero-padded string whose lexical order is numeric
    * order. Bit-identical to the window + filter by construction
    * (TopKSpec holds the aggregate to the window formulation). */
  def windowTopkPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      // pre-project the ranking key and tag so they compile into the
      // scan's whole-stage codegen; the aggregate's update then reads
      // plain attributes instead of interpreting round/lpad per row
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        lpad(col("o_orderkey").cast("string"), 12, "0").as("tag"),
        col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKByCount.topKByCount(
        col("cents"), col("tag"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), col("e.payload").as("o_orderkey"),
              (col("e.count").cast("double") / 100.0).as("o_totalprice"),
              (col("pos") + 1).cast("int").as("rn"))
  }

  val windowTopkSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** Analytic window battery: running sum (exact decimal), lag, lead, rank
    * over a deterministic (date, key) order within each customer. */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val running = byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(running).cast("double").as("running_spend"),
        lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
        lead(col("o_totalprice"), 1).over(byDate).as("next_price"),
        rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).as("spend_rank"))
  }

  val windowAnalyticsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(rank() OVER (PARTITION BY o_custkey
      |                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS spend_rank
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Distribution window functions — ntile / percent_rank / cume_dist
    * over the per-customer price ordering. All three are exact rationals
    * of row counts (percent_rank = (rank-1)/(n-1) etc.), so the doubles
    * are single divisions of identical integers in both engines. The
    * ordering tie-breaks on the order key, making every rank
    * deterministic under any physical plan. */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  val windowDistributionSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin

  /**
   * Pearson correlation and covariance per group — computed from EXACT
   * integer moments, not the built-in `corr`/`covar_pop` (whose running
   * co-moment accumulation is order-dependent and engine-specific, so it
   * can never hash-match an oracle). Both columns are cents-quantized to
   * longs; Σx, Σy, Σx², Σxy stay within long and Σy² (up to ~2e19 at
   * sf0.1) sums as exact decimal; the closed forms
   *   corr = (nΣxy − ΣxΣy) / (√(nΣx² − Σx²)·√(nΣy² − Σy²))
   *   cov  = (nΣxy − ΣxΣy) / n²
   * then run in doubles over identical exact inputs with identical op
   * order in both engines — deterministic IEEE all the way, rounded to 9
   * decimals. Same one-pass partial-aggregated moments shape as
   * [[Events.eventsOutliers]].
   */
  def aggCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
              (dec(col("l_quantity")) * 100).cast("long").as("qx"),
              (dec(col("l_extendedprice")) * 100).cast("long").as("qy"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
           sum(col("qx") * col("qx")).as("sxx"),
           sum(col("qx") * col("qy")).as("sxy"),
           sum((col("qy") * col("qy")).cast("decimal(22,0)")).as("syy"))
    val (nD, sxD, syD) = (col("n").cast("double"), col("sx").cast("double"),
                          col("sy").cast("double"))
    val num = nD * col("sxy").cast("double") - sxD * syD
    val denx = sqrt(nD * col("sxx").cast("double") - sxD * sxD)
    val deny = sqrt(nD * col("syy").cast("double") - syD * syD)
    m.select(col("l_returnflag"), col("n"),
      when(denx * deny === 0, lit(null).cast("double"))
        .otherwise(round(num / (denx * deny), 9)).as("corr_qty_price"),
      round(num / (nD * nD), 9).as("cov_pop_cents2"))
  }

  val aggCorrelationSql: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qx,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS qy
      |  FROM lineitem),
      |mo AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |         CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
      |         CAST(SUM(qx * qx) AS BIGINT) AS sxx,
      |         CAST(SUM(qx * qy) AS BIGINT) AS sxy,
      |         SUM(qy * qy) AS syy
      |  FROM q GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0
      |       THEN NULL
      |       ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
      |  END AS corr_qty_price,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS cov_pop_cents2
      |FROM mo""".stripMargin

  /** Fixed-width histogram: order values binned by price band per order
    * priority — the binning shape behind any distribution dashboard. The
    * bin id is integer arithmetic on the decimal-bridged price (exact in
    * both engines), and the whole histogram is one partial-aggregated
    * groupBy — at scale the shuffle carries O(bins × groups) rows. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderpriority"),
              floor(dec(col("o_totalprice")) / 50000).cast("long").as("price_bin"))
      .groupBy(col("o_orderpriority"), col("price_bin"))
      .agg(count(lit(1)).as("n"))

  val aggHistogramSql: String =
    """SELECT o_orderpriority,
      |  CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000) AS BIGINT) AS price_bin,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** ROLLUP hierarchy totals (flag, status) → (flag) → (). */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val aggRollupSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over order status × priority. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  val aggCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /** Event-time RANGE window frame: each order with its customer's rolling
    * 30-day order count and revenue (value-based frame over epoch micros —
    * peers at equal timestamps are in-frame in both engines by RANGE
    * semantics). */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val us30d = 30L * 86400 * 1000000
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("ts_us"))
      .rangeBetween(-us30d, 0)
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"))
      .select(col("o_orderkey"), col("o_custkey"),
              count(lit(1)).over(w).as("n_30d"),
              sum(dec(col("o_totalprice"))).over(w).cast("double").as("rev_30d"))
  }

  val windowRangeFrameSql: String =
    """SELECT o_orderkey, o_custkey,
      |  COUNT(*) OVER w AS n_30d,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      |             RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** MapType surface: props JSON → map<string,int>, map explode, grouped
    * entry stats. */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
              explode(from_json(col("props"), org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.IntegerType))).as(Seq("map_key", "map_val")))
      .groupBy(col("event_type"), col("map_key"))
      .agg(count(lit(1)).as("n"), sum(col("map_val")).cast("long").as("sum_val"),
           min(col("map_val")).as("min_val"), max(col("map_val")).as("max_val"))

  val mapFunctionsSql: String =
    """WITH kv AS (
      |  SELECT event_type, unnest(json_keys(props)) AS map_key, props
      |  FROM events),
      |v AS (
      |  SELECT event_type, map_key,
      |         CAST(json_extract(props, '$.' || map_key) AS INT) AS map_val
      |  FROM kv)
      |SELECT event_type, map_key, COUNT(*) AS n,
      |  CAST(SUM(map_val) AS BIGINT) AS sum_val,
      |  MIN(map_val) AS min_val, MAX(map_val) AS max_val
      |FROM v GROUP BY 1, 2""".stripMargin

  /** Deterministic argmax via struct ordering: each customer's priciest
    * order, ties broken by the orderkey inside the compared struct (plain
    * max_by/arg_max leaves ties engine-defined). */
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(struct(dec(col("o_totalprice")).as("p"), col("o_orderkey").as("k"))).as("m"))
      .select(col("o_custkey"), col("m.k").as("top_orderkey"),
              col("m.p").cast("double").as("top_price"))

  val aggArgmaxSql: String =
    """SELECT o_custkey,
      |  (max_row).k AS top_orderkey,
      |  CAST((max_row).p AS DOUBLE) AS top_price
      |FROM (
      |  SELECT o_custkey,
      |         MAX({'p': CAST(o_totalprice AS DECIMAL(18,2)), 'k': o_orderkey}) AS max_row
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Approximate sketch surface: HLL++ distinct and quantile-sketch
    * percentiles — Spark's own sketches, whose exact raw outputs no other
    * engine reproduces. Made oracle-checkable anyway by emitting the
    * ε-BOUND VERDICTS instead of the sketch values: the query computes the
    * exact answers alongside the sketches and outputs booleans asserting
    * the sketch landed within tolerance (HLL++ at default rsd 0.05 within
    * ±15% = 3σ; the rank-error-bounded p90 sketch between the exact p88
    * and p92). The DuckDB twin emits literal TRUEs with the same exact
    * aggregates — so a sketch drifting out of bound flips a boolean and
    * fails the hash gate. Accuracy itself is now gated, not decorative. */
  def aggApprox(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("l_partkey")).as("exact_parts"),
           approx_count_distinct(col("l_partkey")).as("ad"),
           percentile_approx(col("l_extendedprice").cast("double"),
                             lit(0.9), lit(1000)).as("p90a"),
           expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.88)").as("p88"),
           expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.92)").as("p92"))
      .select(col("l_returnflag"), col("n"), col("exact_parts"),
        (abs(col("ad") - col("exact_parts"))
           <= col("exact_parts") * lit(0.15)).as("distinct_ok"),
        (col("p90a") >= col("p88") && col("p90a") <= col("p92")).as("p90_ok"))

  val aggApproxSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS distinct_ok, TRUE AS p90_ok
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Pivot: event counts per user wide by event type — Spark lowers the
    * explicit-values pivot to one hash aggregate with CASE projections
    * (no extra pass to discover values). */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      // fill ONLY the pivoted count columns: an unrestricted fill would
      // also rewrite a null grouping key to 0, diverging from the oracle
      .na.fill(0L, Seq("view", "click", "purchase", "signup", "error"))

  val aggPivotSql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'view')     AS view,
      |  COUNT(*) FILTER (event_type = 'click')    AS click,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup')   AS signup,
      |  COUNT(*) FILTER (event_type = 'error')    AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** Correlated scalar subquery through the SQL entry path (`spark.sql`
    * over registered views): orders priced above their customer's average.
    * Catalyst decorrelates this into an aggregate + join — no per-row
    * re-execution.
    *
    * The threshold is SUM(decimal)/COUNT(*), not AVG: Spark's decimal AVG
    * rounds to 6 decimals while DuckDB computes it in double, so a price
    * sitting exactly on the boundary could classify differently. The
    * decimal SUM is exact in both engines, its cast to double is one
    * deterministic rounding, and the division by an integer count is IEEE —
    * the two engines compare against bit-identical thresholds. */
  def subqueryCorrelated(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |FROM orders_v o
        |WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |                                   / COUNT(*)
        |                          FROM orders_v i
        |                          WHERE i.o_custkey = o.o_custkey)""".stripMargin)
      .withColumn("price", col("price").cast("double"))
  }

  val subqueryCorrelatedSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM orders o
      |WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |                                   / COUNT(*)
      |                          FROM orders i
      |                          WHERE i.o_custkey = o.o_custkey)""".stripMargin

  /** Exact percentiles (sort-based `percentile`, linear interpolation —
    * the same formula DuckDB's quantile_cont uses). */
  def aggPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
           percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
           count(lit(1)).as("n"))

  val aggPercentilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * {(status, priority), (priority), ()} — Spark 4's Dataset.groupingSets
    * lowers to the same Expand as rollup/cube. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  val aggGroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderpriority), ())""".stripMargin

  /** Distinct aggregates (expand-based in Spark) next to plain ones. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n_rows"))

  val aggDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Global top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject
    * (per-partition heaps + driver merge, no full sort). */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val topkOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  // ------------------------------------------------------- market basket

  /** Basket-pair mining knobs: a basket wider than [[MaxBasketParts]]
    * would explode O(width²) pairs from one order (TPC-H baskets are ≤7;
    * the cap is the 100 TB guard, same policy as the LSH bucket cap), a
    * pair must appear in ≥ [[MinPairSupport]] baskets to be a rule, and
    * the result is the top-[[BasketTopK]] by lift. */
  private val MaxBasketParts = 64
  private val MinPairSupport = 2
  private val BasketTopK = 100

  /**
   * Market-basket association rules [EXT] — pairwise support/confidence/
   * lift over order baskets (the retail-analytics classic, and the same
   * co-occurrence shape recommendation candidate generation uses):
   * which part pairs appear in the same order far more often than
   * independence predicts? lift(a,b) = P(ab)/(P(a)P(b)) =
   * n_ab·N / (n_a·n_b), kept EXACT in ppm integers (the
   * `text_collocations` playbook — lift is what matters, floats never
   * enter).
   *
   * Scale shape: one groupBy collapses lineitem to per-order sorted
   * part lists (width-capped), pair combinations explode i<j — exactly
   * C(width,2) rows, the adjacency-combination idiom — then ONE count
   * aggregate per pair and per part; the final join attaches two
   * part-count dimensions and `TakeOrderedAndProject` cuts the top-k.
   * Nothing wider than (part, part, count) ever shuffles.
   */
  def ordersMarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val baskets = Checkpoints.cut(
      li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .filter(size(col("parts")) <= MaxBasketParts),
      eager = false)
    val nOrders = broadcast(baskets.agg(count(lit(1)).as("n_orders")))
    val itemN = baskets
      .select(explode(col("parts")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_item"))
    // native codegen'd combination explode — the nested transform(slice)
    // HOF formulation ran interpreted per element and was the exec hot
    // loop (measured ~3.2 s of the 4.4 s sf1 total)
    val pairN = baskets
      .select(explode(
        graft.functions.CombinationPairs.combinationPairs(col("parts"))).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= MinPairSupport)
    pairN
      .join(itemN.select(col("part").as("part_a"), col("n_item").as("n_a")), "part_a")
      .join(itemN.select(col("part").as("part_b"), col("n_item").as("n_b")), "part_b")
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("n_pair"), col("n_a"), col("n_b"),
        expr("(n_pair * 1000000) div n_orders").as("support_ppm"),
        expr("(n_pair * 1000000) div n_a").as("confidence_ppm"),
        expr("(n_pair * n_orders * 1000000) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a").asc, col("part_b").asc)
      .limit(BasketTopK)
  }

  /** Oracle: identical basket build, combination explode, integer ppm
    * arithmetic, and top-k cut. */
  val ordersMarketBasketSql: String =
    s"""WITH basket0 AS (
       |  SELECT l_orderkey, COUNT(DISTINCT l_partkey) AS width
       |  FROM lineitem GROUP BY 1),
       |ex AS (
       |  SELECT DISTINCT li.l_orderkey, li.l_partkey AS part
       |  FROM lineitem li JOIN basket0 USING (l_orderkey)
       |  WHERE basket0.width <= $MaxBasketParts),
       |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ex),
       |item AS (SELECT part, COUNT(*) AS n_item FROM ex GROUP BY 1),
       |pairs AS (
       |  SELECT a.part AS part_a, b.part AS part_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_pair
       |  FROM ex a JOIN ex b
       |    ON a.l_orderkey = b.l_orderkey AND a.part < b.part
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinPairSupport)
       |SELECT part_a, part_b, n_pair,
       |  CAST(ia.n_item AS BIGINT) AS n_a, CAST(ib.n_item AS BIGINT) AS n_b,
       |  CAST((n_pair * 1000000) // n.n_orders AS BIGINT) AS support_ppm,
       |  CAST((n_pair * 1000000) // ia.n_item AS BIGINT) AS confidence_ppm,
       |  CAST((n_pair * n.n_orders * 1000000) // (ia.n_item * ib.n_item) AS BIGINT)
       |    AS lift_ppm
       |FROM pairs
       |JOIN item ia ON ia.part = part_a
       |JOIN item ib ON ib.part = part_b
       |CROSS JOIN n
       |ORDER BY lift_ppm DESC, part_a ASC, part_b ASC
       |LIMIT $BasketTopK""".stripMargin

  /** Set operations: INTERSECT / EXCEPT (both dedup, both hash-partition on
    * the full row — same shuffle shape in Spark and any MPP engine). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ord  = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val open   = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
    val closed = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    val poor   = cust.filter(col("c_acctbal") < 0).select(col("c_custkey").as("custkey"))
    open.intersect(closed).except(poor)
  }

  val setOpsSql: String =
    """(SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 0""".stripMargin

  /** Scalar function battery: string, date-part, formatting, math — all
    * codegen'd builtins (no UDFs), all with exact cross-engine semantics. */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("prio_snake"),
        concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        (col("o_orderkey") % 7).cast("int").as("key_mod7"))

  val scalarFunctionsSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  strftime(o_orderdate, '%Y-%m-%d') AS d_str,
      |  upper(o_orderpriority) AS prio_upper,
      |  substring(o_orderpriority, 1, 1) AS prio_code,
      |  CAST(length(o_orderpriority) AS INT) AS prio_len,
      |  regexp_replace(o_orderpriority, '-', '_', 'g') AS prio_snake,
      |  o_orderstatus || '|' || o_orderpriority AS status_prio,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  CAST(o_orderkey % 7 AS INT) AS key_mod7
      |FROM orders""".stripMargin

  /** JSON extraction from the events.props string column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        upper(col("event_type")).as("etype"))

  val jsonExtractSql: String =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS INT) AS prop_k,
      |  upper(event_type) AS etype
      |FROM events""".stripMargin
}
