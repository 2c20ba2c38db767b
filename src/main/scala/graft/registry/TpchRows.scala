package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Shared._

/** Registry rows `q<N>_*`: TPC-H-shaped relational queries. */
object TpchRows extends Family {

  /** TPC-H-Q1-shaped aggregation: map-side-combinable, one shuffle. */
  private[graft] def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  row("q1_pricing_summary", q1PricingSummary)(
    """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 2) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")

  /** TPC-H-Q3-shaped join + top-k: broadcast dims, single agg shuffle,
    * rank stabilized by rounding + key tiebreak.
    */
  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("date"))
    val li = t(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }
  row("q3_top_orders", q3TopOrders)(
    """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < DATE '1998-01-01'
         JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey LIMIT 10""")

  /** TPC-H-Q13-shaped customer distribution: LEFT OUTER join keeps
    * zero-order customers (counted via the non-null key), then a second
    * aggregation histograms the counts — the canonical outer-join +
    * double-agg shape. Both aggs are map-side combinable; the join
    * broadcasts nothing and shuffles on the customer key once.
    */
  private def q13CustDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
  row("q13_cust_dist", q13CustDist)(
    """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN
             (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
             ON c_custkey = o.o_custkey
           GROUP BY 1)
         GROUP BY 1""")

  /** TPC-H-Q5-shaped regional supplier volume: revenue per nation for
    * 1996 orders where the ordering customer and the line's supplier sit
    * in the SAME nation of one region. The two fact tables join on
    * orderkey (one shuffle), customer on custkey (second shuffle);
    * supplier enriched with region-filtered nations is a genuine
    * dimension and broadcasts, with the same-nation predicate riding the
    * join condition so mismatched rows never materialize.
    */
  private def q5SupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val natInRegion = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier")
      .join(natInRegion, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }
  row("q5_supplier_volume", q5SupplierVolume)(
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem, orders, customer, supplier, nation, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""")

  /** TPC-H-Q18-shaped large-order detail: orders whose line quantities
    * sum past a threshold, joined back to order and customer detail. The
    * HAVING-filtered key set is tiny relative to the fact table (46 of
    * ~15k orders at sf0.01), so the join back is left unhinted — AQE sees
    * the post-aggregation size at runtime and picks a broadcast, which is
    * exactly the 100 TB plan (never broadcast on a static guess about a
    * data-dependent aggregate).
    */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
  }
  row("q18_large_orders", q18LargeOrders)(
    """WITH big AS (
           SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 300)
         SELECT c_custkey, c_name, o_orderkey,
           o_orderdate::DATE AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice, sum_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey""")

  /** TPC-H-Q7-shaped volume shipping: bilateral trade revenue between two
    * nations by ship year, customer nation × supplier nation in either
    * direction. The two nation-filtered dimension legs broadcast; the
    * orderkey join is the one fact-fact shuffle; the year comes off
    * l_shipdate after the join predicate prunes to the two-nation slice.
    */
  private def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier").join(nat,
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, dir, "customer").join(nat,
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }
  row("q7_volume_shipping", q7VolumeShipping)(
    """SELECT supp_nation, cust_nation, l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate)::BIGINT AS l_year, l_extendedprice, l_discount
           FROM lineitem, orders, customer, supplier, nation n1, nation n2
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
             AND c_nationkey = n2.n_nationkey
             AND n1.n_name IN ('NATION_1', 'NATION_2')
             AND n2.n_name IN ('NATION_1', 'NATION_2')
             AND n1.n_name <> n2.n_name)
         GROUP BY 1, 2, 3""")

  /** TPC-H-Q10-shaped returned-item report: top-20 customers by revenue
    * lost to returns (l_returnflag = 'R') for one order quarter. Order
    * date filter pushes to the orders scan; the customer join is the
    * post-aggregation enrichment of a 20-row TakeOrdered cut — AQE
    * broadcasts the aggregated side at runtime, never on a static guess.
    */
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
    // integer 1e-4-scaled money: the top-20 cut rides an EXACT sum, so no
    // cross-engine last-ulp drift can flip a rounding boundary or the
    // order at the limit edge (a round(sum(double),2) here landed on a
    // literal .x95 tie at sf0.01)
    val cents = round((col("l_extendedprice") * (lit(1) - col("l_discount"))) *
      10000.0, 0).cast("long")
    val rev = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(cents).as("rev_e4"))
      .orderBy(col("rev_e4").desc, col("o_custkey")).limit(20)
      // no re-round: Spark's Round(double) goes through the decimal string
      // (BigDecimal.valueOf) while DuckDB rounds the binary double, so an
      // exact .xx5 diverges — the bare division of the identical exact
      // integer is bit-identical on both engines
      .select(col("o_custkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"))
    rev.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
  }
  row("q10_returned_items", q10ReturnedItems)(
    """WITH rev AS (
           SELECT o_custkey,
             sum(round((l_extendedprice * (1 - l_discount)) * 10000.0, 0)::BIGINT)::BIGINT
               AS rev_e4
           FROM lineitem, orders
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
             AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
           GROUP BY 1 ORDER BY rev_e4 DESC, o_custkey LIMIT 20)
         SELECT c_custkey, c_name, c_mktsegment,
           rev_e4::DOUBLE / 10000.0 AS revenue
         FROM rev JOIN customer ON o_custkey = c_custkey""")

  /** TPC-H-Q4-shaped priority check: EXISTS rewritten as a LEFT SEMI join
    * with the non-equi lateness predicate (l_shipdate > o_orderdate, the
    * schema's commit/receipt proxy) folded into the join condition — each
    * order emits at most once with no distinct, and the quarter filter
    * pushes to the orders scan before the probe. At scale the semi join
    * shuffles both sides on orderkey once; nothing is materialized per
    * matching lineitem.
    */
  private def q4PriorityCount(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("date") &&
        col("o_orderdate") < lit("1996-10-01").cast("date"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }
  row("q4_priority_count", q4PriorityCount)(
    """SELECT o_orderpriority, count(*)::BIGINT AS order_count
         FROM orders
         WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""")

  /** TPC-H-Q6-shaped forecast revenue: one scan, every predicate pushed to
    * the parquet reader (ship-year range, discount band, quantity cap),
    * one scalar aggregate — the canonical "filter-agg must never shuffle
    * more than 32 partial rows" query.
    */
  private def q6RevenueFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((sum(round(col("l_extendedprice") * col("l_discount") * 10000.0, 0)
        .cast("long")).cast("double") / 10000.0).as("revenue"))
  row("q6_revenue_filter", q6RevenueFilter)(
    """SELECT sum(round(l_extendedprice * l_discount * 10000.0, 0)::BIGINT)
               ::BIGINT::DOUBLE / 10000.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")

  /** TPC-H-Q8-shaped market share: NATION_1 suppliers' share of PROMO-part
    * revenue sold to ASIA-region customers, by order year. The nation⋈region
    * slice (≤|nations| rows) is the only forced broadcast; supplier is
    * hinted (classic 1000×-smaller dim); customer and part legs are left to
    * AQE — at 100 TB a region slice of customers is NOT broadcastable and
    * must shuffle. The share is a ratio of two exact 1e-4-scaled longs, so
    * the division is bit-identical across engines.
    */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaNat = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = t(s, dir, "customer").join(broadcast(asiaNat),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    t(s, dir, "lineitem")
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_1", revE4).otherwise(0L))
          .cast("double") / sum(revE4).cast("double")).as("mkt_share"))
  }
  row("q8_market_share", q8MarketShare)(
    """WITH vol AS (
           SELECT year(o_orderdate)::BIGINT AS o_year,
             round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
               AS vol_e4,
             n1.n_name AS supp_nation
           FROM lineitem, orders, customer, supplier, part,
                nation n1, nation n2, region
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND l_partkey = p_partkey
             AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
             AND p_type = 'PROMO')
         SELECT o_year,
           sum(CASE WHEN supp_nation = 'NATION_1' THEN vol_e4 ELSE 0 END)
             ::BIGINT::DOUBLE / sum(vol_e4)::BIGINT::DOUBLE AS mkt_share
         FROM vol GROUP BY 1""")

  /** TPC-H-Q12-shaped late-line priority split: conditional aggregation
    * (high/low order priority) over the ship-year slice of late lines,
    * grouped by returnflag (the schema's shipmode stand-in). The lineitem
    * filter pushes to the scan; the lateness predicate runs post-join.
    */
  private def q12LateLines(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }
  row("q12_late_lines", q12LateLines)(
    """SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey
           AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_shipdate > o_orderdate
         GROUP BY 1""")

  /** TPC-H-Q14-shaped promo share: one ship-month slice joined to part,
    * conditional-vs-total exact-integer sums in a single aggregate pass.
    * The part leg is left to AQE (a 20B-row part table at 100 TB is not a
    * static broadcast; at test scale AQE broadcasts it at runtime).
    */
  private def q14PromoShare(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("date") &&
        col("l_shipdate") < lit("1996-10-01").cast("date"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", revE4).otherwise(0L)).cast("double") /
        sum(revE4).cast("double")).as("promo_share"))
  row("q14_promo_share", q14PromoShare)(
    """SELECT 100.0 *
           sum(CASE WHEN p_type = 'PROMO'
               THEN round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
               ELSE 0 END)::BIGINT::DOUBLE /
           sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
             ::BIGINT::DOUBLE AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'""")

  /** TPC-H-Q15-shaped top supplier: per-supplier quarter revenue, then the
    * max as a 1-row scalar broadcast (the corpus-scalar crossJoin shape) —
    * never a global sort. Ties all surface (WHERE rev = max), so the result
    * set is deterministic without a limit. Revenue rides the exact e4 long;
    * the equality join on it cannot ulp-miss.
    */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .groupBy(col("l_suppkey")).agg(sum(revE4).as("rev_e4"))
    val top = rev.agg(max(col("rev_e4")).as("max_e4"))
    rev.crossJoin(top)
      .filter(col("rev_e4") === col("max_e4"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_e4").cast("double") / 10000.0).as("total_revenue"))
  }
  row("q15_top_supplier", q15TopSupplier)(
    """WITH rev AS (
           SELECT l_suppkey,
             sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
               ::BIGINT AS rev_e4
           FROM lineitem
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, rev_e4::DOUBLE / 10000.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)""")

  /** TPC-H-Q17-shaped small-quantity revenue: the correlated per-part
    * average subquery rewritten as aggregate-then-join — one groupBy over
    * the brand slice computes (count, sum_qty) per part, joined back so the
    * threshold test `qty < 0.5·avg` runs as the EXACT integer inequality
    * `2·qty·cnt < sum_qty` (quantities are integral): no double-avg
    * boundary can flip a row in or out across engines. Both sides of the
    * self-join are the same brand slice, so AQE broadcasts the (per-part,
    * 2-column) aggregate at runtime.
    */
  private def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brand = t(s, dir, "part").filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(brand, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100.0, 0).cast("long").as("price_e2"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("qty") * col("cnt") * 2 < col("sum_qty"))
      .agg((sum(col("price_e2")).cast("double") / 700.0).as("avg_yearly"))
  }
  row("q17_small_qty", q17SmallQty)(
    """WITH li AS (
           SELECT l_partkey, l_quantity::BIGINT AS qty,
             round(l_extendedprice * 100.0, 0)::BIGINT AS price_e2
           FROM lineitem, part
           WHERE l_partkey = p_partkey AND p_brand = 'Brand#11'),
         pp AS (
           SELECT l_partkey AS pk, count(*)::BIGINT AS cnt,
             sum(qty)::BIGINT AS sum_qty
           FROM li GROUP BY 1)
         SELECT sum(price_e2)::BIGINT::DOUBLE / 700.0 AS avg_yearly
         FROM li JOIN pp ON l_partkey = pk
         WHERE qty * cnt * 2 < sum_qty""")

  /** TPC-H-Q19-shaped disjunctive predicate: an OR of brand×quantity×size
    * conjunctions that straddles the join, which no optimizer can push as
    * written — so the HULL predicates (brand IN the three-brand set,
    * quantity in the union range) are stated explicitly on each side
    * before the join, the manual pushdown that keeps a 100 TB scan from
    * feeding the join rows only the disjunction will drop.
    */
  private def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#11", "Brand#12", "Brand#13")
    val p = t(s, dir, "part").filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val cond =
      (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11) &&
        col("p_size").between(1, 5)) ||
      (col("p_brand") === "Brand#12" && col("l_quantity").between(10, 20) &&
        col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#13" && col("l_quantity").between(20, 30) &&
        col("p_size").between(1, 15))
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg((sum(revE4).cast("double") / 10000.0).as("revenue"))
  }
  row("q19_disjunctive", q19Disjunctive)(
    """SELECT sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
               ::BIGINT::DOUBLE / 10000.0 AS revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey AND (
           (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
             AND p_size BETWEEN 1 AND 5) OR
           (p_brand = 'Brand#12' AND l_quantity BETWEEN 10 AND 20
             AND p_size BETWEEN 1 AND 10) OR
           (p_brand = 'Brand#13' AND l_quantity BETWEEN 20 AND 30
             AND p_size BETWEEN 1 AND 15))""")

  /** TPC-H-Q21-shaped sole-latest supplier
    * ([[graft.operators.Temporal.soleLatestActor]] — the exists/not-exists
    * pair rewritten as two aggregates on one shuffle key; tie semantics
    * spec'd on planted groups in Round8OpsSpec). Emits every qualifying
    * supplier (only ~|suppliers| rows), so no limit-boundary tie can make
    * the result nondeterministic.
    */
  private def q21SoleMax(s: SparkSession, dir: String): DataFrame = {
    val f = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    graft.operators.Temporal
      .soleLatestActor(f, "l_orderkey", "l_suppkey", "l_shipdate")
      .groupBy(col("actor"))
      .agg(count(lit(1)).as("numwait"))
      .join(t(s, dir, "supplier"), col("actor") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
  }
  row("q21_sole_max", q21SoleMax)(
    """WITH f AS (
           SELECT l_orderkey, l_suppkey, l_shipdate
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         st AS (
           SELECT l_orderkey AS ok, max(l_shipdate) AS max_ship
           FROM f GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
         sole AS (
           SELECT f.l_orderkey, min(f.l_suppkey) AS supp
           FROM f JOIN st ON f.l_orderkey = st.ok AND f.l_shipdate = st.max_ship
           GROUP BY 1 HAVING count(DISTINCT f.l_suppkey) = 1)
         SELECT s_name, count(*)::BIGINT AS numwait
         FROM sole JOIN supplier ON supp = s_suppkey
         GROUP BY 1""")

  /** TPC-H-Q22-shaped idle balances: customers above the positive-balance
    * average with no orders, per segment. The average threshold is a 1-row
    * scalar broadcast tested as the exact integer cross-multiplication
    * `bal·n_pos > sum_pos` (cents-scaled longs — no double-avg boundary);
    * "lapsed" is a LEFT ANTI join against the recent-order keys (the date
    * filter pushes to the orders scan before the anti probe).
    */
  private def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100.0, 0).cast("long").as("bal_e2"))
    val thr = cust.filter(col("bal_e2") > 0)
      .agg(sum(col("bal_e2")).as("sum_pos"), count(lit(1)).as("n_pos"))
    cust.crossJoin(thr)
      .filter(col("bal_e2") * col("n_pos") > col("sum_pos"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_e2")).cast("double") / 100.0).as("totacctbal"))
  }
  row("q22_idle_balance", q22IdleBalance)(
    """WITH c AS (
           SELECT c_custkey, c_mktsegment,
             round(c_acctbal * 100.0, 0)::BIGINT AS bal_e2
           FROM customer),
         thr AS (
           SELECT sum(bal_e2)::BIGINT AS sum_pos, count(*)::BIGINT AS n_pos
           FROM c WHERE bal_e2 > 0)
         SELECT c_mktsegment, count(*)::BIGINT AS numcust,
           sum(bal_e2)::BIGINT::DOUBLE / 100.0 AS totacctbal
         FROM c, thr
         WHERE bal_e2 * n_pos > sum_pos
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= '2000-01-01')
         GROUP BY 1""")

  /** Derived part-supplier relation for the five partsupp-shaped TPC-H
    * queries (Q2/Q9/Q11/Q16/Q20): the corpus has no partsupp table, so its
    * role is reconstructed from lineitem — one row per (partkey, suppkey)
    * with availqty = total quantity ever shipped and supplycost = the
    * cheapest observed extended price, both exact integers so every
    * downstream comparison is bit-identical across engines.
    *
    * Callers pass a pre-filtered lineitem when their part/supplier
    * predicates apply: both are GROUP-KEY predicates on this relation, so
    * filtering before the aggregation is semantics-preserving and keeps
    * the derivation shuffle at the size of the slice instead of the full
    * 100 TB fact table.
    */
  private def partSupp(li: DataFrame): DataFrame =
    li.groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("ps_availqty"),
        min(round(col("l_extendedprice") * 100.0, 0).cast("long"))
          .as("ps_cost_e2"))

  /** TPC-H-Q2-shaped minimum-cost supplier: for each small PROMO part, the
    * EUROPE supplier(s) offering the lowest derived supply cost. The
    * correlated min subquery runs as aggregate-then-join on the exact
    * integer cost (ties all surface — no limit, so the result is
    * deterministic). The nation⋈region slice and the region's suppliers
    * are the forced broadcasts (≤|suppliers| rows); the per-part min is
    * left to AQE. The part and supplier slices are pushed below the
    * derived-relation aggregation (see [[partSupp]]).
    */
  private def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    val eur = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val esupp = t(s, dir, "supplier")
      .join(broadcast(eur), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        (round(col("s_acctbal") * 100.0, 0).cast("long").cast("double") / 100.0)
          .as("s_acctbal"))
    val pslice = t(s, dir, "part")
      .filter(col("p_type") === "PROMO" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_brand"))
    val cand = partSupp(
        t(s, dir, "lineitem")
          .join(pslice.select(col("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .join(broadcast(esupp.select(col("s_suppkey"))),
            col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .join(pslice, col("ps_partkey") === col("p_partkey"))
      .join(broadcast(esupp), col("ps_suppkey") === col("s_suppkey"))
    val mn = cand.groupBy(col("p_partkey").as("pk"))
      .agg(min(col("ps_cost_e2")).as("min_e2"))
    cand.join(mn, col("p_partkey") === col("pk") &&
        col("ps_cost_e2") === col("min_e2"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"),
        (col("ps_cost_e2").cast("double") / 100.0).as("supply_cost"))
  }
  row("q2_min_cost_supp", q2MinCostSupp)(
    """WITH esupp AS (
           SELECT s_suppkey, s_name, n_name,
             round(s_acctbal * 100.0, 0)::BIGINT::DOUBLE / 100.0 AS s_acctbal
           FROM supplier, nation, region
           WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             AND r_name = 'EUROPE'),
         ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2),
         cand AS (
           SELECT p_partkey, p_brand, s_acctbal, s_name, n_name, ps_cost_e2
           FROM part JOIN ps ON p_partkey = ps_partkey
           JOIN esupp ON ps_suppkey = s_suppkey
           WHERE p_type = 'PROMO' AND p_size <= 10),
         mn AS (SELECT p_partkey AS pk, min(ps_cost_e2) AS min_e2
                FROM cand GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_cost_e2::DOUBLE / 100.0 AS supply_cost
         FROM cand JOIN mn ON p_partkey = pk AND ps_cost_e2 = min_e2""")

  /** TPC-H-Q9-shaped product-type profit: nation × order-year profit on
    * 'widget' parts, cost carried by the derived relation joined back on
    * the composite (partkey, suppkey) — the one genuine fact-to-derived-
    * fact join in the suite, shuffling both sides once on the same key.
    * Profit is an exact 1e-4-scaled long (revenue e4 minus cost_e2·qty·100)
    * so summation order cannot drift the double. The widget slice pushes
    * below the derivation ([[partSupp]]); supplier⋈nation is the broadcast
    * dim.
    */
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val wid = t(s, dir, "part").filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"))
    val supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val li = t(s, dir, "lineitem")
      .join(wid, col("l_partkey") === col("p_partkey"), "left_semi")
    li.join(partSupp(li),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg((sum(revE4 -
          col("ps_cost_e2") * col("l_quantity").cast("long") * 100L)
        .cast("double") / 10000.0).as("profit"))
  }
  row("q9_product_profit", q9ProductProfit)(
    """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2)
         SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
           sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
             - ps_cost_e2 * l_quantity::BIGINT * 100)::BIGINT::DOUBLE
             / 10000.0 AS profit
         FROM lineitem, orders, supplier, nation, part, ps
         WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND s_nationkey = n_nationkey AND l_partkey = p_partkey
           AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
           AND p_name LIKE '%widget%'
         GROUP BY 1, 2""")

  /** TPC-H-Q11-shaped important stock: per-part inventory value held by
    * NATION_1 suppliers, kept where the part exceeds 1/500 of the nation's
    * total — the group-HAVING-against-a-global-scalar shape. The threshold
    * rides the 1-row broadcast crossJoin and the test is the exact integer
    * cross-multiplication value·500 > total (no double-fraction boundary).
    * The nation's supplier keys push below the derivation as a left-semi
    * probe.
    */
  private def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "supplier")
      .join(t(s, dir, "nation").filter(col("n_name") === "NATION_1"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = partSupp(
        t(s, dir, "lineitem").join(n1,
          col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_cost_e2") * col("ps_availqty")).as("value_e2"))
    val tot = v.agg(sum(col("value_e2")).as("total_e2"))
    v.crossJoin(tot)
      .filter(col("value_e2") * 500L > col("total_e2"))
      .select(col("ps_partkey"),
        (col("value_e2").cast("double") / 100.0).as("value"))
  }
  row("q11_important_stock", q11ImportantStock)(
    """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             sum(l_quantity)::BIGINT AS ps_availqty,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2),
         v AS (
           SELECT ps_partkey,
             sum(ps_cost_e2 * ps_availqty)::BIGINT AS value_e2
           FROM ps, supplier, nation
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_1'
           GROUP BY 1),
         tot AS (SELECT sum(value_e2)::BIGINT AS total_e2 FROM v)
         SELECT ps_partkey, value_e2::DOUBLE / 100.0 AS value
         FROM v, tot WHERE value_e2 * 500 > total_e2""")

  /** TPC-H-Q16-shaped supplier-relationship count: distinct suppliers per
    * (brand, type, size) over an 8-size slice, excluding negative-balance
    * suppliers (the schema's complaints stand-in) — NOT IN rewritten as a
    * broadcast left-anti join against the tiny exclusion set. The part
    * slice pushes below the derivation; the countDistinct is the only
    * wide aggregation.
    */
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val pslice = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partSupp(
        t(s, dir, "lineitem").join(pslice.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi"))
      .join(excl, col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(pslice, col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }
  row("q16_supplier_cnt", q16SupplierCnt)(
    """WITH ps AS (
           SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
           FROM lineitem)
         SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey)::BIGINT AS supplier_cnt
         FROM part JOIN ps ON p_partkey = ps_partkey
         WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
           AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
           AND ps_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""")

  /** TPC-H-Q20-shaped excess stock: NATION_2 suppliers holding more than
    * twice what they shipped of any 'small…' part in 1996 — the nested
    * semi-join chain (part slice → per-(part,supp) derived stock vs the
    * 1996 shipment aggregate → distinct suppliers → semi probe into the
    * nation's suppliers). Both aggregations group the SAME sliced lineitem
    * on the SAME composite key, so AQE reuses one exchange; the
    * availqty > 2·qty96 test is exact integers.
    */
  private def q20ExcessStock(s: SparkSession, dir: String): DataFrame = {
    val sm = t(s, dir, "part").filter(col("p_name").like("small%"))
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(sm, col("l_partkey") === col("p_partkey"), "left_semi")
    val ship96 = li
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .groupBy(col("l_partkey").as("sk_pk"), col("l_suppkey").as("sk_sk"))
      .agg(sum(col("l_quantity")).cast("long").as("qty96"))
    val excess = partSupp(li)
      .join(ship96, col("ps_partkey") === col("sk_pk") &&
        col("ps_suppkey") === col("sk_sk"))
      .filter(col("ps_availqty") > col("qty96") * 2L)
      .select(col("ps_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(t(s, dir, "nation").filter(col("n_name") === "NATION_2"),
        col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_name"),
        (round(col("s_acctbal") * 100.0, 0).cast("long").cast("double") / 100.0)
          .as("s_acctbal"))
  }
  row("q20_excess_stock", q20ExcessStock)(
    """WITH sm AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
         sml AS (SELECT * FROM lineitem
                 WHERE l_partkey IN (SELECT p_partkey FROM sm)),
         ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             sum(l_quantity)::BIGINT AS ps_availqty
           FROM sml GROUP BY 1, 2),
         ship96 AS (
           SELECT l_partkey AS sk_pk, l_suppkey AS sk_sk,
             sum(l_quantity)::BIGINT AS qty96
           FROM sml
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           GROUP BY 1, 2),
         excess AS (
           SELECT DISTINCT ps_suppkey
           FROM ps JOIN ship96 ON ps_partkey = sk_pk AND ps_suppkey = sk_sk
           WHERE ps_availqty > 2 * qty96)
         SELECT s_name,
           round(s_acctbal * 100.0, 0)::BIGINT::DOUBLE / 100.0 AS s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_2'
           AND s_suppkey IN (SELECT ps_suppkey FROM excess)""")
}
