package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.C registry keys, SQL analytics: one `Key` record per
  * key, its Spark builder beside the DuckDB SQL its result is
  * hash-checked against. */
object AnalyticsKeys {

  val lateDaysParam = 60        // C29 lateness threshold (days)
  val q6Year = 1996             // C30 shipdate year
  val q6DiscLo = 0.05           // C30 discount band (inclusive)
  val q6DiscHi = 0.07
  val q6MaxQty = 24.0           // C30 small-quantity cutoff

  lazy val keys: Seq[Key] = Seq(
    Key("q1_agg", (s, d) =>
      Analytics.pricingSummary(Tables.lineitem(s, d), "1998-09-02 00:00:00"),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),4) AS sum_qty,
        |  round(sum(l_extendedprice),4) AS sum_base_price,
        |  round(sum(l_extendedprice*(1.0-l_discount)),4) AS sum_disc_price,
        |  round(avg(l_quantity),4) AS avg_qty,
        |  round(avg(l_discount),4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Key("q_join_agg", (s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING"),
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    // C30 — TPC-H Q6 essence: the pure-pushdown scan aggregate.
    // C30 — Q6 essence: every predicate in the WHERE, one aggregate.
    Key("q_forecast_revenue", (s, d) =>
      Analytics.forecastRevenue(Tables.lineitem(s, d), q6Year, q6DiscLo,
        q6DiscHi, q6MaxQty),
      s"""SELECT
        |  round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$q6Year-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '${q6Year + 1}-01-01 00:00:00'
        |  AND l_discount >= $q6DiscLo AND l_discount <= $q6DiscHi
        |  AND l_quantity < $q6MaxQty""".stripMargin),
    Key("q_multi_join", (s, d) =>
      Analytics.regionRevenue(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), "ASIA"),
      """SELECT n_name,
        |  round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    Key("q_topk_per_group", (s, d) =>
      Analytics.topKPerGroup(Tables.part(s, d), "p_brand", "p_retailprice",
        "p_partkey", 3),
      """SELECT * FROM (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |  FROM part) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin),
    Key("q_rollup", (s, d) => Analytics.rollupSummary(Tables.lineitem(s, d)),
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
        |  coalesce(l_linestatus,'ALL') AS linestatus,
        |  round(sum(l_quantity),4) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    // C13 — four-set GROUPING SETS lattice (marginals + grand total).
    // C13 — gid from CASE-on-nullness (engine-portable, not native
    // grouping_id whose bit order is engine-defined).
    Key("q_grouping_sets", (s, d) =>
      Analytics.groupingSetsSummary(Tables.lineitem(s, d)),
      """SELECT CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |     + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid,
        |  coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice*(1.0-l_discount)), 4) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())
        |ORDER BY gid, returnflag, linestatus""".stripMargin),
    // C14 — Q4-style decorrelated EXISTS → semi join priority count.
    // C14 — the EXISTS spelled natively; DuckDB decorrelates it to
    // the same semi join the Spark plan declares.
    Key("q_exists_priority", (s, d) =>
      Analytics.priorityExists(Tables.orders(s, d), Tables.lineitem(s, d),
        "2001-01-01 00:00:00", "2001-07-01 00:00:00", 0.07),
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '2001-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_discount > 0.07)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // C15 — Q17-style decorrelated scalar-avg subquery (small-qty revenue).
    // C15 — the correlated scalar subquery spelled natively; the avg is
    // rounded BEFORE the compare on both sides (derived-from-rounded rule).
    Key("q_small_qty_revenue", (s, d) =>
      Analytics.smallQuantityRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        "Brand#23", 0.2),
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS a_partkey,
        |        round(avg(l_quantity), 4) AS avg_qty
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE p_brand = 'Brand#23'
        |      GROUP BY l_partkey) a ON l_partkey = a_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < 0.2 * avg_qty""".stripMargin),
    // C16 — Q13-style customer order-count distribution (zero tail kept).
    // C16 — Q13 two-level aggregation; zero-order customers kept by the
    // left join, counts exact int64.
    Key("q_order_count_dist", (s, d) =>
      Analytics.orderCountDistribution(Tables.customer(s, d),
        Tables.orders(s, d), "1-URGENT"),
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // C17 — cumulative monthly revenue share per priority (exact cc).
    // C17 — revenue in exact int64 centi-cents → every sum (monthly,
    // running, partition total) order-free; window sums CAST AS BIGINT
    // (the r8 HUGEINT rule); share one division of exact ints.
    Key("q_cumulative_share", (s, d) =>
      Analytics.cumulativeRevenue(Tables.orders(s, d),
        Tables.lineitem(s, d)),
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT))
        |      AS rev_cc
        |  FROM lineitem),
        |m AS (
        |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS mn,
        |    CAST(sum(rev_cc) AS BIGINT) AS rev_cc
        |  FROM orders JOIN li ON o_orderkey = l_orderkey
        |  GROUP BY o_orderpriority, date_trunc('month', o_orderdate))
        |SELECT o_orderpriority, strftime(mn, '%Y-%m') AS month, rev_cc,
        |  CAST(sum(rev_cc) OVER (PARTITION BY o_orderpriority
        |    ORDER BY mn) AS BIGINT) AS cum_cc,
        |  CAST(CAST(sum(rev_cc) OVER (PARTITION BY o_orderpriority
        |      ORDER BY mn) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(rev_cc) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS DOUBLE) AS share
        |FROM m
        |ORDER BY o_orderpriority, month""".stripMargin),
    // C18 — Q7-style bilateral nation-pair volume by ship year.
    // C18 — revenue in exact centi-cents (the C17 rule) so nation-pair
    // sums are reduction-order-free; sum CAST AS BIGINT (HUGEINT rule).
    Key("q_nation_volume", (s, d) =>
      Analytics.shippingVolume(Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d),
        "1996-01-01 00:00:00", "1997-12-31 23:59:59"),
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
        |    AS BIGINT) AS revenue_cc
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |    AND TIMESTAMP '1997-12-31 23:59:59'
        |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    // C19 — Q8-style nation market share of a part type per year.
    // C19 — conditional two-sum aggregate; share is ONE division of
    // exact int64 sums (unrounded, bit-identical both engines).
    Key("q_market_share", (s, d) =>
      Analytics.marketShare(Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.part(s, d), "PROMO", "NATION_7"),
      """WITH f AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT))
        |      AS rev_cc,
        |    n_name
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE p_type = 'PROMO')
        |SELECT o_year,
        |  CAST(sum(rev_cc) AS BIGINT) AS total_cc,
        |  CAST(sum(CASE WHEN n_name = 'NATION_7' THEN rev_cc ELSE 0 END)
        |    AS BIGINT) AS nation_cc,
        |  CAST(CAST(sum(CASE WHEN n_name = 'NATION_7' THEN rev_cc ELSE 0 END)
        |      AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(rev_cc) AS BIGINT) AS DOUBLE) AS mkt_share
        |FROM f GROUP BY o_year ORDER BY o_year""".stripMargin),
    // C20 — Q10-style top-20 customers by returned-item revenue.
    // C20 — agg-before-dim-join; top 20 by (revenue desc, custkey).
    Key("q_returned_revenue", (s, d) =>
      Analytics.returnedItemRevenue(Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        "1996-10-01 00:00:00", "1997-01-01 00:00:00"),
      """SELECT c_custkey, c_name, n_name, c_acctbal,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
        |    AS BIGINT) AS revenue_cc
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue_cc DESC, c_custkey LIMIT 20""".stripMargin),
    // C21 — Q14-style promo revenue share per ship month.
    // C21 — promo share per ship month; one conditional aggregate,
    // share one division of exact ints.
    Key("q_promo_share", (s, d) =>
      Analytics.promoRevenueShare(Tables.part(s, d), Tables.lineitem(s, d),
        "PROMO"),
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cc ELSE 0 END)
        |    AS BIGINT) AS promo_cc,
        |  CAST(sum(rev_cc) AS BIGINT) AS total_cc,
        |  CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cc ELSE 0 END)
        |      AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(rev_cc) AS BIGINT) AS DOUBLE) AS promo_share
        |FROM (SELECT l_shipdate, p_type,
        |    CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT))
        |      AS rev_cc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey) f
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin),
    // C22 — Q19-style disjunctive brand/size/quantity revenue.
    // C22 — OR-of-ANDs residual predicate, single exact int64 sum.
    Key("q_disjunctive_revenue", (s, d) =>
      Analytics.disjunctiveRevenue(Tables.part(s, d), Tables.lineitem(s, d)),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
        |    AS BIGINT) AS revenue_cc
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // C23 — Q22-style quiet well-funded customers by nation.
    // C23 — the avg-positive-balance compare is CROSS-MULTIPLIED into
    // exact int64 cents (bal·n_pos > sum_pos) so neither engine ever
    // materializes the average as a double.
    Key("q_idle_balance", (s, d) =>
      Analytics.idleCustomerBalance(Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d),
        "2000-01-01 00:00:00"),
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS bal_cents
        |  FROM customer),
        |p AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos_cents,
        |    count(*) AS n_pos FROM c WHERE bal_cents > 0)
        |SELECT n_name, count(*) AS numcust,
        |  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM c, p
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_cents * n_pos > sum_pos_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // C24 — Q11-style supplier global-value-share threshold.
    // C24 — global-share HAVING cross-multiplied into exact basis
    // points: value·10000 > total·80.
    Key("q_value_share", (s, d) =>
      Analytics.supplierValueShare(Tables.supplier(s, d),
        Tables.lineitem(s, d), 80L),
      """WITH v AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
        |      AS BIGINT) AS value_cc
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(value_cc) AS BIGINT) AS total_cc FROM v)
        |SELECT s_suppkey, s_name, value_cc
        |FROM v, t JOIN supplier ON l_suppkey = s_suppkey
        |WHERE value_cc * 10000 > total_cc * 80
        |ORDER BY value_cc DESC, s_suppkey""".stripMargin),
    // C25 — Q15-style top-revenue supplier(s) over a quarter, ties kept.
    // C25 — groupwise-max view with ties kept; "= max" is an exact
    // int64 compare on centi-cent sums.
    Key("q_top_supplier", (s, d) =>
      Analytics.topSupplier(Tables.supplier(s, d), Tables.lineitem(s, d),
        "1996-01-01 00:00:00", "1996-04-01 00:00:00"),
      """WITH v AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
        |      AS BIGINT) AS total_revenue_cc
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_revenue_cc) AS max_cc FROM v)
        |SELECT s_suppkey, s_name, total_revenue_cc
        |FROM v, m JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_cc = max_cc
        |ORDER BY s_suppkey""".stripMargin),
    // C26 — trailing 3-month RANGE-frame revenue per priority.
    // C26 — trailing 3-month RANGE frame on an integer month index
    // (gap months count out of the window — the RANGE-vs-ROWS point);
    // window sums CAST AS BIGINT (HUGEINT rule).
    Key("q_trailing_revenue", (s, d) =>
      Analytics.trailingRevenue(Tables.orders(s, d), Tables.lineitem(s, d)),
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT))
        |      AS rev_cc
        |  FROM lineitem),
        |m AS (
        |  SELECT o_orderpriority,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS month_idx,
        |    CAST(sum(rev_cc) AS BIGINT) AS rev_cc
        |  FROM orders JOIN li ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority, CAST(month_idx AS BIGINT) AS month_idx,
        |  rev_cc,
        |  CAST(sum(rev_cc) OVER w AS BIGINT) AS trailing3_cc,
        |  CAST(count(*) OVER w AS BIGINT) AS n_months_in_window
        |FROM m
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month_idx
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, month_idx""".stripMargin),
    // C27 — Q9-style product-line profit by nation and order year.
    // C27 — profit exact int64 end-to-end: centi-cent revenue minus
    // retail_cents·qty·100 (whole quantities); LIKE filter on part.
    Key("q_product_profit", (s, d) =>
      Analytics.productProfit(Tables.nation(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.part(s, d),
        "red"),
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT))
        |    - CAST(round(p_retailprice * 100.0, 0) AS BIGINT)
        |      * CAST(round(l_quantity, 0) AS BIGINT) * 100)
        |    AS BIGINT) AS profit_cc,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin),
    // C28 — Q16-style distinct-supplier count per part family.
    // C28 — distinct (partkey, suppkey) pairs first, blacklist
    // excluded via anti semantics (NOT IN on a NULL-free list).
    Key("q_supplier_candidates", (s, d) =>
      Analytics.supplierCandidates(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d)),
      """SELECT p_brand, p_type,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (
        |  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin),
    // C29 — Q21 essence: sole-late supplier on multi-supplier orders
    // (late = shipped > 60 days after order date).
    // C29 — Q21 essence, decorrelated: EXISTS/NOT-EXISTS become two
    // stacked aggregates; sole-late is a row-local predicate.
    Key("q_waiting_supplier", (s, d) =>
      Analytics.waitingSuppliers(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), lateDaysParam),
      s"""WITH pos AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate
        |      + INTERVAL $lateDaysParam DAYS THEN 1 ELSE 0 END) AS was_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_orderkey, l_suppkey),
        |po AS (
        |  SELECT l_orderkey, count(*) AS n_suppliers,
        |    CAST(sum(was_late) AS BIGINT) AS n_late_suppliers
        |  FROM pos GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM pos JOIN po USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE was_late = 1 AND n_suppliers > 1 AND n_late_suppliers = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin),
    Key("q_having", (s, d) =>
      Analytics.largeVolumeOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), 210.0),
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS tq
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 210.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
        |  round(tq, 4) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    Key("q_semi_join", (s, d) =>
      Analytics.suppliersWithShipments(Tables.supplier(s, d),
        Tables.lineitem(s, d), 45.0),
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
        |  AND l_quantity >= 45.0)
        |ORDER BY s_suppkey""".stripMargin),
    Key("q_percent_rank", (s, d) => Analytics.pricePosition(Tables.part(s, d)),
      """SELECT p_partkey, p_type,
        |  round(percent_rank() OVER w, 4) AS price_pct_rank,
        |  round(cume_dist() OVER w, 4) AS price_cume_dist
        |FROM part
        |WINDOW w AS (PARTITION BY p_type ORDER BY p_retailprice, p_partkey)
        |ORDER BY p_partkey""".stripMargin),
    // C12 — Q2-style groupwise-min join-back (cheapest shipper per part).
    // Groupwise-min join-back (Q2 essence): min picked raw, ties kept.
    Key("q_min_cost", (s, d) =>
      Analytics.minCostSupplier(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), "Brand#13"),
      """WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
        |li AS (SELECT p_partkey, l_suppkey, l_extendedprice
        |  FROM lineitem JOIN p ON l_partkey = p_partkey),
        |m AS (SELECT p_partkey, min(l_extendedprice) AS min_price
        |  FROM li GROUP BY p_partkey)
        |SELECT DISTINCT li.p_partkey AS p_partkey,
        |  l_suppkey AS s_suppkey, s_name, min_price
        |FROM li JOIN m ON li.p_partkey = m.p_partkey
        |  AND l_extendedprice = min_price
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY li.p_partkey, s_suppkey""".stripMargin),
    Key("q_pivot", (s, d) =>
      Analytics.eventTypePivot(Tables.events(s, d),
        Seq("click", "view", "purchase", "signup", "error")),
      """SELECT user_id AS symbol,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id ORDER BY symbol""".stripMargin),
    Key("q_histogram", (s, d) =>
      Analytics.valueHistogram(Tables.events(s, d), 25.0),
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |  count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY CAST(floor(value / 25.0) AS BIGINT)
        |ORDER BY bucket""".stripMargin),
    Key("q_anti_join", (s, d) =>
      Analytics.customersWithoutOrders(Tables.customer(s, d),
        Tables.orders(s, d).filter(
          org.apache.spark.sql.functions.col("o_orderdate") >=
            org.apache.spark.sql.functions.lit("2001-06-01 00:00:00").cast("timestamp"))),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2001-06-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),
  )
}
