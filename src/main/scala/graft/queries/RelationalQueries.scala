package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.sources.Tables

/** Relational family queries: the TPC-H-shaped joins, aggregates and
  * windows over the fixture tables, with their DuckDB oracles.
  */
private[graft] object RelationalQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_sum_by_group" -> ((s, d) => Relational.sumByGroup(Tables.lineitem(s, d))),
    "q02_total_by_nation" -> ((s, d) =>
      Relational.totalByNation(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q03_filter_project" -> ((s, d) => Relational.filterProject(Tables.lineitem(s, d))),
    "q04_join_inner" -> ((s, d) => Relational.joinInner(Tables.orders(s, d), Tables.customer(s, d))),
    "q05_join_left_outer" -> ((s, d) => Relational.joinLeftOuter(Tables.customer(s, d), Tables.orders(s, d))),
    "q06_join_semi" -> ((s, d) => Relational.joinSemi(Tables.customer(s, d), Tables.orders(s, d))),
    "q07_join_anti" -> ((s, d) => Relational.joinAnti(Tables.customer(s, d), Tables.orders(s, d))),
    "q08_orphan_check" -> ((s, d) => Relational.orphanCheck(Tables.orders(s, d), Tables.customer(s, d))),
    "q09_distinct" -> ((s, d) => Relational.distinctPairs(Tables.lineitem(s, d))),
    "q10_topk" -> ((s, d) =>
      Relational.topK(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q11_union_reagg" -> ((s, d) =>
      Relational.unionReagg(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q12_coalesce_default" -> ((s, d) => Relational.coalesceDefault(Tables.orders(s, d))),
    "q13_cube" -> ((s, d) => Relational.cubeAgg(Tables.lineitem(s, d))),
    "q14_rollup" -> ((s, d) => Relational.rollupAgg(Tables.customer(s, d), Tables.nation(s, d))),
    "q15_window_rank" -> ((s, d) =>
      Relational.windowRank(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q16_window_running" -> ((s, d) => Relational.windowRunning(Tables.orders(s, d))),
    "q17_count_distinct" -> ((s, d) => Relational.countDistinctAgg(Tables.lineitem(s, d))),
    "q18_star_join" -> ((s, d) =>
      Relational.starJoin(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q19_set_ops" -> ((s, d) => Relational.setOps(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q45_shipping_priority" -> ((s, d) =>
      Relational.shippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q46_region_volume" -> ((s, d) =>
      Relational.regionVolume(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q47_returned_items" -> ((s, d) =>
      Relational.returnedItems(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.nation(s, d))),
    "q170_large_orders" -> ((s, d) =>
      Relational.largeOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q171_part_supplier_counts" -> ((s, d) =>
      Relational.partSupplierCounts(Tables.part(s, d), Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q180_late_order_priority" -> ((s, d) =>
      Relational.lateOrderPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q181_shipclass_priority" -> ((s, d) =>
      Relational.shipclassPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q182_promo_share" -> ((s, d) =>
      Relational.promoRevenueShare(Tables.part(s, d), Tables.lineitem(s, d))),
    "q183_customer_distribution" -> ((s, d) =>
      Relational.customerOrderDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "q184_small_qty_revenue" -> ((s, d) =>
      Relational.smallQuantityRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q185_idle_balance" -> ((s, d) =>
      Relational.idleCustomerBalance(Tables.customer(s, d), Tables.orders(s, d),
        Tables.nation(s, d))),
    "q186_nation_volume" -> ((s, d) =>
      Relational.nationVolumeShipping(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q187_market_share" -> ((s, d) =>
      Relational.nationMarketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    "q188_brand_bands" -> ((s, d) =>
      Relational.brandBandRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q199_top_supplier" -> ((s, d) =>
      Relational.topSupplierRevenue(Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q200_forecast_revenue" -> ((s, d) =>
      Relational.forecastRevenueDelta(Tables.lineitem(s, d))),
    "q211_min_cost_supplier" -> ((s, d) =>
      Relational.minCostSupplier(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d), Tables.partsuppDerived(s, d))),
    "q212_product_profit" -> ((s, d) =>
      Relational.productTypeProfit(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.partsuppDerived(s, d))),
    "q213_important_stock" -> ((s, d) =>
      Relational.importantStock(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.partsuppDerived(s, d))),
  )

  /** The derived-partsupp CTE shared by the q211–q213 oracles — the
    * DuckDB restatement of `Tables.partsuppDerived` (one text, three
    * consumers, so derivation drift breaks all three gates at once).
    * `//` floors and Spark `div` truncates; operands here are strictly
    * positive, where the two agree.
    */
  private val partsuppCte: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
      |    CAST(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      // CAST(sum(l_quantity) AS BIGINT) AS BIGINT) AS ps_supplycost_c
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_sum_by_group" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_discount), 2) AS avg_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_total_by_nation" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q05_join_left_outer" ->
      """SELECT c_custkey, round(sum(coalesce(o_totalprice, 0.0)), 2) AS total,
        | count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q06_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q07_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q08_orphan_check" ->
      """SELECT count(*) AS n_orphans FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)""".stripMargin,
    "q09_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q10_topk" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY total DESC, n_name LIMIT 10""".stripMargin,
    "q11_union_reagg" ->
      """SELECT n_name, round(sum(partial_total), 2) AS total FROM (
        |  SELECT n_name, sum(o_totalprice) AS partial_total
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderkey % 2 = 0 GROUP BY n_name
        |  UNION ALL
        |  SELECT n_name, sum(o_totalprice) AS partial_total
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderkey % 2 <> 0 GROUP BY n_name
        |) GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q12_coalesce_default" ->
      """SELECT o_orderstatus,
        | round(sum(coalesce(CASE WHEN o_totalprice < 1000.0 THEN NULL ELSE o_totalprice END, 0.0)), 2) AS total,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q13_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q14_rollup" ->
      """SELECT n_name, c_mktsegment, round(sum(c_acctbal), 2) AS total_bal, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "q15_window_rank" ->
      """SELECT n_name, n_regionkey, round(raw_total, 2) AS total,
        | CAST(rank() OVER (PARTITION BY n_regionkey ORDER BY raw_total DESC) AS INTEGER) AS rank_in_region
        |FROM (
        |  SELECT n_name, n_regionkey, sum(o_totalprice) AS raw_total
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, n_regionkey
        |) ORDER BY n_name""".stripMargin,
    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS INTEGER) AS rn
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q17_count_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q18_star_join" ->
      """SELECT r_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q45_shipping_priority" ->
      """SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
        | o_orderpriority,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q46_region_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q47_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q19_set_ops" ->
      """WITH ok AS (SELECT o_orderkey AS key FROM orders WHERE o_orderstatus = 'F'),
        | lk AS (SELECT l_orderkey AS key FROM lineitem WHERE l_quantity > 30.0)
        |SELECT op, n FROM (
        |  SELECT 'intersect' AS op, count(*) AS n FROM (SELECT key FROM ok INTERSECT SELECT key FROM lk)
        |  UNION ALL
        |  SELECT 'except' AS op, count(*) AS n FROM (SELECT key FROM ok EXCEPT SELECT key FROM lk)
        |) ORDER BY op""".stripMargin,
    "q170_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0
        |)
        |SELECT c_name, c_custkey, o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
        | round(o_totalprice, 2) AS total_price, total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin,
    "q171_part_supplier_counts" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |)
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q180_late_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q181_shipclass_priority" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q182_promo_share" ->
      """WITH r AS (
        |  SELECT
        |   FLOOR((sum(CAST(round(CASE WHEN p_type = 'PROMO'
        |       THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END * 10000, 0)
        |     AS BIGINT)) + 50) / 100.0) / 100.0 AS promo_revenue,
        |   FLOOR((sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0)
        |     AS BIGINT)) + 50) / 100.0) / 100.0 AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |)
        |SELECT round(100.0 * promo_revenue / total_revenue, 4) AS promo_share_pct,
        | promo_revenue, total_revenue
        |FROM r""".stripMargin,
    "q183_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        |  GROUP BY c_custkey
        |) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q184_small_qty_revenue" ->
      """SELECT FLOOR((sum(CAST(round(l_extendedprice * 10000, 0) AS BIGINT))
        |    + 350) / 700.0) / 100.0 AS avg_yearly
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#5'
        |  AND l_quantity < 0.2 * (
        |    SELECT avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q185_idle_balance" ->
      """SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q186_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        | FLOOR((sum(CAST(round(volume * 10000, 0) AS BIGINT)) + 50) / 100.0)
        |   / 100.0 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |   l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
        |      OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12'))
        |) GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q187_market_share" ->
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |   l_extendedprice * (1.0 - l_discount) AS volume,
        |   n1.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON r_regionkey = n2.n_regionkey
        |  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |), agg AS (
        |  SELECT o_year,
        |   FLOOR((sum(CAST(round(CASE WHEN supp_nation = 'NATION_3'
        |       THEN volume ELSE 0.0 END * 10000, 0) AS BIGINT)) + 50) / 100.0)
        |     / 100.0 AS nation_revenue,
        |   FLOOR((sum(CAST(round(volume * 10000, 0) AS BIGINT)) + 50) / 100.0)
        |     / 100.0 AS total_revenue
        |  FROM base GROUP BY o_year
        |)
        |SELECT o_year, round(nation_revenue / total_revenue, 6) AS mkt_share,
        | nation_revenue, total_revenue
        |FROM agg ORDER BY o_year""".stripMargin,
    "q188_brand_bands" ->
      """SELECT FLOOR((sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000,
        |    0) AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 5.0 AND 15.0)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20
        |        AND l_quantity BETWEEN 15.0 AND 25.0)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 30
        |        AND l_quantity BETWEEN 25.0 AND 35.0)""".stripMargin,
    "q199_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |   FLOOR((sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0)
        |     AS BIGINT)) + 50) / 100.0) / 100.0 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q200_forecast_revenue" ->
      """SELECT FLOOR((sum(CAST(round(l_extendedprice * l_discount * 10000, 0)
        |    AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue_delta,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q211_min_cost_supplier" ->
      s"""WITH $partsuppCte,
        |target AS (
        |  SELECT p_partkey, p_name FROM part
        |  WHERE p_size = 15 AND p_type = 'STANDARD'),
        |regsupp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |rps AS (
        |  SELECT ps_partkey, ps_suppkey, ps_supplycost_c FROM partsupp
        |  WHERE ps_partkey IN (SELECT p_partkey FROM target)
        |    AND ps_suppkey IN (SELECT s_suppkey FROM regsupp)),
        |mc AS (
        |  SELECT ps_partkey, min(ps_supplycost_c) AS min_c FROM rps GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        | ps_supplycost_c / 100.0 AS supplycost
        |FROM rps
        |JOIN mc USING (ps_partkey)
        |JOIN target ON ps_partkey = p_partkey
        |JOIN regsupp ON ps_suppkey = s_suppkey
        |WHERE ps_supplycost_c = min_c
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q212_product_profit" ->
      s"""WITH $partsuppCte
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | FLOOR((sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0)
        |     AS BIGINT)
        |   - ps_supplycost_c * 100 * CAST(l_quantity AS BIGINT)) + 50) / 100.0)
        |   / 100.0 AS profit
        |FROM lineitem
        |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q213_important_stock" ->
      s"""WITH $partsuppCte,
        |natps AS (
        |  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v_c
        |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |pp AS (
        |  SELECT ps_partkey, CAST(sum(v_c) AS BIGINT) AS value_c
        |  FROM natps GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(value_c) AS BIGINT) AS total_c, count(*) AS n_parts
        |  FROM pp)
        |SELECT ps_partkey, value_c / 100.0 AS stock_value
        |FROM pp, tot
        |WHERE value_c * n_parts * 2 > 3 * total_c
        |ORDER BY stock_value DESC, ps_partkey""".stripMargin,
  )
}
