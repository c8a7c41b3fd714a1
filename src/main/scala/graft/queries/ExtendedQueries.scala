package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Extended
import graft.sources.Tables
import graft.OracleHelpers._

/** Extended family queries: extended relational/typed surface: scalar-function suites, pivot, typed aggregators, decimal money.
  * SparkEntry concatenates the families and asserts the key sets stay
  * disjoint and aligned.
  */
private[graft] object ExtendedQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_grouping_sets" -> ((s, d) => Extended.groupingSets(s, Tables.orders(s, d))),
    "q41_calendar"      -> ((s, d) => Extended.ordersByCalendar(Tables.orders(s, d))),
    "q42_json_stats"    -> ((s, d) => Extended.jsonStats(Tables.events(s, d))),
    "q43_event_pivot"   -> ((s, d) => Extended.eventPivot(Tables.events(s, d))),
    "q44_asof_join"     -> ((s, d) => Extended.asofPurchaseClick(Tables.events(s, d))),
    "q51_typed_agg" -> ((s, d) => graft.operators.Typed.statusTotals(s, Tables.orders(s, d))),
    "q49_brand_revenue" -> ((s, d) =>
      graft.operators.Relational.brandRevenue(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.lineitem(s, d))),
    "q59_range_join"        -> ((s, d) => Extended.priceBandJoin(Tables.orders(s, d))),
    // deterministic KMV sketch: approximate distinct count WITH an exact
    // oracle (contrast q38, whose HLL/percentile estimates are
    // implementation-defined and hence only envelope-checked)
    "q54_kmv_sketch" -> ((s, d) =>
      graft.operators.Typed.kmvDistinct(s, Tables.lineitem(s, d))),
    // exact decimal money totals beside the rounded-double path
    "q86_decimal_totals" -> ((s, d) =>
      graft.operators.Relational.decimalTotals(Tables.lineitem(s, d))),
    // full-outer join variant: observed event types vs the expected catalog
    "q96_type_reconciliation" -> ((s, d) =>
      Extended.eventTypeReconciliation(Tables.events(s, d))),
    // correlated EXISTS + scalar subqueries, decorrelated by Catalyst;
    // ONE SQL text shared verbatim with the oracle
    "q131_above_avg_spenders" -> ((s, d) =>
      Extended.aboveAvgSpenders(s, Tables.customer(s, d), Tables.orders(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "q40_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q41_calendar" ->
      """SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
        | CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS order_quarter,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q42_json_stats" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q43_event_pivot" -> {
      val cols = Extended.EventTypes.map(t =>
        s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS $t").mkString(",\n ")
      s"""SELECT user_id,
         | $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q44_asof_join" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    CASE WHEN event_type = 'click' THEN value END AS click_value
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |),
        |filled AS (
        |  SELECT user_id, event_id, event_type, value,
        |    last_value(click_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
        |  FROM tagged
        |)
        |SELECT user_id, event_id, round(value, 2) AS purchase_value,
        | round(coalesce(last_click_value, 0.0), 2) AS asof_click_value
        |FROM filled WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    "q51_typed_agg" ->
      """SELECT o_orderstatus, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q49_brand_revenue" ->
      """SELECT p_brand, n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, n_name ORDER BY p_brand, n_name""".stripMargin,
    "q59_range_join" -> {
      val bandRows = Extended.PriceBands
        .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
      s"""WITH bands(band, lo, hi) AS (VALUES $bandRows)
         |SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS total
         |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY band ORDER BY band""".stripMargin
    },
    "q54_kmv_sketch" ->
      // kth smallest distinct md5 per group; estimate = (k-1)/frac with the
      // exact 13-hex-digit binary fraction (every term and partial sum is
      // exactly representable, so the double matches Spark's bit-for-bit)
      """WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |h AS (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h FROM d),
        |r AS (
        |  SELECT l_returnflag, h,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS nd
        |  FROM h
        |)
        |SELECT l_returnflag, h AS kth_hash,
        | round(CASE WHEN nd >= 64 THEN
        |   63 / list_sum(list_transform(generate_series(1, 13),
        |     i -> (strpos('0123456789abcdef', substr(h, i, 1)) - 1) * power(16.0, -i)))
        |  ELSE CAST(nd AS DOUBLE) END, 4) AS distinct_estimate,
        | nd AS n_exact
        |FROM r WHERE rn = least(64, nd)
        |ORDER BY l_returnflag""".stripMargin,
    "q86_decimal_totals" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS exact_total,
        | round(sum(l_extendedprice), 2) AS double_total
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q96_type_reconciliation" ->
      """WITH obs AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1),
        |cat(expected_type) AS (
        |  VALUES ('click'), ('purchase'), ('refund'), ('signup'), ('view'))
        |SELECT coalesce(event_type, expected_type) AS etype,
        | CASE WHEN event_type IS NOT NULL AND expected_type IS NOT NULL THEN 'matched'
        |      WHEN event_type IS NULL THEN 'catalog_only'
        |      ELSE 'stream_only' END AS status,
        | CAST(coalesce(n_events, 0) AS BIGINT) AS n_events
        |FROM obs FULL OUTER JOIN cat ON event_type = expected_type
        |ORDER BY etype""".stripMargin,
    "q131_above_avg_spenders" ->
      // the SAME text Spark executes (Extended.AboveAvgSpendersSql) —
      // decimal cross-multiplication keeps the predicate engine-exact
      graft.operators.Extended.AboveAvgSpendersSql,
  )
}
