package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators, re-expressed Spark-first.
  *
  * The reference's entire pipeline (`/root/reference/D/Program.cs:228-248`) is
  * CSV scan -> project/cast -> range shuffle -> per-partition hash join ->
  * partial agg -> final merge agg -> sink. Here each capability is a
  * declarative DataFrame transform: Catalyst supplies column pruning,
  * predicate pushdown, join-strategy selection (broadcast for small dims),
  * partial+final HashAggregate, and AQE skew splitting — the machinery the
  * reference hand-builds with Tasks and chunk files (`D/Program.cs:63-226`).
  *
  * Determinism contract: every query ends with an explicit orderBy on a
  * unique key and rounds double aggregates to 2 decimals, mirroring the
  * reference's F2 output formatting (`D/Program.cs:483`) and absorbing FP
  * association-order noise that the reference also exhibits across thread
  * schedules.
  */
object Relational {

  /** Round a double aggregate to the reference's F2 output precision. */
  def f2(c: Column): Column = round(c, 2)

  /** Fused scan+group+sum, the shape of the reference's per-worker pipeline
    * (`D/Program.cs:301-318`): partial aggregation map-side, final merge on
    * the reduce side — one shuffle of (group keys, partial sums) only.
    */
  def sumByGroup(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        f2(sum($"l_quantity")).as("sum_qty"),
        f2(sum($"l_extendedprice")).as("sum_price"),
        f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_price"),
        f2(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** The reference query transposed onto the driver fixtures (SURVEY.md §7.2):
    * donors -> customer+nation, donations -> orders; "total donation amount by
    * state" becomes "total order value by nation". Inner equi-join
    * (`D/Program.cs:301-311`) + group-sum (`D/Program.cs:312-315`, `:162`).
    * nation/customer are dimension-sized: Catalyst broadcasts them, so the
    * only shuffle is the final aggregation's.
    */
  def totalByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .groupBy($"n_name")
      .agg(f2(sum($"o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
      .orderBy($"n_name")

  /** Filter + projection; both push into the parquet scan (PushedFilters /
    * ReadSchema). The reference has no standalone filter (SURVEY.md §2.2) —
    * this is the declarative superset.
    */
  def filterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .filter($"l_quantity" > 45.0 && $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", f2($"l_extendedprice").as("price"))
      .orderBy($"l_orderkey", $"l_linenumber")

  /** Inner equi-join, row-level output (no agg): the reference's O11/O12
    * probe (`D/Program.cs:289-311`) without the fused aggregation.
    */
  def joinInner(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .select($"o_orderkey", $"c_custkey", $"c_name", f2($"o_totalprice").as("price"))
      .orderBy($"o_orderkey")

  /** Left outer join: customers keep rows with no orders (amount nulls -> 0.0
    * via the reference's null-default rule O6, `D/Program.cs:451`).
    */
  def joinLeftOuter(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_outer")
      .groupBy($"c_custkey")
      .agg(f2(sum(coalesce($"o_totalprice", lit(0.0)))).as("total"), count($"o_orderkey").as("n_orders"))
      .orderBy($"c_custkey")

  /** Left-semi join (EXISTS): customers having at least one open order. */
  def joinSemi(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter($"o_orderstatus" === "O"), customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")

  /** Left-anti join (NOT EXISTS). The reference *throws* on orphan probe rows
    * (`D/Program.cs:310` KeyNotFoundException): FK integrity asserted, not
    * filtered. Spark-natively that assertion is "anti-join is empty"; this
    * query materializes the orphan count per status so the invariant is
    * checkable (0 orphans on FK-clean data).
    */
  def orphanCheck(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))

  /** Customers with no orders, via anti-join (row-level variant). */
  def joinAnti(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")

  /** Distinct (SURVEY.md §2.2): hash-shuffle dedup of a projected pair. */
  def distinctPairs(lineitem: DataFrame): DataFrame =
    lineitem
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Sort + limit top-k: TakeOrderedAndProject — per-partition top-k then a
    * single-partition merge; no global sort shuffle at any scale.
    */
  def topK(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val k = 10
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .groupBy($"n_name")
      .agg(f2(sum($"o_totalprice")).as("total"))
      .orderBy($"total".desc, $"n_name")
      .limit(k)
  }

  /** Union of two disjoint partial aggregates re-aggregated: the reference's
    * merge of per-worker partial CSVs into the master map
    * (`D/Program.cs:151-165`), expressed as union + final groupBy — proves
    * partial/final aggregation equivalence.
    */
  def unionReagg(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    def partial(slice: DataFrame): DataFrame =
      slice
        .join(customer, slice("o_custkey") === customer("c_custkey"))
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .groupBy($"n_name")
        .agg(sum($"o_totalprice").as("partial_total"))
    val lo = partial(orders.filter($"o_orderkey" % 2 === 0))
    val hi = partial(orders.filter($"o_orderkey" % 2 =!= 0))
    lo.union(hi)
      .groupBy($"n_name")
      .agg(f2(sum($"partial_total")).as("total"))
      .orderBy($"n_name")
  }

  /** Null-default (O6, `D/Program.cs:451,580-588`): empty/null measure -> 0.0
    * before aggregation. Demonstrated on o_totalprice made sparse by a
    * predicate-driven nullif.
    */
  def coalesceDefault(orders: DataFrame): DataFrame =
    orders
      .withColumn("amount", coalesce(when($"o_totalprice" < 1000.0, lit(null)).otherwise($"o_totalprice"), lit(0.0)))
      .groupBy($"o_orderstatus")
      .agg(f2(sum($"amount")).as("total"), count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")

  /** CUBE over (returnflag, linestatus) — earning the reference's name
    * "CubeMR" (`D/CubeMR.csproj:10`), which despite the name implements no
    * cube (SURVEY.md §2.2). Grouping-set expansion is map-side in Spark.
    */
  def cubeAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .cube($"l_returnflag", $"l_linestatus")
      .agg(f2(sum($"l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)

  /** ROLLUP over (nation, mktsegment). */
  def rollupAgg(customer: DataFrame, nation: DataFrame): DataFrame =
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .rollup($"n_name", $"c_mktsegment")
      .agg(f2(sum($"c_acctbal")).as("total_bal"), count(lit(1)).as("n"))
      .orderBy($"n_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)

  /** Window rank: nations ranked by total order value (SURVEY.md §2.2 ➕).
    * Single window over the aggregated (25-row) frame — the window shuffle is
    * on already-reduced data, never the fact table.
    */
  def windowRank(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val totals = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .groupBy($"n_name", $"n_regionkey")
      .agg(sum($"o_totalprice").as("raw_total"))
    totals
      .withColumn("rank_in_region", rank().over(Window.partitionBy($"n_regionkey").orderBy($"raw_total".desc)))
      .select($"n_name", $"n_regionkey", f2($"raw_total").as("total"), $"rank_in_region")
      .orderBy($"n_name")
  }

  /** Running window aggregate over ordered facts per customer. */
  def windowRunning(orders: DataFrame): DataFrame = {
    val w = Window
      .partitionBy($"o_custkey")
      .orderBy($"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(
        $"o_custkey",
        $"o_orderkey",
        f2(sum($"o_totalprice").over(w)).as("running_total"),
        row_number().over(Window.partitionBy($"o_custkey").orderBy($"o_orderkey")).as("rn"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Exact distinct counts per group — count(distinct) plans as a two-phase
    * expand+agg; at 100 TB prefer approxCountDistinct (see Sketches).
    */
  def countDistinctAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")

  /** Multi-way join across the full star schema: region->nation->customer->
    * orders->lineitem, grouped by region. Dimensions broadcast; the single
    * big-big join (orders x lineitem) shuffles on the join key.
    */
  def starJoin(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy($"r_name")
      .agg(
        f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name")

  /** TPC-H Q3 shape (shipping priority): filtered join of customer,
    * orders, lineitem; revenue per order; top 10. Filters push into all
    * three scans; the orders-lineitem join is the only big shuffle.
    * order_epoch via unix_timestamp requires the engine's UTC session
    * contract (GraftSession pins spark.sql.session.timeZone=UTC).
    */
  def shippingPriority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    customer.filter($"c_mktsegment" === "BUILDING")
      .join(orders, $"c_custkey" === $"o_custkey")
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > $"o_orderdate")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
      .select($"o_orderkey",
        unix_timestamp($"o_orderdate").as("order_epoch"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)

  /** TPC-H Q5 shape (local volume): full star join constrained to one
    * region, revenue per nation, sorted.
    */
  def regionVolume(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .join(region.filter($"r_name" === "ASIA"), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")

  /** TPC-H Q10 shape (returned items): customers ranked by revenue lost to
    * returns in a date window.
    */
  def returnedItems(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      nation: DataFrame): DataFrame =
    lineitem.filter($"l_returnflag" === "R")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)

  /** Part/supplier coverage: revenue by part brand with supplier nation,
    * exercising the two remaining dimension tables. Both dims broadcast.
    */
  def brandRevenue(part: DataFrame, supplier: DataFrame, nation: DataFrame,
      lineitem: DataFrame): DataFrame =
    lineitem
      .join(part, $"l_partkey" === $"p_partkey")
      .join(supplier, $"l_suppkey" === $"s_suppkey")
      .join(nation, $"s_nationkey" === $"n_nationkey")
      .groupBy($"p_brand", $"n_name")
      .agg(
        f2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"p_brand", $"n_name")

  /** TPC-H Q18 shape (large-volume orders): customers holding orders whose
    * total lineitem quantity exceeds `minQty`. The classic formulation
    * re-joins lineitem and re-aggregates after the HAVING subquery; since
    * the per-order quantity aggregate already HAS the sum, this plan
    * joins the filtered aggregate directly — one map-side-combined
    * aggregation over lineitem (order-count rows), then the
    * rare-by-construction big-order frame joins orders/customer (AQE
    * sizes the join; the `> minQty` filter is what makes it small at any
    * scale — Q18's threshold semantics). TakeOrderedAndProject cut.
    */
  def largeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val minQty = 300.0
    lineitem.groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("raw_qty"))
      .filter($"raw_qty" > minQty)
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        unix_timestamp($"o_orderdate").as("order_epoch"),
        round($"o_totalprice", 2).as("total_price"),
        round($"raw_qty", 2).as("total_qty"))
      .orderBy($"total_price".desc, $"o_orderkey")
      .limit(100)
  }

  /** TPC-H Q16 shape (supplier diversity per part class): distinct
    * supplier counts per (brand, type, size) over the OBSERVED
    * part-supplier pairs (the fixtures carry no partsupp table; lineitem
    * is the witness relation), excluding denied suppliers (here:
    * negative account balance) via an anti-join — Q16's NOT IN. Shape:
    * the pair-distinct and the count-distinct share one (partkey,
    * suppkey) exchange; the exclusion list is dimension-sized and
    * broadcast.
    */
  def partSupplierCounts(part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val denied = supplier.filter($"s_acctbal" < 0.0).select($"s_suppkey")
    lineitem.select($"l_partkey", $"l_suppkey").distinct()
      .join(broadcast(denied), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(part, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** Set ops: intersect/except on projected key sets. */
  def setOps(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val orderKeys = orders.filter($"o_orderstatus" === "F").select($"o_orderkey".as("key"))
    val lineKeys  = lineitem.filter($"l_quantity" > 30.0).select($"l_orderkey".as("key"))
    val both    = orderKeys.intersect(lineKeys).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    val onlyOrd = orderKeys.except(lineKeys).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    both.union(onlyOrd).select($"op", $"n").orderBy($"op")
  }

  /** Exact decimal money totals beside the rounded-double path: casting
    * each price to decimal(18,2) makes the per-group sum EXACT and
    * summation-order-invariant (the reference's F2 doubles wobble by
    * association order across thread schedules — SURVEY §1.2; decimal is
    * the engine-grade fix, not a rounding patch). The exact total is
    * emitted as a double at the boundary (cents << 2^53, lossless).
    */
  def decimalTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_extendedprice".cast("decimal(18,2)")).as("dec_total"),
        round(sum($"l_extendedprice"), 2).as("double_total"))
      .select($"l_returnflag", $"dec_total".cast("double").as("exact_total"), $"double_total")
      .orderBy($"l_returnflag")

  /** Exact money aggregation for the TPC-H money queries
    * (q182/q184/q186–q188/q199): quantize each line's money term to
    * long 1e-4 units — prices carry 2 decimals and discounts 2, so the
    * true product has at most 4 decimal digits and the ROUND is
    * lossless; ROUND of the identical double input is also the one
    * quantization both engines compute bit-equal — then sum exactly in
    * integers (association-order-free) and convert to dollars only at
    * the boundary: half-up to cents in INTEGER space, one exact /100.
    * Replaces round(sum(double), 2), whose double sum is
    * association-order-dependent: a true total within FP noise of an
    * x.xx5 half-cent boundary could round differently per
    * engine/partitioning while the oracle gate is bit-exact. Long 1e-4
    * units hold to ~9e14 dollars of total; a corpus beyond that swaps
    * the accumulator to decimal(38,4) at the same boundary.
    */
  private[graft] def money4(e: Column): Column =
    round(e * lit(10000.0), 0).cast("long")

  /** Long 1e-4 units → dollars at cent precision: half-up to cents in
    * integer space (floor of an exact +50 shift — the double division
    * by 100.0 is computed on the same operands by both engines), then
    * one exact /100. Output stays DOUBLE (schema-stable vs the old
    * rounded-sum path).
    */
  private[graft] def dollarsFrom4(r4: Column): Column =
    floor((r4 + lit(50L)) / lit(100.0)) / lit(100.0)

  /** A timestamp literal typed to MATCH the named column's physical type
    * (TIMESTAMP vs TIMESTAMP_NTZ — fixtures ship NTZ; the session is
    * UTC, so the instants coincide). Dispatching the LITERAL keeps the
    * column bare in the predicate, which is what lets the comparison
    * reach the parquet scan as a pushed filter — a cast wrapped around
    * the column would silently disable pushdown. Same schema-dispatch
    * idea as Tables' events normalization.
    */
  private def tsLit(df: DataFrame, colName: String, value: String): Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => lit(value).cast("timestamp_ntz")
      case org.apache.spark.sql.types.TimestampType => lit(value).cast("timestamp")
      case other =>
        // fail loudly rather than emit a timestamp literal against (say)
        // an INT64 epoch column — the drift guard accepts bigint dates as
        // a valid fixture encoding, but only the events loader normalizes
        // them; a silent long-vs-timestamp comparison here would be the
        // q151-class of bug (wrong on dtype while looking plausible)
        throw new IllegalArgumentException(
          s"tsLit: $colName is $other, not a timestamp type — normalize the " +
            "column (cast epoch micros) before using date-window operators")
    }

  /** TPC-H Q4 shape (order-priority checking): per-priority counts of
    * orders placed in a half-year window having at least one LATE line —
    * shipped more than `lagDays` after the order date (the fixtures carry
    * no commitdate/receiptdate, so the ship-lag witness stands in for
    * Q4's `l_commitdate < l_receiptdate`). The EXISTS is a left-semi join
    * whose correlated non-equi conjunct (`l_shipdate > o_orderdate +
    * lag`) stays IN the join condition: one probe pass over lineitem,
    * multiple late lines per order deduplicated by semi-join semantics
    * (no DISTINCT exchange), and the final aggregate runs over
    * order-count rows. The date filter lands on the orders scan as a
    * pushed predicate before the join.
    */
  def lateOrderPriority(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val fromDate = "1996-01-01"
    val lagDays = 60
    orders
      .filter($"o_orderdate" >= tsLit(orders, "o_orderdate", fromDate) &&
        $"o_orderdate" < tsLit(orders, "o_orderdate", "1996-07-01"))
      .join(lineitem
          // derived bound: qualifying orders have o_orderdate >= fromDate,
          // so every witness line has l_shipdate > fromDate + lag — a
          // semantics-preserving filter the scan can push, instead of
          // probing the whole fact table for a half-year window
          .filter($"l_shipdate" >
            tsLit(lineitem, "l_shipdate", fromDate) + expr(s"INTERVAL $lagDays DAYS")),
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr(s"INTERVAL $lagDays DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** TPC-H Q12 shape (shipment-class priority audit): per return-flag
    * class (the fixture's stand-in for Q12's ship mode), lines shipped in
    * the window split into urgent/high vs lower-priority order counts.
    * Q12's signature shape survives the substitution: both branches are
    * conditional sums folded into ONE join+aggregate pass — no
    * per-branch scan, no second exchange; the ship-date filter prunes the
    * lineitem scan and the orders side carries only (orderkey, priority).
    */
  def shipclassPriority(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val isHigh = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    lineitem
      .filter($"l_shipdate" >= tsLit(lineitem, "l_shipdate", "1996-01-01") &&
        $"l_shipdate" < tsLit(lineitem, "l_shipdate", "1997-01-01"))
      .join(orders.select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** TPC-H Q14 shape (promotion effect): revenue share of PROMO-type
    * parts among lines shipped in the window. One lineitem⋈part join
    * (part is the dimension side; AQE broadcasts it when it fits), promo
    * and total revenue as conditional aggregates of the SAME pass, and
    * the percentage computed from the two EXACT totals (money4 long
    * accumulation — association-order-free), so the one FP division
    * consumes identical inputs on any engine and partitioning.
    */
  def promoRevenueShare(part: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .filter($"l_shipdate" >= tsLit(lineitem, "l_shipdate", "1996-01-01") &&
        $"l_shipdate" < tsLit(lineitem, "l_shipdate", "1996-04-01"))
      .join(part.select($"p_partkey", $"p_type"), $"l_partkey" === $"p_partkey")
      .agg(
        dollarsFrom4(sum(money4(when($"p_type" === "PROMO",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(lit(0.0))))).as("promo_revenue"),
        dollarsFrom4(sum(money4($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("total_revenue"))
      .select(
        round(lit(100.0) * $"promo_revenue" / $"total_revenue", 4).as("promo_share_pct"),
        $"promo_revenue", $"total_revenue")

  /** TPC-H Q13 shape (customer order distribution): histogram of
    * customers by how many qualifying orders each placed — INCLUDING the
    * zero bucket, which is what forces the left-outer join (an inner
    * join would silently drop order-less customers; Q13's defining
    * hazard). The right side is pre-filtered (Q13's `o_comment NOT LIKE`
    * has no fixture analog; status <> 'F' stands in), so "zero" means
    * "no qualifying orders", not "no orders". Two exchanges total:
    * per-customer count shuffles on custkey (partial-aggregable), the
    * histogram re-shuffles |distinct counts| rows — a tiny second stage.
    */
  def customerOrderDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select($"c_custkey")
      .join(
        orders.filter($"o_orderstatus" =!= "F")
          .select($"o_custkey", $"o_orderkey"),
        $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)

  /** TPC-H Q17 shape (small-quantity order revenue): average yearly
    * revenue lost if small-quantity orders (below 20% of the part's own
    * mean quantity) stopped shipping, for one brand's parts. Q17's
    * correlated scalar subquery `0.2 * avg(l_quantity) WHERE l_partkey =
    * p_partkey` becomes a per-part aggregate joined back to the same
    * filtered lines: the brand's key set is dimension-sized and
    * broadcast to prune BOTH passes, the per-part average frame is
    * |brand parts| rows and broadcast for the probe join — no shuffle of
    * the fact table at all. Quantities are integer-valued doubles, so
    * the per-part mean is exact regardless of summation order and the
    * `< 0.2 * avg` cut is engine-portable.
    */
  def smallQuantityRevenue(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val brand = "Brand#5"
    val brandParts = part.filter($"p_brand" === brand).select($"p_partkey")
    val brandLines = lineitem
      .join(broadcast(brandParts), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val perPartAvg = brandLines.groupBy($"l_partkey")
      .agg(avg($"l_quantity").as("avg_qty"))
      .withColumnRenamed("l_partkey", "ap_partkey")
    brandLines
      .join(broadcast(perPartAvg), $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < lit(0.2) * $"avg_qty")
      // /7 folded into the integer boundary step: cents = half-up(r4/700)
      .agg((floor((sum(money4($"l_extendedprice")) + lit(350L)) / lit(700.0)) /
        lit(100.0)).as("avg_yearly"))
  }

  /** TPC-H Q22 shape (global sales opportunity): per nation, the count
    * and balance mass of "idle" customers — above-average positive
    * account balance but no OPEN orders on file (the pure no-orders set
    * is empty at fixture SFs — every customer has ordered — so the
    * status-filtered anti-join keeps Q22's shape non-degenerate). Q22's
    * three signature moves survive the fixture transposition (phone
    * country code → nation): the scalar subquery (global
    * positive-balance mean) rides a 1-row broadcast crossJoin instead
    * of a driver collect, the NOT EXISTS is a left-anti join against
    * the filtered orders key projection, and the final aggregate groups
    * dimension-sized output. The anti-join is the only fact-sized
    * exchange.
    */
  def idleCustomerBalance(customer: DataFrame, orders: DataFrame, nation: DataFrame): DataFrame = {
    val avgBal = customer.filter($"c_acctbal" > 0.0)
      .agg(avg($"c_acctbal").as("avg_bal"))
    customer
      .join(orders.filter($"o_orderstatus" === "O").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(broadcast(nation.select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("numcust"), f2(sum($"c_acctbal")).as("totacctbal"))
      .orderBy($"n_name")

  }

  /** TPC-H Q7 shape (volume shipping): bilateral revenue between two
    * named nations per ship year, attributing each line to its
    * supplier's nation (exporter) and its order's customer nation
    * (importer). The two nation lookups are independent dimension
    * chains: supplier⋈nation and customer⋈nation are broadcast, orders
    * carries only (orderkey, custkey), and the symmetric pair predicate
    * `(s=A ∧ c=B) ∨ (s=B ∧ c=A)` is applied AFTER both attributions on
    * the single fact pass. The ship-date window prunes the lineitem
    * scan; one groupBy on (supp_nation, cust_nation, year) finishes it.
    */
  def nationVolumeShipping(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val nationA = "NATION_12"
    val nationB = "NATION_13"
    val nat = nation.select($"n_nationkey", $"n_name")
    val suppNation = supplier.join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custNation = customer.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    lineitem
      .filter($"l_shipdate" >= tsLit(lineitem, "l_shipdate", "1996-01-01") &&
        $"l_shipdate" < tsLit(lineitem, "l_shipdate", "1998-01-01"))
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(orders.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custNation), $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === nationA && $"cust_nation" === nationB) ||
        ($"supp_nation" === nationB && $"cust_nation" === nationA))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("int").as("l_year"))
      .agg(dollarsFrom4(
        sum(money4($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** TPC-H Q8 shape (national market share): for one part type sold
    * into one region over two order years, each year's share of revenue
    * supplied from one named nation. The share divides two EXACT
    * conditional sums of the same pass (the q182/money4 discipline, so
    * the one FP division consumes association-order-free inputs). Part
    * (type-filtered), supplier→nation, and customer→nation→region are
    * all broadcast dimension chains; orders' date window prunes before
    * the join; the fact table is touched once.
    */
  def nationMarketShare(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame, part: DataFrame): DataFrame = {
    val nat = nation.select($"n_nationkey", $"n_name", $"n_regionkey")
    val suppNation = supplier.join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val regionCust = customer
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region.select($"r_regionkey", $"r_name")),
        $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .select($"c_custkey")
    val typedParts = part.filter($"p_type" === "STANDARD").select($"p_partkey")
    lineitem
      .join(broadcast(typedParts), $"l_partkey" === $"p_partkey")
      .join(orders.select($"o_orderkey", $"o_custkey", $"o_orderdate")
          .filter($"o_orderdate" >= tsLit(orders, "o_orderdate", "1996-01-01") &&
            $"o_orderdate" < tsLit(orders, "o_orderdate", "1998-01-01")),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(regionCust), $"o_custkey" === $"c_custkey", "left_semi")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("int").as("o_year"))
      .agg(
        dollarsFrom4(sum(money4(when($"supp_nation" === "NATION_3",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(lit(0.0)))))
          .as("nation_revenue"),
        dollarsFrom4(sum(money4($"l_extendedprice" * (lit(1.0) - $"l_discount"))))
          .as("total_revenue"))
      .select($"o_year",
        round($"nation_revenue" / $"total_revenue", 6).as("mkt_share"),
        $"nation_revenue", $"total_revenue")
      .orderBy($"o_year")
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): total
    * revenue from three OR'd brand/size/quantity band conjuncts. The
    * disjunction itself cannot push past the join, but its derivable
    * envelope CAN: the explicit quantity hull lands on the lineitem
    * scan and the size hull on the part scan as pushed filters, so each
    * side prunes before the (broadcast) join and the OR only arbitrates
    * the survivors — the optimization Q19 exists to test.
    */
  def brandBandRevenue(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val bands = Seq(
      ("Brand#3", 1, 10, 5.0, 15.0),
      ("Brand#12", 1, 20, 15.0, 25.0),
      ("Brand#21", 1, 30, 25.0, 35.0))
    val qtyLo = bands.map(_._4).min; val qtyHi = bands.map(_._5).max
    val szLo = bands.map(_._2).min; val szHi = bands.map(_._3).max
    val disjunct = bands.map { case (b, s1, s2, q1, q2) =>
      $"p_brand" === b && $"p_size".between(s1, s2) && $"l_quantity".between(q1, q2)
    }.reduce(_ || _)
    lineitem
      .filter($"l_quantity".between(qtyLo, qtyHi))
      .join(broadcast(
          part.filter($"p_size".between(szLo, szHi))
            .select($"p_partkey", $"p_brand", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .filter(disjunct)
      .agg(dollarsFrom4(
        sum(money4($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("revenue"))
  }

  /** TPC-H Q15 shape (top supplier): the supplier(s) whose windowed
    * revenue equals the maximum — Q15's `revenue0` view becomes a
    * per-supplier aggregate, and the `= (SELECT max(...))` correlation
    * a 1-row broadcast crossJoin (no driver collect). The equality runs
    * on the EXACT cent-boundary revenue (money4 long accumulation), so
    * the max and the match are the same doubles on any engine; genuine
    * ties all surface, in
    * supplier-key order, exactly as Q15 specifies. Supplier is the
    * broadcast dimension; the window prunes the fact scan.
    */
  def topSupplierRevenue(supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .filter($"l_shipdate" >= tsLit(lineitem, "l_shipdate", "1996-01-01") &&
        $"l_shipdate" < tsLit(lineitem, "l_shipdate", "1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(dollarsFrom4(
        sum(money4($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("total_revenue"))
    val mx = rev.agg(max($"total_revenue").as("max_revenue"))
    rev
      .crossJoin(broadcast(mx))
      .filter($"total_revenue" === $"max_revenue")
      .join(broadcast(supplier.select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  /** TPC-H Q6 shape (forecast revenue change): the discount mass that a
    * policy change would reclaim — one conjunctive filter (ship-date
    * window × discount band × small quantity), one global sum, no join
    * at all. The whole query is a single pushdown-eligible scan; its
    * point at 100 TB is that every conjunct lands in PushedFilters and
    * the aggregate is map-side partial — spec-asserted.
    */
  def forecastRevenueDelta(lineitem: DataFrame): DataFrame =
    lineitem
      .filter($"l_shipdate" >= tsLit(lineitem, "l_shipdate", "1996-01-01") &&
        $"l_shipdate" < tsLit(lineitem, "l_shipdate", "1997-01-01") &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24.0)
      .agg(dollarsFrom4(sum(money4($"l_extendedprice" * $"l_discount")))
          .as("revenue_delta"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q2 shape (minimum-cost supplier, q211): for parts of one
    * size and type, the region suppliers whose supply cost EQUALS the
    * part's regional minimum — Q2's correlated `= (SELECT min(...))`
    * becomes a per-part min aggregate joined back to the same filtered
    * partsupp slice. Runs on the DERIVED partsupp
    * (`Tables.partsuppDerived` — the oracle re-derives it in a CTE, so
    * the gate checks derivation + query together).
    *
    * Scale shape: the target-part key set and the region supplier
    * frame are dimension-sized and broadcast to SEMI-prune partsupp
    * before anything shuffles; the min frame is target-part-bounded.
    * Cost equality is exact (integer cents). The ORDER BY key set
    * (acctbal desc, nation, supplier, part) is a total order over the
    * output grain, so the LIMIT is deterministic on any engine.
    */
  def minCostSupplier(part: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame,
      partsupp: DataFrame): DataFrame = {
    val size = 15
    val regSupp = supplier
      .join(broadcast(nation.select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region.filter($"r_name" === "EUROPE").select($"r_regionkey")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val targetParts = part.filter($"p_size" === size && $"p_type" === "STANDARD")
      .select($"p_partkey", $"p_name")
    val regPs = partsupp
      .join(broadcast(targetParts.select($"p_partkey")),
        $"ps_partkey" === $"p_partkey", "left_semi")
      .join(broadcast(regSupp.select($"s_suppkey")),
        $"ps_suppkey" === $"s_suppkey", "left_semi")
      .select($"ps_partkey", $"ps_suppkey", $"ps_supplycost_c")
    val minCost = regPs.groupBy($"ps_partkey").agg(min($"ps_supplycost_c").as("min_c"))
    regPs.join(broadcast(minCost), Seq("ps_partkey"))
      .filter($"ps_supplycost_c" === $"min_c")
      .join(broadcast(targetParts), $"ps_partkey" === $"p_partkey")
      .join(broadcast(regSupp), $"ps_suppkey" === $"s_suppkey")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_name",
        ($"ps_supplycost_c" / 100.0).as("supplycost"))
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  /** TPC-H Q9 shape (product-type profit, q212): per supplier nation
    * and order year, the profit on one part family — revenue minus
    * supply cost, line by line. The classic 6-table star-with-two-facts
    * join: lineitem⋈partsupp is the one genuine fact-fact shuffle (both
    * sides SEMI-pruned to the part family by a broadcast key set before
    * shuffling, and AQE re-plans if the pruned sides fit broadcast);
    * orders joins on orderkey for the year; part/supplier/nation are
    * broadcast dimension chains.
    *
    * Money discipline: revenue quantizes per line to 1e-4 units
    * (money4), cost is exact integer cents × quantity × 100 — the
    * whole profit sum is long arithmetic, order-free, with one
    * dollarsFrom4 boundary per group (sign-symmetric across engines:
    * both evaluate the same floor((x+50)/100)).
    */
  def productTypeProfit(part: DataFrame, supplier: DataFrame, nation: DataFrame, orders: DataFrame,
      lineitem: DataFrame, partsupp: DataFrame): DataFrame = {
    val famParts = part.filter($"p_name".contains("bolt")).select($"p_partkey")
    val suppNat = supplier
      .join(broadcast(nation.select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    lineitem
      .join(broadcast(famParts), $"l_partkey" === $"p_partkey", "left_semi")
      .join(partsupp.join(broadcast(famParts), $"ps_partkey" === $"p_partkey", "left_semi"),
        $"l_partkey" === $"ps_partkey" && $"l_suppkey" === $"ps_suppkey")
      .join(orders.select($"o_orderkey", $"o_orderdate"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(suppNat), $"l_suppkey" === $"s_suppkey")
      .select($"n_name".as("nation"),
        year($"o_orderdate").cast("int").as("o_year"),
        (money4($"l_extendedprice" * (lit(1.0) - $"l_discount")) -
          $"ps_supplycost_c" * lit(100L) * $"l_quantity".cast("long")).as("amount4"))
      .groupBy($"nation", $"o_year")
      .agg(dollarsFrom4(sum($"amount4")).as("profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** TPC-H Q11 shape (important stock, q213): parts whose stock value
    * held by one REGION's suppliers exceeds 1.5× the mean part value —
    * Q11's `> (SELECT sum(...) * fraction)` scalar correlation as a
    * 1-row broadcast crossJoin. The classic fixed `fraction` is
    * scale-DEPENDENT (TPC-H itself scales it as 0.0001/SF — a constant
    * cut selects everything at small SF and nothing at large); the
    * mean-relative form keeps the query meaningful at every corpus
    * size. The threshold compare is exact integer arithmetic
    * (value·n·2 > 3·total); long range holds to ~10^5 parts × ~10^13
    * cents-value — beyond that the compare moves to decimal, and ANSI
    * overflows loudly rather than corrupting the cut.
    *
    * Scale shape: region suppliers broadcast-SEMI-prune partsupp, one
    * per-part aggregate (map-side combined), a 1-row total, and the
    * filter — nothing driver-side, nothing all-pairs.
    */
  def importantStock(supplier: DataFrame, nation: DataFrame, region: DataFrame,
      partsupp: DataFrame): DataFrame = {
    val regSupp = supplier
      .join(broadcast(nation.select($"n_nationkey", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region.filter($"r_name" === "EUROPE").select($"r_regionkey")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey")
    val perPart = partsupp
      .join(broadcast(regSupp), $"ps_suppkey" === $"s_suppkey", "left_semi")
      .select($"ps_partkey", ($"ps_supplycost_c" * $"ps_availqty").as("v_c"))
      .groupBy($"ps_partkey")
      .agg(sum($"v_c").as("value_c"))
    val tot = perPart.agg(sum($"value_c").as("total_c"), count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(tot))
      .filter($"value_c" * $"n_parts" * lit(2L) > lit(3L) * $"total_c")
      .select($"ps_partkey", ($"value_c" / 100.0).as("stock_value"))
      .orderBy($"stock_value".desc, $"ps_partkey")
  }

}
