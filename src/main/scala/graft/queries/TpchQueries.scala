package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The remaining classic TPC-H query shapes (SURVEY §2b rows 23g–23t),
  * adapted to this star schema (no partsupp / shipmode / commitdate /
  * phone columns — each adaptation keeps the shape that makes the
  * query a benchmark classic: the outer-join distribution of Q13, the
  * EXISTS decorrelation of Q4, the correlated-min of Q2, the global
  * scalar threshold of Q11/Q22, the disjunct pushdown of Q19, …).
  *
  * Shared conventions (same as [[OlapQueries]]):
  *  - money is EXACT integer fixed point until the final projection —
  *    revenue in int64 ten-thousandths (price-cents × (100 −
  *    discount-cents)) so every comparison/threshold/argmax the engines
  *    must agree on is integer arithmetic;
  *  - ratios are ONE IEEE division of exact integers (deterministic —
  *    same operands → same double in every engine), emitted through the
  *    `floor(x·10⁶ + 0.5)/10⁶` tie rule (identical doubles → identical
  *    output, no round-half boundary to disagree on);
  *  - group-bounded outputs use `sortSmall`; SF-proportional outputs
  *    keep the scalable range `orderBy`.
  */
object TpchQueries {

  import graft.operators.SortUtil.sortSmall

  /** Exact revenue in int64 ten-thousandths of a dollar. */
  private def revE4: Column =
    expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
      (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))

  /** The oracle-side spelling of [[revE4]]. */
  private val RevE4Sql =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** Deterministic 6-decimal emit: identical doubles → identical
    * output in both engines (no round-half tie rule to disagree on). */
  private def floor6(c: Column): Column =
    floor(c * 1000000.0d + 0.5d) / 1000000.0d

  private val Floor6SqlA = "floor(("
  private val Floor6SqlB = ") * 1000000.0 + 0.5) / 1000000.0"
  private def floor6Sql(e: String): String = Floor6SqlA + e + Floor6SqlB

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---------------------------------------------------------------
  // Q13 — customer order-count distribution
  // ---------------------------------------------------------------

  /** TPC-H Q13 shape (customer distribution): how many customers
    * placed 0, 1, 2, … orders — the one classic that NEEDS an outer
    * join (zero-order customers exist only on the left side). Orders
    * fold to per-customer counts FIRST (map-side combinable), so the
    * left join is customer-row × one-count — never customer × orders.
    * Output is histogram-bounded (≤ max order count rows). */
  def qCustdist(s: SparkSession, d: String): DataFrame = {
    val oc = Tables(s, d, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    Tables(s, d, "customer")
      .select("c_custkey")
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .transform(sortSmall(_, col("custdist").desc, col("c_count").desc))
  }

  // ---------------------------------------------------------------
  // Q10 — returned-item revenue (top customers)
  // ---------------------------------------------------------------

  /** Order-date window for [[qReturnedRevenue]] (one quarter). */
  val ReturnedFrom = "1995-10-01"
  val ReturnedUntil = "1996-01-01"

  /** TPC-H Q10 shape (returned-item revenue): the top-20 customers by
    * revenue lost to returns in one quarter. The quarter filter lands
    * on the orders scan and the R-flag filter on the lineitem scan
    * BEFORE the fact join; the top-20 cut happens on the exact-int
    * revenue (custkey tiebreak) while the row is still narrow — the
    * customer/nation dimension join runs on 20 rows, not on every
    * customer. */
  def qReturnedRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem").filter(col("l_returnflag") === "R")
    val ord = Tables(s, d, "orders")
      .filter(
        col("o_orderdate") >= lit(ReturnedFrom).cast("timestamp") &&
          col("o_orderdate") < lit(ReturnedUntil).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(revE4).as("rev_e4"))
      .orderBy(col("rev_e4").desc, col("o_custkey"))
      .limit(20)
      .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("n_name"),
        (col("rev_e4").cast("double") / 10000.0d).as("revenue"),
        col("c_acctbal"))
      .transform(sortSmall(_, col("revenue").desc, col("c_custkey")))
  }

  // ---------------------------------------------------------------
  // Q7 — bilateral nation trade volume
  // ---------------------------------------------------------------

  val TradeNationA = "NATION_1"
  val TradeNationB = "NATION_2"

  /** TPC-H Q7 shape (volume shipping between two nations): revenue by
    * (supplier nation, customer nation, ship year) for one nation pair
    * in BOTH directions. The two-nation filter is applied to the
    * supplier and customer DIMENSIONS before they broadcast — the fact
    * scan drops to the 2/|nations| supplier slice at the first join —
    * and only the cross-pair disjunct (A→B or B→A) runs post-join. */
  def qNationTrade(s: SparkSession, d: String): DataFrame = {
    val nations = Seq(TradeNationA, TradeNationB)
    val sup = broadcast(
      Tables(s, d, "supplier")
        .join(
          Tables(s, d, "nation").filter(col("n_name").isin(nations: _*)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val cust = broadcast(
      Tables(s, d, "customer")
        .join(
          Tables(s, d, "nation").filter(col("n_name").isin(nations: _*)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
    Tables(s, d, "lineitem")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(
        Tables(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === TradeNationA && col("cust_nation") === TradeNationB) ||
          (col("supp_nation") === TradeNationB && col("cust_nation") === TradeNationA))
      .groupBy(
        col("supp_nation"),
        col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg((sum(revE4).cast("double") / 10000.0d).as("revenue"))
      .transform(
        sortSmall(_, col("supp_nation"), col("cust_nation"), col("l_year")))
  }

  // ---------------------------------------------------------------
  // Q8 — national market share in a region
  // ---------------------------------------------------------------

  val MarketRegion = "ASIA"
  val MarketNation = "NATION_3"

  /** TPC-H Q8 shape (national market share): per order year, the share
    * of region-ASIA customers' revenue that [[MarketNation]]'s
    * suppliers captured. Share = one IEEE division of two exact int64
    * revenue sums per year (the conditional sum and the total come out
    * of ONE aggregate — no second pass over the fact table). */
  def qMarketShare(s: SparkSession, d: String): DataFrame = {
    val regionNations = broadcast(
      Tables(s, d, "nation")
        .join(
          Tables(s, d, "region").filter(col("r_name") === MarketRegion),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("rn_key")))
    val cust = broadcast(
      Tables(s, d, "customer")
        .join(regionNations, col("c_nationkey") === col("rn_key"))
        .select("c_custkey"))
    val sup = broadcast(
      Tables(s, d, "supplier")
        .join(Tables(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    Tables(s, d, "lineitem")
      .join(
        Tables(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === MarketNation, revE4).otherwise(0L))
          .as("nation_e4"),
        sum(revE4).as("total_e4"))
      .select(
        col("o_year"),
        floor6(col("nation_e4").cast("double") / col("total_e4").cast("double"))
          .as("mkt_share"),
        (col("total_e4").cast("double") / 10000.0d).as("total_revenue"))
      .transform(sortSmall(_, col("o_year")))
  }

  // ---------------------------------------------------------------
  // Q9 — product-line profit by supplier nation and year
  // ---------------------------------------------------------------

  /** Cost fraction of retail price standing in for ps_supplycost
    * (this schema has no partsupp): cost = 60% of p_retailprice. */
  val CostPctOfRetail = 60L

  /** TPC-H Q9 shape (product-type profit): profit = revenue −
    * quantity × unit cost, by supplier nation and order year. Profit
    * stays exact int64 ten-thousandths (both terms are integer
    * products — quantities in this schema are integral). part and
    * supplier broadcast; the only fact shuffle is lineitem⋈orders on
    * the order key, then the small (nation, year) aggregate. */
  def qProfit(s: SparkSession, d: String): DataFrame = {
    val amountE4 = revE4 -
      lit(CostPctOfRetail) *
      expr("CAST(round(p_retailprice * 100) AS BIGINT)") *
      expr("CAST(round(l_quantity) AS BIGINT)")
    val sup = broadcast(
      Tables(s, d, "supplier")
        .join(Tables(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
    Tables(s, d, "lineitem")
      .join(
        broadcast(Tables(s, d, "part").select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(
        Tables(s, d, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(amountE4).cast("double") / 10000.0d).as("sum_profit"))
      .transform(sortSmall(_, col("nation"), col("o_year").desc))
  }

  // ---------------------------------------------------------------
  // Q14 — promotion revenue share
  // ---------------------------------------------------------------

  val PromoFrom = "1995-09-01"
  val PromoUntil = "1995-10-01"

  /** TPC-H Q14 shape (promotion effect): the percent of one ship
    * month's revenue that came from PROMO-type parts. One conditional
    * aggregate over the month slice; the share is a single IEEE
    * (promo·100)/total on exact int64 sums. */
  def qPromoShare(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .filter(
        col("l_shipdate") >= lit(PromoFrom).cast("timestamp") &&
          col("l_shipdate") < lit(PromoUntil).cast("timestamp"))
      .join(
        broadcast(Tables(s, d, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revE4).otherwise(0L)).as("promo_e4"),
        sum(revE4).as("total_e4"))
      .select(
        floor6(
          col("promo_e4").cast("double") * 100.0d /
            col("total_e4").cast("double")).as("promo_share_pct"),
        (col("promo_e4").cast("double") / 10000.0d).as("promo_revenue"),
        (col("total_e4").cast("double") / 10000.0d).as("total_revenue"))

  // ---------------------------------------------------------------
  // Q4 — order-priority check (EXISTS)
  // ---------------------------------------------------------------

  val PriorityFrom = "1996-07-01"
  val PriorityUntil = "1996-10-01"

  /** Ship-lag that counts as late (no commit/receipt dates in this
    * schema — shared definition with [[OlapQueries.LateAfterDays]]). */
  val PriorityLateDays = 90

  /** TPC-H Q4 shape (order-priority check): orders in one quarter with
    * at least one late line, counted by priority — the canonical
    * correlated EXISTS, decorrelated to a LEFT SEMI join whose
    * condition spans both tables (shipdate > orderdate + 90d). The
    * quarter filter prunes the orders scan before the semi join;
    * output is priority-bounded (5 rows). */
  def qPriorityExists(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .filter(
        col("o_orderdate") >= lit(PriorityFrom).cast("timestamp") &&
          col("o_orderdate") < lit(PriorityUntil).cast("timestamp"))
      .join(
        Tables(s, d, "lineitem").select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $PriorityLateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .transform(sortSmall(_, col("o_orderpriority")))

  // ---------------------------------------------------------------
  // Q18 — large-volume orders
  // ---------------------------------------------------------------

  val LargeOrderQty = 300L

  /** TPC-H Q18 shape (large-volume customers): orders whose total
    * quantity clears [[LargeOrderQty]]. The HAVING cut runs on the
    * per-order quantity aggregate (map-side combinable, exact int64)
    * BEFORE any dimension join — the orders/customer joins see only
    * the ~0.1% of orders that survive. Output is SF-proportional, so
    * the head keeps the scalable range sort. */
  def qLargeOrders(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("total_qty"))
      .filter(col("total_qty") >= LargeOrderQty)
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(
        broadcast(Tables(s, d, "customer").select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_orderkey"),
        Tables.tsUsOf(col("o_orderdate")).as("o_orderdate_us"),
        col("o_totalprice"),
        col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))

  // ---------------------------------------------------------------
  // Q19 — disjunctive predicate revenue
  // ---------------------------------------------------------------

  /** TPC-H Q19 shape (discounted revenue under a three-branch OR of
    * (brand, size range, quantity range) predicates): the classic
    * disjunct-pushdown test. Brands are picked inside the generator's
    * Brand#1..#25 domain (TPC-H's Brand#34 would leave the third
    * disjunct dead on this data) so all three branches are live. The union-superset predicates are applied
    * explicitly to EACH scan (part: the three brands + max size range;
    * lineitem: the overall quantity range) so both sides prune before
    * the broadcast join, and only the exact three-way disjunct runs on
    * joined rows. */
  def qDisjunctRevenue(s: SparkSession, d: String): DataFrame = {
    val part = Tables(s, d, "part")
      .filter(
        col("p_brand").isin("Brand#12", "Brand#23", "Brand#24") &&
          col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val branch =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
    Tables(s, d, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(
        count(lit(1)).as("n_lines"),
        (sum(revE4).cast("double") / 10000.0d).as("revenue"))
  }

  // ---------------------------------------------------------------
  // Q2 — minimum-cost supplier per part
  // ---------------------------------------------------------------

  val MinCostPartSize = 15

  /** TPC-H Q2 shape (minimum-cost supplier): per size-15 part, the
    * supplier(s) offering the lowest observed unit price — the classic
    * correlated `= (SELECT min ...)`, decorrelated to one window-min
    * over the (part, supplier) offer aggregate. The part filter joins
    * BEFORE the offer aggregate so only the 2% slice shuffles. Unit
    * price is one IEEE division (same operands in both engines); ties
    * on the min are kept, like the reference query. */
  def qMinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val parts = broadcast(
      Tables(s, d, "part")
        .filter(col("p_size") === MinCostPartSize)
        .select("p_partkey", "p_name"))
    val offers = Tables(s, d, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_name", "l_suppkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val w = Window.partitionBy("p_partkey")
    offers
      .withColumn("mn", min("unit_cost").over(w))
      .filter(col("unit_cost") === col("mn"))
      .join(
        broadcast(Tables(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(
        col("p_partkey"),
        col("p_name"),
        col("s_suppkey"),
        col("s_name"),
        floor6(col("unit_cost")).as("unit_cost"))
      .orderBy("p_partkey", "s_suppkey")
  }

  // ---------------------------------------------------------------
  // Q11 — important parts (global value threshold)
  // ---------------------------------------------------------------

  /** A part is "important" when its value exceeds
    * [[ImportantNum]]/[[ImportantDen]] × the AVERAGE part's value —
    * TPC-H Q11's FRACTION rewritten relative to part count so the
    * selectivity is scale-factor-stable (a fixed global fraction
    * selects nothing once |parts| outgrows it). */
  val ImportantNum = 13L
  val ImportantDen = 10L

  /** TPC-H Q11 shape (important stock): parts whose lineitem value
    * exceeds 1.3× the average part's value — the global
    * scalar-subquery threshold. One per-part aggregate; the one-row
    * (total, count) broadcasts back; the threshold cross-multiplies in
    * decimal (value·|parts| at 100 TB would overflow int64). Output is
    * SF-proportional → range sort. */
  def qImportantParts(s: SparkSession, d: String): DataFrame = {
    val v = Tables(s, d, "lineitem")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(revE4).as("value_e4"))
    val tot = v.agg(
      sum(dec(col("value_e4"))).as("tot"),
      count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(tot))
      .filter(
        dec(col("value_e4")) * col("n_parts") * lit(ImportantDen) >
          col("tot") * lit(ImportantNum))
      .select(
        col("p_partkey"),
        (col("value_e4").cast("double") / 10000.0d).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  // ---------------------------------------------------------------
  // Q22 — idle wealthy customers
  // ---------------------------------------------------------------

  val IdleSince = "2000-01-01"

  /** TPC-H Q22 shape (global-average threshold + anti join): customers
    * with above-average positive balance and NO orders since
    * [[IdleSince]], rolled up per nation. The average is never
    * materialized as a float: the compare cross-multiplies exact
    * integers (balance·n > Σbalances). The anti join's right side is
    * the date-pruned orders slice. */
  def qIdleRich(s: SparkSession, d: String): DataFrame = {
    val balE2 = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    val pos = Tables(s, d, "customer")
      .filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(balE2).as("sum_pos"))
    val recent = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= lit(IdleSince).cast("timestamp"))
      .select("o_custkey")
    Tables(s, d, "customer")
      .crossJoin(broadcast(pos))
      .filter(balE2 * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(
        count(lit(1)).as("numcust"),
        (sum(balE2).cast("double") / 100.0d).as("totacctbal"))
      .transform(sortSmall(_, col("nationkey")))
  }

  // ---------------------------------------------------------------
  // Q20 — dominant suppliers
  // ---------------------------------------------------------------

  /** "Dominant" = shipped more than this multiple of the average
    * per-supplier share of a part's volume. */
  val DominantMult = 3L

  /** TPC-H Q20 shape (suppliers with excess share of a part): per
    * supplier, the number of multi-supplier parts where it shipped
    * over [[DominantMult]]× the average supplier's share — the
    * correlated per-part-total compare, decorrelated to one
    * (part, supplier) aggregate + one part-partition window (a single
    * shuffle). The compare q·n_supp > 3·total is exact int64. Output
    * is supplier-bounded. */
  def qDominantSupplier(s: SparkSession, d: String): DataFrame = {
    val ps = Tables(s, d, "lineitem")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
    val w = Window.partitionBy("l_partkey")
    ps.withColumn("tq", sum("qty").over(w))
      .withColumn("ns", count(lit(1)).over(w))
      .filter(col("ns") >= 2 && col("qty") * col("ns") > lit(DominantMult) * col("tq"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_parts"), sum("qty").as("qty_shipped"))
      .join(
        broadcast(Tables(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "n_parts", "qty_shipped")
      .transform(sortSmall(_, col("n_parts").desc, col("s_suppkey")))
  }

  // ---------------------------------------------------------------
  // Q12 — late lines by priority class
  // ---------------------------------------------------------------

  val LateLinesYear = 1997

  /** TPC-H Q12 shape (shipping-delay priority check): among lines
    * shipped late (> 90 days after order) in one year, the
    * high-priority vs low-priority counts per line status — the
    * canonical CASE-inside-SUM pivot. One fact join, integer counts,
    * status-bounded output. */
  def qLateLines(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables(s, d, "lineitem")
      .filter(year(col("l_shipdate")) === LateLinesYear)
      .join(
        Tables(s, d, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $PriorityLateDays DAYS"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .transform(sortSmall(_, col("l_linestatus")))
  }

  // ---------------------------------------------------------------
  // Customer-tenure distribution
  // ---------------------------------------------------------------

  /** Customer lifespan per market segment: the distribution of
    * (last order − first order) in days, plus the one-timer share —
    * the tenure panel behind every retention target. One (customer)
    * aggregate produces the per-customer span; the segment rollup uses
    * the suite's exact interpolated percentiles (both engines run the
    * same lo + (hi−lo)·frac over sorted doubles) and integer-exact
    * counts with a single IEEE division for the share. */
  def qCustomerLifespan(s: SparkSession, d: String): DataFrame = {
    val per = Tables(s, d, "orders")
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        expr(s"(unix_micros(CAST(max(o_orderdate) AS TIMESTAMP)) - unix_micros(CAST(min(o_orderdate) AS TIMESTAMP))) DIV ${DayUs}")
          .as("span_days"))
      .join(
        broadcast(Tables(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    per
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") === 1L, 1L).otherwise(0L)).as("one_timers"),
        round(expr("percentile(span_days, 0.25)"), 4).as("span_p25"),
        round(expr("percentile(span_days, 0.5)"), 4).as("span_p50"),
        round(expr("percentile(span_days, 0.75)"), 4).as("span_p75"))
      .select(
        col("c_mktsegment"),
        col("n_customers"),
        col("one_timers"),
        floor6(
          col("one_timers").cast("double") / col("n_customers").cast("double"))
          .as("one_timer_share"),
        col("span_p25"),
        col("span_p50"),
        col("span_p75"))
      .transform(sortSmall(_, col("c_mktsegment")))
  }

  private val DayUs = 86400000000L

  // ---------------------------------------------------------------
  // Discount elasticity per brand
  // ---------------------------------------------------------------

  /** Discount→quantity response per brand ("elasticity" proxy): the
    * least-squares slope of quantity on discount percentage points,
    * from EXACT integer sufficient statistics (Σd, Σq, Σdq, Σd² over
    * discount-e2 × integral quantities, widened to decimal where a
    * product of corpus-scale sums would wrap) — one fact aggregate
    * with the part dimension broadcast, one scalar formula per brand. */
  def qElasticity(s: SparkSession, d: String): DataFrame = {
    val dE2 = expr("CAST(round(l_discount * 100) AS BIGINT)")
    val qty = expr("CAST(round(l_quantity) AS BIGINT)")
    Tables(s, d, "lineitem")
      .join(
        broadcast(Tables(s, d, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n"),
        sum(dE2).as("sd"),
        sum(qty).as("sq"),
        sum(dec(dE2) * qty).as("sdq"),
        sum(dec(dE2) * dE2).as("sdd"))
      .selectExpr(
        "p_brand",
        "n",
        "CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty",
        // slope in units-per-discount-point: (nΣdq − ΣdΣq)/(nΣd² − (Σd)²)
        "(CAST(n AS DOUBLE) * CAST(sdq AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sq AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) AS slope")
      .select(
        col("p_brand"),
        col("n"),
        floor6(col("mean_qty")).as("mean_qty"),
        floor6(col("slope")).as("qty_per_discount_pt"))
      .transform(sortSmall(_, col("p_brand")))
  }

  // ---------------------------------------------------------------
  // Q6 — forecasting revenue change (the scan-pushdown classic)
  // ---------------------------------------------------------------

  val FilteredFrom = "1996-01-01"
  val FilteredUntil = "1997-01-01"
  val FilteredDiscLoCents = 5L
  val FilteredDiscHiCents = 7L
  val FilteredMaxQty = 24

  /** TPC-H Q6 shape (forecasting revenue change): revenue that would
    * vanish if discounts in a band were dropped for a year — the
    * canonical single-table scan whose ENTIRE predicate (date range +
    * discount band + quantity cap) must reach the parquet scan as
    * pushed filters; the aggregate itself is one exact int64 sum of
    * price-cents × discount-cents (discount compared as exact cents,
    * never a float band). The benchmark's pure scan-throughput probe:
    * no join, no shuffle beyond the final 1-row fold. */
  def qFilteredRevenue(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .filter(
        col("l_shipdate") >= lit(FilteredFrom).cast("timestamp") &&
          col("l_shipdate") < lit(FilteredUntil).cast("timestamp") &&
          expr("CAST(round(l_discount * 100) AS BIGINT)")
            .between(FilteredDiscLoCents, FilteredDiscHiCents) &&
          col("l_quantity") < FilteredMaxQty)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
            expr("CAST(round(l_discount * 100) AS BIGINT)")).as("rev_e4"))
      .select(
        col("n_lines"),
        (col("rev_e4").cast("double") / 10000.0d).as("revenue"))

  // ---------------------------------------------------------------
  // Q16 — parts/supplier relationship (NOT-IN anti join)
  // ---------------------------------------------------------------

  val SptExcludeBrand = "Brand#13"
  val SptExcludeType = "PROMO"
  val SptSizes = Seq(1, 4, 7, 10)

  /** TPC-H Q16 shape (parts/supplier relationship): how many distinct
    * suppliers can provide parts of each surviving (brand, type, size)
    * — the classic NOT-IN subquery, decorrelated to a LEFT ANTI join
    * against the excluded supplier set (no s_comment in this schema:
    * the "complaints" exclusion adapts to suppliers in arrears,
    * s_acctbal < 0). The part-supplier relation is the distinct
    * (l_partkey, l_suppkey) projection of lineitem (no partsupp table
    * — the same proxy Q2/Q9/Q11/Q20 document); the excluded-supplier
    * and filtered-part sides both broadcast. */
  def qSupplierPartTypes(s: SparkSession, d: String): DataFrame = {
    val excluded = Tables(s, d, "supplier")
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val parts = Tables(s, d, "part")
      .filter(
        col("p_brand") =!= SptExcludeBrand &&
          col("p_type") =!= SptExcludeType &&
          col("p_size").isin(SptSizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    // r15 (guide §2.3/§3): the old shape shuffled EVERY distinct
    // (l_partkey, l_suppkey) pair before the selective part filter —
    // the broadcast dim join drops ~92% of lineitem rows (4-of-50
    // sizes + brand/type exclusions), so it now runs map-side FIRST
    // and the only exchange is the count_distinct aggregate, whose
    // partial phase dedups (group, suppkey) pairs map-side (the
    // standalone pre-distinct was a second full-width shuffle of the
    // same information). Same output: the part join is 1:1 on
    // p_partkey and count_distinct ignores multiplicity.
    Tables(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(
        broadcast(excluded),
        col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .transform(
        sortSmall(
          _,
          col("supplier_cnt").desc,
          col("p_brand"),
          col("p_type"),
          col("p_size")))
  }

  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_custdist" -> qCustdist _,
    "q_returned_revenue" -> qReturnedRevenue _,
    "q_nation_trade" -> qNationTrade _,
    "q_market_share" -> qMarketShare _,
    "q_profit" -> qProfit _,
    "q_promo_share" -> qPromoShare _,
    "q_priority_exists" -> qPriorityExists _,
    "q_large_orders" -> qLargeOrders _,
    "q_disjunct_revenue" -> qDisjunctRevenue _,
    "q_min_cost_supplier" -> qMinCostSupplier _,
    "q_important_parts" -> qImportantParts _,
    "q_idle_rich" -> qIdleRich _,
    "q_dominant_supplier" -> qDominantSupplier _,
    "q_late_lines" -> qLateLines _,
    "q_customer_lifespan" -> qCustomerLifespan _,
    "q_elasticity" -> qElasticity _,
    "q_filtered_revenue" -> qFilteredRevenue _,
    "q_supplier_part_types" -> qSupplierPartTypes _
  )

  val oracles: Map[String, String] = Map(
    "q_custdist" ->
      """WITH oc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1)
        |SELECT coalesce(n, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_returned_revenue" ->
      s"""WITH r AS (
         |  SELECT o_custkey, CAST(sum($RevE4Sql) AS BIGINT) AS rev_e4
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= TIMESTAMP '$ReturnedFrom 00:00:00'
         |    AND o_orderdate < TIMESTAMP '$ReturnedUntil 00:00:00'
         |  GROUP BY 1 ORDER BY rev_e4 DESC, o_custkey LIMIT 20)
         |SELECT c_custkey, c_name, n_name,
         |       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue, c_acctbal
         |FROM r JOIN customer ON o_custkey = c_custkey
         |       JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey""".stripMargin,
    "q_nation_trade" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       year(l_shipdate) AS l_year,
         |       CAST(CAST(sum($RevE4Sql) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = '$TradeNationA' AND n2.n_name = '$TradeNationB')
         |   OR (n1.n_name = '$TradeNationB' AND n2.n_name = '$TradeNationA')
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_market_share" ->
      s"""WITH f AS (
         |  SELECT year(o_orderdate) AS o_year,
         |         CAST(sum(CASE WHEN sn.n_name = '$MarketNation' THEN $RevE4Sql ELSE 0 END) AS BIGINT) AS nation_e4,
         |         CAST(sum($RevE4Sql) AS BIGINT) AS total_e4
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN region ON cn.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  WHERE r_name = '$MarketRegion'
         |  GROUP BY 1)
         |SELECT o_year,
         |       ${floor6Sql("CAST(nation_e4 AS DOUBLE) / CAST(total_e4 AS DOUBLE)")} AS mkt_share,
         |       CAST(total_e4 AS DOUBLE) / 10000.0 AS total_revenue
         |FROM f ORDER BY o_year""".stripMargin,
    "q_profit" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |       CAST(CAST(sum($RevE4Sql
         |         - $CostPctOfRetail * CAST(round(p_retailprice * 100) AS BIGINT)
         |           * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0 AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin,
    "q_promo_share" ->
      s"""WITH f AS (
         |  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $RevE4Sql ELSE 0 END) AS BIGINT) AS promo_e4,
         |         CAST(sum($RevE4Sql) AS BIGINT) AS total_e4
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '$PromoFrom 00:00:00'
         |    AND l_shipdate < TIMESTAMP '$PromoUntil 00:00:00')
         |SELECT ${floor6Sql("CAST(promo_e4 AS DOUBLE) * 100.0 / CAST(total_e4 AS DOUBLE)")} AS promo_share_pct,
         |       CAST(promo_e4 AS DOUBLE) / 10000.0 AS promo_revenue,
         |       CAST(total_e4 AS DOUBLE) / 10000.0 AS total_revenue
         |FROM f""".stripMargin,
    "q_priority_exists" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '$PriorityFrom 00:00:00'
         |  AND o_orderdate < TIMESTAMP '$PriorityUntil 00:00:00'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem
         |    WHERE l_orderkey = o_orderkey
         |      AND l_shipdate > o_orderdate + INTERVAL $PriorityLateDays DAY)
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) >= $LargeOrderQty)
         |SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
         |       o_totalprice, total_qty
         |FROM big
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q_disjunct_revenue" ->
      s"""SELECT count(*) AS n_lines,
         |       CAST(CAST(sum($RevE4Sql) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_min_cost_supplier" ->
      s"""WITH offers AS (
         |  SELECT p_partkey, p_name, l_suppkey,
         |         min(l_extendedprice / l_quantity) AS unit_cost
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_size = $MinCostPartSize
         |  GROUP BY 1, 2, 3),
         |m AS (
         |  SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS mn FROM offers)
         |SELECT p_partkey, p_name, s_suppkey, s_name,
         |       ${floor6Sql("unit_cost")} AS unit_cost
         |FROM m JOIN supplier ON l_suppkey = s_suppkey
         |WHERE unit_cost = mn
         |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q_important_parts" ->
      s"""WITH v AS (
         |  SELECT l_partkey AS p_partkey,
         |         CAST(sum($RevE4Sql) AS BIGINT) AS value_e4
         |  FROM lineitem GROUP BY 1)
         |SELECT p_partkey, CAST(value_e4 AS DOUBLE) / 10000.0 AS value
         |FROM v
         |WHERE value_e4 * (SELECT count(*) FROM v) * $ImportantDen
         |      > (SELECT sum(value_e4) FROM v) * $ImportantNum
         |ORDER BY value DESC, p_partkey""".stripMargin,
    "q_idle_rich" ->
      s"""WITH pos AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pos,
         |         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_pos
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |       count(*) AS numcust,
         |       CAST(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
         |FROM customer, pos
         |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_pos
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey
         |      AND o_orderdate >= TIMESTAMP '$IdleSince 00:00:00')
         |GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "q_dominant_supplier" ->
      s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem GROUP BY 1, 2),
         |w AS (
         |  SELECT *, CAST(sum(qty) OVER (PARTITION BY l_partkey) AS BIGINT) AS tq,
         |         CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS ns
         |  FROM ps)
         |SELECT s_suppkey, s_name, count(*) AS n_parts,
         |       CAST(sum(qty) AS BIGINT) AS qty_shipped
         |FROM w JOIN supplier ON l_suppkey = s_suppkey
         |WHERE ns >= 2 AND qty * ns > $DominantMult * tq
         |GROUP BY 1, 2
         |ORDER BY n_parts DESC, s_suppkey""".stripMargin,
    "q_customer_lifespan" ->
      s"""WITH per AS (
         |  SELECT o_custkey, count(*) AS n_orders,
         |         (epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate))) // 86400000000 AS span_days
         |  FROM orders GROUP BY 1),
         |j AS (
         |  SELECT c_mktsegment, n_orders, span_days
         |  FROM per JOIN customer ON o_custkey = c_custkey)
         |SELECT c_mktsegment, count(*) AS n_customers,
         |       CAST(sum(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS BIGINT) AS one_timers,
         |       ${floor6Sql(
          "CAST(sum(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS one_timer_share,
         |       round(quantile_cont(span_days, 0.25), 4) AS span_p25,
         |       round(quantile_cont(span_days, 0.5), 4) AS span_p50,
         |       round(quantile_cont(span_days, 0.75), 4) AS span_p75
         |FROM j GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_elasticity" ->
      s"""WITH g AS (
         |  SELECT p_brand, count(*) AS n,
         |         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sd,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
         |         sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS sdq,
         |         sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS sdd
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1)
         |SELECT p_brand, n,
         |       ${floor6Sql("CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)")} AS mean_qty,
         |       ${floor6Sql(
          "(CAST(n AS DOUBLE) * CAST(sdq AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sq AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))")} AS qty_per_discount_pt
         |FROM g ORDER BY p_brand""".stripMargin,
    "q_late_lines" ->
      s"""SELECT l_linestatus,
         |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE year(l_shipdate) = $LateLinesYear
         |  AND l_shipdate > o_orderdate + INTERVAL $PriorityLateDays DAY
         |GROUP BY 1 ORDER BY l_linestatus""".stripMargin,
    "q_filtered_revenue" ->
      s"""SELECT count(*) AS n_lines,
         |       CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |                     * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$FilteredFrom 00:00:00'
         |  AND l_shipdate < TIMESTAMP '$FilteredUntil 00:00:00'
         |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN $FilteredDiscLoCents AND $FilteredDiscHiCents
         |  AND l_quantity < $FilteredMaxQty""".stripMargin,
    "q_supplier_part_types" ->
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |SELECT p_brand, p_type, p_size,
         |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ps
         |JOIN part ON p_partkey = l_partkey
         |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad)
         |  AND p_brand <> '$SptExcludeBrand'
         |  AND p_type <> '$SptExcludeType'
         |  AND p_size IN (${SptSizes.mkString(", ")})
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  )
}
