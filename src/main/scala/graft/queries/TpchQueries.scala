package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-shaped analytical queries over the star schema — breadth
  * proof for multi-join + aggregation plans (Q3/Q5/Q10/Q14 shapes,
  * adapted to the driver testdata's columns). Numeric parity via
  * integer cents ([[QueryDef.cents]]); dates are formatted to strings
  * at the output boundary.
  *
  * Plan shapes to note at scale: the fact table (lineitem) is never on
  * a broadcast side; nation/region carry an explicit broadcast hint
  * (fixed 25/5 rows at every scale factor), while customer/supplier/
  * part — which grow linearly with SF — carry NO hint: AQE's size
  * threshold decides at runtime, so the same plan that broadcasts them
  * at sf0.1 shuffle-joins them at 100 TB instead of OOMing the build
  * side. Aggregations are partial before their single shuffle.
  */
object TpchQueries {

  /** SUM of IEEE-exact revenue cents (BIGINT both sides — exact,
    * order-insensitive, oracle-version-independent). */
  private def revenue = sum(QueryDef.cents(
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
  private val revenueSql =
    s"CAST(SUM(${QueryDef.centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)"

  /** TPC-H Q1's pricing summary of lineitem shipped by 1998-09-02, per
    * (returnflag, linestatus): quantity, base-price and discounted-price
    * sums in cents, then `extra`, then count_order — `q1_agg` as is,
    * `tpch_q1_full` with its charge and discount sums. */
  private def pricingSummary(s: SparkSession, dir: String, extra: Column*): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(QueryDef.cents(col("l_quantity"))).as("sum_qty_cents"),
        (Seq(sum(QueryDef.cents(col("l_extendedprice"))).as("sum_base_price_cents"),
          revenue.as("sum_disc_price_cents")) ++ extra :+ count(lit(1)).as("count_order")): _*)

  /** DuckDB twin of [[pricingSummary]], one select line per `extra`. */
  private def pricingSummarySql(extra: String*): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(${QueryDef.centsSql("l_quantity")}) AS BIGINT) AS sum_qty_cents,
       |  CAST(SUM(${QueryDef.centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price_cents,
       |  $revenueSql AS sum_disc_price_cents,
       |${extra.map(e => s"  $e,\n").mkString}  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Q3 shape: shipping-priority — segment-filtered customer ⋈ orders
    // ⋈ lineitem, top-10 open orders by revenue
    QueryDef("tpch_q3",
      (s, dir) => {
        val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(revenue.as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              |  o_orderpriority, $revenueSql AS revenue_cents
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
              |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q5 shape: local-supplier volume — 6-table join, revenue per
    // nation within one region, customer and supplier in the SAME
    // nation (the classic cyclic join condition)
    QueryDef("tpch_q5",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem")
        val sup = Tables(s, dir, "supplier")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup,
            l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(revenue.as("revenue_cents"), count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT n_name, $revenueSql AS revenue_cents, COUNT(*) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |GROUP BY n_name""".stripMargin)),

    // Q10 shape: returned-item losses per customer, top 20
    QueryDef("tpch_q10",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val n = Tables(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(revenue.as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name, $revenueSql AS revenue_cents
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q1-complete: the full pricing-summary report. Extends the
    // flagship q1_agg with the charge term (three chained IEEE
    // multiplies — identical left-assoc shape both sides) and the
    // discount sum; averages are deliberately emitted as SUM + COUNT
    // pairs (engine AVG result types/rounding differ across versions,
    // integer sums never do — the reader divides). One partial agg +
    // one shuffle on the 6-value grouping key; filter pushed to scan.
    QueryDef("tpch_q1_full",
      (s, dir) => pricingSummary(s, dir,
        sum(QueryDef.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
        sum(QueryDef.cents(col("l_discount"))).as("sum_disc_cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(pricingSummarySql(
        s"CAST(SUM(${QueryDef.centsSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}) AS BIGINT) AS sum_charge_cents",
        s"CAST(SUM(${QueryDef.centsSql("l_discount")}) AS BIGINT) AS sum_disc_cents") +
        "\nORDER BY l_returnflag, l_linestatus")),

    // The flagship, and the §2.8 extension: hash aggregation. The
    // reference has no group-by node (SURVEY §2.8) — users push
    // aggregation to source SQL; here it is native: partial (map-side)
    // agg + single shuffle on the 6-value grouping key, filter pushed
    // to the parquet scan.
    QueryDef("q1_agg", (s, dir) => pricingSummary(s, dir), Some(pricingSummarySql())),

    // Q7 shape: volume shipping between two nations — lineitem joined
    // to BOTH its supplier's and its customer's nation, filtered to the
    // unordered pair (N1, N2), revenue per (supp_nation, cust_nation,
    // ship year). The two 25-row nation dims are pre-projected to
    // renamed key/name pairs (no post-join ambiguity) and broadcast
    // (fixed size at every SF); customer/supplier get no hint — AQE
    // decides. The pair filter lands on the broadcast-joined rows
    // before the aggregation shuffle.
    QueryDef("tpch_q7",
      (s, dir) => {
        import QueryDef.cents
        val n1 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("supp_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("cust_nkey"), col("n_name").as("cust_nation"))
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val sup = Tables(s, dir, "supplier")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("supp_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("cust_nkey"))
          .filter(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  year(l_shipdate) AS l_year, $revenueSql AS revenue_cents
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
              |                     AND TIMESTAMP '1997-12-31 00:00:00'
              |GROUP BY 1, 2, 3
              |ORDER BY 1, 2, 3""".stripMargin)),

    // Q8 shape: national market share — the 8-table join. Share of
    // NATION_7 suppliers in the ASIA customer market for PROMO parts,
    // per order year. The share division is NOT performed in-engine:
    // the conditional and total revenue are both exact BIGINT cent
    // sums (a double division would reintroduce engine-version
    // rounding into the contract; the reader divides). Fixed-size
    // nation/region broadcast; SF-scaling part/customer/supplier left
    // to AQE.
    QueryDef("tpch_q8",
      (s, dir) => {
        import QueryDef.cents
        val p = Tables(s, dir, "part").filter(col("p_type") === "PROMO")
        val l = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderdate").between(
            lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
        val c = Tables(s, dir, "customer")
        val sup = Tables(s, dir, "supplier")
        val n1 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("supp_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("cust_nkey"), col("n_regionkey").as("cust_rkey"))
        val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
        val volume = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("supp_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("cust_nkey"))
          .join(broadcast(r), col("cust_rkey") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_7", volume).otherwise(lit(0L)))
              .as("nation_cents"),
            sum(volume).as("total_cents"))
          .orderBy(col("o_year"))
      },
      Some(s"""SELECT year(o_orderdate) AS o_year,
              |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_7'
              |    THEN ${QueryDef.centsSql("l_extendedprice * (1.0 - l_discount)")}
              |    ELSE 0 END) AS BIGINT) AS nation_cents,
              |  $revenueSql AS total_cents
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |JOIN region ON n2.n_regionkey = r_regionkey
              |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
              |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
              |                      AND TIMESTAMP '1996-12-31 00:00:00'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q18 shape: large-volume orders — a HAVING filter on an exact
    // cent-sum aggregate, then fact-side joins to orders/customer.
    // The groupBy(l_orderkey) output (the "big orders" list) is tiny
    // after the HAVING cut; AQE broadcasts it into the orders join at
    // runtime — exactly the plan a literal EXISTS-subquery would
    // decorrelate to. Top-20 by price is TakeOrderedAndProject.
    QueryDef("tpch_q18",
      (s, dir) => {
        import QueryDef.cents
        val big = Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"))
          .filter(col("sum_qty_cents") > 15000L)
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        big.join(o, big("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            cents(col("o_totalprice")).as("totalprice_cents"),
            col("sum_qty_cents"))
          .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, o_orderkey,
              |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              |  ${QueryDef.centsSql("o_totalprice")} AS totalprice_cents,
              |  sum_qty_cents
              |FROM (SELECT l_orderkey,
              |        CAST(SUM(${QueryDef.centsSql("l_quantity")}) AS BIGINT) AS sum_qty_cents
              |      FROM lineitem GROUP BY l_orderkey
              |      HAVING CAST(SUM(${QueryDef.centsSql("l_quantity")}) AS BIGINT) > 15000) big
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |ORDER BY totalprice_cents DESC, o_orderkey LIMIT 20""".stripMargin)),

    // Q22 shape: dormant high-balance customers — global-average scalar
    // threshold + anti join. The scalar avg is a 1-row aggregate
    // broadcast into the filter (no driver round-trip, no second pass);
    // the "no recent orders" condition is a native left_anti against
    // the date-pruned orders scan. Output is aggregated per segment so
    // no raw double crosses the oracle boundary. (The threshold compare
    // itself is double vs double: both engines average the same 2-dec
    // values, and no acctbal sits within ulp of the mean — pinned by
    // the row-count match at both SFs.)
    QueryDef("tpch_q22",
      (s, dir) => {
        import QueryDef.cents
        val c = Tables(s, dir, "customer")
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg(avg(col("c_acctbal")).as("avg_bal"))
        val recent = Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_custs"),
            sum(cents(col("c_acctbal"))).as("sum_acctbal_cents"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_custs,
              |  CAST(SUM(${QueryDef.centsSql("c_acctbal")}) AS BIGINT) AS sum_acctbal_cents
              |FROM customer c
              |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
              |  AND NOT EXISTS (SELECT 1 FROM orders o
              |    WHERE o.o_custkey = c.c_custkey
              |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
              |GROUP BY c_mktsegment""".stripMargin)),

    // Q12 shape: shipping-priority split — one fact ⋈ orders join with
    // the classic conditional-CASE sums (high- vs low-priority line
    // counts per line status) inside one partial-agg'd pass. The date
    // filter prunes the lineitem scan; the only shuffle is the 2-value
    // grouping key.
    QueryDef("tpch_q12",
      (s, dir) => {
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
        val o = Tables(s, dir, "orders")
        val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
            // NULL priority must land in the 1-branch like the oracle's
            // CASE ... THEN 0 ELSE 1 (when(!isHigh,1) would send NULL to
            // the 0-branch: NOT(NULL)=NULL falls through to otherwise)
            sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             |                     AND TIMESTAMP '1996-12-31 00:00:00'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // Q19 shape: disjunctive bracket predicates — three (brand, size
    // range, quantity range) alternatives OR'd across the part ⋈
    // lineitem join. Catalyst extracts the common p_brand IN (...)
    // superset predicate for scan pruning; the full disjunction
    // evaluates post-join. Single-row exact cents total.
    QueryDef("tpch_q19",
      (s, dir) => {
        import QueryDef.cents
        val l = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        val brackets =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)
            && col("l_quantity").between(1.0, 11.0)) ||
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10)
            && col("l_quantity").between(10.0, 20.0)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 15)
            && col("l_quantity").between(20.0, 30.0))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .filter(brackets)
          .agg(
            sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("revenue_cents"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT $revenueSql AS revenue_cents, COUNT(*) AS n_items
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
              |       AND l_quantity BETWEEN 1.0 AND 11.0)
              |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
              |       AND l_quantity BETWEEN 10.0 AND 20.0)
              |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin)),

    // Q6 shape: forecasting-revenue change — the pure scan-speed
    // aggregation: every predicate (date range, discount band, quantity
    // cap) pushes to the parquet scan, no join, no grouping — one
    // partial agg + a 1-row final. The query that proves predicate
    // pushdown carries the whole plan.
    QueryDef("tpch_q6",
      (s, dir) => {
        import QueryDef.cents
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
            && col("l_discount").between(0.05, 0.07)
            && col("l_quantity") < 24.0)
          .agg(
            sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT
              |  CAST(SUM(${QueryDef.centsSql("l_extendedprice * l_discount")}) AS BIGINT) AS revenue_cents,
              |  COUNT(*) AS n_items
              |FROM lineitem
              |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
              |                     AND TIMESTAMP '1996-12-31 00:00:00'
              |  AND l_discount BETWEEN 0.05 AND 0.07
              |  AND l_quantity < 24.0""".stripMargin)),

    // Q15 shape: top supplier(s) — per-supplier revenue aggregate, then
    // keep every supplier tied for the global maximum. The max is a
    // scalar subquery (broadcast of one row), never a global sort: the
    // agg shuffles once on s_suppkey, the max reduces map-side.
    QueryDef("tpch_q15",
      (s, dir) => {
        val rev = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
          .groupBy(col("l_suppkey"))
          .agg(revenue.as("total_revenue_cents"))
        val top = rev.agg(max(col("total_revenue_cents")).as("mx"))
        rev.join(broadcast(top), rev("total_revenue_cents") === top("mx"))
          .join(Tables(s, dir, "supplier"), rev("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
          .orderBy(col("s_suppkey"))
      },
      Some(s"""WITH rev AS (
              |  SELECT l_suppkey, $revenueSql AS total_revenue_cents
              |  FROM lineitem
              |  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
              |                       AND TIMESTAMP '1996-03-31 00:00:00'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_revenue_cents
              |FROM rev JOIN supplier ON l_suppkey = s_suppkey
              |WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)
              |ORDER BY s_suppkey""".stripMargin)),

    // Q17 shape: small-quantity-order revenue — the correlated
    // AGGREGATE subquery (per-part average threshold), exercised
    // through the SQL path so Catalyst's decorrelation rewrites it to
    // an aggregate + join (no per-row subquery execution; cf.
    // sql_correlated for the scalar-count variant). Numeric safety:
    // l_quantity is integer-valued, so the per-part SUM is exact in
    // IEEE doubles regardless of partition order and avg = sum/count
    // is ONE deterministic division on both engines — the only reason
    // a float average may sit in an oracle-gated filter threshold.
    QueryDef("tpch_q17",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q17")
        Tables(s, dir, "part").createOrReplaceTempView("part_q17")
        s.sql(s"""SELECT
                 |  CAST(SUM(${QueryDef.centsSql("l_extendedprice")}) AS BIGINT) AS revenue_cents,
                 |  COUNT(*) AS n_items
                 |FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
                 |WHERE p.p_brand = 'Brand#23'
                 |  AND l.l_quantity < (
                 |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem_q17 l2
                 |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
      },
      Some(s"""SELECT
              |  CAST(SUM(${QueryDef.centsSql("l_extendedprice")}) AS BIGINT) AS revenue_cents,
              |  COUNT(*) AS n_items
              |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
              |WHERE p.p_brand = 'Brand#23'
              |  AND l.l_quantity < (
              |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
              |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    // Q4 shape: order-priority checking — EXISTS rewritten as a LEFT
    // SEMI join against the fact (adapted: the testdata lacks
    // l_commitdate/l_receiptdate, so the correlated predicate is
    // "some line item returned"). The quarter filter prunes the orders
    // scan BEFORE the join; the semi join never materializes lineitem
    // columns (probe-only build), and PlanAuditSpec pins that it stays
    // a semi join with the fact never on a broadcast side.
    QueryDef("tpch_q4",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders o
             |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             |                      AND TIMESTAMP '1996-03-31 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Q13 shape: customer order-count distribution — the OUTER-join
    // aggregate no other query covers: customers with ZERO qualifying
    // orders must survive into the histogram (c_count = 0 bucket), so
    // the priority predicate lives on the orders side BEFORE the left
    // join (≡ an ON-clause predicate on the right side), never in a
    // post-join WHERE. Two aggregations: per-customer count (shuffle on
    // c_custkey), then the tiny histogram on c_count.
    QueryDef("tpch_q13",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "3-MEDIUM")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(c("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
             |  GROUP BY c_custkey) per_cust
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q16 shape: supplier-count per part attribute with a NOT-IN
    // exclusion — the anti-join + count-distinct combination (adapted:
    // no partsupp table, so lineitem is the part↔supplier association
    // and "complaints" is a negative account balance). The anti join
    // runs against the 6-row exclusion set FIRST (cheapest reduction),
    // then the part dim join; count(DISTINCT) adds its Expand before
    // the final shuffle. PlanAuditSpec pins the anti join survives.
    QueryDef("tpch_q16",
      (s, dir) => {
        val l = Tables(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
        val p = Tables(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#13"
            && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        val bad = Tables(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        l.join(bad, l("l_suppkey") === bad("s_suppkey"), "left_anti")
          .join(p, l("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#13'
             |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
             |  AND l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q14 proper: promotion-revenue share for one ship month — the
    // conditional-sum-over-join shape. The classic form outputs
    // 100·promo/total as a float; here BOTH terms are exact cents
    // (engine division rounding differs, integer sums never do) and
    // the reader divides. Date filter pushes to the fact scan; part is
    // unhinted (AQE decides).
    QueryDef("tpch_q14",
      (s, dir) => {
        import QueryDef.cents
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1996-03-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
        val p = Tables(s, dir, "part")
        val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev).otherwise(0L)).as("promo_cents"),
            sum(rev).as("total_cents"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT
              |  CAST(SUM(CASE WHEN p_type = 'PROMO'
              |    THEN ${QueryDef.centsSql("l_extendedprice * (1.0 - l_discount)")}
              |    ELSE 0 END) AS BIGINT) AS promo_cents,
              |  $revenueSql AS total_cents,
              |  COUNT(*) AS n_items
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_shipdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
              |                     AND TIMESTAMP '1996-03-31 00:00:00'""".stripMargin)),

    // Q14-ish shape: revenue share per part brand (fact ⋈ part dim)
    // Q21 shape: suppliers who kept orders waiting — the last
    // decorrelation pattern in the suite: a DOUBLE correlation of the
    // fact against ITSELF, one positive (EXISTS: some OTHER supplier
    // contributed to the same order) and one negative (NOT EXISTS: no
    // OTHER supplier's line was "late") — adapted to the testdata
    // columns (no l_receiptdate/l_commitdate, so "late" is
    // l_returnflag = 'R'; /root/reference has no TPC-H analog, this is
    // engine-extension surface). Plan shape that must survive: BOTH
    // self-correlations stay LEFT SEMI / LEFT ANTI hash joins on
    // l_orderkey with the supplier-inequality as the join residual —
    // never a rewrite to inner join + dedup (cardinality bomb: a
    // 7-line order would emit a row per matching PAIR), and the fact
    // never broadcasts (both sides are lineitem-sized). Join order:
    // the R-filter reduces l1 ~4× before either correlation; the
    // orders 'F' semi join and the fixed-size supplier/nation dims
    // come after the self-joins have shrunk the row set. PlanAuditSpec
    // pins semi+anti survival and no-fact-broadcast.
    QueryDef("tpch_q21",
      (s, dir) => {
        val l1 = Tables(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_suppkey"))
        val l2 = Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
        val l3 = Tables(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        val sup = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        val nat = Tables(s, dir, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
          .select(col("n_nationkey"))
        l1
          .join(l2, l1("l_orderkey") === col("k2") && l1("l_suppkey") =!= col("s2"),
            "left_semi")
          .join(l3, l1("l_orderkey") === col("k3") && l1("l_suppkey") =!= col("s3"),
            "left_anti")
          .join(o, l1("l_orderkey") === o("o_orderkey"), "left_semi")
          .join(sup, l1("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
             |FROM lineitem l1
             |JOIN supplier ON s_suppkey = l1.l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
             |WHERE l1.l_returnflag = 'R'
             |  AND l1.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_returnflag = 'R')
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 20""".stripMargin)),

    // TPC-H Q2 (adapted — minimum-cost supplier): for each small part,
    // the EUROPE supplier(s) shipping it with the minimum account
    // balance (the testdata has no partsupp table, so the part↔supplier
    // catalog is DISTINCT (l_partkey, l_suppkey) from lineitem and
    // s_acctbal stands in for ps_supplycost — the PLAN pattern is
    // Q2's: a per-part correlated MIN over a multi-join subtree, then
    // an equality join-back selecting the argmin rows, top-k output).
    // Decorrelated by construction: the min is ONE map-side-combinable
    // aggregate over the same joined relation, joined back on
    // (partkey, min) — no per-part subquery execution; the oracle
    // keeps the textbook correlated form (different machinery, same
    // rows). The acctbal equality is safe cross-engine: MIN moves a
    // parquet double unchanged, no arithmetic. Only fixed-size
    // nation/region are hinted; supplier/part stay AQE-sized.
    QueryDef("tpch_q2",
      (s, dir) => {
        val links = Tables(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val eur = Tables(s, dir, "supplier")
          .join(broadcast(Tables(s, dir, "nation")
            .join(broadcast(Tables(s, dir, "region")
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
        val p = Tables(s, dir, "part")
          .filter(col("p_size") <= 10)
          .select(col("p_partkey"), col("p_type"))
        val joined = p
          .join(links, col("p_partkey") === col("l_partkey"))
          .join(eur, col("l_suppkey") === col("s_suppkey"))
        val minBal = joined.groupBy(col("p_partkey").as("mp"))
          .agg(min(col("s_acctbal")).as("min_bal"))
        joined
          .join(minBal, col("p_partkey") === col("mp") &&
            col("s_acctbal") === col("min_bal"))
          .select(col("p_partkey"), col("p_type"), col("s_suppkey"),
            col("s_name"), col("n_name"), col("s_acctbal"))
          // total order (…, p_partkey, s_suppkey): the LIMIT cutoff
          // must be unambiguous for the cross-engine hash compare
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"), col("s_suppkey"))
          .limit(100)
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  WHERE r_name = 'EUROPE')
             |SELECT p.p_partkey, p.p_type, e.s_suppkey, e.s_name, e.n_name, e.s_acctbal
             |FROM part p
             |JOIN ps ON p.p_partkey = ps.l_partkey
             |JOIN eur e ON e.s_suppkey = ps.l_suppkey
             |WHERE p.p_size <= 10
             |  AND e.s_acctbal = (
             |    SELECT min(e2.s_acctbal)
             |    FROM ps ps2 JOIN eur e2 ON e2.s_suppkey = ps2.l_suppkey
             |    WHERE ps2.l_partkey = p.p_partkey)
             |ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey, e.s_suppkey
             |LIMIT 100""".stripMargin)),

    // TPC-H Q9 (adapted — product-type profit measure): profit by
    // (nation, year) through the full star — the last classic TPC-H
    // plan pattern: a WIDE multi-join (lineitem ⋈ part ⋈ partsupp ⋈
    // supplier ⋈ nation ⋈ orders, 6 relations) aggregated on DERIVED
    // columns (supplier nation × order year) with a profit expression
    // spanning three relations. The testdata has no partsupp, so the
    // catalog is Q2's stand-in — DISTINCT (l_partkey, l_suppkey) —
    // and ps_supplycost is synthesized deterministically from it:
    // p_retailprice · (0.50 + ((partkey+suppkey) % 25)/100), i.e.
    // 50–74% of list price varying per (part, supplier) so the
    // catalog join is load-bearing. Profit stays IEEE-exact: one
    // double expression tree evaluated in identical order on both
    // engines, cents-quantized BEFORE the sum (BIGINT thereafter).
    // At scale: lineitem and the lineitem-derived catalog are the two
    // big sides — both shuffle on their equi-keys, never broadcast;
    // filtered part and supplier are AQE-sized; only fixed-size
    // nation is hinted. Partial aggregation runs before the single
    // (nation, year) exchange (PlanAuditSpec pins both properties).
    QueryDef("tpch_q9",
      (s, dir) => {
        val p = Tables(s, dir, "part")
          .filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))
        // the catalog is semi-joined to the filtered part keys BEFORE
        // its distinct (r18, guide §3.2): the final plan keeps only
        // catalog rows whose partkey joins `p` anyway (l ⋈ p is inner
        // on the same key), so the pre-filter is lossless — and it cuts
        // the distinct's shuffle by the %red% selectivity (~95% of the
        // full-lineitem pair stream at sf0.1, the query's largest
        // exchange) instead of deduplicating pairs that are then
        // discarded.
        val ps = Tables(s, dir, "lineitem")
          .select(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .join(p.select(col("p_partkey")),
            col("ps_partkey") === col("p_partkey"), "left_semi")
          .distinct()
        val sup = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        val l = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        val supplycost = col("p_retailprice") *
          (lit(0.5) + ((col("ps_partkey") + col("ps_suppkey")) % lit(25)) / lit(100.0))
        val amount = QueryDef.cents(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            supplycost * col("l_quantity"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(ps, l("l_partkey") === col("ps_partkey") &&
            l("l_suppkey") === col("ps_suppkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(amount).as("sum_profit_cents"))
          // group keys are unique → (nation, o_year) is a total order
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""WITH ps AS (
              |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
              |  FROM lineitem)
              |SELECT n_name AS nation,
              |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
              |  CAST(SUM(${QueryDef.centsSql(
                   "l_extendedprice * (1.0 - l_discount) - " +
                   "p_retailprice * (0.5 + ((ps_partkey + ps_suppkey) % 25) / 100.0) * l_quantity")}) AS BIGINT)
              |    AS sum_profit_cents
              |FROM lineitem
              |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
              |JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
              |JOIN supplier ON s_suppkey = l_suppkey
              |JOIN nation ON n_nationkey = s_nationkey
              |JOIN orders ON o_orderkey = l_orderkey
              |GROUP BY 1, 2
              |ORDER BY 1, 2 DESC""".stripMargin)),

    // TPC-H Q20 (adapted — potential part promotion): suppliers in two
    // nations holding EXCESS stock of small-named parts — stock
    // exceeding half of what they actually shipped in 1998. The plan
    // pattern is Q20's: NESTED semi-joins (supplier ← qualifying
    // catalog rows ← part-name filter) with a CORRELATED aggregate
    // threshold (per (part, supplier) shipped quantity) inside the
    // innermost predicate — decorrelated here into one partial-agged
    // grouped sum joined back on both keys; the oracle keeps the
    // textbook nested-IN + correlated-scalar form (different
    // machinery, same rows). ps_availqty is synthesized
    // deterministically from the catalog keys (100 + (pk·31 + sk·17)
    // mod 900) and the threshold comparison is pure BIGINT
    // (2·availqty·100 > shipped_cents) — no float reduction anywhere,
    // so cross-engine equality is exact. A (part,supplier) pair with
    // no 1998 shipments is excluded on both engines (inner join here =
    // NULL-compare false there). At scale: the catalog and the grouped
    // shipped sum are both lineitem-derived — they equi-join on
    // (partkey, suppkey) and are never broadcast; the part semi-join
    // probe is AQE-sized; only fixed-size nation is hinted.
    QueryDef("tpch_q20",
      (s, dir) => {
        val ps = Tables(s, dir, "lineitem")
          .select(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .distinct()
          .withColumn("ps_availqty",
            lit(100L) + (col("ps_partkey") * 31 + col("ps_suppkey") * 17) % 900)
        val smallParts = Tables(s, dir, "part")
          .filter(col("p_name").like("small%"))
          .select(col("p_partkey"))
        val shipped = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(QueryDef.cents(col("l_quantity"))).as("shipped_cents"))
        val qualifying = ps
          .join(smallParts, col("ps_partkey") === col("p_partkey"), "left_semi")
          .join(shipped, col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
          .filter(lit(2L) * (col("ps_availqty") * 100) > col("shipped_cents"))
          .select(col("ps_suppkey"))
        val nat = Tables(s, dir, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_8"))
          .select(col("n_nationkey"), col("n_name"))
        Tables(s, dir, "supplier")
          .join(qualifying, col("s_suppkey") === col("ps_suppkey"), "left_semi")
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
          .orderBy(col("s_name"), col("s_suppkey"))
      },
      Some(s"""WITH ps AS (
              |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
              |  FROM lineitem),
              |psq AS (
              |  SELECT ps_partkey, ps_suppkey,
              |    100 + (ps_partkey * 31 + ps_suppkey * 17) % 900 AS ps_availqty
              |  FROM ps)
              |SELECT s_suppkey, s_name, n_name
              |FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |WHERE n_name IN ('NATION_3', 'NATION_8')
              |  AND s_suppkey IN (
              |    SELECT ps_suppkey FROM psq
              |    WHERE ps_partkey IN (
              |        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              |      AND 2 * (ps_availqty * 100) > (
              |        SELECT CAST(SUM(${QueryDef.centsSql("l_quantity")}) AS BIGINT)
              |        FROM lineitem
              |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              |          AND l_shipdate >= TIMESTAMP '1998-01-01'
              |          AND l_shipdate < TIMESTAMP '1999-01-01'))
              |ORDER BY s_name, s_suppkey""".stripMargin)),

    // TPC-H Q11 (adapted — important stock identification): per-part
    // catalog value in a 3-nation supplier subset, kept only where the
    // part's value exceeds a multiple of the GLOBAL MEAN — the one
    // classic pattern left: aggregate-then-HAVING against a scalar
    // aggregate over the SAME grouped relation. (Q11's textbook
    // FRACTION-of-total threshold famously doesn't scale with SF; a
    // mean-relative threshold keeps the result non-vacuous at every
    // scale, same plan shape.) Decorrelated by construction: the
    // grouped sums are computed ONCE (persisted — they feed both the
    // 1-row global total and the threshold filter; the catalog join
    // itself is never evaluated twice), the total joins back as a
    // 1-row broadcast. Value reuses Q9's supplycost and Q20's availqty
    // syntheses; everything after the cents quantization is BIGINT,
    // and the threshold is integer division ((2·total) div n) so no
    // float enters the comparison and nothing overflows at any SF.
    // The oracle keeps the textbook HAVING-scalar-subquery form.
    QueryDef("tpch_q11",
      (s, dir) => {
        val links = Tables(s, dir, "lineitem")
          .select(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .distinct()
        val p = Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"))
        val sup = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables(s, dir, "nation")
          .filter(col("n_name").isin("NATION_12", "NATION_13", "NATION_15"))
          .select(col("n_nationkey"))
        val supplycostCents = QueryDef.cents(col("p_retailprice") *
          (lit(0.5) + ((col("ps_partkey") + col("ps_suppkey")) % lit(25)) / lit(100.0)))
        val availqty =
          lit(100L) + (col("ps_partkey") * 31 + col("ps_suppkey") * 17) % 900
        val groups = links
          .join(p, col("ps_partkey") === col("p_partkey"))
          .join(sup, col("ps_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("ps_partkey"))
          .agg(sum(supplycostCents * availqty).as("value_cents"))
          .persist() // feeds the 1-row total AND the threshold filter
        val total = groups.agg(sum(col("value_cents")).as("total_cents"),
          count(lit(1)).as("n_parts"))
        groups.crossJoin(broadcast(total))
          .filter(col("value_cents") > expr("(2 * total_cents) div n_parts"))
          .select(col("ps_partkey"), col("value_cents"))
          .orderBy(col("value_cents").desc, col("ps_partkey"))
      },
      Some(s"""WITH ps AS (
              |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
              |  FROM lineitem),
              |valued AS (
              |  SELECT ps_partkey,
              |    ${QueryDef.centsSql(
                   "p_retailprice * (0.5 + ((ps_partkey + ps_suppkey) % 25) / 100.0)")}
              |      * (100 + (ps_partkey * 31 + ps_suppkey * 17) % 900) AS value_cents
              |  FROM ps
              |  JOIN part ON p_partkey = ps_partkey
              |  JOIN supplier ON s_suppkey = ps_suppkey
              |  JOIN nation ON n_nationkey = s_nationkey
              |  WHERE n_name IN ('NATION_12', 'NATION_13', 'NATION_15')),
              |g AS (
              |  SELECT ps_partkey, CAST(SUM(value_cents) AS BIGINT) AS value_cents
              |  FROM valued
              |  GROUP BY ps_partkey)
              |SELECT ps_partkey, value_cents
              |FROM g
              |WHERE value_cents >
              |  (SELECT (2 * CAST(SUM(value_cents) AS BIGINT)) // COUNT(*) FROM g)
              |ORDER BY value_cents DESC, ps_partkey""".stripMargin)),

    QueryDef("tpch_brand_share",
      (s, dir) => {
        val l = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        // exact cents SUM, not AVG: emit SUM + COUNT and let the reader
        // divide — engine AVG result types/rounding differ across
        // versions, integer sums never do
        l.join(p, l("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(revenue.as("revenue_cents"), count(lit(1)).as("n_items"),
            sum(QueryDef.cents(col("p_retailprice"))).as("sum_retail_cents"))
      },
      Some(s"""SELECT p_brand, $revenueSql AS revenue_cents, COUNT(*) AS n_items,
              |  CAST(SUM(${QueryDef.centsSql("p_retailprice")}) AS BIGINT) AS sum_retail_cents
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY p_brand""".stripMargin))
  )
}
