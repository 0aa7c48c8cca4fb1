package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Set operations, multi-level aggregation, and the salted-join skew
  * pattern — engine extensions the reference lacks natively (SURVEY
  * §2.8: only UNION-ALL-style concat exists there; no intersect/except,
  * no grouping sets).
  */
object SetRollupQueries {

  /** Salt fan-out for the skew-join demo. */
  private val SaltN = 8

  val defs: Seq[QueryDef] = Seq(

    // Exact order statistics per group: percentile() in Spark and
    // quantile_cont() in DuckDB both take the linearly-interpolated
    // value at p·(n−1) over the sorted group — exact (not a sketch),
    // one shuffle on the grouping key, per-group sort inside the
    // aggregate. round(…,6) absorbs last-ulp differences in the two
    // engines' interpolation arithmetic. At true scale swap in
    // approx_percentile (t-digest sketch, map-side combinable) when the
    // per-group sort no longer fits — same query shape.
    QueryDef("quantile_stats",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // INTERSECT / EXCEPT (distinct set semantics, like SQL). Executed as
    // a SINGLE scan: the naive intersect+except form reads `orders` four
    // times (two filtered scans per set op); here membership in each
    // month is folded into boolean flags by one groupBy on o_custkey —
    // distinct semantics come free from the grouping, both sets derive
    // from the flags, and the month IN (5,6) filter is pushed to the
    // scan. One read + one shuffle instead of four reads + four.
    QueryDef("set_intersect_except",
      (s, dir) => Tables(s, dir, "orders")
        .filter(month(col("o_orderdate")).isin(5, 6))
        .groupBy(col("o_custkey"))
        .agg(
          max(month(col("o_orderdate")) === 5).as("in_may"),
          max(month(col("o_orderdate")) === 6).as("in_june"))
        .filter(col("in_may"))
        .select(col("o_custkey"),
          when(col("in_june"), lit("both")).otherwise(lit("may_only")).as("set_op")),
      Some("""SELECT o_custkey, 'both' AS set_op FROM (
             |  SELECT o_custkey FROM orders WHERE month(o_orderdate) = 5
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE month(o_orderdate) = 6)
             |UNION ALL
             |SELECT o_custkey, 'may_only' AS set_op FROM (
             |  SELECT o_custkey FROM orders WHERE month(o_orderdate) = 5
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE month(o_orderdate) = 6)""".stripMargin)),

    // ROLLUP: hierarchical subtotals in one pass (Expand + single
    // shuffle — Catalyst's grouping-sets execution). Subtotal rows are
    // labeled via grouping(), NOT coalesce: a genuine NULL group value
    // must not masquerade as the 'ALL' subtotal.
    QueryDef("rollup_agg",
      (s, dir) => Tables(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        // grouping() is only valid inside the aggregate list
        .agg(
          count(lit(1)).as("n_orders"),
          sum(QueryDef.cents(col("o_totalprice"))).as("total_cents"),
          grouping(col("o_orderstatus")).as("g_s"),
          grouping(col("o_orderpriority")).as("g_p"))
        .select(
          when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
          when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
          col("n_orders"), col("total_cents")),
      Some(s"""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
             |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(${QueryDef.centsSql("o_totalprice")}) AS BIGINT) AS total_cents
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),

    // CUBE: all grouping-set combinations in one pass (Expand + one
    // shuffle), same execution as rollup with 4 grouping sets not 3
    QueryDef("cube_agg",
      (s, dir) => Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).as("g_s"),
          grouping(col("o_orderpriority")).as("g_p"))
        .select(
          when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
          when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
          col("n_orders")),
      Some("""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
             |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
             |  COUNT(*) AS n_orders
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // Arbitrary GROUPING SETS (not the hierarchical rollup/cube
    // special cases): two independent groupings in ONE pass — Expand +
    // a single shuffle, exactly like rollup but with caller-chosen
    // sets. Labels via GROUPING() so genuine NULL group values can't
    // masquerade as the other set's rows.
    QueryDef("grouping_sets",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql(s"""SELECT
                 |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
                 |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
                 |  COUNT(*) AS n_orders,
                 |  CAST(SUM(${QueryDef.centsSql("o_totalprice")}) AS BIGINT) AS total_cents
                 |FROM orders_gs
                 |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
      },
      Some(s"""SELECT
              |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
              |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
              |  COUNT(*) AS n_orders,
              |  CAST(SUM(${QueryDef.centsSql("o_totalprice")}) AS BIGINT) AS total_cents
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)),

    // Window distribution functions: ntile / percent_rank / cume_dist
    // over a per-status partition. The (o_totalprice, o_orderkey)
    // ordering is a TOTAL order, which is what makes all three
    // deterministic (percent_rank/cume_dist tie semantics never
    // engage). One shuffle on the partition key.
    //
    // SCALE CAVEAT (inherent to the function, kept as the semantics
    // oracle): o_orderstatus has 3 values and ntile/percent_rank/
    // cume_dist need their WHOLE partition in one task, so this exact
    // query is a 3-task funnel at 100 TB. That is a property of asking
    // for a distribution over a low-cardinality key, not of the
    // engine; the scale-safe renditions are the two queries below —
    // `window_ntile_highcard` (same functions, per-entity partitions:
    // parallelism = entity count) and `rank_global_bucketed` (a GLOBAL
    // rank with no global window at all).
    QueryDef("window_distribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus
             |  ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    // The scale-safe distribution-function shape: the SAME ntile
    // machinery, but partitioned by a HIGH-cardinality key (customer),
    // so WindowExec parallelism equals the entity count and grows with
    // the data — each task sorts one customer's handful of orders.
    // Semantics: every order's quartile WITHIN its customer's spend
    // history (the per-entity banding features pipelines actually
    // compute at scale), rolled up to a 4-row summary. The rollup
    // keeps the oracle compare O(1); the window itself still executes
    // over every order.
    QueryDef("window_ntile_highcard",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables(s, dir, "orders")
          .select(col("o_custkey"),
            QueryDef.cents(col("o_totalprice")).as("cents"),
            ntile(4).over(w).cast("long").as("quartile"))
          .groupBy(col("quartile"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("total_cents"))
      },
      Some(s"""WITH q AS (
              |  SELECT o_custkey,
              |    ${QueryDef.centsSql("o_totalprice")} AS cents,
              |    CAST(ntile(4) OVER (PARTITION BY o_custkey
              |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
              |  FROM orders)
              |SELECT quartile, COUNT(*) AS n_orders,
              |  CAST(SUM(cents) AS BIGINT) AS total_cents
              |FROM q GROUP BY quartile""".stripMargin)),

    // GLOBAL rank without a global window: [[ProfilingQueries.bucketedRank]]
    // over fixed-width price buckets. A naive row_number() OVER (ORDER
    // BY …) funnels the whole table through ONE task. Oracle: the naive
    // single-window form — a different algorithm, same ranks.
    QueryDef("rank_global_bucketed",
      (s, dir) => {
        val bucketed = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .withColumn("bkt", floor(col("o_totalprice") / lit(25000.0)).cast("long"))
        ProfilingQueries.bucketedRank(bucketed, Nil, "bkt",
            Seq(col("o_totalprice"), col("o_orderkey")))
          .select(col("o_orderkey"), col("rnk"))
      },
      Some("""SELECT o_orderkey,
             |  CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rnk
             |FROM orders""".stripMargin)),

    // EXCEPT ALL — multiset semantics (each May order survives unless
    // matched 1:1 by a June order for the same customer), vs the
    // distinct-set set_intersect_except above. Spark plans this as an
    // aggregate of signed counts, one shuffle, no join.
    QueryDef("except_all_multiset",
      (s, dir) => {
        val may = Tables(s, dir, "orders")
          .filter(month(col("o_orderdate")) === 5).select(col("o_custkey"))
        val june = Tables(s, dir, "orders")
          .filter(month(col("o_orderdate")) === 6).select(col("o_custkey"))
        may.exceptAll(june)
      },
      Some("""SELECT o_custkey FROM orders WHERE month(o_orderdate) = 5
             |EXCEPT ALL
             |SELECT o_custkey FROM orders WHERE month(o_orderdate) = 6""".stripMargin)),

    // correlated scalar subquery through the engine's SQL entry path —
    // Catalyst decorrelates it into an aggregate + left join (SURVEY
    // §2.8: subqueries/decorrelation are engine-native extensions)
    QueryDef("sql_correlated",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT o_orderkey, o_totalprice,
                |  (SELECT count(*) FROM lineitem_v l WHERE l.l_orderkey = o.o_orderkey) AS n_lines
                |FROM orders_v o WHERE o_totalprice > 400000""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_lines
             |FROM orders o WHERE o_totalprice > 400000""".stripMargin)),

    // Salted skew join: when one join key dominates (a hot customer, a
    // null-heavy foreign key), a plain shuffle join puts the hot key's
    // entire fact partition on one executor. The salted rewrite spreads
    // each key over SaltN sub-keys: fact rows get a deterministic salt,
    // the dim side is replicated SaltN× — same result set, no straggler
    // partition. The oracle is the UNSALTED join: salting must be
    // invisible in the output.
    QueryDef("join_salted_skew",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
          // deterministic salt derived from row content (not random —
          // repeatable, and spreads uniformly)
          .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_quantity")), lit(SaltN)))
        val supp = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            explode(sequence(lit(0), lit(SaltN - 1))).as("salt"))
        li.join(supp,
            li("l_suppkey") === supp("s_suppkey") && li("salt") === supp("salt"))
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(QueryDef.cents(col("l_quantity"))).as("qty_cents"))
      },
      Some(s"""SELECT s_nationkey, COUNT(*) AS n_items,
             |  CAST(SUM(${QueryDef.centsSql("l_quantity")}) AS BIGINT) AS qty_cents
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey""".stripMargin)),

    // PIVOT: long → wide reshape (explicit value list, so the plan is a
    // single aggregation pass — never let pivot infer values at scale,
    // that's an extra distinct scan)
    QueryDef("pivot_status",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      Some("""SELECT o_orderpriority,
             |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
             |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // custom typed aggregator: per-group top-k via a bounded heap
    // (graft.operators.Aggregators.TopK) — O(k) state per group and
    // map-side combinable, vs the window form's full sort per group.
    // The oracle is the window row_number formulation: the aggregator
    // must be result-identical to it.
    QueryDef("topk_agg",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.operators.Aggregators.topK(3, col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"), col("col").as("o_orderkey")),
      Some("""SELECT o_custkey, rank, o_orderkey FROM (
             |  SELECT o_custkey, o_orderkey,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |  FROM orders) t WHERE rank <= 3""".stripMargin)),

    // global ordered top-k: TakeOrderedAndProject (per-partition heaps +
    // driver merge of k rows — never a full sort at scale)
    QueryDef("topk_global",
      (s, dir) => Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(20),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin))
  )
}
