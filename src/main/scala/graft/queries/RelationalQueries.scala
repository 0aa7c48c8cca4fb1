package graft.queries

import graft.Tables
import graft.core.{JoinSpec, Pipeline}
import graft.operators.Transformers
import graft.sources.ParquetSource
import org.apache.spark.sql.functions._

/** SURVEY §2 operator inventory, relational half. Each query exercises
  * one reference operator re-expressed Spark-first; several run through
  * the [[graft.core.Pipeline]] builder to prove the fluent API compiles
  * to the same Catalyst plans as raw DataFrame code.
  */
object RelationalQueries {

  private def src(dir: String, t: String) = ParquetSource(s"$dir/$t.parquet")

  val defs: Seq[QueryDef] = Seq(

    // §2.1 scan + projection + predicate (pushed to the parquet reader:
    // the reference's "write your WHERE in the source SQL",
    // docs/laravel.md:22-29, is Catalyst pushdown here)
    QueryDef("scan_project_filter",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(col("l_quantity") > 45.0 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'R'""".stripMargin)),

    // §2.1.7 AggregateExtractor: ordered multi-source concat = UNION ALL
    // (src/Extractors/AggregateExtractor.php:22-63). Order preservation is
    // relaxed to set semantics per SURVEY §7.4.1.
    QueryDef("union_concat",
      (s, dir) => {
        val half1 = Tables(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
        val half2 = Tables(s, dir, "orders").filter(col("o_orderkey") % 2 === 1)
        half1.unionByName(half2).select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)),

    // §2.1 limit/offset on a source (ExtractorLimitAbstract/
    // ExtractorBatchLimitAbstract) — requires explicit order, as the
    // reference's own pagination docs demand (docs/laravel.md:19-21)
    QueryDef("limit_offset",
      (s, dir) => Pipeline
        .from(ParquetSource(s"$dir/orders.parquet",
          limit = Some(20), offset = 10, orderedBy = Seq("o_orderkey")))
        .toDF(s)
        .select(col("o_orderkey"), col("o_custkey")),
      Some("SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10")),

    // §2.2 join mode: inner equi-join against unique key, misses skipped
    // (UniqueKeyExtractorAbstract.php:274-279) — broadcast the dim side
    QueryDef("join_inner",
      (s, dir) => Pipeline
        .from(src(dir, "orders"))
        .join(JoinSpec(src(dir, "customer"), "o_custkey", "c_custkey"))
        .toDF(s)
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // §2.2 left join with default record (OnClause.php:80-83): dim side
    // restricted so misses exist; defaults fill them
    QueryDef("join_left_default",
      (s, dir) => Pipeline
        .from(src(dir, "customer"))
        .join(JoinSpec(
          graft.sources.CallableSource(sp =>
            Tables(sp, dir, "nation").filter(col("n_regionkey") < 2)),
          "c_nationkey", "n_nationkey",
          leftJoin = true, defaults = Map("n_name" -> "unknown")))
        .toDF(s)
        .select(col("c_custkey"), col("c_name"), col("n_name")),
      Some("""SELECT c_custkey, c_name, COALESCE(n_name, 'unknown') AS n_name
             |FROM customer LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n
             |ON c_nationkey = n_nationkey""".stripMargin)),

    // §2.2 chained joins (join-on-join, tests/YaEtlTest.php:194-218) +
    // aggregation: fact⋈fact⋈dim; no broadcast hint on customer (grows
    // with SF) — AQE's size threshold picks the build side at runtime
    QueryDef("join_chained",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            sum(QueryDef.cents(
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("revenue_cents"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT c_mktsegment,
             |  CAST(SUM(${QueryDef.centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    // §2.3 qualifier = per-record predicate with continue semantics
    QueryDef("qualify_filter",
      (s, dir) => Pipeline
        .from(src(dir, "orders"))
        .qualify(col("o_orderstatus") === "O" && col("o_totalprice") > 200000.0)
        .toDF(s)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0""".stripMargin)),

    // §2.4 transformer stack: rename + drop + defaults + overrides
    // (KeyRename/KeyUnset/ArrayReplace)
    QueryDef("transform_fields",
      (s, dir) => Pipeline
        .from(src(dir, "customer"))
        .transform(Transformers.KeyRename(Map("c_name" -> "customer_name")))
        .transform(Transformers.KeyUnset(Seq("c_acctbal")))
        .transform(Transformers.Replace(
          defaults = Map("c_mktsegment" -> "UNKNOWN"),
          overrides = Map("source" -> "crm")))
        .toDF(s),
      Some("""SELECT c_custkey, c_name AS customer_name, c_nationkey,
             |  COALESCE(c_mktsegment, 'UNKNOWN') AS c_mktsegment, 'crm' AS source
             |FROM customer""".stripMargin)),

    // §2.4 ArrayMap/ArrayWalk: one function over every (string) field
    QueryDef("per_column_map",
      (s, dir) => Pipeline
        .from(src(dir, "nation"))
        .transform(Transformers.PerColumn((c, _) => upper(trim(c)), only = Some(Set("n_name"))))
        .toDF(s),
      Some("SELECT n_nationkey, UPPER(TRIM(n_name)) AS n_name, n_regionkey FROM nation")),

    // §2.1.8 categorized extract (per-upstream-record extraction,
    // README.md:140-168) — relational rewrite: keyed cross-apply = join
    QueryDef("cross_apply",
      (s, dir) => Pipeline
        .from(src(dir, "nation"))
        .fromPerRecord(src(dir, "region"), on = Some(("n_regionkey", "r_regionkey")))
        .toDF(s)
        .select(col("n_name"), col("r_name")),
      Some("SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey")),

    // §2.8 extensions the reference lacks natively (aggregation, window,
    // distinct) — exposed as first-class engine operators
    QueryDef("window_topk",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables(s, dir, "orders")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
             |  FROM orders) t WHERE rk <= 3""".stripMargin)),

    QueryDef("distinct_values",
      (s, dir) => Tables(s, dir, "customer").select(col("c_mktsegment")).distinct(),
      Some("SELECT DISTINCT c_mktsegment FROM customer")),

    // semi/anti join (reference emulates semi via qualifier+join,
    // SURVEY §2.2 intro; native here)
    QueryDef("join_semi_anti",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .withColumn("has_orders", lit(true))
        val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .withColumn("has_orders", lit(false))
        withOrders.unionByName(withoutOrders).select(col("c_custkey"), col("has_orders"))
      },
      Some("""SELECT c_custkey, TRUE AS has_orders FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, FALSE AS has_orders FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // FULL OUTER join — completes the batch join matrix (inner, left +
    // default, semi, anti, cross-apply, chained, salted, and now full):
    // the month-over-month customer-set reconciliation, where both
    // sides contribute unmatched keys and NULL-padding carries the
    // presence signal. Spark plans this as one shuffle on the join key
    // (SortMergeJoin FullOuter — full outer has no broadcast form, the
    // unmatched-side emission needs both sides co-partitioned).
    QueryDef("join_full_outer",
      (s, dir) => {
        def monthSet(m: Int, flag: String) = Tables(s, dir, "orders")
          .filter(month(col("o_orderdate")) === m)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as(s"n_$flag"))
        val may = monthSet(5, "may")
        val june = monthSet(6, "june")
        may.join(june, Seq("o_custkey"), "full_outer")
          .select(col("o_custkey"),
            coalesce(col("n_may"), lit(0L)).as("n_may"),
            coalesce(col("n_june"), lit(0L)).as("n_june"),
            when(col("n_may").isNotNull && col("n_june").isNotNull, "both")
              .when(col("n_may").isNotNull, "may_only")
              .otherwise("june_only").as("presence"))
      },
      Some("""WITH may AS (
             |  SELECT o_custkey, COUNT(*) AS n_may FROM orders
             |  WHERE month(o_orderdate) = 5 GROUP BY o_custkey),
             |june AS (
             |  SELECT o_custkey, COUNT(*) AS n_june FROM orders
             |  WHERE month(o_orderdate) = 6 GROUP BY o_custkey)
             |SELECT COALESCE(may.o_custkey, june.o_custkey) AS o_custkey,
             |  COALESCE(n_may, 0) AS n_may,
             |  COALESCE(n_june, 0) AS n_june,
             |  CASE WHEN n_may IS NOT NULL AND n_june IS NOT NULL THEN 'both'
             |       WHEN n_may IS NOT NULL THEN 'may_only'
             |       ELSE 'june_only' END AS presence
             |FROM may FULL OUTER JOIN june ON may.o_custkey = june.o_custkey""".stripMargin)),

    // Interval (range) join via time-bucketing — the scale-safe form of
    // a pure non-equi join. Naively, "lineitems shipped inside each
    // order's first week" has NO equi key, so Spark plans a
    // BroadcastNestedLoopJoin: every (interval, row) pair is tested —
    // O(|intervals|·|lineitem|) compute even when the true match set is
    // tiny, and a driver-sized broadcast of the interval side. The
    // bucketed rewrite banding time into fixed 7-day buckets restores
    // an equi key: an interval is exploded to the 1–2 buckets it
    // overlaps (≤ interval_len/bucket_len + 1 rows), each lineitem has
    // exactly ONE bucket, the join runs as a shuffle/broadcast HASH
    // join on bkt, and the residual range predicate filters inside
    // matching buckets only. Work drops to Σ_bucket |iv_b|·|li_b| —
    // proportional to temporal overlap, not the cross product — and
    // each lineitem matches a candidate interval at most once (single
    // bucket), so no dedup pass is needed. PlanAuditSpec pins the
    // no-BNLJ/no-cartesian shape. The 495k totalprice cut keeps the
    // interval side ~1% of orders at every SF (uniform distribution).
    QueryDef("range_join_bucketed",
      (s, dir) => {
        val epochDay = (c: org.apache.spark.sql.Column) =>
          datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
        val iv = Tables(s, dir, "orders")
          .filter(col("o_totalprice") >= lit(495000.0))
          .select(col("o_orderkey"),
            col("o_orderdate").as("start_ts"),
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("end_ts"),
            epochDay(col("o_orderdate")).as("d0"))
          // covered buckets: floor(d0/7)..floor((d0+7)/7) — at most one
          // harmless extra bucket when the interval is week-aligned;
          // the residual predicate discards its non-matches
          .withColumn("bkt", explode(sequence(
            floor(col("d0") / lit(7.0)).cast("long"),
            floor((col("d0") + 7) / lit(7.0)).cast("long"))))
        val li = Tables(s, dir, "lineitem")
          .select(col("l_shipdate"),
            QueryDef.cents(col("l_extendedprice")).as("cents"))
          .withColumn("bkt",
            floor(epochDay(col("l_shipdate")) / lit(7.0)).cast("long"))
        iv.join(li, Seq("bkt"))
          .filter(col("l_shipdate") >= col("start_ts") &&
            col("l_shipdate") < col("end_ts"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("cents")).as("rev_cents"))
      },
      Some(s"""SELECT o.o_orderkey, COUNT(*) AS n_items,
              |  CAST(SUM(${QueryDef.centsSql("l.l_extendedprice")}) AS BIGINT) AS rev_cents
              |FROM orders o JOIN lineitem l
              |  ON l.l_shipdate >= o.o_orderdate
              | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
              |WHERE o.o_totalprice >= 495000.0
              |GROUP BY o.o_orderkey""".stripMargin)),

    // BLOOM SEMI-JOIN REDUCTION — the big-big join optimization at
    // 100 TB: when the filtered dim side (urgent orders, ~20%) is too
    // big to broadcast AS A HASH TABLE, its KEY SET still fits in a
    // 128 KB Bloom bitmap (m = 2^20, k = 4 — constant size regardless
    // of key count; fp-rate documented at DedupQueries.BloomM). The
    // bitmap broadcasts, the fact scan drops non-matching rows
    // MAP-SIDE before the shuffle — shuffle volume falls to the join
    // selectivity + the fp rate — and the residual equi-join (forced
    // to shuffle-hash here, the honest big-big plan; at this SF
    // Catalyst would broadcast and make the prune vacuous) clears the
    // false positives, so the result is EXACT. That exactness is what
    // the oracle pins: it is the plain join with no Bloom anywhere —
    // a result drift of even one fp row fails the hash compare. This
    // makes explicit (and portable) what Spark's runtime bloom-filter
    // rewrite does when its thresholds happen to fire; the explicit
    // form is deterministic and plan-pinned. Shuffle-bytes gate
    // snapshots the pruned volume.
    QueryDef("join_bloom_prune",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        val M = DedupQueries.BloomM
        val K = DedupQueries.BloomK
        def positions(key: org.apache.spark.sql.Column) = {
          val ks = key.cast("string")
          val h0 = portableHash(ks, 101)
          val h1 = portableHash(ks, 103).bitwiseAND(lit(4294967295L))
          (0 until K).map(i => pmod(h0 + lit(i.toLong) * h1, lit(M.toLong)))
        }
        val sel = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate"))
        val bloom = sel
          .select(explode(array(positions(col("o_orderkey")): _*)).as("pos"))
          .agg(graft.operators.Aggregators.bloomBits(M, col("pos")).as("bm"))
        val li = Tables(s, dir, "lineitem")
          .select(Seq(col("l_orderkey"), QueryDef.cents(col("l_extendedprice") *
            (lit(1.0) - col("l_discount"))).as("rev")) ++
            positions(col("l_orderkey")).zipWithIndex
              .map { case (p, i) => p.as(s"p$i") }: _*)
        val pruned = li.crossJoin(broadcast(bloom))
          .filter((0 until K).map(i => expr(
            s"(shiftright(element_at(bm, cast(p$i div 64 as int) + 1), " +
              s"cast(p$i % 64 as int)) & 1) = 1")).reduce(_ && _))
          .select(col("l_orderkey"), col("rev"))
        pruned.join(sel.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("rev_cents"))
      },
      Some(s"""SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
              |  COUNT(*) AS n_items,
              |  CAST(SUM(${QueryDef.centsSql("l.l_extendedprice * (1.0 - l.l_discount)")}) AS BIGINT) AS rev_cents
              |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              |WHERE o.o_orderpriority = '1-URGENT'
              |GROUP BY 1""".stripMargin)),

    // MERGE/upsert batch apply (SCD type 1) — the Delta-style MERGE
    // INTO expressed in plain Spark: a latest-wins change batch (one
    // row per entity, picked by a window PARTITIONED ON THE ENTITY KEY
    // — parallelism scales with entity count) applied to the base
    // snapshot with one full-outer join + coalesce. Matched keys take
    // the incoming value ('updated'), unmatched base rows survive
    // ('kept'), unmatched change keys append ('inserted'). The join is
    // co-partitioned on the key; when the batch is small relative to
    // the base, note full_outer has no broadcast form — the batch-side
    // shuffle is the batch, not the base, so cost tracks change volume.
    QueryDef("merge_upsert",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val changes = Tables.events(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), QueryDef.cents(col("value")).as("new_cents"))
        val base = Tables(s, dir, "customer")
          .select(col("c_custkey"), QueryDef.cents(col("c_acctbal")).as("acct_cents"))
        base.join(changes, col("c_custkey") === col("user_id"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("user_id")).as("key"),
            coalesce(col("new_cents"), col("acct_cents")).as("acct_cents"),
            when(col("c_custkey").isNull, "inserted")
              .when(col("user_id").isNull, "kept")
              .otherwise("updated").as("action"))
      },
      Some(s"""WITH ch AS (
              |  SELECT user_id, ${QueryDef.centsSql("value")} AS new_cents FROM (
              |    SELECT user_id, value,
              |      row_number() OVER (PARTITION BY user_id
              |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
              |    FROM events) t
              |  WHERE rn = 1),
              |b AS (SELECT c_custkey, ${QueryDef.centsSql("c_acctbal")} AS acct_cents
              |  FROM customer)
              |SELECT COALESCE(b.c_custkey, ch.user_id) AS key,
              |  COALESCE(ch.new_cents, b.acct_cents) AS acct_cents,
              |  CASE WHEN b.c_custkey IS NULL THEN 'inserted'
              |       WHEN ch.user_id IS NULL THEN 'kept'
              |       ELSE 'updated' END AS action
              |FROM b FULL OUTER JOIN ch ON b.c_custkey = ch.user_id""".stripMargin)),

    // running/lag window analytics: per-customer cumulative spend,
    // order sequence number, and days since the previous order — the
    // frame/lag side of window functions (window_topk covers ranking).
    // One shuffle on the partition key; the frame is ROWS-bounded
    // explicitly on BOTH sides (the default RANGE frame treats ties
    // differently, and determinism demands a total per-partition order
    // — o_orderdate then o_orderkey). State per group is O(1).
    QueryDef("window_running",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            sum(QueryDef.cents(col("o_totalprice"))).over(cum).as("run_spend_cents"),
            row_number().over(w).cast("long").as("order_seq"),
            datediff(col("o_orderdate"),
              lag(col("o_orderdate"), 1).over(w)).cast("long").as("gap_days"))
      },
      Some(s"""SELECT o_custkey, o_orderkey,
              |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              |  CAST(SUM(${QueryDef.centsSql("o_totalprice")}) OVER (
              |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |    AS run_spend_cents,
              |  CAST(row_number() OVER (
              |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT)
              |    AS order_seq,
              |  CAST(datediff('day', lag(o_orderdate, 1) OVER (
              |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              |    o_orderdate) AS BIGINT) AS gap_days
              |FROM orders""".stripMargin))
  )
}
