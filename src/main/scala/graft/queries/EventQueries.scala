package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table — batch expressions of
  * the streaming semantics in [[graft.streaming]] (the reference is
  * batch-only, SURVEY §2.8; these are engine extensions). Every query
  * formats timestamps to strings/epochs for oracle parity (ns parquet —
  * see [[QueryDef]] scaladoc).
  */
object EventQueries {

  val defs: Seq[QueryDef] = Seq(

    // tumbling-window aggregation (1h), the batch shape of a streaming
    // windowed agg: one shuffle on (hour, event_type), partial aggs
    // map-side
    QueryDef("events_hourly",
      (s, dir) => Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(QueryDef.cents(col("value"))).as("sum_value_cents"),
          countDistinct(col("user_id")).as("n_users")),
      Some(s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
             |  event_type, COUNT(*) AS n_events,
             |  CAST(SUM(${QueryDef.centsSql("value")}) AS BIGINT) AS sum_value_cents,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE — the production incremental-
    // ETL algebra at 100 TB: a stored BASE aggregate (here: the ~90%
    // of events with event_id % 10 < 9, standing in for "all batches
    // loaded so far") is brought up to date by merging a DELTA batch's
    // aggregate — (base ⊎ delta) re-aggregated on the group key — and
    // the result must equal the from-scratch aggregate over everything.
    // That equality is the whole point and exactly what the oracle
    // pins: the oracle is the SINGLE-PASS GROUP BY, so the two engines
    // cross-check the merge algebra itself (counts add, sums add,
    // maxes max — the same mergeability that lets partial aggregates
    // combine map-side, applied at table granularity). Scale: the
    // merge stage shuffles two aggregate TABLES (≤ |keys| rows each),
    // never the base's source rows — a daily delta into a year-scale
    // base costs delta-scan + keys-sized merge, not a year re-scan.
    QueryDef("agg_incremental_merge",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          QueryDef.cents(col("value")).as("vc"),
          col("event_id"))
        def agg(df: DataFrame) = df
          .groupBy(col("event_type"), col("hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("vc")).as("sum_value_cents"),
            max(col("vc")).as("max_value_cents"))
        val base = agg(ev.filter(pmod(col("event_id"), lit(10L)) < 9))
        val delta = agg(ev.filter(pmod(col("event_id"), lit(10L)) >= 9))
        base.unionByName(delta)
          .groupBy(col("event_type"), col("hour"))
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_value_cents")).as("sum_value_cents"),
            max(col("max_value_cents")).as("max_value_cents"))
      },
      Some(s"""SELECT event_type,
             |  strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(${QueryDef.centsSql("value")}) AS BIGINT) AS sum_value_cents,
             |  CAST(MAX(${QueryDef.centsSql("value")}) AS BIGINT) AS max_value_cents
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // POPULATION STABILITY INDEX — the industry-standard drift metric
    // (credit-risk lineage; the effect-size companion to
    // source_divergence's χ² TEST): per event type, PSI of the
    // hour-of-day distribution between the first and second 15-day
    // halves — Σ (p−q)·ln(p/q) over 24 buckets, with add-one smoothing
    // (the lm_perplexity discipline) so empty buckets need no epsilon
    // hacks. PSI > 0.2 is the conventional "investigate" line. Exact
    // cross-engine arithmetic end-to-end: p and q stay RATIONAL —
    // ln() is taken of identical doubles built from exact
    // DECIMAL(38,0)/HUGEINT products, rounded once to micro-nats, and
    // the weighted sum runs as Σ(num·t) div (common denominator) in
    // the same headroom (rate_mosum's rule: the cross terms and the
    // denominator square event totals — pn/qn wrap BIGINT past ~3e9
    // counts, the denominator past ~3e9 totals; both engines carry
    // every product wide, and the one → double cast rounds the same
    // integer to the same nearest double on each). Every PSI term
    // is ≥ 0 ((p−q) and ln(p/q) share sign), so the single floor
    // division agrees across engines. Plan: one scan, counts collapse
    // map-side to |types|·24 cells, the day-0 anchor and totals frames
    // broadcast — nothing corpus-sized shuffles.
    QueryDef("drift_psi",
      (s, dir) => {
        val B = 24
        val ev = Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("d"),
            expr("unix_micros(ts) div 3600000000 % 24").as("hr"))
        val d0 = ev.agg(min(col("d")).as("d0"))
        val cnt = ev.crossJoin(broadcast(d0))
          .withColumn("cur", (col("d") >= col("d0") + lit(15)).cast("long"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(lit(1L) - col("cur")).as("c0"), sum(col("cur")).as("c1"))
        val grid = cnt.select(col("event_type")).distinct()
          .withColumn("hr", explode(sequence(lit(0L), lit(23L))))
          .join(cnt, Seq("event_type", "hr"), "left")
          .na.fill(0L, Seq("c0", "c1"))
        val tot = grid.groupBy(col("event_type"))
          .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
        grid.join(broadcast(tot), Seq("event_type"))
          // pn/qn in DECIMAL(38,0) (HUGEINT in the oracle): the
          // smoothed cross product (hour count + 1)·(type total + 24)
          // wraps BIGINT once counts pass ~3e9 each — a 100 TB event
          // stream is orders beyond that; decimal keeps every term
          // exact (the → double cast for the log rounds the same
          // integer to the same nearest double on both engines)
          .withColumn("pn",
            (col("c1") + lit(1L)).cast("decimal(38,0)") * (col("n0") + lit(B.toLong)))
          .withColumn("qn",
            (col("c0") + lit(1L)).cast("decimal(38,0)") * (col("n1") + lit(B.toLong)))
          .withColumn("t_micro", QueryDef.microPoints(
            log(col("pn").cast("double") / col("qn").cast("double"))))
          .groupBy(col("event_type"))
          .agg(min(col("n0")).as("n_base"), min(col("n1")).as("n_cur"),
            sum((col("pn") - col("qn")).cast("decimal(38,0)") * col("t_micro")).as("sm"))
          .select(col("event_type"), col("n_base"), col("n_cur"),
            // the denominator too: (n_cur+24)·(n_base+24) is a
            // total×total product — 1e12-scale counts wrap it in BIGINT
            expr(s"CAST(sm div (CAST(n_cur + $B AS DECIMAL(38,0)) * (n_base + $B)) AS BIGINT)")
              .as("psi_micro"))
          .withColumn("drifted", (col("psi_micro") > lit(200000L)).cast("long"))
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 % 24 AS hr
             |  FROM events),
             |d0 AS (SELECT MIN(d) AS d0 FROM ev),
             |cnt AS (
             |  SELECT event_type, hr,
             |    COUNT(*) FILTER (WHERE d < (SELECT d0 FROM d0) + 15) AS c0,
             |    COUNT(*) FILTER (WHERE d >= (SELECT d0 FROM d0) + 15) AS c1
             |  FROM ev GROUP BY 1, 2),
             |grid AS (
             |  SELECT x.event_type, x.hr,
             |    COALESCE(c.c0, 0) AS c0, COALESCE(c.c1, 0) AS c1
             |  FROM (SELECT t.event_type, g.hr
             |        FROM (SELECT DISTINCT event_type FROM ev) t
             |        CROSS JOIN (SELECT unnest(range(0, 24)) AS hr) g) x
             |  LEFT JOIN cnt c ON c.event_type = x.event_type AND c.hr = x.hr),
             |tot AS (
             |  SELECT event_type, CAST(SUM(c0) AS BIGINT) AS n0,
             |    CAST(SUM(c1) AS BIGINT) AS n1
             |  FROM grid GROUP BY 1),
             |terms AS (
             |  SELECT g.event_type, t.n0, t.n1,
             |    CAST(g.c1 + 1 AS HUGEINT) * (t.n0 + 24) AS pn,
             |    CAST(g.c0 + 1 AS HUGEINT) * (t.n1 + 24) AS qn,
             |    ${QueryDef.microPointsSql(
                    "ln(CAST(CAST(g.c1 + 1 AS HUGEINT) * (t.n0 + 24) AS DOUBLE) / CAST(CAST(g.c0 + 1 AS HUGEINT) * (t.n1 + 24) AS DOUBLE))")} AS t_micro
             |  FROM grid g JOIN tot t USING (event_type)),
             |agg AS (
             |  SELECT event_type, MIN(n0) AS n_base, MIN(n1) AS n_cur,
             |    CAST(SUM((pn - qn) * t_micro)
             |      // (CAST(MIN(n1) + 24 AS HUGEINT) * (MIN(n0) + 24)) AS BIGINT) AS psi_micro
             |  FROM terms GROUP BY 1)
             |SELECT event_type, n_base, n_cur, psi_micro,
             |  CAST(psi_micro > 200000 AS BIGINT) AS drifted
             |FROM agg""".stripMargin)),

    // weekly RETENTION COHORTS — the canonical product-analytics grid:
    // users grouped by their first-activity week (absolute epoch week,
    // pure integer arithmetic — no timezone/locale function two engines
    // could disagree on), and for each (cohort, week-offset) cell the
    // count of cohort members active that week plus the per-mille
    // retention rate (integer division — the exact-arithmetic rounding
    // contract). The offset-0 row equals the cohort size by
    // construction, a built-in sanity invariant. Plan: the distinct
    // (user, week) activity and the per-user min week both collapse
    // map-side keyed by user_id (millions of tiny groups — the scalable
    // shape); the activity⋈cohort join is user-keyed with both sides
    // pre-aggregated (AQE broadcasts the cohort frame at small scale);
    // the final rollup covers the tiny |weeks|² cell space.
    QueryDef("retention_cohorts",
      (s, dir) => {
        val act = Tables.events(s, dir)
          .selectExpr("user_id",
            "unix_micros(ts) div 86400000000 div 7 as w")
          .distinct()
        val coh = act.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
        val siz = coh.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
        act.join(coh, Seq("user_id"))
          .groupBy(col("cw").as("cohort_week"), (col("w") - col("cw")).as("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(siz.withColumnRenamed("cw", "cohort_week"), Seq("cohort_week"))
          .select(col("cohort_week"), col("week_offset"), col("n_active"),
            col("cohort_size"),
            expr("1000 * n_active div cohort_size").as("retention_pm"))
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS w
             |  FROM events),
             |coh AS (SELECT user_id, MIN(w) AS cw FROM act GROUP BY 1),
             |siz AS (SELECT cw, COUNT(*) AS cohort_size FROM coh GROUP BY 1),
             |cells AS (
             |  SELECT c.cw AS cohort_week, a.w - c.cw AS week_offset,
             |    COUNT(*) AS n_active
             |  FROM act a JOIN coh c USING (user_id) GROUP BY 1, 2)
             |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
             |  CAST(week_offset AS BIGINT) AS week_offset, n_active,
             |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
             |  CAST(1000 * n_active // s.cohort_size AS BIGINT) AS retention_pm
             |FROM cells JOIN siz s ON s.cw = cells.cohort_week""".stripMargin)),

    // event-flow TRANSITION matrix — per-user next-event pairs counted
    // into the (from, to) Markov matrix behind funnel design and
    // user-flow analysis ("what actually follows a click?"). One lead()
    // window per user (ts order, event_id tiebreak — same-timestamp
    // rows stay deterministic on both engines), then a
    // map-side-combinable rollup over the |types|² key space. The
    // window partitions by user_id — millions of small partitions, the
    // scalable shape (`sessionize`'s discipline); the transition pair
    // never materializes more than (type, next_type) per event row.
    QueryDef("event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""WITH nx AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
             |  FROM events)
             |SELECT event_type AS from_type, to_type, COUNT(*) AS n
             |FROM nx WHERE to_type IS NOT NULL
             |GROUP BY 1, 2""".stripMargin)),

    // 3-sigma RATE-SPIKE detection over hourly counts — the
    // ops-monitoring pass a 100 TB event pipeline runs on its own
    // throughput: an hour whose count sits > 3σ from its event-type's
    // mean is flagged. ZERO floats anywhere: |c − μ| > 3σ is
    // cross-multiplied to (n·c − S)² > 9·(n·SS − S²) — every term an
    // exact DECIMAL(38,0)/HUGEINT product (μ = S/n and σ² =
    // (n·SS − S²)/n² never materialize), so the flag is
    // bit-reproducible on any engine, the `stats_moments` discipline
    // applied to thresholding. The wide type is load-bearing at scale:
    // a single hour's c² hits 2⁶³ at c ≈ 3·10⁹, so BIGINT wraps SS
    // silently at exactly the throughput a 100 TB stream runs (and
    // n·SS, dev² are a further ~10⁴× beyond); every term stays under
    // 10²⁷ ≪ 10³⁸ even at 3·10⁹ events/hour × a year of buckets.
    //
    // 100 TB shape: the corpus collapses to (type, hour) counts at
    // scan time (map-side combinable); the per-type moment frame is
    // |event types| rows, broadcast back over the tiny hourly frame.
    // Only flagged hours are emitted.
    QueryDef("rate_anomaly",
      (s, dir) => {
        val h = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
          .agg(count(lit(1)).as("c"))
        val st = countMoments(h)
        val (spike, tail) = rateSpike(col("c"))
        h.join(broadcast(st), Seq("event_type"))
          .filter(spike)
          .select(col("event_type"), col("hour"), col("c").as("n_events"), tail)
      },
      Some(s"""WITH h AS (
             |  SELECT event_type,
             |    strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |${momentsSql("st", "h")}
             |SELECT h.event_type, h.hour, h.c AS n_events,
             |  CASE WHEN CAST(st.n AS HUGEINT) * h.c - st.s > 0 THEN 'high' ELSE 'low' END AS tail
             |FROM h JOIN st USING (event_type)
             |WHERE (CAST(st.n AS HUGEINT) * h.c - st.s) * (CAST(st.n AS HUGEINT) * h.c - st.s)
             |      > 9 * (st.n * st.ss - CAST(st.s AS HUGEINT) * st.s)""".stripMargin)),

    // sliding-window aggregation ([[slidingAgg]], shared with the
    // streaming twin). Shuffle payload is 4× events_hourly's (the
    // overlap factor), still partial-agg'd map-side. Oracle reproduces
    // the fan-out with an explicit unnest(range(0,4)) over 15-minute
    // epoch buckets (Spark aligns window starts to the epoch, so bucket
    // arithmetic matches).
    QueryDef("events_sliding",
      (s, dir) => slidingAgg(Tables.events(s, dir))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value_cents")),
      Some(s"""SELECT strftime(make_timestamp(
             |    (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 - i) * 900000000),
             |    '%Y-%m-%d %H:%M:%S') AS win_start,
             |  event_type, COUNT(*) AS n_events,
             |  CAST(SUM(${QueryDef.centsSql("value")}) AS BIGINT) AS sum_value_cents
             |FROM events, unnest(range(0, 4)) AS u(i)
             |GROUP BY 1, 2""".stripMargin)),

    // funnel analysis: how many users reached each ordered step
    // (click → view → purchase, each step's first occurrence strictly
    // after the previous step's). One conditional-min aggregation per
    // user — a single shuffle on user_id, no joins, no explosion; the
    // step ordering is resolved per user from the three min-timestamps.
    QueryDef("funnel_steps",
      (s, dir) => {
        def stepMin(t: String) =
          min(when(col("event_type") === t, unix_micros(col("ts")))).as(s"${t}_us")
        val perUser = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(stepMin("click"), stepMin("view"), stepMin("purchase"))
        perUser.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("click_us").isNotNull, 1L).otherwise(0L)).as("step1_click"),
          sum(when(col("click_us").isNotNull && col("view_us") > col("click_us"), 1L)
            .otherwise(0L)).as("step2_view_after_click"),
          sum(when(col("click_us").isNotNull && col("view_us") > col("click_us")
            && col("purchase_us") > col("view_us"), 1L)
            .otherwise(0L)).as("step3_purchase_after_view"))
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS click_us,
             |    min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS view_us,
             |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS purchase_us
             |  FROM events GROUP BY user_id)
             |SELECT COUNT(*) AS n_users,
             |  CAST(SUM(CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step1_click,
             |  CAST(SUM(CASE WHEN click_us IS NOT NULL AND view_us > click_us THEN 1 ELSE 0 END) AS BIGINT) AS step2_view_after_click,
             |  CAST(SUM(CASE WHEN click_us IS NOT NULL AND view_us > click_us AND purchase_us > view_us THEN 1 ELSE 0 END) AS BIGINT) AS step3_purchase_after_view
             |FROM per_user""".stripMargin)),

    // sessionization with a 30-minute inactivity gap: lag → new-session
    // flag → running sum = session id → per-session rollup. The batch
    // twin of streaming session windows; one shuffle on user_id, window
    // work stays within the user partition.
    QueryDef("sessionize",
      (s, dir) => sessionized(Tables.events(s, dir))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          sum(QueryDef.cents(col("value"))).as("session_value_cents")),
      Some(s"""WITH $sessCteSql, sessions AS (SELECT * FROM sess)
             |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
             |  strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  CAST(SUM(${QueryDef.centsSql("value")}) AS BIGINT) AS session_value_cents
             |FROM sessions GROUP BY user_id, session_seq""".stripMargin)),

    // AS-OF join (last-touch attribution): each purchase is joined to
    // the most recent click by the same user at-or-before it, ties on
    // equal timestamps resolved by event_id order. The scalable
    // distributed as-of shape: NO range join — both event kinds ride
    // ONE shuffle on user_id, and `last(click-struct, ignoreNulls)`
    // over the (ts, event_id)-ordered window carries the latest click
    // forward to each purchase row. The oracle is the classic
    // ranked-range-join formulation (row_number over ts-qualified
    // click candidates) — a different algorithm, quadratic per user,
    // fine at oracle scale; agreement is a real cross-check.
    QueryDef("asof_attribution",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("click_src",
            last(
              when(col("event_type") === "click",
                struct(unix_micros(col("ts")).as("c_us"), col("event_id").as("c_id"))),
              ignoreNulls = true).over(byUser))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("purchase_us"),
            col("click_src.c_id").as("click_event_id"),
            col("click_src.c_us").as("click_us"))
      },
      Some(asofBackSql)),

    // rolling time-window aggregates via a RANGE frame: at every event,
    // the count/value of the SAME USER's events in the trailing hour —
    // the per-entity rate/velocity feature (fraud scores, rate limits,
    // engagement velocity). RANGE frames bound by VALUE (epoch seconds
    // here), not row position, so ties in the ordering key all share
    // one frame and the result is deterministic without a total order.
    // One shuffle on user_id; frame evaluation stays in-partition.
    QueryDef("window_range_rolling",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
          .rangeBetween(-3600L, 0L)
        // FLOOR division to seconds (subtract the positive remainder,
        // then divide exactly): Spark's `div` truncates toward zero,
        // which diverges from the oracle's `//` (floor) for pre-1970
        // timestamps (negative epoch micros) and would shift rows
        // across the RANGE frame boundary cross-engine. The quotient
        // (< 2^53) makes the double division exact.
        val us = unix_micros(col("ts"))
        val tsSec = ((us - pmod(us, lit(1000000L))) / lit(1000000L))
          .cast("long")
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            tsSec.as("ts_sec"),
            QueryDef.cents(col("value")).as("v_cents"))
          .withColumn("n_last_hour", count(lit(1)).over(w))
          .withColumn("cents_last_hour", sum(col("v_cents")).over(w))
          .select(col("event_id"), col("user_id"), col("ts_sec"),
            col("n_last_hour"), col("cents_last_hour"))
      },
      // window SUM over BIGINT is HUGEINT in DuckDB — cast at output
      Some(s"""SELECT event_id, user_id,
             |  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
             |  CAST(SUM(${QueryDef.centsSql("value")}) OVER w AS BIGINT) AS cents_last_hour
             |FROM events
             |WINDOW w AS (PARTITION BY user_id
             |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
             |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // calendar dimension derivation — the enrich step before
    // time-partitioned writes/aggregations. Convention trap: Spark
    // dayofweek is 1=Sunday, DuckDB's is 0=Sunday; normalized to
    // 0=Sunday on both sides. weekofyear is ISO on both.
    QueryDef("time_dims",
      (s, dir) => Tables.events(s, dir)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          hour(col("ts")).cast("long").as("hr"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          weekofyear(col("ts")).cast("long").as("week"),
          quarter(col("ts")).cast("long").as("qtr")),
      Some("""SELECT event_id,
             |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             |  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
             |  CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
             |  CAST(weekofyear(CAST(ts AS TIMESTAMP)) AS BIGINT) AS week,
             |  CAST(quarter(CAST(ts AS TIMESTAMP)) AS BIGINT) AS qtr
             |FROM events""".stripMargin)),

    // SCD2 history build (the CDC/dimension-maintenance shape): per
    // user, consecutive runs of the same event_type collapse to one
    // versioned row with [valid_from, valid_to) bounds — lag flags run
    // starts, a running sum numbers versions, lead closes each
    // interval; the open interval is current. ONE exchange on user_id
    // serves all three steps: both windows and the (user_id, version)
    // rollup are satisfied by the same hash partitioning (Spark accepts
    // a partitioning on a subset of the grouping keys), so at 100 TB
    // this costs a single fact-table shuffle.
    QueryDef("scd2_history",
      (s, dir) => {
        val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
        runVersioned(Tables.events(s, dir))
          .groupBy(col("user_id"), col("version"))
          .agg(
            min(col("event_type")).as("event_type"), // constant within a run
            min(unix_micros(col("ts"))).as("valid_from_us"),
            count(lit(1)).as("n_events"))
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
          .withColumn("is_current",
            when(col("valid_to_us").isNull, 1L).otherwise(0L))
      },
      // window SUM is HUGEINT in DuckDB — cast version to BIGINT
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |), runs AS (
             |  SELECT user_id, event_type, ts,
             |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
             |  FROM flagged
             |), g AS (
             |  SELECT user_id, version, min(event_type) AS event_type,
             |    min(epoch_us(ts)) AS valid_from_us, COUNT(*) AS n_events
             |  FROM runs GROUP BY user_id, version)
             |SELECT user_id, version, event_type, valid_from_us,
             |  lead(valid_from_us) OVER w2 AS valid_to_us, n_events,
             |  CASE WHEN lead(valid_from_us) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
             |FROM g
             |WINDOW w2 AS (PARTITION BY user_id ORDER BY version)""".stripMargin)),

    // semi-structured extraction from the JSON props column (regexp on
    // both sides so the oracle needs no JSON extension)
    QueryDef("props_extract",
      (s, dir) => Tables.events(s, dir)
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k")),
      // TRY_CAST: on a props row without a "k" match Spark yields NULL
      // ('' cast to int), while a DuckDB CAST would abort the whole
      // oracle query — TRY_CAST gives NULL like Spark
      Some("""SELECT event_id, TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k FROM events""".stripMargin)),

    // semi-structured extraction through Spark 4's VARIANT type — the
    // at-scale successor to `props_extract`'s regexp: `parse_json`
    // shreds the JSON text into the binary VARIANT encoding once, and
    // `try_variant_get` navigates it with a typed path (codegen'd, no
    // per-row regex engine, and under a VARIANT-typed source column the
    // parse itself would be amortized into the scan). The regexp twin
    // stays registered so the two formulations cross-check each other;
    // the oracle navigates real JSON (DuckDB json_extract_string), an
    // independent third parser.
    QueryDef("variant_extract",
      (s, dir) => Tables.events(s, dir)
        .select(
          col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "int").as("k")),
      Some("""SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events""")),

    // Cohort retention — the day-0-cohort × day-N-return matrix every
    // product-analytics pipeline computes. Shape: (1) distinct
    // (user, active-day) pairs — one shuffle, partial-distinct
    // map-side; (2) per-user first day (cohort) — re-aggregates the
    // already-distinct frame on user_id; (3) activity ⋈ cohort on
    // user_id (co-partitioned equi-join, both sides keyed by user) and
    // a (cohort_day, offset)-keyed count-distinct rollup. Output is
    // bounded by days² regardless of corpus size; every per-row stage
    // is keyed by user or (user, day) — parallelism scales with the
    // user population, never a calendar-sized funnel. Days are exact
    // BIGINT epoch-day arithmetic on both engines.
    QueryDef("events_retention",
      (s, dir) => {
        val act = activeDays(Tables.events(s, dir))
        val cohort = act.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        act.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("offset_days"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some(s"""WITH $activeDaysSql,
             |cohort AS (
             |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
             |SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
             |  COUNT(DISTINCT a.user_id) AS n_users
             |FROM act a JOIN cohort c ON a.user_id = c.user_id
             |GROUP BY 1, 2""".stripMargin)),

    // DAU + cumulative distinct users — the growth dashboard pair. A
    // windowed COUNT(DISTINCT) is both unsupported (Spark) and
    // unscalable (state = all users seen so far, per frame); the exact
    // rewrite is the FIRST-SEEN trick: cumulative distinct users
    // through day d = users whose first active day ≤ d, so one extra
    // user-keyed min-aggregation turns the running distinct count into
    // a running SUM over per-day first-seen counts. Every corpus-sized
    // stage is keyed by user or day; the only serial step is the
    // cumulative window over the |days| summary frame (the same
    // shrink-then-serial pattern as rank_global_bucketed, allowed in
    // the funnel sweep).
    QueryDef("users_cumulative",
      (s, dir) => {
        val act = activeDays(Tables.events(s, dir))
        val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val firstSeen = act.groupBy(col("user_id")).agg(min(col("day")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
        val w = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        dau.join(firstSeen, Seq("day"), "left")
          .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
          .withColumn("cum_users", sum(col("n_new")).over(w))
          .select(col("day"), col("dau"), col("n_new"), col("cum_users"))
      },
      Some(s"""WITH $activeDaysSql,
             |dau AS (SELECT day, COUNT(*) AS dau FROM act GROUP BY day),
             |fs AS (
             |  SELECT min_day AS day, COUNT(*) AS n_new FROM (
             |    SELECT user_id, min(day) AS min_day FROM act GROUP BY user_id) t
             |  GROUP BY 1)
             |SELECT d.day, d.dau, COALESCE(f.n_new, 0) AS n_new,
             |  CAST(SUM(COALESCE(f.n_new, 0)) OVER (ORDER BY d.day
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
             |FROM dau d LEFT JOIN fs f ON f.day = d.day""".stripMargin)),

    // Time-series resampling: each user's event stream regularized to a
    // dense hourly grid between their first and last active hour, with
    // zero-fill for the count/sum measures and forward-fill (last
    // observation carried forward) for the level measure — the feature
    // engineering step before any per-entity sequence model. Shape:
    // hourly rollup (one user-keyed shuffle, partial aggs map-side) →
    // per-user span → `sequence()` explode builds the grid WITHOUT a
    // calendar cross join (each user pays only their own span, so a
    // 100 TB corpus with short-lived users never materializes
    // users × global-calendar) → co-partitioned left join back + one
    // ffill window — every stage rides the same user_id keying.
    QueryDef("events_gapfill",
      (s, dir) => {
        val us = unix_micros(col("ts"))
        // FLOOR division to epoch-hours (see window_range_rolling: `div`
        // truncates toward zero; subtract the positive remainder first)
        val hr = ((us - pmod(us, lit(3600000000L))) / lit(3600000000L)).cast("long")
        val hourly = Tables.events(s, dir)
          .select(col("user_id"), hr.as("hr"),
            QueryDef.cents(col("value")).as("v_cents"))
          .groupBy(col("user_id"), col("hr"))
          .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("value_cents"))
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "hr"), "left")
          .withColumn("ffill_cents", last(col("value_cents"), ignoreNulls = true).over(w))
          .select(col("user_id"), col("hr"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("value_cents"), lit(0L)).as("value_cents"),
            col("ffill_cents"))
      },
      Some(s"""WITH hourly AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |    COUNT(*) AS n_events,
             |    CAST(SUM(${QueryDef.centsSql("value")}) AS BIGINT) AS value_cents
             |  FROM events GROUP BY 1, 2),
             |spans AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM spans)
             |SELECT g.user_id, g.hr, COALESCE(h.n_events, 0) AS n_events,
             |  COALESCE(h.value_cents, 0) AS value_cents,
             |  last_value(h.value_cents IGNORE NULLS) OVER (
             |    PARTITION BY g.user_id ORDER BY g.hr
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_cents
             |FROM grid g LEFT JOIN hourly h
             |  ON h.user_id = g.user_id AND h.hr = g.hr""".stripMargin)),

    // Peak concurrency (interval sweep line): per day, the maximum
    // number of simultaneously-open sessions — the capacity-planning /
    // load-profile statistic. The textbook formulation sorts ALL ±1
    // boundary deltas globally and takes a running sum, a single-node
    // serial pass; here the running sum is decomposed by the
    // histogram-offset pattern (rank_global_bucketed's): within-day
    // prefix sums run partitioned by day, and the carry-in each day
    // inherits is the cumulative net delta of the preceding days — a
    // |days|-sized summary frame where the only serial window lives
    // (shrink-then-serial). Global-sum identity: rows of one day are
    // contiguous in the global (t, d DESC) order, so global prefix =
    // day carry + within-day prefix, and per-day max commutes with the
    // constant offset. Tie rule: at equal t, +1 sorts before -1 (d
    // DESC), so a session starting the instant another ends counts as
    // concurrent — and within a run of EQUAL deltas the prefix-max is
    // order-independent, so no further tiebreak is needed for a
    // deterministic per-day max. A day crossed by sessions but
    // containing no boundary emits no row (no delta, no bucket); spans
    // are attributed to their boundary days. Oracle = the serial
    // global-sort formulation — an independent algorithm, same maxima.
    QueryDef("session_concurrency",
      (s, dir) => {
        val sessions = sessionized(Tables.events(s, dir))
          .withColumn("us", unix_micros(col("ts")))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
        val deltas = sessions.select(col("s_us").as("t"), lit(1L).as("d"))
          .unionByName(sessions.select(col("e_us").as("t"), lit(-1L).as("d")))
          .withColumn("day",
            ((col("t") - pmod(col("t"), lit(86400000000L))) / lit(86400000000L)).cast("long"))
        val inDay = Window.partitionBy(col("day")).orderBy(col("t"), col("d").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val serial = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
        deltas.withColumn("c_in", sum(col("d")).over(inDay))
          .groupBy(col("day"))
          .agg(max(col("c_in")).as("peak_in"), sum(col("d")).as("net"))
          .withColumn("carry", coalesce(sum(col("net")).over(serial), lit(0L)))
          .select(col("day"), (col("peak_in") + col("carry")).as("peak_concurrency"))
      },
      Some(s"""WITH $sessCteSql,
             |sessions AS (
             |  SELECT user_id, session_seq, min(us) AS s_us, max(us) AS e_us
             |  FROM sess GROUP BY 1, 2),
             |deltas AS (
             |  SELECT s_us AS t, 1 AS d FROM sessions
             |  UNION ALL SELECT e_us, -1 FROM sessions),
             |run AS (
             |  SELECT t, d, SUM(d) OVER (ORDER BY t, d DESC ROWS UNBOUNDED PRECEDING) AS c
             |  FROM deltas)
             |SELECT t // 86400000000 AS day, CAST(max(c) AS BIGINT) AS peak_concurrency
             |FROM run GROUP BY 1""".stripMargin)),

    // LINEAR multi-touch attribution — the fractional-credit complement
    // of `asof_attribution`'s last-touch model: every click in the 7
    // days before a purchase (same user, strictly earlier by
    // (ts, event_id)) shares that purchase's revenue equally, and a
    // click's value is the sum of its shares across all purchases it
    // influenced. Credit arithmetic is exact: revenue in integer cents,
    // per-touch share = cents div n_touches (floor; the ≤ n_touches-1
    // remainder cents are deliberately unassigned rather than
    // arbitrarily parked on one touch — documented, deterministic, and
    // sums are auditable against cents div/mod).
    //
    // Plan shape (r17 two-phase rewrite): the naive formulation — the
    // user-keyed purchase×click join with the window as a residual,
    // then a per-purchase window count — materializes every
    // (purchase, in-window click) PAIR, so one hot user makes a single
    // task's intermediate quadratic in that user's event count (the
    // r16 skew-sf1 finding: a 270 k-event user needed a 24 GiB heap to
    // hash-match; at 100 TB the hottest key is unbounded and "turn up
    // the heap" stops being a knob). The rewrite never forms pairs.
    // Both aggregates are RANGE SUMS over per-user time-ordered
    // streams, so each is two prefix-sum lookups:
    //   n_touch(p)  = |clicks lex-< (p_us, p_id)| − |clicks t < p_us−W|
    //   credit(c)   = G(p_us ≤ c_us+W) − G(lex-≤ (c_us, c_id)),
    //                 G = running Σ p_cents div n_touch over purchases
    // Each lookup is a union of the stream with probe rows and ONE
    // running-frame window (rowsBetween unboundedPreceding → −1) per
    // distinct sort order — windows stream their partition through a
    // spillable sort with O(1) aggregation state, so per-task memory
    // is bounded by the sorter's page budget, not by key heat. Four
    // user-keyed event-sized shuffles + two id-keyed probe joins, all
    // linear; measured vs the pair plan in SCALE.md (r17).
    QueryDef("attribution_linear",
      (s, dir) => {
        import QueryDef.cents
        val ev = Tables.events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            unix_micros(col("ts")).as("p_us"), cents(col("value")).as("p_cents"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id"),
            unix_micros(col("ts")).as("c_us"))
        val runBefore = Window.partitionBy(col("user_id"))
          .orderBy(col("t"), col("tie"), col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // phase 1 — n_touch per purchase from ONE merged stream + ONE
        // window pass: clicks carry isc=1 at (c_us, tie 1, c_id); the
        // `le` probe sits at (p_us, tie 1, p_id) so same-instant clicks
        // interleave by id (a click counts iff c_id < p_id — the lex
        // tie-break); the `lt` probe sits AT p_us−W with tie 0, before
        // same-instant clicks, so boundary clicks stay in-window. Both
        // probe readings come back via conditional agg on p_id — the
        // stream is windowed once, not once per probe kind.
        val s1 = c.select(col("user_id"), col("c_us").as("t"),
            lit(1).as("tie"), col("c_id").as("id"), lit(1L).as("isc"),
            lit(null).cast("long").as("p_id"), lit("").as("kind"))
          .unionByName(p.select(col("user_id"), col("p_us").as("t"),
            lit(1).as("tie"), col("p_id").as("id"), lit(0L).as("isc"),
            col("p_id"), lit("le").as("kind")))
          .unionByName(p.select(col("user_id"),
            (col("p_us") - lit(AttrWindowUs)).as("t"), lit(0).as("tie"),
            col("p_id").as("id"), lit(0L).as("isc"), col("p_id"),
            lit("lt").as("kind")))
          .withColumn("n", coalesce(sum(col("isc")).over(runBefore), lit(0L)))
        val touches = s1.filter(col("p_id").isNotNull)
          .groupBy(col("p_id"))
          .agg(max(when(col("kind") === "le", col("n"))).as("n_le"),
            max(when(col("kind") === "lt", col("n"))).as("n_lt"))
        // a purchase inside some click's range always has ≥1 touch (that
        // click), so the n_touch>0 filter drops only never-credited rows
        val g = p.join(touches, Seq("p_id"))
          .withColumn("n_touch", col("n_le") - col("n_lt"))
          .filter(col("n_touch") > 0)
          .select(col("user_id"), col("p_us"), col("p_id"),
            expr("p_cents div n_touch").as("g"))
        // phase 2 — per-click credit, same one-stream-one-window shape:
        // purchases carry (g, isp=1) at (p_us, tie 0, p_id); the `lo`
        // probe reads the running (Σg, count) at the click's lex
        // position (tie 0, interleaves by id), the `hi` probe after ALL
        // purchases at c_us+W (tie 1 — p_us ≤ c_us+W inclusive, any id)
        val s2 = g.select(col("user_id"), col("p_us").as("t"),
            lit(0).as("tie"), col("p_id").as("id"), col("g"),
            lit(1L).as("isp"), lit(null).cast("long").as("c_id"),
            lit("").as("kind"))
          .unionByName(c.select(col("user_id"), col("c_us").as("t"),
            lit(0).as("tie"), col("c_id").as("id"), lit(0L).as("g"),
            lit(0L).as("isp"), col("c_id"), lit("lo").as("kind")))
          .unionByName(c.select(col("user_id"),
            (col("c_us") + lit(AttrWindowUs)).as("t"), lit(1).as("tie"),
            col("c_id").as("id"), lit(0L).as("g"), lit(0L).as("isp"),
            col("c_id"), lit("hi").as("kind")))
          .withColumn("gs", coalesce(sum(col("g")).over(runBefore), lit(0L)))
          .withColumn("np", coalesce(sum(col("isp")).over(runBefore), lit(0L)))
        s2.filter(col("c_id").isNotNull)
          .groupBy(col("c_id"))
          .agg(max(when(col("kind") === "hi", col("gs"))).as("g_hi"),
            max(when(col("kind") === "lo", col("gs"))).as("g_lo"),
            max(when(col("kind") === "hi", col("np"))).as("n_hi"),
            max(when(col("kind") === "lo", col("np"))).as("n_lo"))
          .withColumn("n_conversions", col("n_hi") - col("n_lo"))
          .filter(col("n_conversions") > 0)
          .select(col("c_id").as("click_event_id"), col("n_conversions"),
            (col("g_hi") - col("g_lo")).as("attributed_cents"))
      },
      Some(s"""WITH p AS (
              |  SELECT event_id AS p_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
              |    ${QueryDef.centsSql("value")} AS p_cents
              |  FROM events WHERE event_type = 'purchase'),
              |c AS (
              |  SELECT event_id AS c_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
              |  FROM events WHERE event_type = 'click'),
              |j AS (
              |  SELECT p.p_id, c.c_id, p.p_cents,
              |    count(*) OVER (PARTITION BY p.p_id) AS n_touch
              |  FROM p JOIN c ON c.user_id = p.user_id
              |    AND (c.c_us < p.p_us OR (c.c_us = p.p_us AND c.c_id < p.p_id))
              |    AND c.c_us >= p.p_us - $AttrWindowUs)
              |SELECT c_id AS click_event_id,
              |  count(DISTINCT p_id) AS n_conversions,
              |  CAST(SUM(p_cents // n_touch) AS BIGINT) AS attributed_cents
              |FROM j GROUP BY 1""".stripMargin)),

    // TOP SESSION PATHS — behavioral path mining over the sessionize
    // contract (SAME 30-minute-gap session derivation, so paths explain
    // exactly the sessions the session reports count): each session's
    // ordered event_type sequence collapses to one 'a>b>c' path string,
    // and the corpus's PathTopK most common paths surface with their
    // session counts. Path assembly is deterministic under ties: events
    // sort by (ts, event_id) inside the session (array_sort over
    // structs — pure per-group list algebra, no second window pass),
    // matching the oracle's ORDER BY in string_agg. Scale: the heavy
    // frame is per-session rows (user-keyed window + one groupBy on
    // (user, session) — both already paid by sessionize); path counting
    // is a map-side-combinable rollup on the path string and top-K is
    // TakeOrderedAndProject. Unbounded-path guard: sessions are
    // gap-bounded so paths are session-length-bounded; a pathological
    // never-idle entity would need the session cap documented in
    // streaming/EventStreams before this query.
    QueryDef("session_paths",
      (s, dir) => {
        sessionized(Tables.events(s, dir))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
            col("event_type").as("et")))).as("evs"))
          .select(concat_ws(">", transform(col("evs"), e => e.getField("et"))).as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(EventQueries.PathTopK)
      },
      Some(s"""WITH $sessCteSql,
              |paths AS (
              |  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
              |  FROM sess GROUP BY user_id, session_seq)
              |SELECT path, COUNT(*) AS n_sessions
              |FROM paths GROUP BY 1
              |ORDER BY n_sessions DESC, path LIMIT ${EventQueries.PathTopK}""".stripMargin)),

    // FORWARD as-of join — the mirror of `asof_attribution`'s
    // backward-looking last-touch: for every click, the user's NEXT
    // purchase strictly after it in (ts, event_id) order, plus the
    // conversion latency. The canonical "event → next outcome" shape
    // (trade → next quote, exposure → next conversion, error → next
    // recovery). Same plan discipline as the backward form: ONE
    // user-keyed window (no join), the forward neighbor read as the
    // last non-null of [[reversedPrefix]] (the (1 FOLLOWING, UNBOUNDED
    // FOLLOWING) frame's first non-null, in O(n)) — clicks with no
    // later purchase NULL out instead of dropping, so the result
    // accounts for every click. Oracle: rank-1 purchase after each
    // click via a windowed join — a different mechanism agreeing on
    // the same neighbor.
    QueryDef("asof_forward",
      (s, dir) => Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("next_p",
          last(
            when(col("event_type") === "purchase",
              struct(unix_micros(col("ts")).as("p_us"), col("event_id").as("p_id"))),
            ignoreNulls = true).over(reversedPrefix(-1)))
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          col("next_p.p_id").as("purchase_event_id"),
          col("next_p.p_us").as("purchase_us"),
          (col("next_p.p_us") - unix_micros(col("ts"))).as("latency_us")),
      Some(asofFwdSql)),

    // NEAREST as-of join — the bidirectional completion of the as-of
    // family (backward `asof_attribution`, forward `asof_forward`):
    // each purchase matched to the same user's temporally CLOSEST
    // click in EITHER direction, ties resolved toward the backward
    // match (the attribution convention — a cause at the same instant
    // beats an effect). The sensor-fusion / nearest-quote alignment
    // shape kdb's `aj`/`wj` users reach for when "last value" is the
    // wrong prior. Plan discipline: nearest does NOT cost two as-of
    // joins — both directions read from ONE user-keyed sort. The
    // backward neighbor comes from a (UNBOUNDED PRECEDING, CURRENT)
    // frame with `last(ignoreNulls)`, the forward one from (CURRENT,
    // UNBOUNDED FOLLOWING) with `first(ignoreNulls)` over the SAME
    // (ts, event_id) window order, so Catalyst plans one Exchange +
    // one Sort feeding both WindowExecs — the whole operator rides a
    // single shuffle, linear per key, no join anywhere (the
    // AsOfJoinPlan lowering argument applied twice over one sort).
    // "Before" is lexicographic (ts, event_id) — a same-ts click with
    // smaller event_id is backward at distance 0 and always wins.
    // Oracle: two ranked joins picked over by a CASE — a different
    // (quadratic-per-user) algorithm landing on the same neighbor.
    QueryDef("asof_nearest",
      (s, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // both windows share one Exchange; the reversed one adds only
        // a second in-partition sort
        val fwdDesc = reversedPrefix(Window.currentRow)
        val withN = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("cs",
            when(col("event_type") === "click",
              struct(unix_micros(col("ts")).as("c_us"), col("event_id").as("c_id"))))
          .withColumn("b", last(col("cs"), ignoreNulls = true).over(back))
          .withColumn("f", last(col("cs"), ignoreNulls = true).over(fwdDesc))
          .filter(col("event_type") === "purchase")
          .withColumn("p_us", unix_micros(col("ts")))
        // forward wins only with a strictly smaller distance (tie →
        // back); a missing side forfeits. NULL algebra: both missing →
        // useF=true → every picked field is NULL, direction forced NULL.
        val dB = col("p_us") - col("b.c_us")
        val dF = col("f.c_us") - col("p_us")
        val useF = col("b").isNull || (col("f").isNotNull && dF < dB)
        withN.select(col("event_id"), col("user_id"),
          col("p_us").as("purchase_us"),
          when(useF, col("f.c_id")).otherwise(col("b.c_id")).as("click_event_id"),
          when(useF, col("f.c_us")).otherwise(col("b.c_us")).as("click_us"),
          when(col("b").isNull && col("f").isNull, lit(null).cast("string"))
            .when(useF, lit("fwd")).otherwise(lit("back")).as("direction"),
          when(useF, dF).otherwise(dB).as("dist_us"))
      },
      Some(s"""WITH ${asofCteSql("p", "purchase")},
             |${asofCteSql("c", "click")},
             |${backRankSql("bk")},
             |fw AS (
             |  SELECT p.event_id, c.event_id AS c_id, c.ts AS c_ts,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts, c.event_id) AS rn
             |  FROM p JOIN c ON c.user_id = p.user_id
             |    AND (c.ts > p.ts OR (c.ts = p.ts AND c.event_id > p.event_id))),
             |j AS (
             |  SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
             |    b.c_id AS b_id, epoch_us(b.c_ts) AS b_us,
             |    f.c_id AS f_id, epoch_us(f.c_ts) AS f_us
             |  FROM p
             |  LEFT JOIN (SELECT * FROM bk WHERE rn = 1) b ON b.event_id = p.event_id
             |  LEFT JOIN (SELECT * FROM fw WHERE rn = 1) f ON f.event_id = p.event_id)
             |SELECT event_id, user_id, p_us AS purchase_us,
             |  CASE WHEN b_id IS NULL OR (f_id IS NOT NULL AND f_us - p_us < p_us - b_us)
             |    THEN f_id ELSE b_id END AS click_event_id,
             |  CASE WHEN b_id IS NULL OR (f_id IS NOT NULL AND f_us - p_us < p_us - b_us)
             |    THEN f_us ELSE b_us END AS click_us,
             |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
             |    WHEN b_id IS NULL OR (f_id IS NOT NULL AND f_us - p_us < p_us - b_us)
             |    THEN 'fwd' ELSE 'back' END AS direction,
             |  CASE WHEN b_id IS NULL OR (f_id IS NOT NULL AND f_us - p_us < p_us - b_us)
             |    THEN f_us - p_us ELSE p_us - b_us END AS dist_us
             |FROM j""".stripMargin)),

    // INTER-EVENT GAP histogram (log₂-second buckets) — the
    // sessionization-timeout tuning curve: the distribution of
    // same-user consecutive-event gaps, whose valley between the
    // in-session mode and the between-session mode is where the
    // `sessionize` 30-minute threshold comes from (Halfaker 2015's
    // bimodal-gap observation). Bucketing is floor(log₂ gap_s) via
    // the BINARY-STRING length (length(bin(x)) − 1): pure integer →
    // string ops both engines define identically, where a float
    // log2() at an exact power-of-two boundary is engine-rounding
    // roulette. gap 0 and 1 s share bucket 0 (bin(0) = '0'). Plan:
    // the lag rides one user-keyed shuffle (the sessionize sort,
    // frame work in-partition), then ≤ ~40 bucket rows collapse
    // map-side; the total for the share column is a broadcast
    // one-row frame, not a second pass.
    QueryDef("session_gap_dist",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("prev_us").isNotNull)
          .withColumn("gap_s", expr("(unix_micros(ts) - prev_us) div 1000000"))
          .withColumn("bucket", (length(bin(col("gap_s"))) - 1).cast("long"))
        val tot = gaps.agg(count(lit(1)).as("tot"))
        gaps.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sum_gap_s"))
          .crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_gaps"), col("sum_gap_s"),
            expr("n_gaps * 1000 div tot").as("share_mille"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
             |  FROM events),
             |g AS (
             |  SELECT (us - lag(us) OVER (PARTITION BY user_id
             |    ORDER BY us, event_id)) // 1000000 AS gap_s
             |  FROM e),
             |b AS (
             |  SELECT gap_s, length(bin(gap_s)) - 1 AS bucket
             |  FROM g WHERE gap_s IS NOT NULL),
             |t AS (SELECT COUNT(*) AS tot FROM b)
             |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_gaps,
             |  CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
             |  CAST(COUNT(*) * 1000 // (SELECT tot FROM t) AS BIGINT) AS share_mille
             |FROM b GROUP BY 1""".stripMargin)),

    // MOSUM mean-shift detection (moving-sum changepoint statistic —
    // the level-shift complement of `rate_anomaly`'s single-hour spike
    // flag): per event type, the trailing-6-observed-hour mean is
    // flagged when it departs the type's overall mean by more than 3
    // standard ERRORS of a 6-hour mean — |T/W − μ| > 3σ/√W — with the
    // whole inequality cross-multiplied to exact DECIMAL(38,0):
    // (n·T − W·S)² > 9·W·(n·SS − S²), where (n, S, SS) are the type's
    // hourly-count moments. Zero floats anywhere (the rate_anomaly /
    // stats_moments discipline), so flags are bit-reproducible. Plan:
    // hourly counts collapse map-side (types·hours keys), the per-type
    // moment frame broadcasts back, ONE type-keyed window computes the
    // trailing sum; windows shorter than W (the first W−1 hours) are
    // excluded rather than under-powered. Gaps: the statistic runs
    // over OBSERVED hours (documented; an idle-hour-as-zero variant
    // would compose with events_gapfill's calendar spine first).
    QueryDef("rate_mosum",
      (s, dir) => {
        val W = 6
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("c"))
        val mom = countMoments(hourly)
        val wTrail = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-(W - 1).toLong, Window.currentRow)
        val wSeq = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        hourly
          .withColumn("t6", sum(col("c")).over(wTrail))
          .withColumn("pos", row_number().over(wSeq))
          .filter(col("pos") >= W)
          .join(mom, Seq("event_type"))
          // DECIMAL(38,0), not BIGINT, for the cross-multiplied terms:
          // (n·T − W·S)² squares a per-type event TOTAL — at 100 TB a
          // BIGINT wraps silently (non-ANSI) exactly where the
          // bit-reproducible claim matters, and DuckDB would raise
          // instead, so the engines diverge. 38 digits keeps the form
          // exact for any terrestrial corpus (bound: 9·W·n·SS < 10³⁸ —
          // e.g. 10⁶ observed hours of 10¹² events each leaves 6
          // orders of magnitude headroom); the oracle mirrors with
          // HUGEINT (int128).
          .select(col("event_type"), col("hr"), col("t6"),
            when(expr(s"(CAST(n AS DECIMAL(38,0)) * t6 - $W * s) * " +
                s"(CAST(n AS DECIMAL(38,0)) * t6 - $W * s) > " +
                s"9 * $W * (CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"),
              1L).otherwise(0L).as("shifted"))
      },
      Some(s"""WITH hourly AS (
             |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |${momentsSql("mom", "hourly")},
             |tr AS (
             |  SELECT event_type, hr,
             |    SUM(c) OVER (PARTITION BY event_type ORDER BY hr
             |      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS t6,
             |    row_number() OVER (PARTITION BY event_type ORDER BY hr) AS pos
             |  FROM hourly)
             |SELECT tr.event_type, CAST(tr.hr AS BIGINT) AS hr,
             |  CAST(tr.t6 AS BIGINT) AS t6,
             |  CAST(CASE WHEN (CAST(n AS HUGEINT) * t6 - 6 * s) * (CAST(n AS HUGEINT) * t6 - 6 * s)
             |      > 9 * 6 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
             |    THEN 1 ELSE 0 END AS BIGINT) AS shifted
             |FROM tr JOIN mom ON mom.event_type = tr.event_type
             |WHERE tr.pos >= 6""".stripMargin)),

    // The CUSTOM-PLAN as-of join — the same last-touch semantics as
    // `asof_attribution`, but expressed through the engine's
    // whole-operator extension ([[graft.plans.AsOf]]: a first-class
    // AsOfJoinPlan logical node lowered by an injected optimizer rule
    // into the union-tag-window MERGE form — same linear-per-key
    // algorithm as asof_attribution, no join anywhere). Sharing
    // asof_attribution's oracle makes the driver gate a THREE-way
    // agreement: single-table window form, custom-plan lowering, and
    // DuckDB's ranked join must all land on identical rows — the
    // correctness proof for the extension machinery itself.
    QueryDef("asof_plan_node",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("purchase_us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_event_id"), col("user_id").as("c_user"),
            unix_micros(col("ts")).as("click_us"))
        graft.plans.AsOf.join(p, c,
            leftKey = "user_id", rightKey = "c_user",
            leftTime = "purchase_us", rightTime = "click_us",
            leftId = "event_id", rightId = "click_event_id")
          .select(col("event_id"), col("user_id"), col("purchase_us"),
            col("click_event_id"), col("click_us"))
      },
      Some(asofBackSql)),

    // FORWARD direction of the custom-plan as-of join — the mirror of
    // `asof_plan_node`, sharing `asof_forward`'s oracle so the driver
    // gates a three-way agreement for the forward lowering too
    // (direction is encoded entirely in the sort/frame of the same
    // single-exchange merge — see RewriteAsOfJoin).
    QueryDef("asof_plan_forward",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_event_id"), col("user_id"),
            unix_micros(col("ts")).as("click_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_event_id"),
            col("user_id").as("p_user"),
            unix_micros(col("ts")).as("purchase_us"))
        graft.plans.AsOf.join(c, p,
            leftKey = "user_id", rightKey = "p_user",
            leftTime = "click_us", rightTime = "purchase_us",
            leftId = "click_event_id", rightId = "purchase_event_id",
            forward = true)
          .select(col("click_event_id"), col("user_id"), col("click_us"),
            col("purchase_event_id"), col("purchase_us"),
            (col("purchase_us") - col("click_us")).as("latency_us"))
      },
      Some(asofFwdSql)),

    // Point-in-time feature join — the feature-store correctness
    // operator: each fact row (purchase) reads the dimension VERSION
    // that was valid AT its event time, never a later one (training-
    // serving skew / label leakage is exactly a PIT join done wrong).
    // The dimension here is the SCD2 run-versioning of each user's
    // non-purchase event stream (`scd2_history`'s flag→running-sum
    // shape: version = run of equal event_type, valid from its first
    // ts); the fact side is the purchases.
    //
    // Executed ON THE CUSTOM AS-OF PLAN, not a range join: PIT lookup
    // IS an as-of join against version starts (versions tile time per
    // user from their first event), so the union-tag-window lowering
    // applies — ONE user-keyed exchange, zero join operators, no
    // interval-overlap blowup. The plan node's contract is STRICTLY-
    // before with (time, id) tie-break; PIT needs valid_from ≤ ts
    // INCLUSIVE, obtained by a deeply-negative right id (d_rid =
    // Long.MinValue + version): at equal times the tie rule
    // right_id < left_id is then always true (event ids are ≥ 0),
    // turning (vf < ts) OR (vf = ts AND rid < lid) into vf ≤ ts.
    // Version starts CAN collide per user — two different-typed events
    // at the same ts open adjacent runs with equal min(ts) — so the
    // sentinel carries `version` to break that tie deterministically
    // (higher version = later run wins, matching the oracle's
    // `valid_from_us DESC, version DESC` rank), instead of a constant
    // Long.MinValue that would leave equal-(time,id) rows unordered
    // and the winner engine-dependent.
    QueryDef("pit_feature_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val versions = runVersioned(ev.filter(col("event_type") =!= "purchase"))
          .groupBy(col("user_id"), col("version"))
          .agg(min(col("event_type")).as("tier"),
            min(unix_micros(col("ts"))).as("valid_from_us"))
          .select(col("user_id").as("d_user"), col("version"), col("tier"),
            col("valid_from_us"),
            (lit(Long.MinValue) + col("version")).as("d_rid"))
        val facts = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            QueryDef.cents(col("value")).as("value_cents"))
        graft.plans.AsOf.join(facts, versions,
            leftKey = "user_id", rightKey = "d_user",
            leftTime = "ts_us", rightTime = "valid_from_us",
            leftId = "event_id", rightId = "d_rid")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("version"), col("tier"), col("value_cents"))
      },
      Some(s"""WITH de AS (
              |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
              |  FROM events WHERE event_type <> 'purchase'),
              |flagged AS (
              |  SELECT user_id, event_id, event_type, ts,
              |    CASE WHEN lag(event_type) OVER w IS NULL
              |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
              |  FROM de
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |runs AS (
              |  SELECT user_id, event_type, ts,
              |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
              |  FROM flagged),
              |v AS (
              |  SELECT user_id, version, min(event_type) AS tier,
              |    min(epoch_us(ts)) AS valid_from_us
              |  FROM runs GROUP BY 1, 2),
              |p AS (
              |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
              |    ${QueryDef.centsSql("value")} AS value_cents
              |  FROM events WHERE event_type = 'purchase'),
              |rk AS (
              |  SELECT p.event_id, v.version, v.tier,
              |    row_number() OVER (PARTITION BY p.event_id
              |      ORDER BY v.valid_from_us DESC, v.version DESC) AS rn
              |  FROM p JOIN v ON v.user_id = p.user_id
              |    AND v.valid_from_us <= p.ts_us)
              |SELECT p.event_id, p.user_id, p.ts_us, r.version, r.tier, p.value_cents
              |FROM p LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r
              |  ON r.event_id = p.event_id""".stripMargin))
  ) :+ conversionLatencyDef

  /** Sliding-window counts (1 h window every 15 min) per event type,
    * ONE stage for `events_sliding` and its streaming twin
    * [[graft.streaming.EventStreams.slidingCounts]] (which adds only a
    * watermark): the window() generator fans each event into its 4
    * containing windows BEFORE the aggregation. */
  private[graft] def slidingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(QueryDef.cents(col("value"))).as("sum_value_cents"))

  /** Distinct (user_id, day) activity, `day` the BIGINT epoch day —
    * ONE frame for `events_retention` and `users_cumulative`; keep
    * [[activeDaysSql]] in lockstep. */
  private[graft] def activeDays(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
      datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).cast("long")
        .as("day")).distinct()

  /** DuckDB twin of [[activeDays]]: the `act` CTE. */
  private[graft] def activeDaysSql: String =
    """act AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '1970-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
      |  FROM events)""".stripMargin

  /** Per event type, the moments of count column `c` — `n` rows, sum
    * `s`, square sum `ss` — ONE stage for `rate_anomaly` (read by
    * [[rateSpike]]) and `rate_mosum`. `ss` is DECIMAL(38,0) from the
    * first product: a single 3e9-count hour already saturates a BIGINT
    * square. */
  private[graft] def countMoments(counts: DataFrame): DataFrame =
    counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"))

  /** DuckDB twin of [[countMoments]]: CTE `name` over the CTE `from`,
    * `ss` in HUGEINT. */
  private[graft] def momentsSql(name: String, from: String): String =
    s"""$name AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(c) AS s,
       |    SUM(CAST(c AS HUGEINT) * c) AS ss
       |  FROM $from GROUP BY 1)""".stripMargin

  /** The float-free 3-sigma rate test, ONE definition for `rate_anomaly`
    * and its streaming twin [[graft.streaming.EventStreams.rateAnomalyStream]]:
    * count column `c` against its type's moments `n`, `s`, `ss` in
    * scope. Returns the spike predicate (n·c − S)² > 9·(n·SS − S²) and
    * the `tail` column. Every product runs in DECIMAL(38,0): c² alone
    * saturates a BIGINT at c ≈ 3e9 events/hour (the cast on `ss` is a
    * no-op for the batch query's decimal sum and widens the stream
    * baseline's BIGINT). */
  private[graft] def rateSpike(c: Column): (Column, Column) = {
    val dev = col("n").cast("decimal(38,0)") * c - col("s")
    (dev * dev > lit(9L) * (col("n") * col("ss").cast("decimal(38,0)") -
        col("s").cast("decimal(38,0)") * col("s")),
      when(dev > 0, lit("high")).otherwise(lit("low")).as("tail"))
  }

  /** THE 30-minute-gap sessionization contract — ONE definition
    * (lag → new-session flag → running sum over the (ts, event_id)
    * user window) shared by `sessionize`, `session_concurrency`, and
    * `session_paths`: a report that re-derived sessions could silently
    * diverge from the sessions it claims to explain. Adds `session_seq`
    * (1-based per user) and carries every input column. One shuffle on
    * user_id; keep [[sessCteSql]] in lockstep term-for-term. */
  private[graft] def sessionized(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_us", "new_session")
  }

  private[graft] def SessionGapUs: Long = 1800000000L

  /** The run-version flag of `scd2_history` and `pit_feature_join`:
    * per user in (ts, event_id) order, `chg` = 1 where event_type
    * differs from the previous row's (or there is none), and `version`
    * its running sum — one number per run of equal event types. */
  private[graft] def runVersioned(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per user, the (UNBOUNDED PRECEDING, `upTo`) frame of the REVERSED
    * (ts, event_id) order: where the forward as-of queries read the
    * next event. "First non-null in the (1 FOLLOWING, UNBOUNDED
    * FOLLOWING) suffix" under asc ≡ "last non-null in the (UNBOUNDED
    * PRECEDING, −1) prefix" under desc — identical rows, but Spark's
    * unbounded-PRECEDING frame streams in O(n) while the
    * unbounded-FOLLOWING frame RECOMPUTES its aggregate per row,
    * O(|partition|²): at the skewed-sf1 hot user (108 886
    * click/purchase events in ONE partition) that is ~5.9e9 frame
    * evaluations ≈ 20 min on one core, and unbounded at 100 TB (r17
    * skew-sweep finding, SCALE.md). */
  private[graft] def reversedPrefix(upTo: Long): WindowSpec =
    Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, upTo)

  /** DuckDB twin of [[sessionized]]: CTE list ending in `sess`
    * (user_id, event_id, ts TIMESTAMP, event_type, value, us,
    * session_seq). A def, not a val: it is interpolated into oracle
    * strings at `defs` init, which runs before this object's later
    * vals (the round-7 init-order gotcha). */
  private[graft] def sessCteSql: String =
    """flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
      |    CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
      |      OR epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, event_type, value, epoch_us(ts) AS us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged)""".stripMargin

  /** DuckDB side of the as-of family: `name` holds the events of one
    * type as (event_id, user_id, ts TIMESTAMP). These oracle fragments
    * are defs for the reason given at [[sessCteSql]]. */
  private[graft] def asofCteSql(name: String, eventType: String): String =
    s"""$name AS (
       |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events WHERE event_type = '$eventType')""".stripMargin

  /** Each purchase of `p` with its clicks of `c` strictly before it in
    * (ts, event_id) order, ranked latest first (`rn` = 1 is the
    * backward as-of neighbour). */
  private[graft] def backRankSql(name: String): String =
    s"""$name AS (
       |  SELECT p.event_id, c.event_id AS c_id, c.ts AS c_ts,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
       |  FROM p JOIN c ON c.user_id = p.user_id
       |    AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id)))""".stripMargin

  /** The backward as-of oracle, ONE text for `asof_attribution` and
    * `asof_plan_node`: the ranked range join (quadratic per user, fine
    * at oracle scale), so the window form, the plan-node lowering and
    * DuckDB must land on the same rows. */
  private[graft] def asofBackSql: String =
    s"""WITH ${asofCteSql("p", "purchase")},
       |${asofCteSql("c", "click")},
       |${backRankSql("ranked")}
       |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
       |  r.c_id AS click_event_id, epoch_us(r.c_ts) AS click_us
       |FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
       |  ON r.event_id = p.event_id""".stripMargin

  /** The forward as-of oracle, ONE text for `asof_forward` and
    * `asof_plan_forward`: each click's rank-1 purchase strictly after
    * it, with the latency. */
  private[graft] def asofFwdSql: String =
    s"""WITH ${asofCteSql("c", "click")},
       |${asofCteSql("p", "purchase")},
       |ranked AS (
       |  SELECT c.event_id, p.event_id AS p_id, p.ts AS p_ts,
       |    row_number() OVER (PARTITION BY c.event_id
       |      ORDER BY p.ts, p.event_id) AS rn
       |  FROM c JOIN p ON p.user_id = c.user_id
       |    AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id)))
       |SELECT c.event_id AS click_event_id, c.user_id,
       |  epoch_us(c.ts) AS click_us,
       |  r.p_id AS purchase_event_id, epoch_us(r.p_ts) AS purchase_us,
       |  epoch_us(r.p_ts) - epoch_us(c.ts) AS latency_us
       |FROM c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
       |  ON r.event_id = c.event_id""".stripMargin

  /** `attribution_linear` lookback window: 7 days in epoch micros. */
  private[graft] def AttrWindowUs: Long = 7L * 86400L * 1000000L

  /** Conversion-latency distribution by click day-of-week — the
    * report a growth/attribution team reads next to the funnel: for
    * clicks that DO convert ([[asof_forward]]'s strictly-next purchase
    * contract, re-derived with the same one-window no-join shape),
    * exact median and p90 of the click→purchase latency, segmented by
    * the click's day of week. The weekday comes from pure epoch-day
    * integer arithmetic — (epoch_days + 4) % 7, 0 = Monday — never a
    * timezone/locale function two engines could disagree on; the
    * quantiles ride the established percentile ↔ quantile_cont
    * round-6 contract (approx_percentile is the documented at-scale
    * swap, `quantile_stats`). One user-keyed window + one 7-key
    * aggregate. */
  private[graft] def conversionLatencyDef: QueryDef =
    QueryDef("conversion_latency",
      (s, dir) => Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("next_us",
          last(when(col("event_type") === "purchase", unix_micros(col("ts"))),
            ignoreNulls = true).over(reversedPrefix(-1)))
        .filter(col("event_type") === "click" && col("next_us").isNotNull)
        .select(
          expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
          // WHOLE SECONDS before the percentile: quantile interpolation
          // on epoch-micro magnitudes (~1e11) differs between engines
          // in the last ulp, which round-6 cannot absorb — the sf0.01
          // gate caught a .49994-vs-.5 boundary on dow=5. Seconds keep
          // values ≤ ~1e6 where the round-6 contract provably holds
          // (quantile_stats).
          expr("(next_us - unix_micros(ts)) div 1000000").as("lat_s"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(lat_s, 0.5)"), 6).as("median_lat_s"),
          round(expr("percentile(lat_s, 0.9)"), 6).as("p90_lat_s")),
      Some("""WITH c AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE event_type = 'click'),
             |p AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE event_type = 'purchase'),
             |nxt AS (
             |  SELECT c.event_id, c.us,
             |    min(p.us) AS next_us
             |  FROM c JOIN p ON p.user_id = c.user_id
             |    AND (p.us > c.us OR (p.us = c.us AND p.event_id > c.event_id))
             |  GROUP BY 1, 2)
             |SELECT ((us // 86400000000) + 4) % 7 AS dow, COUNT(*) AS n,
             |  round(quantile_cont((next_us - us) // 1000000, 0.5), 6) AS median_lat_s,
             |  round(quantile_cont((next_us - us) // 1000000, 0.9), 6) AS p90_lat_s
             |FROM nxt GROUP BY 1""".stripMargin))

  /** `session_paths` result size. */
  private[graft] def PathTopK: Int = 20
}
