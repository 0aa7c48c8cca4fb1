package graft

import graft.core.{JobMetrics, JoinSpec, Pipeline}
import graft.sources.ParquetSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale guarantees the engine promises are
  * plan *shapes*, not timings — filters reach the parquet scan, small
  * dims broadcast, aggregations are partial before the shuffle, hot
  * expressions stay inside whole-stage codegen. Timings vary with the
  * machine; these properties must not.
  */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("filter + projection push down to the parquet scan") {
    val p = plan(SparkEntry.queries("scan_project_filter")(spark, dir))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    // column pruning: the 16-column lineitem scan reads only what the
    // query touches
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_shipdate"), readSchema)
  }

  test("pipeline dim join broadcasts (no shuffle of the fact side)") {
    // no forced hint (JoinSpec default is size-based): the planner's own
    // size estimate must still pick broadcast for an under-threshold dim
    val df = Pipeline
      .from(ParquetSource(s"$dir/orders.parquet"))
      .join(JoinSpec(ParquetSource(s"$dir/customer.parquet"), "o_custkey", "c_custkey"))
      .toDF(spark)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  /** Every BroadcastExchange subtree in the physical plan, as text —
    * used to assert the FACT side is never the build side. */
  private def broadcastSubtrees(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        b.treeString
    }

  /** Forced broadcast hints present in the analyzed logical plan —
    * used to assert SF-scaling dims are never hard-hinted. */
  private def hintedSubtrees(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.treeString
    }

  test("fact table is never the broadcast build side; only fixed-size dims are hinted") {
    // the scale contract (VERDICT r1): a forced broadcast() on a dim
    // that grows with SF (customer/supplier/part) OOMs at 100×. Only
    // nation (25 rows) and region (5 rows) may carry a hard hint; the
    // fact table must never sit under a BroadcastExchange.
    for (q <- Seq("tpch_q3", "tpch_q5", "tpch_q10", "tpch_brand_share", "join_chained",
        "tpch_q7", "tpch_q8", "tpch_q18", "tpch_q4", "tpch_q13", "tpch_q16", "tpch_q2",
        "tpch_q9", "tpch_q20")) {
      val df = SparkEntry.queries(q)(spark, dir)
      for (t <- broadcastSubtrees(df))
        assert(!t.contains("lineitem"), s"$q broadcasts the fact side:\n$t")
      for (h <- hintedSubtrees(df)) {
        assert(!h.contains("lineitem"), s"$q hints the fact table:\n$h")
        for (dim <- Seq("customer", "supplier", "part.parquet"))
          assert(!h.contains(dim), s"$q force-broadcasts SF-scaling dim $dim:\n$h")
      }
    }
  }

  test("tpch_q4/q16: semi and anti joins survive planning (not rewritten to inner)") {
    // EXISTS → LeftSemi and NOT IN → LeftAnti must reach the physical
    // plan as such: an inner-join rewrite would change cardinality
    // (q4: one output row per MATCHING LINE instead of per order) and
    // lose the probe-only build property the shapes are chosen for.
    val p4 = plan(SparkEntry.queries("tpch_q4")(spark, dir))
    assert(p4.contains("LeftSemi"), p4)
    val p16 = plan(SparkEntry.queries("tpch_q16")(spark, dir))
    assert(p16.contains("LeftAnti"), p16)
    // q4's date filter reaches the orders scan (prunes before the join)
    assert(p4.contains("PushedFilters:"), p4)
    assert(p4.contains("GreaterThanOrEqual(o_orderdate"), p4)
  }

  test("tpch_q21: both self-correlations survive as semi/anti; fact never broadcast") {
    val df = SparkEntry.queries("tpch_q21")(spark, dir)
    val p = plan(df)
    // EXISTS(other supplier) → LeftSemi, NOT EXISTS(other late
    // supplier) → LeftAnti — an inner-join rewrite would emit one row
    // per matching PAIR of lines in an order, not one per line
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // the R-filter reaches the lineitem scan (prunes l1 before the
    // self-joins)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    // lineitem sits on both sides of both correlations; none of those
    // sides may ever be a broadcast build (only supplier/nation dims)
    for (t <- broadcastSubtrees(df))
      assert(!t.contains("lineitem"), s"tpch_q21 broadcasts the fact side:\n$t")
  }

  test("window_ntile_highcard: the ntile window partitions on the high-cardinality key") {
    val p = plan(SparkEntry.queries("window_ntile_highcard")(spark, dir))
    assert(p.contains("Window"), p)
    // parallelism = customer count: the exchange feeding the window
    // must hash-partition on o_custkey, never collapse to one task
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("rank_global_bucketed: per-row work is bucket-partitioned; only bucket counts go global") {
    val p = plan(SparkEntry.queries("rank_global_bucketed")(spark, dir))
    // the row_number window runs per bucket (hashpartitioning(bkt)) —
    // the per-ROW stage never funnels through one task
    assert("hashpartitioning\\(bkt".r.findAllIn(p).size >= 1, p)
    assert(p.contains("row_number"), p)
    // the offsets (one row per bucket) join back as a broadcast — the
    // fact side of the rank join is never shuffled for the join
    assert(p.contains("BroadcastHashJoin"), p)
    // the ONLY single-partition exchange is the cumulative-offset
    // window over |buckets| rows (that's the pattern: the serial step
    // shrinks from |rows| to |buckets|)
    val singles = "(?m)^\\(\\d+\\) Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, p)
  }

  test("tpch_q13: outer join keeps zero-order customers; filter stays on the orders side") {
    val df = SparkEntry.queries("tpch_q13")(spark, dir)
    val p = plan(df)
    assert(p.contains("LeftOuter"), p)
    // the priority predicate must be pushed to the ORDERS scan (right
    // side of the outer join), never applied post-join where it would
    // drop the c_count = 0 bucket
    assert(p.contains("Not(EqualTo(o_orderpriority"), p)
  }

  test("q1_agg: partial (map-side) aggregation before the exchange") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, dir))
    // partial_sum before the Exchange, final sum after = map-side combine
    assert(p.contains("partial_sum"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(plan(SparkEntry.queries("q1_agg")(spark, dir))).size >= 1, p)
  }

  test("tpch_q1_full: partial aggregation, filter pushed, 10-col scan pruned to 7") {
    val p = plan(SparkEntry.queries("tpch_q1_full")(spark, dir))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    for (unused <- Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
      assert(!readSchema.contains(unused), readSchema)
  }

  test("tpch_q8: single aggregation exchange on the year key after the joins") {
    // the 8-table join must not introduce extra aggregate shuffles: one
    // partial agg under one hashpartitioning(o_year) exchange
    val p = plan(SparkEntry.queries("tpch_q8")(spark, dir))
    assert(p.contains("partial_sum"), p)
    // the year grouping key is a derived expression — Spark names it
    // _groupingexpression in the exchange; either spelling is the same
    // single agg shuffle
    assert("hashpartitioning\\((o_year|_groupingexpression)".r.findAllIn(p).size >= 1, p)
  }

  test("tpch_q9: wide join aggregates with one partial agg; neither big side broadcast") {
    val df = SparkEntry.queries("tpch_q9")(spark, dir)
    val p = plan(df)
    // partial (map-side) profit sum before the single (nation, year)
    // exchange — the 6-relation join must not add aggregate shuffles
    assert(p.contains("partial_sum"), p)
    assert("hashpartitioning\\((nation|n_name|_groupingexpression)".r.findAllIn(p).size >= 1, p)
    // the p_name LIKE filter reaches the part scan as a pushed filter
    assert(p.contains("StringContains(p_name,red)"), p)
    // lineitem appears twice (fact + the DISTINCT catalog derivation);
    // neither may ever be a broadcast build side
    for (t <- broadcastSubtrees(df))
      assert(!t.contains("lineitem"), s"tpch_q9 broadcasts a lineitem side:\n$t")
  }

  test("tpch_q20: both nested semi-joins survive; threshold agg partial before its exchange") {
    val df = SparkEntry.queries("tpch_q20")(spark, dir)
    val p = plan(df)
    // supplier ← qualifying-catalog IN and catalog ← part-name IN must
    // both reach the physical plan as LeftSemi (an inner rewrite would
    // multiply suppliers by qualifying parts)
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
    // the correlated shipped-quantity threshold is decorrelated into
    // one grouped sum with map-side partial aggregation
    assert(p.contains("partial_sum"), p)
    // the shipping-window filter reaches the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    for (t <- broadcastSubtrees(df))
      assert(!t.contains("lineitem"), s"tpch_q20 broadcasts a lineitem side:\n$t")
  }

  test("tpch_q11: grouped sums computed once (cached), 1-row total broadcast back") {
    val df = SparkEntry.queries("tpch_q11")(spark, dir)
    val p = plan(df)
    // the catalog join + group-sum subtree must be shared via the
    // persist — both the global total and the threshold filter read
    // the cache, never re-running the join
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
    // partial aggregation before the grouping exchange
    assert(p.contains("partial_sum"), p)
    // the 1-row total rides a broadcast join back onto the groups —
    // never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache() // release the query's persist
  }

  test("heavy_hitters: candidate semi-join prunes before the counting exchange") {
    val df = SparkEntry.queries("heavy_hitters")(spark, dir)
    val p = plan(df)
    // the exact-verify count must only ever shuffle candidate tokens:
    // the candidate semi-join survives planning, and the count is
    // map-side partial before its exchange
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_count"), p)
    // the 1-row global total rides a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache() // release the summary persist
  }

  test("join_chained: small dims still broadcast by size, without a forced hint") {
    // planner size stats (not a hint) must pick broadcast at this SF —
    // the same unhinted plan degrades gracefully to shuffle joins at 100×
    val p = plan(SparkEntry.queries("join_chained")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("native dot product stays inside whole-stage codegen") {
    val df = SparkEntry.queries("ann_bruteforce")(spark, dir)
    assert(plan(df).contains("graft_dot"), plan(df))
    // WholeStageCodegen spans only materialize in the executed plan
    // under AQE — run the query, then audit
    df.collect()
    // AQE prints Final and Initial sections; audit the final plan only
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // '*(n)' marks operators fused into a WholeStageCodegen stage —
    // every projection evaluating graft_dot must carry it
    val hot = executed.linesIterator.filter(_.contains("graft_dot")).toSeq
    assert(hot.nonEmpty, executed)
    assert(hot.forall(_.contains("*(")), hot.mkString("\n"))
  }

  test("window_topk: exactly one exchange (partitionBy key) feeds the window") {
    val p = plan(SparkEntry.queries("window_topk")(spark, dir))
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size >= 1, p)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("ANN top-k windows carry WindowGroupLimit (per-partition pre-trim before the exchange)") {
    // THE mechanism that lets a rank<=k filter over a q_id window scale:
    // each input partition is trimmed to its own top-k BEFORE the
    // per-query exchange, so a q_id task receives <= k·partitions rows,
    // not the corpus. SCALE.md claims it; this pins it on both the
    // brute-force ranker and mmr_rerank's candidate generator.
    // knn_graph's window partitions by src over the corpus-sized edge
    // candidate set — the pre-trim matters MOST there
    // weighted_sample's per-language priority top-k leans on the same
    // pre-trim: without it the exchange moves the corpus, with it
    // <= k rows per input partition per language. The rest of the list
    // is every other query whose ranked cut goes through
    // ProfilingQueries.topK (graph_pagerank and graph_triangles
    // checkpoint their edge list at construction, so their final plans
    // hold no window to inspect).
    for (q <- Seq("ann_bruteforce", "mmr_rerank", "knn_graph", "weighted_sample",
        "ann_ivf", "ann_ivf_nprobe", "ann_pq", "ann_ivfpq", "ann_recall_eval",
        "negative_sample", "ann_lsh", "hybrid_search", "hubness_indegree",
        "knn_graph_nprobe", "ann_sq8", "ann_binary", "ann_adaptive", "bitext_margin",
        "embedding_matryoshka", "inverted_index", "tfidf_keywords", "bm25_search",
        "retrieval_mrr")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(p.contains("WindowGroupLimit"), s"$q: no WindowGroupLimit pre-trim\n$p")
    }
    spark.catalog.clearCache() // knn_graph rides frozenCells' persist
  }

  test("boilerplate_lines: marker join broadcasts, exactly two corpus scans") {
    // SCALE.md's claims for the stats-then-apply floor: the boilerplate
    // SET broadcasts into the marker join (a corpus-sized shuffle join
    // there would be the scale bug), and the plan reads documents
    // exactly twice — freq pass + apply pass, no third scan for totals
    val p = plan(SparkEntry.queries("boilerplate_lines")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"marker join must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // formatted plans mention each node twice (tree + detail section);
    // count the numbered detail headers, one per physical scan
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected exactly 2 document scans, got $scans\n$p")
  }

  test("embedding_matryoshka: corpus never joins heavy, per-dim top-k pre-trims") {
    // every truncation's brute pass broadcasts the query side and
    // pre-trims its rank window; the truth-pair shift passes broadcast
    // the tiny truth frame — no sort-merge join, no cartesian anywhere
    val p = plan(SparkEntry.queries("embedding_matryoshka")(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"no top-k pre-trim\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p)
  }

  test("inverted_index: postings cap pre-trims, df/cf side broadcasts into the join") {
    // SCALE.md's claims for the index build: the rank<=cap filter
    // lowers to WindowGroupLimit (a hot term's postings never assemble
    // beyond cap rows per partition) and the vocabulary-sized df/cf
    // leg broadcasts — the postings leg streams, no term-keyed
    // sort-merge join materializes
    val p = plan(SparkEntry.queries("inverted_index")(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"no postings pre-trim\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df/cf side must broadcast\n$p")
  }

  test("bitext_margin: both k-NN windows pre-trim; both probe sides broadcast") {
    // SCALE.md's claim for the mining shape: the anchor batch and the
    // best-candidate set ride broadcasts against the streamed sides,
    // and both top-k windows carry the WindowGroupLimit map-side trim —
    // so each exchange moves <= k·partitions rows per key, never a side
    val p = plan(SparkEntry.queries("bitext_margin")(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p) // lit(true) joins must broadcast, not BNLJ-fallback
  }

  test("compaction rewrite is shuffle-free: coalesce plans no Exchange (repartition would)") {
    // compact_files' cost claim — every byte moves once (read + write).
    // The coalesce merge must stay a narrow dependency; the repartition
    // alternative is pinned as the contrast, exactly like the
    // range-join BNLJ contrast.
    val out = tmpDir("compact_audit")
    spark.read.parquet(s"$dir/nation.parquet")
      .write.mode("overwrite").option("maxRecordsPerFile", 5).parquet(out)
    val in = spark.read.parquet(out)
    val viaCoalesce = plan(in.coalesce(1))
    assert(viaCoalesce.contains("Coalesce"), viaCoalesce)
    assert(!viaCoalesce.contains("Exchange"), viaCoalesce)
    val viaRepartition = plan(in.repartition(1))
    assert(viaRepartition.contains("Exchange"), viaRepartition)
  }

  test("quality_classifier: zero-Exchange scan-speed inference") {
    // the classifier stage is per-row arithmetic — any Exchange here
    // means a feature accidentally became an aggregation
    val p = plan(SparkEntry.queries("quality_classifier")(spark, dir))
    assert(!p.contains("Exchange"), p)
  }

  test("text_repetition: single-Exchange narrow plan (the widening repartition only)") {
    // r14 shape: one codegen'd RepetitionStatsExpr pass per document —
    // the ONLY exchange allowed is the shared narrow-scan widening
    // repartition, and the expression must be in the plan (its absence
    // means a rewrite re-introduced materialized gram arrays or the
    // persisted two-consumer shape whose cache + hash-agg passes were
    // the r12/r13 load amplifier)
    val p = plan(SparkEntry.queries("text_repetition")(spark, dir))
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p)
    assert(p.contains("graft_repetition_stats"), p)
  }

  test("multimodal_audio: zero-Exchange per-partition decode") {
    // the module rule: payloads are only ever mapped, never shuffled —
    // an Exchange here means the binary column leaked into keyed work
    val p = plan(SparkEntry.queries("multimodal_audio")(spark, dir))
    assert(!p.contains("Exchange"), p)
  }

  test("ann_binary: no cartesian product; codes-only candidate join") {
    // the candidate stage must join the broadcast query CODES against
    // the narrow (vec_id, lo, hi) projection — a CartesianProduct (or
    // the float embedding column reaching the non-equi join) means the
    // 24-byte/row scan claim is broken
    val p = plan(SparkEntry.queries("ann_binary")(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("multimodal_video: zero-Exchange per-partition container parse") {
    // same module rule as the audio pin: the ISO-BMFF metadata walk is
    // a pure map — an Exchange means the payload entered keyed work
    val p = plan(SparkEntry.queries("multimodal_video")(spark, dir))
    assert(!p.contains("Exchange"), p)
  }

  test("graft_nfc: composed and decomposed accents hash identically after normalize") {
    import spark.implicits._
    // "café" with a precomposed é vs a decomposed e + COMBINING ACUTE
    val df = Seq(("café", "café")).toDF("composed", "decomposed")
    val r = df.select(
      graft.functions.TextFunctions.nfcNormalize(col("composed")).as("a"),
      graft.functions.TextFunctions.nfcNormalize(col("decomposed")).as("b"),
      (md5(col("composed")) === md5(col("decomposed"))).as("raw_same"))
      .withColumn("norm_same", md5(col("a")) === md5(col("b"))).head
    assert(!r.getBoolean(2))  // without NFC the hashes differ…
    assert(r.getBoolean(3))   // …after NFC they agree
    assert(r.getString(0) == "café" && r.getString(1) == "café")

    // and it is SQL-callable + codegen'd like graft_dot
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT graft_nfc('café') AS n").head.getString(0)
    assert(viaSql == "café")
  }

  test("graft_dot is SQL-callable after extensions registration") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS n2 FROM emb_v WHERE vec_id < 3")
      .collect()
    assert(r.length == 3)
    assert(r.forall(_.getDouble(1) > 0.0))
  }

  test("correlated scalar subquery is decorrelated to aggregate + join") {
    for (q <- Seq("sql_correlated", "tpch_q17")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      // no per-row subquery execution: Catalyst rewrites to agg + join
      assert(!p.contains("ScalarSubquery"), s"$q:\n$p")
      assert(p.contains("HashAggregate") || p.contains("Aggregate"), s"$q:\n$p")
      assert(p.contains("Join") || p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
  }

  test("AQE re-plans a shuffle join to broadcast at runtime (the unhinted-dim contract)") {
    // The engine's broadcast policy leaves SF-scaling dims UNHINTED and
    // lets AQE decide from runtime sizes (VERDICT r1). This pins the
    // mechanism those plans rely on: a join whose build side only
    // becomes provably small AFTER a filter executes (static stats
    // can't see through it here) must end up a BroadcastHashJoin in the
    // FINAL adaptive plan.
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // distinct forces a shuffle boundary, so the filtered side's true
    // size is first known at runtime
    val smallSide = orders.filter(col("o_totalprice") > 490000.0)
      .select(col("o_orderkey")).distinct()
    val joined = li.join(smallSide, li("l_orderkey") === smallSide("o_orderkey"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    joined.collect() // AQE finalizes during execution
    val executed = joined.queryExecution.executedPlan.toString
    val finalPlan = executed.split("== Initial Plan ==").head
    assert(finalPlan.contains("AdaptiveSparkPlan isFinalPlan=true"), executed)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("asof_attribution: one user_id shuffle, no join — the distributed as-of shape") {
    val p = plan(SparkEntry.queries("asof_attribution")(spark, dir))
    // both event kinds ride one window pass: a range-join formulation
    // (the oracle's shape) would put a Join here and go quadratic per
    // user at scale
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("asof_nearest: BOTH direction windows ride the one user_id shuffle, no join") {
    // the bidirectional as-of must not cost two as-of joins: both
    // direction windows share the single (user_id) Exchange. They no
    // longer fuse into one WindowExec — the forward direction runs on
    // the REVERSED (ts, event_id) sort so it can read the streaming
    // (UNBOUNDED PRECEDING, CURRENT ROW) frame instead of Spark's
    // per-row-recompute (CURRENT ROW, UNBOUNDED FOLLOWING) frame,
    // which is O(|partition|²) on a hot user (the r17 skew finding:
    // 108,886-event user ≈ 5.9e9 frame evaluations). Two WindowExecs
    // + one extra in-partition sort is the deliberate trade; NO
    // unbounded-following frame may reappear anywhere in the plan.
    val p = plan(SparkEntry.queries("asof_nearest")(spark, dir))
    assert(!p.contains("Join"), p)
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 2, p)
    assert("last\\(cs".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("UNBOUNDED FOLLOWING"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("range_join_bucketed: interval join runs as a hash equi-join on the bucket, not BNLJ") {
    val p = plan(SparkEntry.queries("range_join_bucketed")(spark, dir))
    // the rewrite's whole point: a pure range predicate has no equi key
    // and plans nested-loop — O(|intervals|·|fact|) compute at scale
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") && p.contains("bkt"), p)
    // contrast: the naive non-equi formulation of the same semantics
    // degenerates to BroadcastNestedLoopJoin
    val iv = Tables(spark, dir, "orders")
      .filter(col("o_totalprice") >= 495000.0)
      .select(col("o_orderkey"), col("o_orderdate").as("start_ts"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("end_ts"))
    val naive = Tables(spark, dir, "lineitem")
      .join(iv, col("l_shipdate") >= col("start_ts") && col("l_shipdate") < col("end_ts"))
    assert(plan(naive).contains("BroadcastNestedLoopJoin"), plan(naive))
  }

  test("curation_quota: rank work is (lang, bucket)-partitioned; offsets broadcast back") {
    val p = plan(SparkEntry.queries("curation_quota")(spark, dir))
    // per-row ranking must partition on BOTH lang and the score bucket —
    // lang alone is a one-task-per-language funnel at corpus scale
    assert("hashpartitioning\\(lang[^,]*, bkt".r.findAllIn(p).size >= 1, p)
    // the tiny offsets frame comes back via broadcast, not a shuffle of
    // the full corpus against it
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_incremental: candidate generation probes batch bands, never corpus×corpus") {
    val p = plan(SparkEntry.queries("dedup_incremental")(spark, dir))
    // the probe restriction appears as a semi-join of the band index
    // against the batch id set before the bucket join
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("merge_upsert: latest-wins window keys on the entity; apply is a co-partitioned full outer") {
    val p = plan(SparkEntry.queries("merge_upsert")(spark, dir))
    // the change-batch compaction must partition on user_id — a
    // batch-global window would funnel the whole change stream
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p)
    assert(p.contains("FullOuter"), p)
    // full outer has no broadcast form; both sides co-partition on the key
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("stats_moments: all five sums partial-aggregate before the single group exchange") {
    val p = plan(SparkEntry.queries("stats_moments")(spark, dir))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
    // exact sums: no DOUBLE enters an aggregation buffer (the r13
    // headroom swap made the buffers DECIMAL(38,0) — still exact;
    // the failure smell is specifically a double-typed sum operand)
    assert("sum\\(cast\\([^)]*as double\\)".r
      .findFirstIn(p.toLowerCase).isEmpty, p)
    assert(p.toLowerCase.contains("decimal(38,0)"), p)
  }

  test("quantile_sketch: sample aggregation is partial (map-side) before the one group exchange") {
    // the production claim: the bottom-k-by-hash sample combines
    // map-side like any mergeable sketch — one exchange on the group
    // key carries bounded buffers, not rows. (The exact-quantile audit
    // columns ride the same aggregate, so the exchange count stays 1.)
    val p = plan(SparkEntry.queries("quantile_sketch")(spark, dir))
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
    // typed-aggregator partials run in ObjectHashAggregate with a
    // partial_ mode ahead of the exchange
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
  }

  test("pack_sequences: packing window is sharded by (lang, shard), never a global sort") {
    val p = plan(SparkEntry.queries("pack_sequences")(spark, dir))
    assert(p.contains("Window"), p)
    // the window exchange must partition on BOTH keys: lang alone
    // bounds parallelism by the language count (a one-task-per-language
    // funnel at 100 TB); the content-hash shard makes the unit count
    // scale with the corpus
    assert("hashpartitioning\\(lang[^,]*, shard".r.findAllIn(p).size >= 1, p)
    // a single-partition exchange would mean the whole corpus funnels
    // through one task to be packed — the shape that dies at 100×
    assert(!p.contains("SinglePartition"), p)
  }

  test("shard-count sizing: floor 16, ~2 GiB per shard, capped") {
    import graft.queries.ProfilingQueries.{shardCount, TargetShardBytes}
    val GiB = BigInt(1) << 30
    // small corpora (incl. all testdata SFs) sit on the floor — the
    // pinned N=16 oracles rely on this
    assert(shardCount(0) == 16)
    assert(shardCount(GiB) == 16)
    assert(shardCount(31 * GiB) == 16)
    // past the floor threshold the count tracks input size: one shard
    // per ~2 GiB, so per-shard work is constant as the corpus grows
    assert(shardCount(33 * GiB) == 17)
    assert(shardCount(BigInt(100) * 1024 * GiB) == 51200) // 100 TiB
    // monotone non-decreasing, and ceil-division never undershoots
    assert(shardCount(TargetShardBytes + 1) >= shardCount(TargetShardBytes))
    assert(shardCount((BigInt(1) << 50)) * TargetShardBytes >= (BigInt(1) << 50))
    // runaway inputs cap (bookkeeping bound), never overflow
    assert(shardCount(BigInt(1) << 62) == (1 << 20))
  }

  test("partition pruning: static filters and dynamic (join-driven) pruning reach the scan") {
    // At 100 TB the corpus arrives partitioned (date/source/shard) and
    // partition pruning is the first 100-1000× lever, before any
    // predicate pushdown. Static: a literal filter on the partition
    // column must become a PartitionFilter (file-level skip), not a
    // row-level filter. Dynamic: when the filter arrives via a JOIN
    // against a filtered dim, DPP must inject a runtime pruning
    // subquery into the scan.
    val out = s"${tmpDir("part_orders")}/data"
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("o_month", month(col("o_orderdate")))
      .write.partitionBy("o_month").parquet(out)
    val fact = spark.read.parquet(out)

    val static = fact.filter(col("o_month") === 5)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val ps = plan(static)
    assert(ps.contains("PartitionFilters"), ps)
    assert("PartitionFilters:.*o_month.*5".r.findFirstIn(ps).isDefined, ps)

    import spark.implicits._
    val dimPath = s"$out/../dim"
    Seq((4, "q2"), (5, "q2"), (6, "q2"), (7, "q3")).toDF("m", "quarter")
      .write.parquet(dimPath)

    // a LITERAL filter on the dim's join column constant-propagates
    // through the join into a STATIC partition filter — no runtime
    // machinery needed at all
    val litDim = spark.read.parquet(dimPath).filter(col("m") === 5)
    val pc = plan(fact.join(litDim, fact("o_month") === litDim("m"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
    assert("PartitionFilters:.*o_month.*5".r.findFirstIn(pc).isDefined, pc)

    // the date-dim shape (filter on a NON-join dim column, so nothing
    // constant-propagates) is where DPP must inject its runtime
    // pruning subquery into the scan
    val qDim = spark.read.parquet(dimPath).filter(col("quarter") === "q2")
    val pd = plan(fact.join(qDim, fact("o_month") === qDim("m"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
    assert(pd.contains("dynamicpruningexpression"), pd)
  }

  test("bm25_search: two-level top-k — per-row ranking is shard-partitioned") {
    val p = plan(SparkEntry.queries("bm25_search")(spark, dir))
    // level 1 must partition on (query, shard): a window partitioned by
    // `query` alone gives |queries| tasks the whole score-positive
    // corpus at 100 TB — the bounded-cardinality funnel
    assert("hashpartitioning\\(query[^,]*, shard".r.findAllIn(p).size >= 1, p)
    // the corpus-stats side is a 1-row aggregate joined back by
    // broadcast — the doc side is never shuffled for it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hybrid_search: both legs' two-level top-k is shard-partitioned") {
    val p = plan(SparkEntry.queries("hybrid_search")(spark, dir))
    // the dense and the sparse leg each rank per (q_id, shard) first: a
    // window partitioned by q_id alone gives |Q| tasks the whole corpus
    assert("hashpartitioning\\(q_id[^,]*, shard".r.findAllIn(p).size >= 2, p)
  }

  test("ngram_decontamination: gram join is an equi-join, rollup is partial-agged") {
    val p = plan(SparkEntry.queries("ngram_decontamination")(spark, dir))
    // candidate discovery must be hash-partitioned on the gram — a
    // nested-loop/theta join here is the quadratic shape
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("hashpartitioning\\(g#?".r.findAllIn(p).size >= 1 ||
      p.contains("BroadcastHashJoin"), p)
    // per-doc shared-gram counts combine map-side before the shuffle
    assert(p.contains("partial_count") || p.contains("partial_"), p)
  }

  test("scd2_history: one fact shuffle serves both windows and the rollup") {
    val p = plan(SparkEntry.queries("scd2_history")(spark, dir))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p)
    // lag window, run rollup, and lead window all reuse the user_id
    // partitioning: exactly ONE exchange in the whole plan
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("runtime bloom-filter join pruning injects onto the fact scan side") {
    // The shuffle-join twin of DPP: when a selective dim filter feeds a
    // non-broadcast join, Spark builds a bloom filter from the dim keys
    // at runtime and applies it to the fact side BEFORE the exchange —
    // at 100 TB that's the difference between shuffling the whole fact
    // table and shuffling the ~matching rows. Thresholds are sized for
    // clusters, so pin the MECHANISM with them lowered; the engine's
    // unhinted plans inherit it wherever the planner sees the sizes.
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 400000.0)
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") || opt.contains("might_contain"), opt)
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no driver query runs a Window over a single-partition exchange (funnel sweep)") {
    // The bounded-cardinality funnel is the one scale defect that keeps
    // recurring (pack_sequences, window_distribution, bm25 — all caught
    // and fixed at review time): a WindowExec whose input exchange
    // collapses to one partition owns the whole input in one task.
    // Sweep EVERY registered query; the only allowed case is
    // rank_global_bucketed's offsets window, whose input is already
    // aggregated to |buckets| rows (the documented shrink-then-serial
    // pattern). AQE is disabled for the sweep: exchanges only exist
    // after EnsureRequirements (sparkPlan has none), and with AQE on,
    // executedPlan is a leaf AdaptiveSparkPlanExec that collect() can't
    // descend into.
    // a funnel = the window's DIRECT input is one partition (its
    // child's output partitioning, i.e. whatever the nearest exchange
    // produced) — searching the whole subtree would false-positive on
    // unrelated 1-row aggregate exchanges under a join branch
    def funnels(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.collectFirst {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning.numPartitions == 1 => w
      }.isDefined
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // positive control: a deliberately global window MUST trip the
      // detector, or the sweep below is vacuous
      import org.apache.spark.sql.expressions.Window
      val control = spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("r", row_number().over(Window.orderBy(col("o_orderkey"))))
      assert(funnels(control), "detector failed its positive control")

      // allowed = the documented shrink-then-serial pattern ONLY: a
      // window whose input is already aggregated to a bounded summary
      // frame (|buckets| or |days| rows), never corpus-sized
      val allowed = Set("rank_global_bucketed", "histogram_equidepth",
        "users_cumulative",
        // serial carry-offset window over the |days| summary frame
        // (the sweep-line bucket decomposition)
        "session_concurrency",
        // serial tier window over the |distinct-freq| frame (nucleus
        // cut — per-token work is tier/bucket-partitioned)
        "vocab_top_p",
        // serial rank window over the already-TakeOrdered top-1000
        // frame (Zipf OLS — the corpus collapses to the vocab count,
        // then to 1000 rows, before the window runs)
        "vocab_zipf",
        // Hamilton remainder ranking over the |languages|-row frame —
        // the corpus collapses to per-language counts first
        "token_budget_apportion",
        // cumulative Heaps-curve windows over the |buckets| summary
        // frame — the corpus collapses to GrowthBuckets counter rows
        // before either window runs
        "vocab_growth",
        // serial cumulative over the ≤101 coarse score-bucket frame
        // (Mann-Whitney negBelow tier — per-score work is
        // bucket-partitioned)
        "quality_auc",
        // TWO serial offset windows, each over its |buckets| count
        // frame (doc_id-band and len-band) — the rank_global_bucketed
        // two-pass; per-row ranking is bucket-partitioned (r14)
        "padding_waste")
      val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try {
          if (funnels(SparkEntry.queries(name)(spark, dir))) Some(name) else None
        } finally spark.catalog.clearCache()
      }
      assert(offenders.toSet.subsetOf(allowed),
        s"window-over-single-partition funnels: ${offenders.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("AQE-on funnel sweep: runtime re-planning cannot hide a single-partition window") {
    // The static sweep above runs with AQE OFF (exchanges only visible
    // pre-adaptive). This pass audits the FINAL physical plan AFTER
    // execution with AQE ON, descending through AdaptiveSparkPlanExec
    // and materialized QueryStageExec nodes, so a funnel introduced by
    // runtime re-planning can never hide. Partition COALESCING is
    // disabled for the sweep only: at sf0.001 AQE rightly coalesces
    // tiny shuffles to one partition — that is scale-ADAPTIVE, not a
    // plan funnel — and with it on the detector cannot tell the two
    // apart. With coalescing off, a 1-partition window input is the
    // same plan property the static sweep flags.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case s: QueryStageExec => deep(s.plan)
        case _ => Seq.empty
      }
      (p +: p.children.flatMap(deep)) ++ nested
    }
    def funnelsAfterExec(df: DataFrame): Boolean = {
      df.queryExecution.toRdd.foreach(_ => ()) // materialize THIS QueryExecution
      deep(df.queryExecution.executedPlan).exists {
        case w: WindowExec => w.child.outputPartitioning.numPartitions == 1
        case _ => false
      }
    }
    val keep = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // positive control: a deliberately global window must trip the
      // detector THROUGH the adaptive plan, or the sweep is vacuous
      import org.apache.spark.sql.expressions.Window
      val control = spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("r", row_number().over(Window.orderBy(col("o_orderkey"))))
        .groupBy(lit(1)).agg(sum(col("r"))) // an agg above, so AQE has stages to re-plan
      assert(funnelsAfterExec(control), "detector failed its positive control")

      // representative subset: every allow-listed shrink-then-serial
      // query (they must remain the ONLY acceptable hits) plus the
      // window-heaviest production shapes
      val allowed = Set("rank_global_bucketed", "histogram_equidepth",
        "users_cumulative", "session_concurrency", "vocab_top_p",
        "vocab_zipf", "token_budget_apportion", "quality_auc")
      val subset = (allowed.toSeq ++ Seq(
        "sessionize", "window_topk", "window_running", "window_range_rolling",
        "pack_sequences", "asof_attribution", "asof_plan_node", "asof_forward",
        "bm25_search", "merge_upsert", "dedup_canonical", "scd2_history")).sorted
      val offenders = subset.flatMap { name =>
        try {
          if (funnelsAfterExec(SparkEntry.queries(name)(spark, dir))) Some(name) else None
        } finally spark.catalog.clearCache()
      }
      assert(offenders.toSet.subsetOf(allowed),
        s"AQE-final-plan window funnels: ${offenders.filterNot(allowed).mkString(", ")}")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no driver query plans a CartesianProduct (board-wide sweep, broadcast threshold off)") {
    // The per-query cartesian pins above cover the queries someone
    // THOUGHT about; this sweep covers the query nobody did — a new
    // entry with an accidental unkeyed/non-equi join would slip the
    // board otherwise (the r14 verdict's ask). autoBroadcastJoinThreshold
    // is −1 for the sweep: at 100 TB nothing is auto-broadcastable, so
    // a plan that only avoids CartesianProductExec because sf0.001
    // sides happen to fit the 10 MB threshold is ALREADY the bug. The
    // repo's deliberate cross joins all carry explicit broadcast()
    // hints on bounded |k|-row frames, which survive threshold −1 as
    // BroadcastNestedLoopJoin — allowed by this sweep, and each such
    // site is pinned individually above. AQE off: CartesianProductExec
    // is a static-planning choice; the AQE-on executed subset below
    // audits the adaptive final plans.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def cartesian(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.exists {
        case _: CartesianProductExec => true
        case _ => false
      }
    val keep = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // positive control: a non-broadcast cross join MUST trip the
      // detector, or the sweep below is vacuous
      val a = spark.read.parquet(s"$dir/orders.parquet")
      val b = spark.read.parquet(s"$dir/customer.parquet")
      assert(cartesian(a.crossJoin(b)), "detector failed its positive control")
      // and an explicitly-broadcast cross join must NOT (the repo's
      // sanctioned small-frame pattern plans BNLJ, not cartesian)
      assert(!cartesian(a.crossJoin(broadcast(b.limit(3)))),
        "broadcast-hinted cross join wrongly flagged")

      val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try {
          if (cartesian(SparkEntry.queries(name)(spark, dir))) Some(name) else None
        } finally spark.catalog.clearCache()
      }
      assert(offenders.isEmpty,
        s"CartesianProductExec planned by: ${offenders.mkString(", ")}")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE-on executed subset: runtime re-planning introduces no CartesianProduct") {
    // The static sweep audits the pre-adaptive physical plan; this one
    // executes the join-heaviest shapes under AQE and walks the FINAL
    // adaptive plan (AdaptiveSparkPlanExec / materialized stages), so a
    // cartesian introduced by a runtime join-strategy demotion (e.g. an
    // empty-relation or skew re-plan) cannot hide. Broadcast threshold
    // stays −1 — same 100 TB regime as the static pass.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case s: QueryStageExec => deep(s.plan)
        case _ => Seq.empty
      }
      (p +: p.children.flatMap(deep)) ++ nested
    }
    def cartesianAfterExec(df: DataFrame): Boolean = {
      df.queryExecution.toRdd.foreach(_ => ())
      deep(df.queryExecution.executedPlan).exists(_.isInstanceOf[CartesianProductExec])
    }
    val keep = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // positive control THROUGH the adaptive plan
      val a = spark.read.parquet(s"$dir/orders.parquet")
      val b = spark.read.parquet(s"$dir/customer.parquet")
      val control = a.crossJoin(b).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      assert(cartesianAfterExec(control), "detector failed its positive control")

      // join-heaviest production shapes: multi-join TPC-H, the dedup
      // candidate joins, as-of/range shapes, semi/anti, skew salting
      val subset = Seq(
        "join_inner", "join_chained", "join_semi_anti", "join_left_default",
        "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q21",
        "dedup_minhash_lsh", "dedup_setsim_prefix", "dedup_semantic",
        "ann_bruteforce", "hybrid_search", "asof_attribution",
        "range_join_bucketed", "skew_salted_join", "merge_upsert",
        "cross_apply", "decontaminate").filter(SparkEntry.queries.contains)
      val offenders = subset.sorted.flatMap { name =>
        try {
          if (cartesianAfterExec(SparkEntry.queries(name)(spark, dir))) Some(name)
          else None
        } finally spark.catalog.clearCache()
      }
      assert(offenders.isEmpty,
        s"AQE-final-plan CartesianProduct in: ${offenders.mkString(", ")}")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("CBO: ANALYZE column statistics drive the optimizer's cardinality estimates") {
    // At cluster scale, join ordering and build-side choice run off
    // catalog statistics (spark.sql.cbo.*) — pin that ANALYZE'd column
    // stats actually reach the optimizer: with CBO on, a filtered scan
    // carries a rowCount estimate BELOW the table's, derived from the
    // column histogram, not just file sizes.
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
      spark.read.parquet(s"$dir/orders.parquet")
        .write.saveAsTable("cbo_orders")
      spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val full = spark.table("cbo_orders")
        .queryExecution.optimizedPlan.stats
      val filtered = spark.table("cbo_orders")
        .filter(col("o_orderstatus") === "F")
        .queryExecution.optimizedPlan.stats
      assert(full.rowCount.isDefined && full.rowCount.get.toLong == 1500L, full)
      assert(filtered.rowCount.isDefined, filtered)
      val est = filtered.rowCount.get.toLong
      assert(est > 0 && est < 1500L, s"estimate $est not narrowed by column stats")
    } finally {
      saved.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
        spark.conf.set("spark.sql.cbo.enabled", _))
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
    }
  }

  test("limit_offset: global limit, no full materialization") {
    val p = plan(SparkEntry.queries("limit_offset")(spark, dir))
    assert(p.contains("GlobalLimit") || p.contains("TakeOrderedAndProject"), p)
  }

  test("KMV production shape: partial sketch per map task, ONE tiny exchange") {
    // the driver query `distinct_kmv` deliberately rides countDistinct
    // along for its accuracy audit, which re-keys the first aggregate
    // on (group, user) — O(distinct) shuffle rows. The PRODUCTION form
    // is sketch-only; its plan must partial-aggregate the sketch before
    // a single group-keyed exchange (O(k) bytes per group per task).
    val df = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        graft.functions.TextFunctions.portableHash(col("user_id").cast("string"), 71).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.operators.Aggregators.kmv(64, col("h")).as("sk"))
    val p = plan(df)
    assert(p.contains("partial_kmv"), p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("dsir_select: weight table broadcasts, top-K never sorts globally") {
    val p = plan(SparkEntry.queries("dsir_select")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_setsim_prefix: candidate join is an equi-join, never nested-loop") {
    val p = plan(SparkEntry.queries("dedup_setsim_prefix")(spark, dir))
    // the ONLY nested-loop allowed is dfCap's documented 1-row
    // threshold broadcast (shingleSet internals) — the candidate and
    // verify joins themselves must all be equi-joins
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache() // shingleSet persists internally
  }

  test("attribution_linear and session_paths keep their promised shapes") {
    val pa = plan(SparkEntry.queries("attribution_linear")(spark, dir))
    assert(!pa.contains("BroadcastNestedLoopJoin") && !pa.contains("CartesianProduct"), pa)
    val ps = plan(SparkEntry.queries("session_paths")(spark, dir))
    assert(ps.contains("TakeOrderedAndProject"), ps)
  }

  test("tfidf_keywords: top-k window pre-trims; corpus count broadcasts") {
    // the per-doc keyword window partitions by doc_id (parallelism =
    // |docs|) and must carry the WindowGroupLimit map-side trim so the
    // window exchange moves <= k rows per (partition, doc), not every
    // scored (doc, token) pair; the 1-row corpus count must ride a
    // broadcast, never force the scored table through a join exchange
    val p = plan(SparkEntry.queries("tfidf_keywords")(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the window's exchange partitions on doc_id — never a global
    // funnel (the 1-row corpus-count agg is the only SinglePartition
    // exchange in the plan, and it carries one row by construction)
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).size >= 1, p)
  }

  test("readability_flesch: zero-Exchange scan-speed scoring") {
    // readability is per-row arithmetic over one narrow scan — any
    // Exchange means a count accidentally became an aggregation
    val p = plan(SparkEntry.queries("readability_flesch")(spark, dir))
    assert(!p.contains("Exchange"), p)
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("ngram_novelty: grams shuffle as hashes, never text; df agg is partial") {
    // the novelty exchange carries (doc_id, 60-bit hash) pairs — the
    // shingle STRINGS must be consumed map-side (array_distinct +
    // portable hash before any exchange), and the df count must
    // combine map-side like every counter agg
    val p = plan(SparkEntry.queries("ngram_novelty")(spark, dir))
    assert(p.contains("partial_"), p)
    assert(!p.contains("SinglePartition"), p)
    // every exchange keys on h / doc_id, never the gram string
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!exchanges.contains("sng"), exchanges)
    spark.catalog.clearCache() // the shingle subtree persists internally
  }

  test("source_overlap: pair list broadcasts against the corpus projection, twice") {
    // the corpus-sized (doc_id, source) projection must be the
    // streamed side of BOTH joins — the near-dup pair list is the
    // broadcast build side, so the corpus never shuffles for the rollup
    val p = plan(SparkEntry.queries("source_overlap")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache() // shingleSet persists internally
  }

  test("vocab_growth: both corpus legs collapse map-side; max(doc_id) broadcasts") {
    // the only vocab-sized exchange is the first-occurrence min keyed
    // by token; the bucket rollups must partial-agg before their
    // exchanges, and the 1-row max must never force a shuffle join
    val p = plan(SparkEntry.queries("vocab_growth")(spark, dir))
    assert(p.contains("partial_"), p)
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pcaVector is one lazy fold: no job to build, no Window, ≤D rows") {
    // The PcaIters power-iteration steps run over state and input that
    // do not grow with the corpus (D components, D² gram cells), so
    // pcaVector is one array fold over a one-row gram, not a loop of
    // checkpointed supersteps. Pin that shape: building it starts no
    // job (a superstep loop is eager), its plan holds no Window (each
    // step's max is an array_max, not a serial window) and no corpus
    // scan (the gram it folds is the caller's checkpoint leaf), and it
    // returns at most one row per embedding dimension.
    val tri = queries.SimilarityQueries.gramTriangle(spark, dir).localCheckpoint()
    val gfull = queries.SimilarityQueries.gramFull(tri)
    val dims = gfull.select(col("i")).distinct().count()
    assert(dims <= 64, s"gram dim domain is $dims, expected at most D = 64")
    val (v, built) = JobMetrics.tagged(spark.sparkContext) { m =>
      val v = queries.SimilarityQueries.pcaVector(gfull)
      assert(m.quiesce())
      (v, m.totals.jobs)
    }
    assert(built == 0, s"building pcaVector started $built jobs")
    assert(v.count() <= dims, "pcaVector returned more rows than the gram has dimensions")
    val vPlan = plan(v)
    assert(!vPlan.contains("Window"), vPlan)
    assert(!vPlan.contains("Scan parquet"), vPlan)
    spark.catalog.clearCache()
  }

  test("embedding_class_sep: moment aggs are partial before their exchanges; vectors never shuffle") {
    // both groupBys (per (dim,label), then per dim) must combine
    // map-side so each exchange carries bounded moment rows — and the
    // exploded embedding values themselves must never be an exchange
    // key (the shuffle payload is (dim, label, n, s, ss), tiny)
    val p = plan(SparkEntry.queries("embedding_class_sep")(spark, dir))
    assert(p.contains("partial_"), p)
    assert(!p.contains("SinglePartition"), p)
    assert("hashpartitioning\\(dim".r.findAllIn(p).size >= 1, p)
    // the array column is consumed before any exchange: no exchange
    // subtree should reference `embedding`
    val afterFirstExchange = p.linesIterator
      .filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!afterFirstExchange.contains("embedding"), afterFirstExchange)
  }

  test("width rule: a narrow documents scan gains exactly one pinned REPARTITION_BY_NUM exchange") {
    import graft.queries.ProfilingQueries.{isNarrow, widened}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(isNarrow(docs))
    val p = plan(widened(docs))
    val dp = spark.sparkContext.defaultParallelism
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
    assert(s"hashpartitioning\\(doc_id#\\d+L, $dp\\), REPARTITION_BY_NUM".r
      .findAllIn(p).size == 1, p)
  }

  test("width rule: a frame sized at the threshold is left unchanged, one row less is spread") {
    // Catalyst sizes spark.range(n) at 8n bytes; the threshold is
    // defaultParallelism × openCostInBytes — the no-op-at-scale side
    // of the rule and its exact boundary
    import graft.queries.ProfilingQueries.{isNarrow, widened}
    val dp = spark.sparkContext.defaultParallelism
    val openCost = spark.range(1).queryExecution.sparkSession
      .sessionState.conf.filesOpenCostInBytes
    val n = dp * openCost / 8
    val at = spark.range(n).toDF()
    assert(!isNarrow(at))
    val p = plan(widened(at, col("id")))
    assert(!p.contains("Exchange"), p)
    val below = spark.range(n - 1).toDF()
    assert(isNarrow(below))
    val q = plan(widened(below, col("id")))
    assert(s"hashpartitioning\\(id#\\d+L, $dp\\), REPARTITION_BY_NUM".r
      .findAllIn(q).size == 1, q)
  }

  test("verify exchange: the candidates' doc_a spread is the doc_a join's own exchange, not a second") {
    // With broadcasts off the a-side verify join is a shuffle join on
    // doc_a; the widened candidates are already hash-partitioned on
    // doc_a at the join's width, so the planner must reuse that
    // exchange instead of stacking a second one on top of it
    import graft.queries.DedupQueries
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = DedupQueries.shingleSet(spark, dir,
        maxDfFrac = Some(DedupQueries.DriverMaxDfFrac))
      val p = plan(DedupQueries.jaccardPairs(sh, Some(DedupQueries.lshCandidates(sh))))
      assert(p.contains("SortMergeJoin"), p)
      val docA = "hashpartitioning\\(doc_a#\\d+L, \\d+\\), (\\w+)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(docA == Seq("REPARTITION_BY_NUM"), p)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.catalog.clearCache()
    }
  }

  test("IVF queries: one corpus-wide centroid assignment, built and planned once, no persist") {
    // ivfTopK's contract: the query side ranks its own |Q|×k rows against
    // the centroids instead of filtering the corpus-wide ranking, so the
    // corpus assignment (a window partitioned by vec_id alone over an
    // embeddings input with no vec_id range filter) occurs once and needs
    // no cache to be shared. Both plans are checked: the analyzed plan
    // pins the construction (Catalyst would push a query filter on the
    // corpus ranking below the window, so the physical plan alone cannot
    // tell the two constructions apart), the physical plan what runs.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, IsNotNull}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, ResolvedHint, Window}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def byVecId(spec: Seq[Expression]): Boolean = spec match {
      case Seq(a: AttributeReference) => a.name == "vec_id"
      case _ => false
    }
    // the streamed input of a node: its subtree minus broadcast-hinted sides
    def streamed(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case _: ResolvedHint => Nil
      case _ => p +: p.children.flatMap(streamed)
    }
    spark.catalog.clearCache()
    for (q <- Seq("ann_ivf", "ann_ivf_nprobe", "ann_ivfpq", "ann_recall_eval")) {
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      val built = qe.analyzed.collect {
        case w: Window if byVecId(w.partitionSpec) &&
          !streamed(w.child).exists(_.isInstanceOf[Filter]) => w
      }
      assert(built.size == 1, s"$q builds ${built.size} corpus-wide assignments\n${qe.analyzed}")
      val sp = qe.sparkPlan
      val planned = sp.collect {
        case w: WindowExec if byVecId(w.partitionSpec) && w.child.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.getName == "embeddings.parquet") &&
                f.dataFilters.forall(_.isInstanceOf[IsNotNull])
            case _ => false
          } => w
      }
      assert(planned.size == 1, s"$q plans ${planned.size} corpus-wide assignments\n$sp")
      assert(sp.collect { case m: InMemoryTableScanExec => m }.isEmpty, s"$q persists\n$sp")
    }
  }
}
