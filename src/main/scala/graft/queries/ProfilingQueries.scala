package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data profiling and data-quality expectations — the validation layer
  * every large-scale ingest pipeline runs before (and after) the
  * expensive stages. The reference's analog is qualifier-based record
  * rejection (`src/Qualifiers/CallableQualifier.php`); these operators
  * are the set-at-a-time form: one scan-speed aggregation pass over the
  * whole table, producing per-column/per-rule summaries instead of a
  * per-record verdict.
  *
  * Both queries are single map-side-combinable aggregations — zero
  * joins, one tiny shuffle (grouping key = column/rule name), payload a
  * handful of counters per group. At 100 TB they run at scan speed and
  * are the cheapest possible gate before dedup/training stages.
  */
object ProfilingQueries {

  /** Columns profiled in `profile_stats` (documents corpus). */
  private val ProfCols = Seq("lang", "source", "n_chars")

  /** THE train/val/test split contract (portableHash salt 13 over
    * doc_id, buckets mod 100: <80 train, <90 val, else test) — one
    * definition shared by `split_assign` and the decontamination audit
    * `contamination_check` (DedupQueries): an audit that re-derived the
    * split independently could silently drift from the split it claims
    * to audit. Keep [[splitSql]] in lockstep term-for-term. */
  private[queries] def splitCol: org.apache.spark.sql.Column = {
    import graft.functions.TextFunctions.portableHash
    val bucket = pmod(portableHash(col("doc_id").cast("string"), 13), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitCol]]. */
  private[queries] def splitSql: String = {
    val b = s"${graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)", 13)} % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** THE content-hash shard contract (portableHash salt 7 over doc_id,
    * mod N) — one definition shared by `shuffle_shards` and
    * `pack_sequences` (TextQueries): both need work units whose count
    * scales with the corpus, and sharing the function means a doc's
    * shard is the same everywhere it matters. Keep [[shardSql]] in
    * lockstep term-for-term. */
  private[graft] def shardCol(n: Long): org.apache.spark.sql.Column = {
    import graft.functions.TextFunctions.portableHash
    pmod(portableHash(col("doc_id").cast("string"), 7), lit(n))
  }

  /** DuckDB twin of [[shardCol]]. */
  private[queries] def shardSql(n: Long): String =
    s"${graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)", 7)} % $n"

  /** Per-shard input budget: every shard is sorted / running-summed by
    * ONE window task, so a shard must stay task-sized. ~2 GiB of scan
    * input per shard keeps a task's sort comfortably in executor
    * memory with headroom for the decompressed/widened rows. */
  private[graft] val TargetShardBytes: BigInt = BigInt(2L) << 30

  /** Shard-count sizing rule: one shard per [[TargetShardBytes]] of
    * input, floor 16 (below ~32 GiB the floor keeps small corpora
    * spread over the cluster), capped at 2^20 (beyond that, per-shard
    * bookkeeping dominates). 100 TB → ~51200 shards of ~2 GiB — the
    * per-shard window sort stays one healthy task however large the
    * corpus grows. At test scale (≪ 2 GiB) this is always the floor
    * 16, which is what the pinned oracles assume. */
  private[graft] def shardCount(inputBytes: BigInt): Int =
    ((inputBytes.max(0) + TargetShardBytes - 1) / TargetShardBytes)
      .max(16).min(1 << 20).toInt

  /** Scan size as Catalyst estimates it (for file sources: total file
    * bytes) — the cheap, driver-side input to [[shardCount]]; no job
    * runs. */
  private[queries] def inputBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** THE narrow test: Catalyst sizes `df` ([[inputBytes]]) below
    * defaultParallelism × `spark.sql.files.openCostInBytes` — the same
    * condition under which `FilePartition.maxSplitBytes` plans fewer
    * scan splits than cores. Decided from statistics alone: no RDD is
    * built and no job runs. Meaningful for a scan or a cache only — a
    * derived frame's estimate multiplies through its joins (the LSH
    * candidate frame at sf0.1 estimates ~974 GB over 3.4 MB of
    * leaves), so callers size a derived frame by the input it fans out
    * over. */
  private[graft] def isNarrow(df: org.apache.spark.sql.DataFrame): Boolean = {
    val session = df.queryExecution.sparkSession
    inputBytes(df) < BigInt(session.sparkContext.defaultParallelism) *
      session.sessionState.conf.filesOpenCostInBytes
  }

  /** Narrow-scan widening guard, shared by every query whose per-doc
    * CPU work would otherwise serialize on a small corpus's single
    * input split (DedupQueries.shingleSet and the verify join,
    * CurationQueries, TextQueries) — one definition so a tuning change
    * cannot silently leave one module single-cored again
    * (text_repetition at sf0.1: 12.9 s → 0.7 s). A narrow `sizedBy`
    * frame (default: `df` itself; see [[isNarrow]]) spreads `df` over
    * the cluster by `key`; anything else comes back unchanged, so this
    * is a no-op at scale.
    *
    * The partition count is EXPLICIT (r18): a bare `repartition(key)`
    * plans a REPARTITION_BY_COL exchange, which AQE's partition
    * coalescing is allowed to fold back down by output BYTES — and a
    * small corpus's shingle/token stream is tiny in bytes while huge
    * in downstream CPU, so the guard's exchange was measured collapsing
    * to ONE task at bench SFs (dfCap's recompute legs: 1.8 s
    * single-task stages). REPARTITION_BY_NUM is exempt from coalescing,
    * and the pinned width is the cluster's own parallelism, not a
    * constant. */
  private[graft] def widened(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column = col("doc_id"),
      sizedBy: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    if (isNarrow(sizedBy.getOrElse(df)))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df

  /** THE histogram-offset exact rank: `row_number() OVER (PARTITION BY
    * groups ORDER BY order)` without the window funnel (a global or
    * few-group window puts a whole group in ONE task). Rows are counted
    * per (groups, bucket) ([[bucketOffsets]]: the only serial window runs
    * over that |groups|·|buckets|-row frame), the offsets are broadcast
    * back, and `rnk = off + row_number()` within (groups, bucket), so
    * every per-row window task is one bucket. Contract: `bucket` must be
    * monotone in `order`'s leading key — ascending, or descending with
    * `descending` — and `order` a total order; then `rnk` is the naive
    * window's rank exactly, and bucket edges move load balance, never a
    * rank. Output: `df`'s columns plus `off`, the group size `n` with
    * `withTotal`, and the BIGINT `rnk`. */
  private[graft] def bucketedRank(df: DataFrame, groups: Seq[String],
      bucket: String, order: Seq[Column], descending: Boolean = false,
      withTotal: Boolean = false): DataFrame = {
    val keys = groups :+ bucket
    val offsets = bucketOffsets(df, groups, bucket, descending, withTotal = withTotal)
      .drop("cnt")
    df.join(broadcast(offsets), keys)
      .withColumn("rnk", (col("off") + row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*))).cast("long"))
  }

  /** The offsets half of [[bucketedRank]], for callers that need only
    * the rows strictly before a bucket: per (groups, bucket) the
    * bucket's `weight` as `cnt` (default its row count), the exclusive
    * running sum `off` of the weights before it in its group (bucket
    * order, descending with `descending`) and, with `withTotal`, the
    * group total `n`. */
  private[queries] def bucketOffsets(df: DataFrame, groups: Seq[String],
      bucket: String, descending: Boolean = false,
      weight: Column = count(lit(1)), withTotal: Boolean = false): DataFrame = {
    val g = groups.map(col)
    val b = if (descending) col(bucket).desc else col(bucket).asc
    val offsets = df.groupBy(g :+ col(bucket): _*).agg(weight.as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(Window.partitionBy(g: _*)
        .orderBy(b).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    if (withTotal) offsets.withColumn("n", sum(col("cnt")).over(Window.partitionBy(g: _*)))
    else offsets
  }

  /** THE per-key top-k: the first `k` rows per `keys` under `order`,
    * numbered 1..k in the BIGINT column `rank` (`row_number` over
    * `partitionBy(keys).orderBy(order)`, cut at `rank <= k`); `order`
    * ends in a tiebreak column, so the cut is deterministic. The rank
    * filter lowers to a WindowGroupLimit: each input partition is
    * pre-trimmed to k rows per key before the key-partitioned exchange,
    * so the exchange moves ≤ k·partitions rows per key, never the input.
    * Output: `df`'s columns plus `rank`. [[topKSql]] is the DuckDB twin. */
  private[graft] def topK(df: DataFrame, keys: Seq[String], order: Seq[Column],
      k: Int, rank: String = "rank"): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)).cast("long"))
      .filter(col(rank) <= k)

  /** DuckDB twin of [[topK]]: `cols` of `from` (a FROM body, joins and
    * WHERE included) plus the `rank` numbered per `keys` by `order`, cut
    * at `k` — a full SELECT. */
  private[queries] def topKSql(cols: String, from: String, keys: String,
      order: String, k: Int, rank: String = "rank"): String =
    s"""SELECT * FROM (
       |  SELECT $cols,
       |    row_number() OVER (PARTITION BY $keys ORDER BY $order) AS $rank
       |  FROM $from) t
       |WHERE $rank <= $k""".stripMargin

  /** THE two-level top-k: the `k` best rows per `key` under `order`,
    * ranked 1..k in the BIGINT column `rank`. A window partitioned by
    * `key` alone is the bounded-cardinality funnel (|keys| tasks own
    * every row); here a [[topK]] per (key, content-hash `shard`,
    * [[shardCol]] over `doc_id`) first keeps ≤ k rows per shard, and the
    * per-key [[topK]] ranks only that ≤ k·shards set. Exact because the
    * per-shard top-k is a superset of the global top-k (`order` must be
    * a total order). The shard count is [[shardCount]] of `sizedBy`'s
    * input bytes. Output: `df`'s columns plus `shard`, `r1` and `rank`. */
  private[graft] def shardedTopK(df: DataFrame, key: String,
      order: Seq[Column], k: Int, sizedBy: DataFrame,
      rank: String = "rank"): DataFrame =
    topK(topK(df.withColumn("shard", shardCol(shardCount(inputBytes(sizedBy)))),
      Seq(key, "shard"), order, k, "r1"), Seq(key), order, k, rank)

  /** `k_anonymity` class-size threshold: classes below K members are
    * re-identification risks. Def, not val (defs-init-order contract). */
  private def KAnonThreshold = 4L

  /** Diagnosable oracle-contract guard: the shuffle_shards /
    * pack_sequences DuckDB oracles pin N=16 (valid below the 32 GiB
    * floor threshold). When sizing produces a different N the Spark
    * output is still CORRECT — but a driver compare against the pinned
    * oracle would mismatch, so say why loudly instead of looking like
    * an engine bug. */
  private[queries] def warnIfOracleUnpinned(op: String, n: Int): Unit =
    if (n != 16)
      System.err.println(
        s"[graft] $op: sized shard count N=$n differs from the oracle-pinned 16 " +
          "(input exceeds the 32 GiB floor threshold); results are correct but the " +
          "pinned DuckDB oracle no longer describes them")

  val defs: Seq[QueryDef] = Seq(

    // per-column profile: row count, null count, distinct count,
    // min/max (stringified for a type-uniform summary table). ONE scan
    // for all columns: a single wide aggregation computes every
    // column's metrics, then a 1-row stack pivots wide → long. (The
    // naive per-column-agg union reads the table once PER COLUMN —
    // 3× the scan cost here, column-count× at 100 TB. The one cost
    // this shape accepts: N COUNT(DISTINCT)s in one aggregate make
    // Spark expand each input row N ways before the partial agg —
    // still one scan, payload = the profiled columns only.)
    QueryDef("profile_stats",
      (s, dir) => {
        val metrics = ProfCols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
            count_distinct(col(c)).as(s"dist_$c"),
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c"))
        }
        val wide = Tables(s, dir, "documents")
          .agg(count(lit(1)).as("n"), metrics: _*)
        val stackExpr = ProfCols
          .map(c => s"'$c', null_$c, dist_$c, min_$c, max_$c").mkString(", ")
        wide.selectExpr("n",
            s"stack(${ProfCols.length}, $stackExpr) AS (col_name, n_null, n_distinct, min_v, max_v)")
          .select(col("col_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      },
      Some(ProfCols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_v, CAST(MAX($c) AS VARCHAR) AS max_v
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    // deterministic stratified sampling: ~20% of every source stratum,
    // selected by a portable content hash — NOT rand(): the same
    // document is in or out of the sample on every run, every engine,
    // every partitioning, which is what makes a 100 TB training-data
    // sample reproducible, resumable, and auditable. Pure narrow filter
    // at scan speed (the hash is codegen'd per row, no shuffle); the
    // per-stratum summary is one map-side-combinable agg.
    QueryDef("sample_stratified",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        Tables(s, dir, "documents")
          .filter(pmod(portableHash(col("doc_id").cast("string"), 42), lit(100L)) < 20)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"),
            min(col("doc_id")).as("first_doc"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some(s"""SELECT source, COUNT(*) AS n_sampled,
             |  MIN(doc_id) AS first_doc, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE ${graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)", 42)} % 100 < 20
             |GROUP BY source""".stripMargin)),

    // deterministic sharded shuffle — the "shuffle the corpus" step
    // every training run needs, reproducibly: shard = content hash mod
    // N, position = rank of the hash WITHIN the shard. The window is
    // partitioned by shard, so the ordering work distributes over N
    // tasks (a single global row_number would funnel 100 TB through
    // one partition); consumers read shards in order and get the same
    // pseudo-random permutation on every run, engine, and partitioning.
    // N is SIZED from the input ([[shardCount]]: one shard per ~2 GiB,
    // floor 16), so each shard's sort stays one task-sized unit at any
    // corpus size — the oracle pins N=16, valid while the testdata is
    // under the 32 GiB floor threshold (it is, by orders of magnitude).
    QueryDef("shuffle_shards",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        val docs = Tables(s, dir, "documents")
        val n = shardCount(inputBytes(docs))
        warnIfOracleUnpinned("shuffle_shards", n)
        val h = portableHash(col("doc_id").cast("string"), 7)
        val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        docs
          .select(col("doc_id"), shardCol(n).as("shard"), h.as("h"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some(s"""SELECT doc_id,
             |  ${shardSql(16)} AS shard,
             |  CAST(row_number() OVER (
             |    PARTITION BY ${shardSql(16)}
             |    ORDER BY ${graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)", 7)}, doc_id) AS BIGINT) AS pos
             |FROM documents""".stripMargin)),

    // deterministic train/val/test split — hash-bucket assignment
    // (80/10/10), the split every training pipeline must make
    // reproducibly: a document's split never changes across runs,
    // engines, or corpus growth (new docs land in buckets without
    // moving old ones — contrast a rand() or modulo-of-row-number
    // split, which reshuffles everything on every change). Scan-speed
    // narrow expression + one map-side-combinable rollup.
    QueryDef("split_assign",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), splitCol.as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc")),
      Some(s"""SELECT lang, $splitSql AS split,
             |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
             |FROM documents GROUP BY lang, $splitSql""".stripMargin)),

    // EXACT-COUNT stratified split — what `split_assign`'s hash-coin
    // cannot give: per language, train/val/test sizes that hit the
    // 80/10/10 targets EXACTLY (a 500-doc eval set that is actually
    // 500, per stratum). Targets per language come from Hamilton's
    // largest-remainder method over the three weights (integers
    // summing to n by construction — `token_budget_apportion`'s
    // algorithm at 3 seats); membership comes from each doc's rank in
    // a deterministic content-hash order within its language, so the
    // split is reproducible and stable under partitioning. Ranked by
    // [[bucketedRank]] over 1024 hash buckets. Output is the
    // per-(lang, split) accounting the gate can hash.
    QueryDef("split_stratified_exact",
      (s, dir) => {
        val h = graft.functions.TextFunctions
          .portableHash(col("doc_id").cast("string"), 53)
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), h.as("h"))
          .withColumn("b", expr("h div 1125899906842624")) // 2^50 → 1024 buckets
        // Hamilton at 3 parts with weights 80/10/10: bases, then the
        // r = n - Σbase leftover seats (0..2) go by remainder rank
        // with the deterministic tie order train > val > test
        bucketedRank(docs, Seq("lang"), "b", Seq(col("h"), col("doc_id")),
            withTotal = true)
          .withColumn("base_tr", expr("(n * 80) div 100"))
          .withColumn("base_va", expr("(n * 10) div 100"))
          .withColumn("base_te", expr("(n * 10) div 100"))
          .withColumn("r", col("n") - col("base_tr") - col("base_va") - col("base_te"))
          .withColumn("rem_tr", expr("(n * 80) % 100"))
          .withColumn("rem_va", expr("(n * 10) % 100"))
          .withColumn("rem_te", expr("(n * 10) % 100"))
          // seat ranks: train first on ties (rem_tr >= others), then val, then test
          .withColumn("seat_tr", expr(
            "CASE WHEN r >= 1 + (CASE WHEN rem_va > rem_tr THEN 1 ELSE 0 END) + (CASE WHEN rem_te > rem_tr THEN 1 ELSE 0 END) THEN 1 ELSE 0 END"))
          .withColumn("seat_va", expr(
            "CASE WHEN r >= 1 + (CASE WHEN rem_tr >= rem_va THEN 1 ELSE 0 END) + (CASE WHEN rem_te > rem_va THEN 1 ELSE 0 END) THEN 1 ELSE 0 END"))
          .withColumn("n_tr", col("base_tr") + col("seat_tr"))
          .withColumn("n_va", col("base_va") + col("seat_va"))
          .withColumn("split",
            when(col("rnk") <= col("n_tr"), "train")
              .when(col("rnk") <= col("n_tr") + col("n_va"), "val")
              .otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      },
      Some {
        val h = graft.functions.TextFunctions
          .portableHashSql("CAST(doc_id AS VARCHAR)", 53)
        s"""WITH d AS (
           |  SELECT doc_id, lang, $h AS h FROM documents),
           |rk AS (
           |  SELECT doc_id, lang,
           |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
           |    COUNT(*) OVER (PARTITION BY lang) AS n_l
           |  FROM d),
           |t AS (
           |  SELECT *,
           |    (n_l * 80) // 100 AS base_tr, (n_l * 10) // 100 AS base_va,
           |    (n_l * 10) // 100 AS base_te,
           |    (n_l * 80) % 100 AS rem_tr, (n_l * 10) % 100 AS rem_va,
           |    (n_l * 10) % 100 AS rem_te,
           |    n_l - (n_l * 80) // 100 - 2 * ((n_l * 10) // 100) AS r
           |  FROM rk),
           |s AS (
           |  SELECT doc_id, lang, rk,
           |    base_tr + (CASE WHEN r >= 1 + (CASE WHEN rem_va > rem_tr THEN 1 ELSE 0 END) + (CASE WHEN rem_te > rem_tr THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS n_tr,
           |    base_va + (CASE WHEN r >= 1 + (CASE WHEN rem_tr >= rem_va THEN 1 ELSE 0 END) + (CASE WHEN rem_te > rem_va THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS n_va
           |  FROM t)
           |SELECT lang,
           |  CASE WHEN rk <= n_tr THEN 'train'
           |       WHEN rk <= n_tr + n_va THEN 'val' ELSE 'test' END AS split,
           |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
           |FROM s GROUP BY 1, 2""".stripMargin
      }),

    // Z-order (Morton) clustering key — the multi-dimensional data
    // LAYOUT lever: sort-by-z before a range-partitioned write gives
    // every file a small bounding box in (customer, day) space, so
    // row-group min/max stats skip files for predicates on EITHER
    // column (LayoutSpec measures the bounding-box shrink vs a naive
    // layout). The curve itself is pure codegen'd bit math
    // ([[graft.functions.LayoutFunctions.zorder16]]), scan-speed,
    // oracle-exact.
    QueryDef("zorder_layout",
      (s, dir) => {
        import graft.functions.LayoutFunctions.zorder16
        val day = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long")
        Tables(s, dir, "orders").select(
          col("o_orderkey"),
          zorder16(col("o_custkey"), day).as("z"))
      },
      Some {
        import graft.functions.LayoutFunctions.zorder16Sql
        val day = "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
        s"""SELECT o_orderkey,
           |  CAST(${zorder16Sql("o_custkey", day)} AS BIGINT) AS z
           |FROM orders""".stripMargin
      }),

    // declarative expectations (dbt-test / Delta-constraint shape):
    // each rule is a predicate; the result is rule → violation count
    // over total checked. All rules evaluate in ONE pass (conditional
    // sums, map-side combined) — adding a rule costs one counter, not
    // one scan.
    QueryDef("dq_expectations",
      (s, dir) => {
        val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
          "quantity_in_range" -> col("l_quantity").between(1.0, 45.0),
          "discount_at_most_8pct" -> (col("l_discount") <= 0.08),
          "tax_nonnegative" -> (col("l_tax") >= 0.0),
          "shipdate_present" -> col("l_shipdate").isNotNull)
        val l = Tables(s, dir, "lineitem")
        val agg = l.agg(
          count(lit(1)).as("n_checked"),
          rules.map { case (name, pred) =>
            sum(when(!pred, 1L).otherwise(0L)).as(s"viol_$name")
          }: _*)
        // wide one-row → long (rule, n_violations, n_checked): stack is
        // a narrow op on a 1-row frame
        val stackExpr = rules.map { case (name, _) =>
          s"'$name', viol_$name" }.mkString(", ")
        agg.selectExpr("n_checked",
            s"stack(${rules.length}, $stackExpr) AS (rule, n_violations)")
          .select(col("rule"), col("n_violations"), col("n_checked"))
      },
      Some(Seq(
        "quantity_in_range" -> "NOT (l_quantity BETWEEN 1.0 AND 45.0)",
        "discount_at_most_8pct" -> "NOT (l_discount <= 0.08)",
        "tax_nonnegative" -> "NOT (l_tax >= 0.0)",
        "shipdate_present" -> "l_shipdate IS NULL").map { case (name, viol) =>
        s"""SELECT '$name' AS rule,
           |  CAST(SUM(CASE WHEN $viol THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           |  COUNT(*) AS n_checked FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    // Equi-depth (equal-height) histogram — the optimizer-statistics /
    // data-profiling staple. ntile over a global order is the naive
    // form (one task owns the table); this ranks by [[bucketedRank]]
    // over value bands, then maps exact global rank to its depth
    // bucket with pure BIGINT arithmetic ((rank−1)·8 div n — identical
    // `div`/`//` semantics on both engines). Output: 8 buckets with
    // exact boundaries and counts.
    QueryDef("histogram_equidepth",
      (s, dir) => {
        val b = Tables(s, dir, "orders")
          .select(col("o_orderkey"), QueryDef.cents(col("o_totalprice")).as("cents"))
          .withColumn("bkt", floor(col("cents") / lit(2500000.0)).cast("long"))
        bucketedRank(b, Nil, "bkt", Seq(col("cents"), col("o_orderkey")),
            withTotal = true)
          .withColumn("eq_bucket", expr("((rnk - 1) * 8) div n"))
          .groupBy(col("eq_bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("lo_cents"),
            max(col("cents")).as("hi_cents"))
      },
      Some(s"""WITH b AS (
              |  SELECT o_orderkey, ${QueryDef.centsSql("o_totalprice")} AS cents
              |  FROM orders),
              |r AS (
              |  SELECT cents,
              |    CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rnk,
              |    COUNT(*) OVER () AS n
              |  FROM b)
              |SELECT ((rnk - 1) * 8) // n AS eq_bucket,
              |  COUNT(*) AS n_rows,
              |  min(cents) AS lo_cents,
              |  max(cents) AS hi_cents
              |FROM r GROUP BY 1""".stripMargin)),

    // Exact second moments + Pearson correlation per group — one
    // map-side-combinable pass, no doubles in the aggregation state:
    // the inputs are rounded to BIGINT once (quantity units, price
    // whole dollars) and all five sums are exact integer arithmetic,
    // so partial-agg order can never perturb the result (a naive
    // SUM(double*double) is order-sensitive and irreproducible across
    // partitionings). The final mean/corr arithmetic converts the
    // exact integers to double ONCE in a fixed op shape — bit-identical
    // cross-engine (DECIMAL→double and HUGEINT→double both round the
    // same integer to the same nearest double). The five sums run in
    // DECIMAL(38,0)/HUGEINT: Σy² in BIGINT wraps silently past ~8·10⁸
    // rows per group at these magnitudes — a 100 TB lineitem holds
    // ~10¹² per flag — while each per-row product still fits a long
    // (y² ≤ ~10¹⁰), so only the SUM carries the wide type.
    QueryDef("stats_moments",
      (s, dir) => {
        val x = floor(col("l_quantity") + lit(0.5)).cast("long")
        val y = floor(col("l_extendedprice") + lit(0.5)).cast("long")
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        val g = Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), x.as("x"), y.as("y"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            // first moments stay BIGINT (Σy ≤ 10⁵·rows holds to ~9e13
            // rows/group — an order past any per-flag cardinality);
            // only the PRODUCT sums, which wrap at ~8e8 rows, widen —
            // that keeps 2 of the 5 aggregation buffers on the codegen
            // long-adder fast path
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
            sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
        g.select(col("l_returnflag"), col("n"),
          round(d(col("sx")) / d(col("n")), 6).as("mean_qty"),
          round(d(col("sy")) / d(col("n")), 6).as("mean_price"),
          round(
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
              sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) /
              sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))), 6)
            .as("corr_qty_price"))
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag,
             |    COUNT(*) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
             |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
             |    SUM(CAST(y AS HUGEINT) * y) AS syy
             |  FROM (
             |    SELECT l_returnflag,
             |      CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
             |      CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
             |    FROM lineitem) t
             |  GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_qty,
             |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_price,
             |  round(
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 6)
             |    AS corr_qty_price
             |FROM m""".stripMargin)),

    // Robust outlier fences (Tukey IQR rule) per group: values beyond
    // [Q1 − 1.5·IQR, Q3 + 1.5·IQR] flagged as outliers — the
    // distribution-free screen that survives the heavy tails where
    // z-scores break. Two passes: exact per-group quartiles (the
    // quantile_stats percentile ↔ quantile_cont round-6 parity
    // contract), then the fence comparison against the fact rows with
    // the quartile frame BROADCAST back (|groups| rows) — the fact
    // table is scanned, never shuffled, for the flagging pass. All
    // fence arithmetic runs in integer micro-points ((3·IQR) div 2 —
    // both engines' integer division agrees), so the boundary decision
    // is bit-identical cross-engine; at true scale the quartile pass
    // swaps to approx_percentile exactly as quantile_stats documents.
    QueryDef("outlier_fence",
      (s, dir) => {
        val mp = QueryDef.microPoints _
        val events = Tables.events(s, dir)
        val q = events
          .groupBy(col("event_type"))
          .agg(
            mp(round(expr("percentile(value, 0.25)"), 6)).as("q1_mp"),
            mp(round(expr("percentile(value, 0.75)"), 6)).as("q3_mp"))
          .withColumn("iqr_mp", col("q3_mp") - col("q1_mp"))
          .withColumn("lo_mp", col("q1_mp") - expr("(3 * iqr_mp) div 2"))
          .withColumn("hi_mp", col("q3_mp") + expr("(3 * iqr_mp) div 2"))
        events
          .select(col("event_type"), mp(col("value")).as("v_mp"))
          .join(broadcast(q), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min(col("lo_mp")).as("lo_mp"), // constant within the group
            min(col("hi_mp")).as("hi_mp"),
            sum(when(col("v_mp") < col("lo_mp"), 1L).otherwise(0L)).as("n_low"),
            sum(when(col("v_mp") > col("hi_mp"), 1L).otherwise(0L)).as("n_high"))
      },
      Some("""WITH q AS (
             |  SELECT event_type,
             |    CAST(floor(round(quantile_cont(value, 0.25), 6) * 1000000.0 + 0.5) AS BIGINT) AS q1_mp,
             |    CAST(floor(round(quantile_cont(value, 0.75), 6) * 1000000.0 + 0.5) AS BIGINT) AS q3_mp
             |  FROM events GROUP BY event_type),
             |f AS (
             |  SELECT event_type, q1_mp, q3_mp,
             |    q1_mp - (3 * (q3_mp - q1_mp)) // 2 AS lo_mp,
             |    q3_mp + (3 * (q3_mp - q1_mp)) // 2 AS hi_mp
             |  FROM q)
             |SELECT e.event_type, COUNT(*) AS n,
             |  min(f.lo_mp) AS lo_mp, min(f.hi_mp) AS hi_mp,
             |  CAST(SUM(CASE WHEN CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) < f.lo_mp THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             |  CAST(SUM(CASE WHEN CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) > f.hi_mp THEN 1 ELSE 0 END) AS BIGINT) AS n_high
             |FROM events e JOIN f USING (event_type)
             |GROUP BY e.event_type""".stripMargin)),

    // Winsorized (clamped) robust mean — what `outlier_fence` flags,
    // this CORRECTS: values clamp to the exact per-type [p05, p95]
    // (the percentile ↔ quantile_cont round-6 contract), and the
    // winsorized mean is the exact integer micro-point sum div n — the
    // robust location estimate a latency/revenue dashboard wants when
    // a handful of stragglers would otherwise own the mean. Same scale
    // shape as the fence: one exact-percentile pass (group-keyed agg),
    // quantile frame broadcast back, one map-side-combinable rollup —
    // the fact table is scanned, never shuffled, for the clamping pass.
    QueryDef("winsorized_stats",
      (s, dir) => {
        val mp = QueryDef.microPoints _
        val events = Tables.events(s, dir)
        val q = events
          .groupBy(col("event_type"))
          .agg(
            mp(round(expr("percentile(value, 0.05)"), 6)).as("p05_mp"),
            mp(round(expr("percentile(value, 0.95)"), 6)).as("p95_mp"))
        events
          .select(col("event_type"), mp(col("value")).as("v_mp"))
          .join(broadcast(q), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min(col("p05_mp")).as("p05_mp"), // constant within the group
            min(col("p95_mp")).as("p95_mp"),
            sum(when(col("v_mp") < col("p05_mp"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("v_mp") > col("p95_mp"), 1L).otherwise(0L)).as("n_hi"),
            sum(greatest(least(col("v_mp"), col("p95_mp")), col("p05_mp")))
              .as("wsum_mp"))
          .select(col("event_type"), col("n"), col("p05_mp"), col("p95_mp"),
            col("n_lo"), col("n_hi"),
            expr("wsum_mp div n").as("wmean_mp"))
      },
      Some("""WITH q AS (
             |  SELECT event_type,
             |    CAST(floor(round(quantile_cont(value, 0.05), 6) * 1000000.0 + 0.5) AS BIGINT) AS p05_mp,
             |    CAST(floor(round(quantile_cont(value, 0.95), 6) * 1000000.0 + 0.5) AS BIGINT) AS p95_mp
             |  FROM events GROUP BY event_type),
             |c AS (
             |  SELECT e.event_type, q.p05_mp, q.p95_mp,
             |    CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) AS v_mp
             |  FROM events e JOIN q USING (event_type))
             |SELECT event_type, COUNT(*) AS n,
             |  min(p05_mp) AS p05_mp, min(p95_mp) AS p95_mp,
             |  CAST(SUM(CASE WHEN v_mp < p05_mp THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
             |  CAST(SUM(CASE WHEN v_mp > p95_mp THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
             |  CAST(CAST(SUM(greatest(least(v_mp, p95_mp), p05_mp)) AS BIGINT)
             |    // COUNT(*) AS BIGINT) AS wmean_mp
             |FROM c GROUP BY event_type""".stripMargin)),

    // k-anonymity audit over quasi-identifiers — the re-identification
    // screen a dataset release runs BEFORE publishing: an equivalence
    // class (here (lang, source, n_chars-century) — the attribute
    // combination an adversary could link on) with fewer than K members
    // singles its documents out. Reports every risky class with its
    // size; the release step would suppress or generalize exactly these
    // rows. One map-side-combinable group-by; K=4 keeps the audit
    // non-degenerate at every testdata SF (307/278/100 risky classes).
    QueryDef("k_anonymity",
      (s, dir) => Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("chars_c"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < KAnonThreshold),
      Some(s"""SELECT lang, source, n_chars // 100 AS chars_c, COUNT(*) AS n
              |FROM documents GROUP BY 1, 2, 3
              |HAVING COUNT(*) < $KAnonThreshold""".stripMargin)),

    // Corpus datasheet — the release-note summary frame ("datasheets
    // for datasets", Gebru 2018): one (section, key, v) row per fact a
    // dataset card quotes — language mix, source mix, size statistics
    // (count / char total / mean / min / max), exact length quartiles
    // (the percentile ↔ quantile_cont round-6 contract, micro-points),
    // and the exact-duplicate rate (md5-distinct vs total — the number
    // the dedup stack will be asked about first). Everything exact
    // BIGINT, uniform schema, ~20 rows.
    //
    // Scale posture: a handful of independent single-pass rollups
    // unioned — each leg is a map-side-combinable agg or a tiny
    // percentile frame; a datasheet runs once per release, so section
    // legs deliberately stay separate scans rather than contorting into
    // one pass (clarity is the artifact here).
    QueryDef("corpus_datasheet",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        def rows(section: String, key: org.apache.spark.sql.Column,
            v: org.apache.spark.sql.Column,
            src: org.apache.spark.sql.DataFrame) =
          src.select(lit(section).as("section"), key.cast("string").as("key"),
            v.cast("long").as("v"))
        val langMix = rows("lang_mix", col("lang"), col("n"),
          docs.groupBy(col("lang")).agg(count(lit(1)).as("n")))
        val srcMix = rows("source_mix", col("source"), col("n"),
          docs.groupBy(col("source")).agg(count(lit(1)).as("n")))
        val sizes = docs.agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .withColumn("mean_chars", expr("sum_chars div n_docs"))
          .selectExpr("stack(5, 'n_docs', n_docs, 'sum_chars', sum_chars, " +
            "'mean_chars', mean_chars, 'min_chars', min_chars, " +
            "'max_chars', max_chars) AS (key, v)")
          .select(lit("size").as("section"), col("key"), col("v").cast("long").as("v"))
        val quarts = docs.agg(
            QueryDef.microPoints(round(expr("percentile(n_chars, 0.25)"), 6)).as("p25"),
            QueryDef.microPoints(round(expr("percentile(n_chars, 0.5)"), 6)).as("p50"),
            QueryDef.microPoints(round(expr("percentile(n_chars, 0.75)"), 6)).as("p75"))
          .selectExpr("stack(3, 'chars_p25_micro', p25, 'chars_p50_micro', p50, " +
            "'chars_p75_micro', p75) AS (key, v)")
          .select(lit("length_quartiles").as("section"), col("key"), col("v"))
        val dups = docs.agg(count(lit(1)).as("n"),
            countDistinct(md5(col("text"))).as("d"))
          .selectExpr("stack(2, 'distinct_texts', d, 'exact_dup_docs', n - d) AS (key, v)")
          .select(lit("duplication").as("section"), col("key"), col("v"))
        Seq(langMix, srcMix, sizes, quarts, dups).reduce(_ unionByName _)
      },
      Some(s"""SELECT 'lang_mix' AS section, lang AS key, COUNT(*) AS v
              |FROM documents GROUP BY lang
              |UNION ALL
              |SELECT 'source_mix', source, COUNT(*) FROM documents GROUP BY source
              |UNION ALL
              |SELECT 'size', k, v FROM (
              |  SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
              |  FROM documents) t,
              |  LATERAL (VALUES ('n_docs', n_docs), ('sum_chars', sum_chars),
              |    ('mean_chars', sum_chars // n_docs), ('min_chars', min_chars),
              |    ('max_chars', max_chars)) AS u(k, v)
              |UNION ALL
              |SELECT 'length_quartiles', k, v FROM (
              |  SELECT
              |    ${QueryDef.microPointsSql("round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6)")} AS p25,
              |    ${QueryDef.microPointsSql("round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6)")} AS p50,
              |    ${QueryDef.microPointsSql("round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6)")} AS p75
              |  FROM documents) q,
              |  LATERAL (VALUES ('chars_p25_micro', p25), ('chars_p50_micro', p50),
              |    ('chars_p75_micro', p75)) AS u(k, v)
              |UNION ALL
              |SELECT 'duplication', k, v FROM (
              |  SELECT COUNT(*) AS n, COUNT(DISTINCT md5(text)) AS d FROM documents) t,
              |  LATERAL (VALUES ('distinct_texts', d), ('exact_dup_docs', n - d)) AS u(k, v)""".stripMargin)),

    // SHUFFLE-LOAD forecast — per-partition row counts for a
    // prospective shuffle key, BEFORE paying for the shuffle: hash the
    // key with the engine-portable hash into P=32 buckets (one
    // map-side-combinable count), and report each bucket's load factor
    // (n·P/total; 1.0 = perfectly balanced). The pre-flight skew
    // diagnostic behind the salting decision `join_salted_skew`
    // demonstrates — at 100 TB you run THIS (a scan-speed count)
    // before committing a multi-hour job to a key that puts 40% of the
    // data in one task. Deterministic buckets (content hash, salt 53),
    // load factor = one ieee multiply + divide of exact integers.
    QueryDef("shuffle_load_forecast",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        val h = Tables.events(s, dir)
          .select(pmod(portableHash(col("user_id").cast("string"), 53), lit(32L))
            .as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        h.crossJoin(broadcast(h.agg(sum(col("n")).as("total"))))
          .select(col("bucket"), col("n"),
            QueryDef.microPoints(
              col("n").cast("double") * lit(32.0) / col("total").cast("double"))
              .as("load_micro"))
      },
      Some {
        val b = s"${graft.functions.TextFunctions.portableHashSql("CAST(user_id AS VARCHAR)", 53)} % 32"
        s"""WITH h AS (
           |  SELECT $b AS bucket, COUNT(*) AS n FROM events GROUP BY 1),
           |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
           |SELECT h.bucket, h.n,
           |  ${QueryDef.microPointsSql("CAST(h.n AS DOUBLE) * 32.0 / CAST(t.total AS DOUBLE)")} AS load_micro
           |FROM h, t""".stripMargin
      }),

    // Exact per-group median + MAD (median absolute deviation, the
    // robust location/dispersion pair `stats_moments`' mean/stddev is
    // not) via the HISTOGRAM-OFFSET method: the corpus is scanned ONCE
    // into a (group, value) count histogram; the median is read off the
    // histogram's cumulative counts (rank (n+1) div 2 / (n+2) div 2,
    // averaged — the quantile_cont(0.5) contract for both parities);
    // the deviation histogram is then derived FROM THE VALUE HISTOGRAM
    // (|v − med| re-keyed, counts summed — never a second corpus scan)
    // and the same rank read-off yields the MAD. Exactness: values are
    // integers ≤ 50, so medians are x.0/x.5 and deviations multiples
    // of 0.5 — every interpolation is IEEE-exact on both engines.
    //
    // 100 TB shape: this is the low-cardinality-domain answer to exact
    // order statistics — percentile() buffers EVERY group value in the
    // aggregation state (the documented cost of `quantiles_exact`),
    // while the histogram caps state at |distinct values| per group
    // (50 here) regardless of row count; both windows and both median
    // read-offs run on the tiny histogram frame. Same discipline as
    // `curation_quota`'s histogram-offset exact rank.
    QueryDef("group_mad",
      (s, dir) => {
        val h = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
          .agg(count(lit(1)).as("c"))
        val med = histMedian(h, "l_returnflag").withColumnRenamed("m", "med")
        val dev = h.join(broadcast(med), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"), abs(col("v") - col("med")).as("v"))
          .agg(sum(col("c")).as("c"))
        val mad = histMedian(dev, "l_returnflag").withColumnRenamed("m", "mad")
        val n = h.groupBy(col("l_returnflag")).agg(sum(col("c")).as("n"))
        n.join(med, Seq("l_returnflag")).join(mad, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"),
            round(col("med"), 6).as("median_qty"),
            round(col("mad"), 6).as("mad_qty"))
      },
      Some("""WITH med AS (
             |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
             |  FROM lineitem GROUP BY 1),
             |d AS (
             |  SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS dv
             |  FROM lineitem l JOIN med m USING (l_returnflag)),
             |mad AS (
             |  SELECT l_returnflag, quantile_cont(dv, 0.5) AS mad
             |  FROM d GROUP BY 1),
             |n AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1)
             |SELECT n.l_returnflag, n.n,
             |  round(med.med, 6) AS median_qty,
             |  round(mad.mad, 6) AS mad_qty
             |FROM n JOIN med USING (l_returnflag) JOIN mad USING (l_returnflag)""".stripMargin)),

    // approximate distinct counting via the KMV sketch
    // ([[graft.operators.Aggregators.Kmv]]): per event_type, the exact
    // distinct-user count next to the k=64 sketch estimate and its
    // relative error in micro-points. THE cardinality primitive a
    // 100 TB pipeline runs where countDistinct cannot: exact distinct
    // shuffles every distinct (group, user) pair — O(distinct) rows —
    // while the sketch shuffles ≤ 64 longs per group per map task,
    // pre-merged map-side, and two sketches union into one (the
    // mergeable-summary property countDistinct lacks: daily sketches
    // roll up into monthly cardinalities without re-scanning). The
    // exact count rides along here only because the query IS the
    // accuracy audit; production drops it — note the plan cost of the
    // ride-along: countDistinct re-keys the first partial aggregate on
    // (group, user), so THIS query still shuffles O(distinct) rows.
    // The sketch-only production form partial-aggregates per map task
    // and ships one bounded buffer per group (plan pinned in
    // PlanAuditSpec "KMV production shape"). Estimator is libm-free
    // ((k-1)·2^60 / kth-min — pure IEEE multiply/divide), so the
    // DuckDB oracle reproduces it bit-for-bit from the same
    // md5-derived hashes; a not-yet-full sketch is the exact distinct
    // hash set and estimates by its size (exercised at sf0.001, where
    // each event_type has 15 users < k).
    // HYPERLOGLOG distinct sketch (Flajolet 2007) — the industry-
    // standard cardinality sketch next to `distinct_kmv`'s bottom-k:
    // m = 64 registers, register j = h mod 64 holds the max rank
    // rho = 1 + leading-zeros of the remaining 54 hash bits. Same
    // 60-bit portable-hash substrate as every sketch here; rho comes
    // from BINARY-STRING length (55 − length(bin(w)), w = h div 64 —
    // the session_gap_dist integer-log₂ trick), never a float log.
    // The harmonic-mean estimate is libm-free integer arithmetic:
    // Σ 2^−Mj is held exactly as S = Σ 2^(55−Mj) over a common
    // denominator 2^55 (absent registers contribute 2^55; S ≤ 2^61
    // fits BIGINT; 2^(55−Mj) via pow(2.0, k), exact IEEE for k ≤ 54),
    // so n_raw = (α₆₄·m²·2^55) div (S·10^6) with the α numerator a
    // precomputed 27-digit literal — DECIMAL(38,0)/HUGEINT headroom,
    // the drift_psi discipline. Below 2.5m with empty registers the
    // standard linear-counting correction applies: m·ln(m/V), the ln
    // of one small-integer ratio rounded once to micro-nats (the
    // drift_psi ln contract; V ≤ 63 values both engines see
    // identically). Scale: registers collapse map-side to ≤ 64 cells
    // per group — 1000 executors build partial grids and MERGE BY MAX,
    // the canonical mergeable sketch; the exact countDistinct rides
    // along as the accuracy audit (at 100 TB only the 64-long grid
    // exists). Completes the mergeable family: KMV (distinct),
    // HLL (distinct, fixed-width), quantile, Space-Saving (top-k),
    // Count-Min (frequency), Bloom (membership).
    QueryDef("distinct_hll",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        val TwoP55 = 36028797018963968L
        // α₆₄·m²·2^55·10^... : 709341 (micro-α) · 4096 · 2^55
        val AlphaNum = "104680255103913656422760448"
        val base = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"),
            portableHash(col("user_id").cast("string"), 83).as("h"))
        val regs = base
          .withColumn("j", pmod(col("h"), lit(64L)))
          .withColumn("w", expr("h div 64"))
          .withColumn("rho",
            when(col("w") === 0L, lit(55L))
              .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
          .groupBy(col("event_type"), col("j"))
          .agg(max(col("rho")).as("m_j"))
        val per = regs.groupBy(col("event_type"))
          .agg(sum(expr("CAST(pow(2.0, 55 - m_j) AS BIGINT)")).as("s_present"),
            count(lit(1)).as("n_regs"))
          .select(col("event_type"),
            (col("s_present") +
              (lit(64L) - col("n_regs")) * lit(TwoP55)).as("s_den"),
            (lit(64L) - col("n_regs")).as("v"))
        val exact = base.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact.join(per, Seq("event_type"))
          .withColumn("n_raw", expr(
            s"CAST(CAST('$AlphaNum' AS DECIMAL(38,0)) div " +
              "(CAST(s_den AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
          .withColumn("t_micro", when(col("v") > 0L,
            QueryDef.microPoints(log(lit(64.0) / col("v").cast("double")))))
          .withColumn("n_lc", expr("(64 * t_micro) div 1000000"))
          .select(col("event_type"), col("n_exact"),
            when(col("v") > 0L && col("n_raw") <= 160L, col("n_lc"))
              .otherwise(col("n_raw")).as("n_est"))
          .withColumn("err_micro", QueryDef.microPoints(
            abs(col("n_est") - col("n_exact")).cast("double") /
              col("n_exact").cast("double")))
      },
      Some {
        val h = graft.functions.TextFunctions
          .portableHashSql("CAST(user_id AS VARCHAR)", 83)
        s"""WITH hs AS (
           |  SELECT event_type, user_id, $h AS h FROM events),
           |r AS (
           |  SELECT event_type, h % 64 AS j,
           |    CASE WHEN h // 64 = 0 THEN 55
           |         ELSE 55 - length(bin(h // 64)) END AS rho
           |  FROM hs),
           |regs AS (
           |  SELECT event_type, j, MAX(rho) AS m_j FROM r GROUP BY 1, 2),
           |per AS (
           |  SELECT event_type,
           |    CAST(SUM(CAST(pow(2.0, 55 - m_j) AS BIGINT)) AS BIGINT)
           |      + (64 - COUNT(*)) * 36028797018963968 AS s_den,
           |    64 - COUNT(*) AS v
           |  FROM regs GROUP BY 1),
           |ex AS (
           |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
           |  FROM events GROUP BY 1),
           |est AS (
           |  SELECT p.event_type, p.v,
           |    CAST(CAST('104680255103913656422760448' AS HUGEINT) //
           |      (CAST(s_den AS HUGEINT) * 1000000) AS BIGINT) AS n_raw,
           |    CASE WHEN p.v > 0 THEN
           |      CAST((64 * ${QueryDef.microPointsSql("ln(64.0 / CAST(p.v AS DOUBLE))")}) // 1000000 AS BIGINT)
           |    END AS n_lc
           |  FROM per p)
           |SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
           |  CAST(CASE WHEN est.v > 0 AND est.n_raw <= 160
           |    THEN est.n_lc ELSE est.n_raw END AS BIGINT) AS n_est,
           |  ${QueryDef.microPointsSql(
              "CAST(abs((CASE WHEN est.v > 0 AND est.n_raw <= 160 THEN est.n_lc ELSE est.n_raw END) - ex.n_exact) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE)")} AS err_micro
           |FROM ex JOIN est ON est.event_type = ex.event_type""".stripMargin
      }),

    QueryDef("distinct_kmv",
      (s, dir) => {
        val K = 64
        graft.Tables.events(s, dir)
          .select(col("event_type"), col("user_id"),
            graft.functions.TextFunctions
              .portableHash(col("user_id").cast("string"), 71).as("h"))
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"),
            graft.operators.Aggregators.kmv(K, col("h")).as("sk"))
          .select(col("event_type"), col("n_exact"),
            graft.operators.Aggregators.kmvEstimate(col("sk"), K).as("n_est"))
          .withColumn("err_micro", QueryDef.microPoints(
            abs(col("n_est") - col("n_exact")).cast("double") /
              col("n_exact").cast("double")))
      },
      Some {
        val h = graft.functions.TextFunctions
          .portableHashSql("CAST(user_id AS VARCHAR)", 71)
        s"""WITH hs AS (
           |  SELECT DISTINCT event_type, $h AS h FROM events),
           |rk AS (
           |  SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |  FROM hs),
           |ex AS (
           |  SELECT event_type, count(DISTINCT user_id) AS n_exact
           |  FROM events GROUP BY 1),
           |est AS (
           |  SELECT rk.event_type,
           |    coalesce(
           |      max(CASE WHEN rn = 64 THEN
           |        CAST(floor(63.0 * 1152921504606846976.0 / CAST(h AS DOUBLE) + 0.5) AS BIGINT) END),
           |      count(*)) AS n_est
           |  FROM rk GROUP BY 1)
           |SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
           |  CAST(est.n_est AS BIGINT) AS n_est,
           |  ${QueryDef.microPointsSql(
              "CAST(abs(est.n_est - ex.n_exact) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE)")} AS err_micro
           |FROM ex JOIN est ON est.event_type = ex.event_type""".stripMargin
      }),

    // KMV sketch ALGEBRA — the reason sketches beat exact counts at
    // scale is that they COMPOSE: two per-segment sketches answer
    // union/intersection cardinality questions ("users who click AND
    // purchase") without touching the source again. Per event-type
    // pair: union sketch = k smallest of the merged hash sets, θ = its
    // k-th min → |A∪B| by the KMV estimator; intersection via the
    // theta-sketch rule (Dasgupta et al., "Theta sketches") — matches
    // = union-sketch elements present in BOTH input sketches, |A∩B| ≈
    // (matches · est_union)/k, here in exact integer arithmetic. Exact
    // counts ride along as ground truth (the audit IS the query; at
    // 100 TB only the 64-long sketches exist and the exact pair join
    // is precisely what the sketch avoids: distinct (type, user) pairs
    // self-joined on user). Sub-k unions degrade to EXACT set algebra
    // — the sketch holds the whole hash set (exercised at sf0.001).
    // All set ops are array expressions over broadcast-sized 5-row
    // frames; the oracle rebuilds the same sketches from ranked
    // hashes and the same list algebra.
    QueryDef("distinct_kmv_setops",
      (s, dir) => {
        val K = 64
        val ut = graft.Tables.events(s, dir)
          .select(col("event_type"), col("user_id"),
            graft.functions.TextFunctions
              .portableHash(col("user_id").cast("string"), 71).as("h"))
          .distinct()
        val sk = ut.groupBy(col("event_type"))
          .agg(graft.operators.Aggregators.kmv(K, col("h")).as("sk"),
            countDistinct(col("user_id")).as("nd"))
        // |event-types|-row sketch frame, self-joined non-equi: the
        // explicit broadcast keeps it a BNLJ under any threshold (r15
        // board-wide cartesian sweep regime), never a cartesian
        val pairs = sk.as("a").join(broadcast(sk.as("b")),
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
            col("a.nd").as("nda"), col("b.nd").as("ndb"),
            col("a.sk").as("ska"), col("b.sk").as("skb"))
          .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
          .withColumn("matches", size(filter(col("u"),
            h => array_contains(col("ska"), h) && array_contains(col("skb"), h))).cast("long"))
          .withColumn("n_union_est",
            graft.operators.Aggregators.kmvEstimate(col("u"), K))
          .withColumn("n_inter_est",
            when(size(col("u")) < K, col("matches"))
              .otherwise(expr(s"(matches * n_union_est) div $K")))
        val interExact = ut.as("x").join(ut.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
          .agg(countDistinct(col("x.user_id")).as("ni"))
        pairs.join(interExact, Seq("type_a", "type_b"), "left_outer")
          .select(col("type_a"), col("type_b"),
            (col("nda") + col("ndb") - coalesce(col("ni"), lit(0L))).as("n_union_exact"),
            col("n_union_est"),
            coalesce(col("ni"), lit(0L)).as("n_inter_exact"),
            col("n_inter_est"))
      },
      Some {
        val h = graft.functions.TextFunctions
          .portableHashSql("CAST(user_id AS VARCHAR)", 71)
        s"""WITH ut AS (
           |  SELECT DISTINCT event_type, user_id, $h AS h FROM events),
           |rk AS (
           |  ${topKSql("event_type, h", "(SELECT DISTINCT event_type, h FROM ut)",
                "event_type", "h", 64, "rn")}),
           |sk AS (
           |  SELECT event_type, list(h ORDER BY h) AS sk
           |  FROM rk GROUP BY 1),
           |nd AS (SELECT event_type, count(DISTINCT user_id) AS nd FROM ut GROUP BY 1),
           |p AS (
           |  SELECT a.event_type AS type_a, b.event_type AS type_b,
           |    na.nd AS nda, nb.nd AS ndb, a.sk AS ska, b.sk AS skb,
           |    list_sort(list_distinct(a.sk || b.sk))[1:64] AS u
           |  FROM sk a JOIN sk b ON a.event_type < b.event_type
           |  JOIN nd na ON na.event_type = a.event_type
           |  JOIN nd nb ON nb.event_type = b.event_type),
           |m AS (
           |  SELECT *, len(list_filter(u,
           |    x -> list_contains(ska, x) AND list_contains(skb, x))) AS matches,
           |    CASE WHEN len(u) < 64 THEN len(u)
           |         ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(u[64] AS DOUBLE) + 0.5) AS BIGINT)
           |    END AS n_union_est
           |  FROM p),
           |ie AS (
           |  SELECT x.event_type AS type_a, y.event_type AS type_b,
           |    count(DISTINCT x.user_id) AS ni
           |  FROM ut x JOIN ut y ON y.user_id = x.user_id
           |    AND x.event_type < y.event_type
           |  GROUP BY 1, 2)
           |SELECT m.type_a, m.type_b,
           |  CAST(nda + ndb - coalesce(ie.ni, 0) AS BIGINT) AS n_union_exact,
           |  CAST(n_union_est AS BIGINT) AS n_union_est,
           |  CAST(coalesce(ie.ni, 0) AS BIGINT) AS n_inter_exact,
           |  CAST(CASE WHEN len(u) < 64 THEN matches
           |       ELSE (matches * n_union_est) // 64 END AS BIGINT) AS n_inter_est
           |FROM m LEFT JOIN ie ON ie.type_a = m.type_a AND ie.type_b = m.type_b""".stripMargin
      }),

    // MERGEABLE quantile sketch — the KMV discipline applied to order
    // statistics: per language, a deterministic uniform sample of
    // K=256 document lengths (bottom-k by portable doc_id hash —
    // [[graft.operators.Aggregators.StableSample]]: O(k) state,
    // map-side-combinable, sketches compose across days/shards), and
    // sample quantiles read at exact-integer ceil positions
    // ((n·q + 99) div 100 — no float ceil whose boundary could differ
    // cross-engine). The EXACT quantiles ride along as the accuracy
    // audit (collect_list materializes each language's lengths in one
    // agg buffer — O(group) memory, fine for an audit, never the
    // production path; production drops the exact columns and this
    // becomes a pure O(k)-state scan like distinct_kmv's sketch-only
    // form). Deterministic on both engines: same hashes, same bottom-k,
    // same positions — bit-for-bit.
    QueryDef("quantile_sketch",
      (s, dir) => {
        val K = 256
        import graft.functions.TextFunctions.portableHash
        def pos(arr: String, q: Int): String =
          s"element_at($arr, CAST((size($arr) * $q + 99) div 100 AS INT))"
        Tables(s, dir, "documents")
          .select(col("lang"),
            portableHash(col("doc_id").cast("string"), 71).as("h"),
            col("n_chars"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            graft.operators.Aggregators.stableSample(K, col("h"), col("n_chars")).as("sample"),
            collect_list(col("n_chars")).as("all_v"))
          .withColumn("sv", array_sort(col("sample")))
          .withColumn("ev", array_sort(col("all_v")))
          .select(col("lang"), col("n_docs"),
            expr(pos("sv", 50)).as("p50_est"), expr(pos("ev", 50)).as("p50_exact"),
            expr(pos("sv", 95)).as("p95_est"), expr(pos("ev", 95)).as("p95_exact"),
            expr(pos("sv", 99)).as("p99_est"), expr(pos("ev", 99)).as("p99_exact"))
      },
      Some {
        val h = graft.functions.TextFunctions
          .portableHashSql("CAST(doc_id AS VARCHAR)", 71)
        def pos(arr: String, q: Int): String =
          s"CAST($arr[CAST((len($arr) * $q + 99) // 100 AS INT)] AS BIGINT)"
        s"""WITH d AS (
           |  SELECT lang, n_chars, $h AS h FROM documents),
           |r AS (${topKSql("lang, n_chars", "d", "lang", "h, n_chars", 256, "rn")}),
           |s AS (
           |  SELECT lang, list_sort(list(n_chars)) AS sv
           |  FROM r GROUP BY 1),
           |e AS (
           |  SELECT lang, COUNT(*) AS n_docs, list_sort(list(n_chars)) AS ev
           |  FROM d GROUP BY 1)
           |SELECT e.lang, CAST(e.n_docs AS BIGINT) AS n_docs,
           |  ${pos("sv", 50)} AS p50_est, ${pos("ev", 50)} AS p50_exact,
           |  ${pos("sv", 95)} AS p95_est, ${pos("ev", 95)} AS p95_exact,
           |  ${pos("sv", 99)} AS p99_est, ${pos("ev", 99)} AS p99_exact
           |FROM e JOIN s ON s.lang = e.lang""".stripMargin
      })
  )

  /** Exact median read-off over a (g, v, c) count histogram: cumulative
    * counts locate the elements at ranks (n+1) div 2 and (n+2) div 2
    * (equal when n is odd), whose average IS quantile_cont(0.5) for
    * either parity. All arithmetic on the tiny histogram frame; ranks
    * are pure integer ops (no float rank positions to drift). */
  private[graft] def histMedian(hist: org.apache.spark.sql.DataFrame,
      g: String): org.apache.spark.sql.DataFrame = {
    val wcum = Window.partitionBy(col(g)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col(g))
    hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wall))
      .withColumn("rlo", expr("(n + 1) div 2"))
      .withColumn("rhi", expr("(n + 2) div 2"))
      .groupBy(col(g))
      .agg(((min(when(col("cum") >= col("rlo"), col("v"))) +
        min(when(col("cum") >= col("rhi"), col("v")))) / lit(2.0)).as("m"))
  }
}
