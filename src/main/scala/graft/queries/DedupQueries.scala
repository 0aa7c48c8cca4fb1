package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` corpus (and
  * embedding-space near-dup over `embeddings`) — the core of any
  * large-scale training-data pipeline. The core algorithms, cheapest to
  * most semantic:
  *
  *  1. exact: hash-groupBy on normalized text — one shuffle on the text
  *     hash, map-side combinable, the 100 TB workhorse; its Bloom-filter
  *     batch probe (`dedup_bloom_probe`) and the edit-distance check of
  *     LSH candidates (`dedup_edit_distance`) ride the same
  *     normalization.
  *  2. n-gram Jaccard: MinHash-LSH candidate discovery → exact-Jaccard
  *     verification of candidates only. The all-pairs inverted-index
  *     self-join ([[allPairsJaccard]]) is quadratic in docs sharing hot
  *     shingles and exists ONLY as the small-N recall verifier
  *     (TextDedupSpec measures LSH recall against it — 23/25 true
  *     J ≥ 0.8 pairs at sf0.01 with k=16, 4×4 bands).
  *  3. MinHash + LSH: k=16 signatures, 4 bands × 4 rows (catches
  *     J ≥ ~0.8 w.h.p.), band-bucket join for candidates, exact-Jaccard
  *     verification of candidates only — the subquadratic scale path.
  *  4. SimHash: 32-bit fingerprint via per-bit token votes; one
  *     aggregation pass, near-dups = small Hamming distance, discovered
  *     via byte-band pigeonhole join (distance ≤ 3 guaranteed by 4
  *     bands).
  *  5. embedding cosine: banded sign-LSH bucket join (8 bands × 8
  *     hyperplane bits over the 64 dims) → exact cosine verification of
  *     candidates. Subquadratic: the bucket equi-join shuffles on
  *     (band, sig), ~32× candidate reduction measured at sf0.01. The
  *     all-pairs form ([[embeddingAllPairs]]) is the recall verifier in
  *     tests — sign-LSH recall rises steeply with the threshold (→1 as
  *     cos → 1, the true near-dup regime; at this corpus's τ=0.4,
  *     which is "related", not "duplicate", it finds 16/59 pairs).
  *     SemDeDup (`dedup_semantic*`) blocks by k-means cell instead and
  *     verifies cosine within each cell.
  *
  * Around them sit the exact set-similarity and containment joins
  * (prefix filtering, zero false negatives), the span-level detectors
  * (winnowing fingerprints, exact duplicated substrings and their
  * cleaner, both over K-char grams), and content-defined chunking.
  *
  * All hashing is [[graft.functions.TextFunctions.portableHash]] so the
  * DuckDB oracles reproduce results exactly. The oracles mirror the
  * candidate generation term-for-term: LSH discovery is probabilistic
  * w.r.t. ground truth, so the contract is "Spark and the oracle agree
  * on the same bucketed algorithm", with recall vs ground truth pinned
  * separately in TextDedupSpec.
  *
  * Caching contract: queries that cache a shared intermediate
  * ([[QueryDef.eager]]: the shingle set feeds signature build AND both
  * verification join sides) rely on the caller clearing the cache
  * after materializing each query — Bench and Verify call
  * `spark.catalog.clearCache()` between queries; compose these defs
  * yourself and you own that.
  */
object DedupQueries {

  /** Oracle-side shingle view (word 3-grams, distinct per doc) —
    * UNCAPPED; for oracles whose Spark side runs raw shingles
    * (`hybrid_search`, `ngram_novelty`). Capped dedup queries use
    * [[shCappedCte]]. */
  private[queries] val shCte =
    s"""${shinglesCteSql("sh")},
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** The oracle `toks` CTE and the distinct (doc_id, s) word-3-gram CTE
    * `name` — the head of both [[shCte]] and [[shCappedCte]]. */
  private def shinglesCteSql(name: String): String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |$name AS (SELECT DISTINCT doc_id, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, greatest(len(t)-1, 1))]) AS s FROM toks)""".stripMargin

  /** Document-frequency cap floor: a shingle is "hot" only when its df
    * exceeds BOTH maxDfFrac·n_docs and this absolute floor. The floor
    * keeps the cap a provable no-op on small corpora (testdata's max
    * shingle df is 25 at sf0.1 — pinned in TextDedupSpec) while the
    * fractional term takes over at real corpus sizes. */
  val MinDfFloor = 100L

  /** The driver dedup queries' df-cap fraction — ONE constant feeding
    * both the Spark side ([[shingleSet]] calls) and the oracle twin
    * ([[shCappedCte]]), so the two sides cannot de-synchronize. */
  private[graft] val DriverMaxDfFrac = 0.001

  /** Capped oracle-side shingle view — the DuckDB twin of
    * [[shingleSet]] with `maxDfFrac = DriverMaxDfFrac`: same raw
    * 3-gram set, then the [[dfCap]] rule term-for-term (threshold =
    * greatest(ceil(n_docs · frac), [[MinDfFloor]]), hot = df > thr,
    * anti-join; the ceil runs on the same IEEE double product both
    * sides). `sh`/`sizes` keep their names so every downstream CTE is
    * shared verbatim with the uncapped view. Until r15 the capped
    * oracles used the RAW view on the argument that the floor makes
    * the cap inert at oracle scale — true at the driver SFs (max df
    * 25 at sf0.1, pinned in TextDedupSpec) but FALSE one decade up:
    * the sf1 rehearsal corpus (50 k docs, 10× dfs) pushed generic
    * shingles over the floor and the engines diverged on every
    * cap-downstream query. The cap now lives in the oracle SQL, so
    * the "same bucketed algorithm" contract holds at EVERY scale
    * instead of resting on a small-corpus premise. */
  private[queries] val shCappedCte =
    s"""${shinglesCteSql("sh0")},
       |thr AS (SELECT greatest(CAST(ceil(count(DISTINCT doc_id) * $DriverMaxDfFrac) AS BIGINT), $MinDfFloor) AS thr FROM sh0),
       |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY 1) d, thr WHERE d.df > thr.thr),
       |sh AS (SELECT sh0.* FROM sh0 ANTI JOIN hot USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Drop shingles whose document frequency exceeds
    * max(ceil(maxDfFrac · n_docs), [[MinDfFloor]]) from a (doc_id, s)
    * shingle set — SCALE.md §shingles: a shingle present in >0.1% of
    * documents carries no near-dup signal (everything collides on it)
    * and is exactly the hot key that makes the LSH candidate join
    * quadratic. Cost: one map-side-combinable count per shingle plus an
    * anti join against the HOT set — tiny by construction (it holds
    * only the over-threshold shingles), so AQE broadcasts it. `sh` is
    * consumed three times here (doc count + df count + anti-join
    * probe); with the r17 native scan chain those recomputes are
    * cheaper than a corpus-sized cache — see [[shingleSet]]. */
  def dfCap(sh: DataFrame, maxDfFrac: Double, floor: Long = MinDfFloor): DataFrame = {
    val thr = sh.agg(countDistinct(col("doc_id")).as("nd"))
      .select(greatest(ceil(col("nd") * maxDfFrac), lit(floor)).cast("long").as("thr"))
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(thr))
      .filter(col("df") > col("thr"))
      .select(col("s"))
    sh.join(hot, Seq("s"), "left_anti")
  }

  /** Spark-side distinct (doc_id, shingle) pairs, hot shingles dropped
    * via [[dfCap]] when `maxDfFrac` is set (the driver dedup queries
    * pass [[DriverMaxDfFrac]]; since r15 their DuckDB oracles mirror
    * the cap term-for-term via [[shCappedCte]] — the old "floor makes
    * the cap inert at oracle scale" premise broke at sf1 — and
    * TextDedupSpec pins the two sides' equivalence).
    *
    * Scan-width guard: tokenize+shingle+explode is the CPU-heavy stage,
    * and a small corpus parquet arrives as ONE input split (128 MB
    * `maxPartitionBytes`), serializing it on a single core — measured
    * 5× slower at sf0.1 than the same work spread over the cluster. A
    * keyed repartition widens narrow scans; a 100 TB corpus already
    * scans wider than the core count, so no shuffle is added at scale.
    *
    * When the cap is on, the CAPPED shingle set is persisted here (it
    * feeds every downstream subtree); the caller's clearCache sweep
    * (Bench/Verify contract, see object scaladoc) releases it. The raw
    * set is recomputed per dfCap leg — see the branch comment below
    * for the measured r17 trade that removed its persist. */
  private[graft] def shingleSet(s: SparkSession, dir: String,
      maxDfFrac: Option[Double] = None): DataFrame = {
    val wide = ProfilingQueries.widened(Tables(s, dir, "documents"))
    val sh = wide
      .select(col("doc_id"), explode(shingles(tokens(col("text")))).as("s"))
      .distinct()
    maxDfFrac match {
      case None => sh
      case Some(f) =>
        // The CAPPED frame is [[QueryDef.eager]]: it feeds 3-5
        // concurrent subtrees (sizes, both verify sides, signature
        // build). Callers get an already-cached frame and must NOT
        // re-persist it.
        //
        // The RAW frame is deliberately NOT persisted (r17; it was
        // until then): dfCap consumes it three times (doc count, hot
        // set, anti-join probe), and with the r15-era interpreted
        // shingle chain the recompute was worth one corpus-sized cache.
        // Post-r17 the chain is ~10× cheaper (native scan expressions),
        // and the measured trade flipped — cached 1.95 s vs recomputed
        // 1.11 s at sf0.1 (the columnar cache write of the full
        // (doc_id, shingle-string) set costs more than two extra
        // chain+distinct evaluations). The scale argument points the
        // same way (guide §5: cache only when recompute beats the
        // memory pressure): at 100 TB the raw shingle set is
        // corpus-sized — persisting it spills, evicts, and competes
        // with the join/agg execution memory of the SAME query, while
        // re-evaluating a codegen'd scan chain is embarrassingly
        // parallel. (Still rejected: the window-form df cap — count
        // over partition-by-shingle — consumes raw once but sorts the
        // full shingle set by the shingle STRING, ~2× the whole
        // hash-agg+anti-join path: 6.7 s vs 2.6 s at sf0.1.)
        QueryDef.eager(dfCap(sh, f))
    }
  }

  private[queries] def jaccard(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast("double") / (na + nb - inter).cast("double"), 6)

  /** DuckDB twin of [[jaccard]] over an intersection count `i` and the
    * two sides' sizes rows `sa` and `sb` (the [[shCte]] `sizes`). */
  private[queries] def jaccardSql: String =
    "round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6)"

  /** The near-dup contract of the driver dedup queries: exact Jaccard
    * ≥ this marks a verified pair ([[verifiedPairs]], [[pairsCteSql]]).
    * A def (the recorded init-order trap, see [[WinnowK]]). */
  private[graft] def NearDupTau: Double = 0.8

  /** Exact-Jaccard pairs for a given candidate-pair set (or all pairs
    * sharing ≥1 shingle when `cand` is None). Callers pass an already
    * persisted `sh` — the plan consumes it 3-4× (sizes + both join
    * sides) and recomputing the tokenize/shingle/distinct chain per
    * branch dominates runtime otherwise. `cand` must be distinct on
    * (doc_a, doc_b): a duplicate row inflates both `n_a` and `inter`
    * (both are counts over the pair's joined shingle rows). */
  private[graft] def jaccardPairs(sh: DataFrame, cand: Option[DataFrame]): DataFrame =
    cand match {
      case Some(c) =>
        verifyCounts(sh, c).select(col("doc_a"), col("doc_b"),
          jaccard(col("inter"), col("n_a"), col("sb.n")).as("jaccard"))
      case None =>
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .withColumn("doc_a", col("a.doc_id"))
          .withColumn("doc_b", col("b.doc_id"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            jaccard(col("inter"), col("sa.n"), col("sb.n")).as("jaccard"))
    }

  /** THE verify fold over a candidate-pair frame (distinct on
    * (doc_a, doc_b), see [[jaccardPairs]]): per pair `n_a` = |A|,
    * `inter` = |A∩B| and `sb.n` = |B| — shared by [[jaccardPairs]] and
    * `dedup_containment`, which each select their own score.
    *
    * The candidates are first spread by doc_a ([[ProfilingQueries.widened]],
    * sized by the shingle set they fan out over — the candidate
    * frame's own estimate multiplies through its joins). The list is
    * BYTE-tiny (two longs per row) but each row fans out into |A|
    * probe rows inside the verify stage, so AQE's byte-based partition
    * coalescing funnels the stage onto 1-2 tasks (r18, measured: 4.3
    * cpu-s of verify serialized onto 2 tasks = 2.8 s of the setsim
    * wall at sf0.1). The exchange is keyed on doc_a — the verify
    * join's own key — so it REPLACES the join's exchange rather than
    * adding one (PlanAuditSpec pins this); above the narrow threshold
    * the candidates go unrepartitioned and that join exchange spreads
    * them.
    *
    * The two sh joins are deliberately LEFT to the planner (broadcast
    * at bench SFs, SMJ at scale): a SHUFFLE_HASH hint was tried in r18
    * and REJECTED — it forces the cand×|A| explode output through the
    * b-join's exchange (measured 2.6 MB → 232 MB shuffled at sf0.1),
    * the exact §2.3 explode-before-shuffle disease the broadcast shape
    * avoids by partial-aggregating the explode in-stage.
    *
    * The b join is LEFT OUTER (r18) so |A| rides the same aggregate as
    * the intersection: the a join emits exactly A's shingle rows per
    * pair, so count(*) = n_a and count(b.s) = |A∩B| — one sizes join
    * (n_b) instead of two, one fewer aggregation pass over the shingle
    * set feeding it. */
  private def verifyCounts(sh: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    ProfilingQueries.widened(cand, col("doc_a"), sizedBy = Some(sh))
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.s") === col("b.s"),
        "left_outer")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_a"), count(col("b.s")).as("inter"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
  }

  /** THE verified near-dup pair set of the driver dedup queries: LSH
    * candidates over the capped shingle set `sh`, kept at exact
    * Jaccard ≥ [[NearDupTau]] (the threshold [[pairsCteSql]] mirrors). */
  private[graft] def verifiedPairs(sh: DataFrame): DataFrame =
    jaccardPairs(sh, Some(lshCandidates(sh))).filter(col("jaccard") >= NearDupTau)

  /** Cluster labels (doc_id → cluster_id) of the verified near-dup
    * graph — the shared core of `dedup_clusters` AND `dedup_canonical`,
    * factored so a caller that needs labels plus something else (the
    * canonical pick, a cluster-size histogram, …) computes the
    * expensive shingle/LSH/superstep pipeline ONCE and joins the
    * returned table as often as it likes: the result is backed by an
    * eager `localCheckpoint`, so every downstream consumer reads the
    * materialized few-hundred-row table, never the iterative lineage.
    * (The driver's Verify/Bench still execute each QueryDef
    * independently under the per-query clearCache contract — that
    * re-computation is bounded and documented; in-library composition
    * is where the sharing pays.)
    *
    * Spark side: min-label propagation — every node starts labeled
    * with its own id, and each superstep replaces a node's label with
    * the min over its neighborhood (a join + groupBy(min) per
    * iteration, all exact integer ops). The loop is driver-
    * SYNCHRONIZED but not driver-MATERIALIZED: per iteration one
    * aggregate (label-sum) comes back to decide convergence, the label
    * table itself never leaves the cluster — the standard superstep
    * shape for iterative graph algorithms on Spark at any scale. Plain
    * neighbor-min propagation needs O(graph diameter) supersteps;
    * near-dup clusters have tiny diameters (duplicates of a doc are
    * near-dups of each other), so 1-2 iterations suffice here; a
    * revealed long diameter switches on pointer doubling (labels
    * propagated through labels — O(log diameter) rounds), and only a
    * graph that defeats BOTH within the cap THROWS rather than
    * returning wrong labels. */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
    propagateMinLabels(verifiedPairs(sh).select(col("doc_a"), col("doc_b")))
  }

  /** Supersteps of plain neighbor-min before pointer doubling joins
    * in — the common tiny-diameter case never pays the extra join. */
  private val ShortcutAfter = 5

  /** Both orientations of a (doc_a, doc_b) pair list: discovery orders
    * pairs doc_a < doc_b, and graph and contamination consumers are
    * direction-agnostic. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))

  /** Min-label propagation over an undirected near-dup pair list
    * (doc_a, doc_b) — the connected-components superstep loop of
    * [[clusterLabels]], factored so the cap/throw contract is testable
    * against synthetic degenerate graphs without crafting a corpus
    * whose LSH pairs happen to chain. */
  private[graft] def propagateMinLabels(pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // symmetric edge list, eagerly CHECKPOINTED, not just persisted:
    // it is re-joined every superstep, and a bare persist leaves the
    // full shingle→LSH→verify lineage inside every superstep's plan —
    // each tiny join re-pays driver-side analysis and serializes the
    // corpus-scan subtree into its task binaries (the same measured
    // disease as embedding_pca_top's gram input: 1.5 MB binaries for
    // ≤D-row jobs). As a leaf, supersteps plan and ship in O(edges).
    val edges = symmetric(pairs).localCheckpoint()
    // each superstep's labels are MATERIALIZED with an eager
    // localCheckpoint, not a bare persist: the label table is a few
    // hundred rows, but un-truncated its lineage deepens by a
    // join+agg per superstep, and every labelSum/next-plan pays
    // driver-side analysis + codegen over that growing tree
    // (measured: superstep cost climbing 0.9 s → 2.4 s within 2
    // iterations at sf0.1). Truncation makes supersteps O(1)-cost;
    // never unpersist a checkpointed table — its lineage is gone,
    // the ContextCleaner reclaims storage when references drop.
    // labels only ever DECREASE under min-propagation, so the
    // fixpoint test is "label sum unchanged". The sum rides the SAME
    // job that materializes each superstep's checkpoint
    // (Dataset.observe → CollectMetricsExec accumulator on the
    // pass-through) instead of a separate aggregate action — one
    // driver action per superstep, not two (r14: the cluster-family
    // bench rows' variance tracked the fixpoint's per-superstep job
    // count, so every removed scheduling round-trip narrows the
    // recording, and at cluster scale it halves the driver's
    // job-submission latency on the critical path). Summed as
    // decimal(38,0): exact at any id magnitude × node count, immune
    // to long overflow.
    // SUM over an empty table is NULL — a corpus with zero verified
    // near-dup pairs must yield an empty cluster table, not an NPE
    def checkpointWithSum(df: DataFrame, name: String): (DataFrame, java.math.BigDecimal) = {
      val obs = df.observe(name, sum(col("label").cast("decimal(38,0)")).as("s"))
      val cp = obs.localCheckpoint() // eager: materializes + truncates
      val row = obs.queryExecution.observedMetrics.getOrElse(name,
        throw new IllegalStateException(
          s"propagateMinLabels: observed metric $name missing after checkpoint"))
      (cp, Option(row.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var (labels, prevSum) = checkpointWithSum(
      edges.select(col("doc_a").as("doc_id"))
        .distinct().withColumn("label", col("doc_id")), "ls_init")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min over {own label} ∪ {neighbors' labels} as ONE join + one
      // groupBy: unioning the current labels in, instead of joining
      // the neighbor-min back against them, drops a join stage per
      // superstep (same fixpoint — least(own, nbr_min) ≡ the union
      // min, and every node appears in its own union branch)
      val propagated = edges.join(labels, edges("doc_b") === labels("doc_id"))
        .select(col("doc_a").as("doc_id"), col("label"))
        .unionByName(labels)
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"))
      // ADAPTIVE pointer doubling: past [[ShortcutAfter]] supersteps
      // the graph has revealed a long diameter (near-dup graphs are
      // normally 1-2 hops), so each further superstep also follows
      // one's label's label — path compression halves the remaining
      // tree height, turning an O(diameter) tail into O(log diameter)
      // instead of a cap-out. The common case never pays the extra
      // join; the fixpoint is unchanged (labels only decrease, the
      // component min is a fixed point of both steps). The propagated
      // frame is checkpointed BEFORE the self-join so both sides read
      // one materialization (and fresh aliases keep the join
      // unambiguous).
      val (next, nextSum) =
        if (iter >= ShortcutAfter) {
          val p = propagated.localCheckpoint()
          val compress = p.select(col("doc_id").as("y_doc"), col("label").as("y_label"))
          checkpointWithSum(
            p.join(compress, col("label") === col("y_doc"), "left_outer")
              .select(col("doc_id"),
                least(col("label"), coalesce(col("y_label"), col("label"))).as("label")),
            s"ls_$iter")
        } else checkpointWithSum(propagated, s"ls_$iter")
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist(blocking = false)
    // plain propagation is O(diameter) and the adaptive shortcut
    // O(log diameter) past ShortcutAfter — a graph that still hasn't
    // converged inside the cap would exit this loop with WRONG labels.
    // Silent wrong cluster_ids are worse than a diagnosable failure,
    // so non-convergence throws.
    if (!converged) throw new IllegalStateException(
      s"dedup_clusters: min-label propagation did not converge in $iter supersteps " +
        "(graph diameter exceeds the cap); raise the cap or pre-partition the corpus")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  private val K = 16 // minhash functions
  private val Bands = 4 // × 4 rows per band

  /** MinHash-LSH candidate pairs (doc_a < doc_b) from a persisted
    * shingle set: k derived hash functions → per-doc min signature →
    * band buckets → bucket equi-join. The only join is on (band, sig)
    * — subquadratic, shuffle-partitioned by bucket.
    *
    * `bands` (|docs|·Bands rows — tiny) is persisted: the bucket self-
    * join consumes it on BOTH sides, and without the persist each side
    * re-runs the 16-min signature aggregation over the full shingle set
    * — measured ~1 s per re-run at sf0.1. Released by the caller's
    * clearCache sweep like every other shared intermediate here. */
  private[graft] def lshCandidates(sh: DataFrame): DataFrame =
    // eager: the self-join consumes bands on BOTH sides concurrently
    bucketPairs(QueryDef.eager(minhashBands(sh)), "doc_id", "sig",
      Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")))

  /** Per-row band buckets: `df` projected to `carry` plus `band` (0
    * until |bucketKeys|) and `key`, band b's bucket `bucketKeys(b)` —
    * one explode of per-band structs. The index frame of every banded
    * LSH join here: MinHash ([[minhashBands]]), SimHash bytes and
    * embedding sign bits. [[bandRowsSql]] is the DuckDB twin. */
  private[graft] def bandRows(df: DataFrame, carry: Seq[Column], key: String,
      bucketKeys: Seq[Column]): DataFrame = {
    val structs = bucketKeys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as(key))
    }
    val exploded = df.select(carry :+ explode(array(structs: _*)).as("bs"): _*)
    exploded.select(exploded.columns.filter(_ != "bs").map(col) ++
      Seq(col("bs.band").as("band"), col(s"bs.$key").as(key)): _*)
  }

  /** THE banded bucket self-join: every pair of `bands` rows sharing a
    * (band, `key`) bucket — an equi-join, so shuffle-partitioned by
    * bucket and subquadratic — aliased x and y with x.`id` < y.`id`,
    * projected to `out` and made distinct (a pair sharing several
    * buckets is one row). [[bucketPairsSql]] is the DuckDB twin. */
  private[graft] def bucketPairs(bands: DataFrame, id: String, key: String,
      out: Seq[Column]): DataFrame =
    bands.as("x").join(bands.as("y"), Seq("band", key))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(out: _*)
      .distinct()

  /** Per-doc MinHash band buckets (doc_id, band, sig) — the LSH index
    * frame both the full self-join ([[lshCandidates]]) and the
    * incremental probe join ([[lshCandidatesProbe]]) bucket on. */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    val hashed = sh
      .withColumn("h0", portableHash(col("s"), 0))
      .withColumn("h1", portableHash(col("s"), 1))
    val minCols = (0 until K).map(i =>
      min(minhashDerived(col("h0"), col("h1"), i)).as(s"m$i"))
    val mh = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    bandRows(mh, Seq(col("doc_id")), "sig", (0 until Bands).map(b =>
      concat_ws("|", (0 until K / Bands).map(r => col(s"m${b * (K / Bands) + r}")): _*)))
  }

  /** Incremental (probe-side) LSH candidates: pairs whose LEFT end is
    * in `probe`, right end anywhere in the corpus. The band self-join
    * of [[lshCandidates]] is replaced by probe-bands ⋈ all-bands, so
    * the candidate stage costs O(|batch| · bucket-occupancy) instead of
    * O(|corpus|²/buckets) — the reason an arriving batch can be deduped
    * against a 100 TB corpus without re-pairing the corpus with itself.
    * Output is (doc_a = probe id, doc_b = partner id), NOT id-ordered:
    * the caller's drop rule decides which orientation matters. */
  private[queries] def lshCandidatesProbe(sh: DataFrame, probe: DataFrame): DataFrame = {
    val bands = QueryDef.eager(minhashBands(sh))
    val pb = bands.join(probe, Seq("doc_id"), "left_semi")
    pb.as("x").join(bands.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** DuckDB twin of [[minhashBands]]: CTEs hashed/mh/bands, appended
    * after [[shCte]]. */
  private val bandsCteSql: String = {
    val minSql = (0 until K)
      .map(i => s"min(${minhashDerivedSql("h0", "h1", i)}) AS m$i").mkString(",\n    ")
    val sigs = (0 until Bands).map { b =>
      s"concat_ws('|', ${(0 until K / Bands).map(r => s"m${b * (K / Bands) + r}").mkString(", ")})"
    }
    s"""hashed AS (SELECT doc_id, s,
       |    ${portableHashSql("s", 0)} AS h0,
       |    ${portableHashSql("s", 1)} AS h1
       |  FROM sh),
       |mh AS (SELECT doc_id,
       |    $minSql
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  ${bandRowsSql("doc_id", "sig", sigs, "mh")})""".stripMargin
  }

  /** DuckDB twin of [[bandRows]]: the body of a `bands` CTE, one
    * `SELECT carry, b AS band, <bucketKeys(b)> AS key FROM from` per
    * band, UNION ALL'd. */
  private def bandRowsSql(carry: String, key: String, bucketKeys: Seq[String],
      from: String): String =
    bucketKeys.zipWithIndex
      .map { case (k, b) => s"SELECT $carry, $b AS band, $k AS $key FROM $from" }
      .mkString("\n  UNION ALL ")

  /** DuckDB twin of [[bucketPairs]] over a `bands` CTE: the distinct
    * `out` rows of every x/y pair sharing a (band, `key`) bucket with
    * x.`id` < y.`id`. */
  private def bucketPairsSql(id: String, key: String, out: String): String =
    s"""SELECT DISTINCT $out
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.$key = y.$key AND x.$id < y.$id""".stripMargin

  /** DuckDB twin of [[lshCandidates]]: CTEs hashed/mh/bands/cand,
    * appended after [[shCte]]. */
  private val candCteSql: String =
    s"""$bandsCteSql,
       |cand AS (
       |  ${bucketPairsSql("doc_id", "sig", "x.doc_id AS doc_a, y.doc_id AS doc_b")})""".stripMargin

  /** DuckDB twin of [[lshCandidatesProbe]]: probe-restricted candidate
    * CTE — `probeCond` is a SQL predicate over `x.doc_id` selecting the
    * probe (batch) side. */
  private def candProbeCteSql(probeCond: String): String =
    s"""$bandsCteSql,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id <> y.doc_id
       |  WHERE $probeCond)""".stripMargin

  /** THE arrival-batch split of the incremental queries
    * (dedup_incremental, dedup_semantic_incremental, dedup_bloom_probe):
    * `df` plus its max `id` as `mx` and `is_batch`, true on the top-10%
    * id range — id·10 ≥ 9·(mx + 1), exact BIGINT arithmetic, an
    * arrival-order proxy. [[arrivalBatchSql]] is the DuckDB twin. */
  private[graft] def arrivalTagged(df: DataFrame, id: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(id)).as("mx"))))
      .withColumn("is_batch", col(id) * 10 >= (col("mx") + 1) * 9)

  /** DuckDB twin of [[arrivalTagged]]: the `mx(m)` CTE over `table`'s
    * `id`, and the predicate "`ref` is in the arrival batch" against it. */
  private def arrivalMaxSql(id: String, table: String): String =
    s"mx AS (SELECT max($id) AS m FROM $table)"
  private def arrivalBatchSql(ref: String): String =
    s"$ref * 10 >= 9 * ((SELECT m FROM mx) + 1)"

  /** DuckDB CTE fragments for exact-Jaccard candidate verification,
    * appended after [[candCteSql]] — ONE definition of the
    * shared-shingle intersection count ([[interCteSql]]) and of the
    * J ≥ [[NearDupTau]] threshold contract ([[pairsCteSql]]): five
    * oracles share these, and an independently re-typed threshold in
    * one of them would silently de-synchronize the suite. */
  private val interCteSql =
    """inter AS (
      |  SELECT doc_a, doc_b, count(*) AS i
      |  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b AND a.s = b.s
      |  GROUP BY doc_a, doc_b)""".stripMargin

  private val pairsCteSql =
    s"""pairs AS (
       |  ${jaccardAtLeastSql("doc_a, doc_b", "inter", NearDupTau)})""".stripMargin

  /** The all-pairs shared-shingle count `name(doc_a, doc_b, i)` over
    * `sh`, doc_a < doc_b — the quadratic exact join the set-similarity,
    * containment and LSH-recall oracles check their subject against. */
  private def sharedShinglesCteSql(name: String): String =
    s"""$name AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The `cols` of the pairs of `inter(doc_a, doc_b, i)` whose
    * [[jaccardSql]] is at least `tau` — the DuckDB twin of
    * [[jaccardPairs]] followed by a Jaccard filter. */
  private def jaccardAtLeastSql(cols: String, inter: String, tau: Double): String =
    s"""SELECT $cols FROM $inter
       |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE $jaccardSql >= $tau""".stripMargin

  /** DuckDB twin of [[verifiedPairs]] over the capped shingle set:
    * the shCappedCte/cand/inter CTE chain ending in `pairs(doc_a,
    * doc_b)`, the head of every oracle on the verified near-dup pairs. */
  private val verifiedPairsCteSql =
    s"""$shCappedCte,
       |$candCteSql,
       |$interCteSql,
       |$pairsCteSql""".stripMargin

  /** Full cluster-label closure chain ending in
    * `lab(doc_id, cluster_id)` — the DuckDB twin of [[clusterLabels]]
    * (recursive-CTE reachability + per-node min over reached nodes, a
    * different algorithm computing the same fixpoint). Shared by
    * `dedup_clusters`, `dedup_cluster_stats`, `dedup_canonical` and
    * `corpus_cleaned` so the closure definition cannot de-synchronize
    * between them. */
  private val clustersCteSql =
    s"""$verifiedPairsCteSql,
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  WITH RECURSIVE r(u, v) AS (
       |    SELECT u, v FROM edges
       |    UNION
       |    SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
       |  SELECT u, v FROM r),
       |lab AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  /** THE canonical pick: per near-dup cluster of `clusters` (doc_id,
    * cluster_id), the member with the best quality score
    * ([[TextQueries.qualityScore]]), ties broken toward the smaller
    * doc_id, plus the member count — shared by `dedup_canonical` and
    * `corpus_cleaned`. One map-side-combinable max_by per cluster. */
  private def canonicalPicks(s: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), TextQueries.qualityScore(col("text")).as("q"))
    clusters.join(docs, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("q"), lit(0L) - col("doc_id")))
          .as("canonical_doc_id"),
        count(lit(1)).as("n_members"))
  }

  /** DuckDB twin of [[canonicalPicks]], appended after
    * [[clustersCteSql]]: `ranked` numbers each cluster's members by
    * quality (rn = 1 is the canonical doc) and carries the cluster's
    * member count. */
  private val rankedCteSql =
    s"""qual AS (
       |  SELECT doc_id, ${TextQueries.qualityScoreSql("text", tokensSql("text"))} AS q
       |  FROM documents),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, q.q,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY q.q DESC, l.doc_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
       |  FROM lab l JOIN qual q ON q.doc_id = l.doc_id)""".stripMargin

  /** All-pairs exact Jaccard — the QUADRATIC small-N recall verifier
    * for [[lshCandidates]]-gated discovery. Never a driver query: the
    * shingle self-join explodes on hot shingles at scale. */
  def allPairsJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingleSet(s, dir).persist(), None)
      .filter(col("jaccard") >= NearDupTau)

  /** All-pairs embedding cosine — the QUADRATIC (BroadcastNestedLoop)
    * small-N recall verifier for the sign-LSH bucketed form. Never a
    * driver query. */
  def embeddingAllPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosineFast(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= 0.4)
  }

  /** Sign-LSH bands over embeddings: 8 bands × 8 hyperplane bits
    * (sign of dims 8k+1..8k+8) — Spark/DuckDB-identical. */
  private val EmbBands = 8
  private val EmbBits = 8

  /** Content-defined chunking: a token is a chunk ANCHOR when its
    * salted portable hash ≡ 0 (mod [[CdcMask]]) — boundaries derive
    * from CONTENT, not offsets, so an insertion early in a document
    * shifts every byte offset but leaves all downstream chunk
    * boundaries (and their hashes) intact. Mean chunk ≈ CdcMask
    * tokens (4 here — this corpus's near-dups carry dense mutations,
    * so longer chunks never survive intact; real storage CDC uses
    * KB-scale chunks, same mechanism). The report floor
    * [[CdcMinChunk]] keeps trivially-short chunks (a stopword between
    * two adjacent anchors) out of the duplicate accounting. */
  private val CdcMask = 4
  private val CdcSalt = 97
  private val CdcMinChunk = 3

  /** True iff the token is a CDC anchor — JVM twin of the column
    * predicate, for tests that construct corpora with known
    * boundaries. */
  private[graft] def cdcIsAnchor(tok: String): Boolean =
    graft.functions.TextFunctions.portableHashJvm(tok, CdcSalt) % CdcMask == 0

  /** Per-document content-defined chunks: `(doc_id, chunk_seq,
    * n_tokens, chunk)`, one row per chunk (anchor token starts a new
    * chunk and is its first token). Factored so CdcSpec can pin the
    * boundary-stability invariant the query's Scaladoc claims. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnRenamed("col", "tok")
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("a",
        (pmod(portableHash(col("tok"), CdcSalt), lit(CdcMask)) === 0).cast("long"))
      .withColumn("chunk_seq", sum(col("a")).over(wCum))
      .groupBy(col("doc_id"), col("chunk_seq"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("chunk"))
  }

  /** The dedup_simhash and simhash_pairs oracles' vote CTEs (toks,
    * hashed, votes: one 32-bit vote column `v<j>` per bit per doc) —
    * the DuckDB twin of [[simhashVotes]]; [[simhashSql]] assembles the
    * fingerprint from `votes`. */
  private def simhashVotesCteSql: String = {
    val votes = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tk FROM documents),
       |hashed AS (SELECT doc_id, ${portableHashSql("tk", 0)} AS h FROM toks),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id)""".stripMargin
  }

  private def simhashSql: String = (0 until 32)
    .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  val defs: Seq[QueryDef] = Seq(

    // exact dedup: one representative (min doc_id) per normalized text.
    // Normalization = Unicode NFC (native graft_nfc — composed and
    // decomposed accents must hash identically) → lower → whitespace
    // collapse. At 100 TB: groupBy on md5(norm_text) instead of the
    // text itself so the shuffle key is 16 bytes, not the document.
    QueryDef("dedup_exact",
      (s, dir) => Tables(s, dir, "documents")
        .groupBy(exactFp(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups")),
      Some(s"""SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents
             |GROUP BY ${exactFpSql("text")}""".stripMargin)),

    // Cross-source OVERLAP MATRIX — how much does source A duplicate
    // source B: the verified near-dup pairs (the same LSH-candidate +
    // exact-Jaccard ≥ 0.8 contract as `dedup_ngram_jaccard`, which
    // subsumes exact dups at J = 1) rolled up by unordered source
    // pair. The multi-source ingest report that decides which crawls
    // are redundant before paying to clean them doc by doc — the
    // diagonal (src_a = src_b) is intra-source boilerplate, the
    // off-diagonal is cross-crawl redundancy. Scale shape: rides the
    // subquadratic banded-LSH stack unchanged; the pair list (≪
    // corpus by construction) then BROADCASTS against the narrow
    // (doc_id, source) projection twice — the corpus-sized side is
    // never shuffled, each join is a broadcast probe of a two-column
    // scan. Output is at most |sources|² counter rows.
    QueryDef("source_overlap",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val pairs = verifiedPairs(sh).select(col("doc_a"), col("doc_b"))
        val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        val half = src.join(broadcast(pairs), col("doc_id") === col("doc_a"))
          .select(col("doc_b"), col("source").as("sa"))
        src.join(broadcast(half), col("doc_id") === col("doc_b"))
          .select(least(col("sa"), col("source")).as("src_a"),
            greatest(col("sa"), col("source")).as("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""$verifiedPairsCteSql
              |SELECT least(da.source, db.source) AS src_a,
              |  greatest(da.source, db.source) AS src_b,
              |  COUNT(*) AS n_pairs
              |FROM pairs
              |JOIN documents da ON da.doc_id = doc_a
              |JOIN documents db ON db.doc_id = doc_b
              |GROUP BY 1, 2""".stripMargin)),

    // n-gram Jaccard near-dup pairs (threshold 0.8): MinHash-LSH
    // candidate discovery, exact Jaccard computed ONLY on candidates.
    // The oracle mirrors the candidate generation, so both engines run
    // the same subquadratic algorithm; recall vs the all-pairs ground
    // truth is pinned in TextDedupSpec against [[allPairsJaccard]].
    QueryDef("dedup_ngram_jaccard",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        verifiedPairs(sh)
      },
      Some(s"""$shCappedCte,
              |$candCteSql,
              |$interCteSql
              |${jaccardAtLeastSql(s"doc_a, doc_b, $jaccardSql AS jaccard", "inter", NearDupTau)}""".stripMargin)),

    // MinHash + LSH dedup: retained doc_ids after dropping every doc
    // with a verified (J ≥ 0.8) LSH-candidate partner of smaller id
    QueryDef("dedup_minhash_lsh",
      (s, dir) => {
        // persisted: consumed by the signature build AND both sides of
        // the candidate-verification join
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val dupped = verifiedPairs(sh).select(col("doc_b").as("doc_id")).distinct()
        Tables(s, dir, "documents").select(col("doc_id"))
          .join(dupped, Seq("doc_id"), "left_anti")
      },
      Some {
        s"""$verifiedPairsCteSql
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM pairs)""".stripMargin
      }),

    // Dedup CLUSTERS: the step after pair discovery — near-dup pairs
    // form a graph whose connected components are the duplicate
    // clusters (pair-level dropping under-merges: A~B and B~C must
    // land A,B,C in ONE cluster even when A~C was never verified).
    // Spark side: [[clusterLabels]] (min-label propagation supersteps;
    // see its scaladoc for the algorithm and lineage discipline).
    // Oracle: DuckDB recursive-CTE reachability closure + per-node min
    // over reached nodes — a different algorithm computing the same
    // fixpoint, so agreement is a real cross-check, not an echo.
    QueryDef("dedup_clusters", (s, dir) => clusterLabels(s, dir),
      Some(s"""$clustersCteSql
              |SELECT doc_id, cluster_id FROM lab""".stripMargin)),

    // Cluster SIZE DISTRIBUTION — the dedup report a 100 TB audit
    // reads before deciding HOW to dedup: a corpus whose duplication
    // lives in two monster clusters (template/boilerplate farms)
    // needs a different treatment (drop the template, keep one page
    // shape) than one with millions of pair-sized clusters (true
    // near-dups → canonical selection), and excess_docs = Σ(size−1)
    // is exactly the row count dedup_canonical will remove — the
    // storage/compute win quantified before paying for it. Singleton
    // docs (never in any verified pair) re-enter as the size-1 row so
    // the histogram partitions the corpus: Σ n_docs = |documents|.
    // Plan: rides the checkpointed [[clusterLabels]]; per-cluster
    // sizes collapse map-side on the (already tiny) label frame; the
    // histogram is ≤ max-cluster-size rows; the singleton row is two
    // 1-row counts crossed. Oracle: the recursive-closure CTE chain +
    // the same rollup — different fixpoint machinery, same histogram.
    QueryDef("dedup_cluster_stats",
      (s, dir) => {
        val labels = clusterLabels(s, dir)
        val hist = labels
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"),
            ((col("sz") - 1L) * col("n_clusters")).as("excess_docs"))
        val single = Tables(s, dir, "documents")
          .agg(count(lit(1)).as("nt"))
          .crossJoin(broadcast(labels.agg(count(lit(1)).as("nl"))))
          .select(lit(1L).as("cluster_size"),
            (col("nt") - col("nl")).as("n_clusters"),
            (col("nt") - col("nl")).as("n_docs"),
            lit(0L).as("excess_docs"))
          .filter(col("n_clusters") > 0L)
        hist.unionByName(single)
      },
      Some(s"""$clustersCteSql,
              |cs AS (SELECT cluster_id, COUNT(*) AS sz FROM lab GROUP BY 1),
              |h AS (SELECT sz, COUNT(*) AS n_clusters FROM cs GROUP BY 1)
              |SELECT CAST(sz AS BIGINT) AS cluster_size,
              |  CAST(n_clusters AS BIGINT) AS n_clusters,
              |  CAST(sz * n_clusters AS BIGINT) AS n_docs,
              |  CAST((sz - 1) * n_clusters AS BIGINT) AS excess_docs
              |FROM h
              |UNION ALL
              |SELECT 1, n, n, 0 FROM (
              |  SELECT (SELECT COUNT(*) FROM documents) -
              |         (SELECT COUNT(*) FROM lab) AS n) s
              |WHERE n > 0""".stripMargin)),

    // Canonical-document selection: the step AFTER clustering — each
    // near-dup cluster keeps its best member by quality score
    // ([[TextQueries.qualityScore]]), ties broken toward the smaller
    // doc_id. One broadcast-size join (cluster labels are only the
    // dup-involved docs) + a map-side-combinable max_by per cluster;
    // at 100 TB the labels table is a tiny fraction of the corpus and
    // the argmax shuffles one row per labeled doc. Oracle: the cluster
    // reachability closure + the same score, argmax via row_number —
    // different argmax machinery, same fixpoint.
    QueryDef("dedup_canonical",
      (s, dir) => {
        // clusterLabels is already checkpoint-BACKED (its supersteps
        // truncate lineage), so the pick reads the materialized
        // few-hundred-row table — no re-walk of the iterative pipeline,
        // no second checkpoint
        canonicalPicks(s, dir, clusterLabels(s, dir))
      },
      Some(s"""$clustersCteSql,
              |$rankedCteSql
              |SELECT cluster_id, doc_id AS canonical_doc_id,
              |  CAST(n_members AS BIGINT) AS n_members
              |FROM ranked WHERE rn = 1""".stripMargin)),

    // Cleaned corpus — the END PRODUCT of the dedup stack: every
    // document survives except non-canonical near-dup cluster members
    // (cluster = LSH-discovered + Jaccard-verified connected component,
    // canonical = best quality score, ties to the smaller doc_id —
    // the same contracts as dedup_clusters/dedup_canonical). Cost on
    // top of canonical selection is one anti join against the
    // broadcast-size loser list; at 100 TB the corpus passes through
    // exactly once.
    QueryDef("corpus_cleaned",
      (s, dir) => {
        val clusters = clusterLabels(s, dir) // checkpoint-backed
        val canon = canonicalPicks(s, dir, clusters)
          .select(col("canonical_doc_id").as("doc_id"))
        val losers = clusters.select(col("doc_id"))
          .join(canon, Seq("doc_id"), "left_anti")
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .join(losers, Seq("doc_id"), "left_anti")
      },
      Some(s"""$clustersCteSql,
              |$rankedCteSql
              |SELECT doc_id, lang FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)""".stripMargin)),

    // Train/eval contamination check (fuzzy decontamination): every
    // val/test document with a verified NEAR-dup (J ≥ 0.8) partner in
    // the training split — the leakage audit a benchmark-honest
    // training pipeline runs before eval. Exact-fingerprint matching
    // misses paraphrased leakage, so this rides the same MinHash-LSH
    // candidates + exact-Jaccard verification as the dedup queries
    // (subquadratic, df-capped), then tags both pair ends with their
    // deterministic hash-bucket split (the split_assign 80/10/10
    // contract) and keeps non-train docs with a train partner. The
    // pair set is symmetrized first: discovery orders pairs doc_a <
    // doc_b, but contamination is direction-agnostic.
    QueryDef("contamination_check",
      (s, dir) => {
        // the split is ProfilingQueries.splitCol — the SAME definition
        // split_assign publishes, so this audit can never drift from
        // the split it audits
        val splits = Tables(s, dir, "documents").select(
          col("doc_id"), ProfilingQueries.splitCol.as("split"))
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        symmetric(verifiedPairs(sh).select(col("doc_a"), col("doc_b")))
          .join(splits.as("x"), col("doc_a") === col("x.doc_id"))
          .join(splits.as("y"), col("doc_b") === col("y.doc_id"))
          .filter(col("x.split") =!= "train" && col("y.split") === "train")
          .groupBy(col("doc_a"), col("x.split"))
          .agg(count(lit(1)).as("n_train_partners"))
          .select(col("doc_a").as("doc_id"), col("x.split").as("split"),
            col("n_train_partners"))
      },
      Some {
        s"""$verifiedPairsCteSql,
           |sym AS (
           |  SELECT doc_a, doc_b FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |splits AS (
           |  SELECT doc_id, ${ProfilingQueries.splitSql} AS split
           |  FROM documents)
           |SELECT s.doc_a AS doc_id, x.split, COUNT(*) AS n_train_partners
           |FROM sym s
           |JOIN splits x ON x.doc_id = s.doc_a
           |JOIN splits y ON y.doc_id = s.doc_b
           |WHERE x.split <> 'train' AND y.split = 'train'
           |GROUP BY s.doc_a, x.split""".stripMargin
      }),

    // Incremental dedup — the production idiom at corpus scale: an
    // arriving BATCH (stand-in: the top-10% doc_id range, an arrival-
    // order proxy) is deduped against the EXISTING corpus and against
    // itself, without ever re-pairing the corpus with its own content.
    // Candidates come from lshCandidatesProbe (batch band buckets
    // probed into the full band index — O(|batch|·occupancy), not
    // O(|corpus|²/buckets)); verified J ≥ 0.8 pairs then drive the
    // drop rule: a batch doc is dropped when it has a corpus partner
    // (reason 'corpus') or a LOWER-id batch partner (reason 'batch' —
    // the same lower-id-wins convention as dedup_exact/dedup_semantic,
    // so batch-internal groups keep exactly one survivor). The batch
    // boundary is exact BIGINT arithmetic (doc_id·10 ≥ 9·(max_id+1)),
    // so both engines cut identically.
    QueryDef("dedup_incremental",
      (s, dir) => {
        val flags = arrivalTagged(Tables(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), col("is_batch"))
        val batch = flags.filter(col("is_batch")).select(col("doc_id"))
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val cand = lshCandidatesProbe(sh, batch)
        val verified = jaccardPairs(sh, Some(cand))
          .filter(col("jaccard") >= NearDupTau)
          .select(col("doc_a"), col("doc_b"))
        verified
          .join(flags.as("y"), col("doc_b") === col("y.doc_id"))
          .filter(!col("y.is_batch") || col("doc_b") < col("doc_a"))
          .groupBy(col("doc_a"))
          .agg(max(when(col("y.is_batch"), lit(0)).otherwise(lit(1))).as("hit"))
          .select(col("doc_a").as("doc_id"),
            when(col("hit") === 1, lit("corpus")).otherwise(lit("batch"))
              .as("reason"))
      },
      Some(s"""$shCappedCte,
              |${arrivalMaxSql("doc_id", "documents")},
              |${candProbeCteSql(arrivalBatchSql("x.doc_id"))},
              |$interCteSql,
              |$pairsCteSql
              |SELECT p.doc_a AS doc_id,
              |  CASE WHEN max(CASE WHEN NOT (${arrivalBatchSql("p.doc_b")})
              |                     THEN 1 ELSE 0 END) = 1
              |       THEN 'corpus' ELSE 'batch' END AS reason
              |FROM pairs p
              |WHERE NOT (${arrivalBatchSql("p.doc_b")}) OR p.doc_b < p.doc_a
              |GROUP BY p.doc_a""".stripMargin)),

    // SimHash fingerprints: 32-bit, one aggregation pass over token
    // occurrences (map-side combinable — scales like a word count)
    QueryDef("dedup_simhash",
      (s, dir) => {
        val tok = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
          .withColumn("h", portableHash(col("tk"), 0))
        val voteCols = simhashVotes(col("h"))
        tok.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
          .select(col("doc_id"), simhashFromVotes(n => col(n)).as("simhash"))
      },
      Some(s"""$simhashVotesCteSql
              |SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash FROM votes""".stripMargin)),

    // SimHash near-dup pairs: byte-band pigeonhole join (any doc pair
    // with Hamming ≤ 3 shares at least one of the 4 bytes), exact
    // Hamming check on candidates
    QueryDef("simhash_pairs",
      (s, dir) => {
        val bands = bandRows(queriesByName("dedup_simhash")(s, dir),
          Seq(col("doc_id"), col("simhash")), "byte",
          (0 until 4).map(k => shiftright(col("simhash"), k * 8).bitwiseAND(lit(255L))))
        bucketPairs(bands, "doc_id", "byte",
          Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming")))
          .filter(col("hamming") <= 3)
      },
      Some {
        val hamming = "CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT)"
        val bytes = (0 until 4).map(k => s"(simhash >> ${k * 8}) & 255")
        s"""$simhashVotesCteSql,
           |sim AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash FROM votes),
           |bands AS (
           |  ${bandRowsSql("doc_id, simhash", "byte", bytes, "sim")})
           |${bucketPairsSql("doc_id", "byte", s"x.doc_id AS doc_a, y.doc_id AS doc_b, $hamming AS hamming")}
           |WHERE $hamming <= 3""".stripMargin
      }),

    // embedding-cosine near-dup pairs via banded sign-LSH discovery:
    // 8 bands × 8 hyperplane bits, candidates = docs sharing any band
    // bucket (equi-join on (band, sig) — shuffle-partitioned, no
    // BroadcastNestedLoopJoin), exact cosine computed on candidates
    // only (~32× reduction at sf0.01). The all-pairs verifier is
    // [[embeddingAllPairs]] in tests.
    QueryDef("dedup_embedding",
      (s, dir) => {
        val sigs = (0 until EmbBands).map { k =>
          (0 until EmbBits).map { j =>
            when(element_at(col("embedding"), k * EmbBits + j + 1) > 0f,
              lit(1L << j)).otherwise(lit(0L))
          }.reduce(_ + _)
        }
        val e = bandRows(Tables(s, dir, "embeddings"),
          Seq(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm")),
          "sig", sigs)
        bucketPairs(e, "vec_id", "sig",
          Seq(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
            cosineFast(col("x.embedding"), col("y.embedding"),
              col("x.nrm"), col("y.nrm")).as("cos")))
          .filter(col("cos") >= 0.4)
      },
      Some {
        val sigs = (0 until EmbBands).map { k =>
          val sig = (0 until EmbBits)
            .map(j => s"(CASE WHEN embedding[${k * EmbBits + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
            .mkString(" + ")
          s"CAST($sig AS BIGINT)"
        }
        val cos = cosineSql("x.embedding", "y.embedding")
        s"""WITH bands AS (
           |  ${bandRowsSql("vec_id, embedding", "sig", sigs, "embeddings")})
           |${bucketPairsSql("vec_id", "sig", s"x.vec_id AS id_a, y.vec_id AS id_b, $cos AS cos")}
           |WHERE $cos >= 0.4""".stripMargin
      }),

    // semantic dedup (SemDeDup shape, arXiv:2303.09540): k-means cells
    // as the candidate blocks, exact cosine within a cell only, drop
    // every vector with a lower-id cell-mate above the threshold. The
    // 100 TB posture is the clustering itself: k grows with the corpus
    // so the per-cell member list stays bounded and the within-cell
    // self-join is |cell|² · k ≪ |corpus|² (one assignment pass over
    // broadcast centroids, map-side-combinable argmin — see
    // [[graft.operators.KMeans.assign]]). Centroids here are the same
    // exact deterministic stand-in the IVF queries use (first k
    // vec_ids) so the DuckDB oracle reproduces the assignment
    // bit-for-bit — trained float-mean centroids are not merge-order
    // pinned cross-engine; THAT path (KMeans.train) stays recall- and
    // exactness-gated in SemDedupSpec/KMeansSpec. k is sized from the
    // corpus row count (one cell per ~1024 vectors, the same
    // bounded-cell discipline as [[cellCount]]) — a row count is the
    // one sizing signal both engines compute identically.
    QueryDef("dedup_semantic",
      (s, dir) => {
        val (assigned, drops, _) = semanticDropsFrozen(s, dir, tau = 0.4)
        semanticKept(assigned, drops)
      },
      Some(semanticOracleSql(CellTargetRows))),

    // same operator with the cell target forced small enough that the
    // ceil(rows/target) K-GROWTH branch — the mechanism that keeps the
    // within-cell self-join bounded at 100× scale — is what the DuckDB
    // oracle checks: at every driver SF the default target of 1024
    // floors k at 8 (embeddings: 500/500/2,000 rows ≪ 8·1024), so the
    // sizing arithmetic, the k-way assignment tie-breaks and the
    // many-cell prune would otherwise never be exercised cross-engine.
    // target=16 → k=32 at sf0.001/sf0.01, k=125 at sf0.1; the require
    // makes this query's PURPOSE load-bearing — it fails loudly if data
    // changes ever put it back on the floor.
    QueryDef("dedup_semantic_k",
      (s, dir) => {
        val (assigned, drops, k) = semanticDropsFrozen(s, dir, tau = 0.4,
          targetRows = GrowthProbeTargetRows)
        require(k > 8,
          s"dedup_semantic_k must exercise the k-growth branch, got floor k=$k")
        semanticKept(assigned, drops)
      },
      Some(semanticOracleSql(GrowthProbeTargetRows))),

    // TRAINED SemDeDup — the route the hot-cell guard's message
    // recommends ("use the trained path (semanticDrops/KMeans) or
    // raise k"), oracle-gated end-to-end: real Lloyd's iterations
    // (graft.operators.KMeans, deterministic first-k init, fixed
    // iteration count) with the DuckDB oracle recomputing BOTH
    // unrolled supersteps — assignment argmin in the same float
    // arithmetic ([[d2Sql]] mirrors KMeans.assign's zip_with fold
    // bit-for-bit), per-(cell,dim) double means cast to float32 (the
    // cast is the cross-engine contract: it absorbs the engines'
    // differing partial-sum orders, same discipline as
    // TextFunctions.cosine's round-to-6), empty cells inheriting their
    // previous centroid. In front of training sits the QUANTIZED
    // PRE-COLLAPSE ([[quantizedReps]]): vectors equal after per-dim
    // round-to-1e-5 collapse to their lowest-vec_id representative
    // BEFORE any clustering. That step, not k, is what bounds the
    // adversarial hot-cell corpus (gen_scale --skew's 45%-one-point
    // ball): k-means cannot split an atomic point mass — every member
    // is nearest the same centroid at every k, so the within-cell
    // self-join stays quadratic in the ball no matter how the guard's
    // "raise k" is answered — but the collapse reduces the ball to ONE
    // representative (members sit within half a 1e-5 grid step of each
    // other), after which cells are balanced and the |cell|² prune is
    // bounded. At 100 TB the same plan holds: collapse is one
    // hash-shuffle on the quantized key, training cost is
    // iters × |reps| × k with broadcast centroids (sample reps for
    // training if |reps| is petabyte-scale), and no stage is quadratic
    // in any single key's heat. Reference scope: fab2s/yaetl has no
    // semantic dedup; this extends the §2.8 LLM-pipeline surface.
    QueryDef("dedup_semantic_trained",
      (s, dir) => {
        // reps is consumed TrainedIters+2 times (init take-k, one
        // assign per Lloyd iteration, the final assignment) — eager
        // (r18) so the quantize-collapse aggregation runs once, not
        // once per consumer (measured 4 evaluations of the chain per
        // run at sf0.1); the standard cache-the-training-set shape for
        // iterative ML (guide §5: reused AND expensive).
        val reps = QueryDef.eager(quantizedReps(s, dir))
        val assigned = trainedCells(reps, TrainedK, TrainedIters)
        semanticKept(assigned, withinCellDrops(assigned, 0.4))
      },
      Some(trainedOracleSql)),

    // INCREMENTAL SemDeDup — the semantic twin of `dedup_incremental`,
    // the production idiom: an arriving BATCH (the top-10% vec_id
    // range, the same arrival-order stand-in) is semantically deduped
    // against the EXISTING corpus and against itself, without the
    // corpus ever self-joining. Both sides share the frozen cell
    // assignment (the centroids a production system froze when the
    // corpus was built), so a batch vector meets only its OWN CELL's
    // corpus occupants: candidate work is O(batch × cell occupancy),
    // and the corpus's only cost is its one cell-assignment pass + a
    // c_id-keyed join against the batch's cells. Per batch vector:
    // its cell, whether a corpus near-dup exists (cos ≥ τ), whether an
    // earlier BATCH vector already covers it (keep-first within the
    // batch, the dedup_canonical convention), and the resulting keep
    // verdict. Oracle: same cells CTE + two set-membership probes.
    QueryDef("dedup_semantic_incremental",
      (s, dir) => {
        val (assigned, _) = frozenCells(s, dir)
        val tagged = arrivalTagged(assigned, "vec_id")
        val batch = tagged.filter(col("is_batch"))
        val corpus = tagged.filter(!col("is_batch"))
        val vsCorpus = batch.as("a").join(corpus.as("b"),
            col("a.c_id") === col("b.c_id"))
          .filter(cosineFast(col("a.embedding"), col("b.embedding"),
            col("a.nrm"), col("b.nrm")) >= 0.4)
          .select(col("a.vec_id").as("vec_id")).distinct()
          .withColumn("dc", lit(1L))
        val inBatch = withinCellDrops(batch, 0.4).withColumn("db", lit(1L))
        batch.select(col("vec_id"), col("c_id"))
          .join(vsCorpus, Seq("vec_id"), "left_outer")
          .join(inBatch, Seq("vec_id"), "left_outer")
          .select(col("vec_id"), col("c_id"),
            coalesce(col("dc"), lit(0L)).as("dup_vs_corpus"),
            coalesce(col("db"), lit(0L)).as("dup_in_batch"),
            when(col("dc").isNull && col("db").isNull, 1L).otherwise(0L)
              .as("kept"))
      },
      Some {
        s"""${frozenCellsCteSql(CellTargetRows)},
           |${arrivalMaxSql("vec_id", "embeddings")},
           |t AS (
           |  SELECT c.vec_id, c.embedding, c.c_id,
           |    ${arrivalBatchSql("c.vec_id")} AS is_batch
           |  FROM cells c),
           |dc AS (
           |  SELECT DISTINCT a.vec_id
           |  FROM t a JOIN t b ON a.c_id = b.c_id
           |  WHERE a.is_batch AND NOT b.is_batch
           |    AND ${cosineSql("a.embedding", "b.embedding")} >= 0.4),
           |db AS (
           |  SELECT DISTINCT a.vec_id
           |  FROM t a JOIN t b ON a.c_id = b.c_id AND a.vec_id > b.vec_id
           |  WHERE a.is_batch AND b.is_batch
           |    AND ${cosineSql("a.embedding", "b.embedding")} >= 0.4)
           |SELECT t.vec_id, t.c_id,
           |  CAST(t.vec_id IN (SELECT vec_id FROM dc) AS BIGINT) AS dup_vs_corpus,
           |  CAST(t.vec_id IN (SELECT vec_id FROM db) AS BIGINT) AS dup_in_batch,
           |  CAST(t.vec_id NOT IN (SELECT vec_id FROM dc)
           |    AND t.vec_id NOT IN (SELECT vec_id FROM db) AS BIGINT) AS kept
           |FROM t WHERE t.is_batch""".stripMargin
      }),

    // WINNOWING duplicate-span audit (Schleimer, Wilkerson & Aiken 2003,
    // the MOSS fingerprinting scheme): per doc, hash every K-char gram,
    // keep the minimum hash of each sliding W-gram window, and flag docs
    // whose fingerprint set intersects another doc's. Guarantee: any
    // verbatim region of ≥ K+W−1 = 31 chars shared by two docs yields at
    // least one common fingerprint — ALIGNMENT-FREE, unlike strided
    // sampling, and span-level, unlike the whole-doc MinHash family
    // above (a 31-char boilerplate block inside two otherwise-unrelated
    // docs is invisible to J≥0.8 shingle dedup but caught here).
    //
    // Shape (measured at sf0.1, both cross-checked against the DuckDB
    // prototype — 147/500 docs flagged at sf0.001): the explode-grams +
    // sliding-Window-min form is ~1.7× faster warm on this box but
    // shuffles the gram stream — one (doc_id, pos, md5) row PER CHARACTER
    // of corpus, ~40× corpus bytes through the exchange feeding the
    // per-doc sort; at 100 TB that plan is dead. This narrow form keeps
    // fingerprinting inside the row (two stacked per-row projections —
    // CollapseProject leaves them apart, verified on the optimized plan,
    // so the gram array is built once per row, not once per window) and
    // the ONLY shuffled data is the fingerprint set, ~0.2 rows per gram
    // after windowing dedup. fp is [[QueryDef.eager]]: it feeds the
    // cross-doc dup count AND the per-doc rollup join.
    // CONTENT-DEFINED CHUNKING dedup — the storage-dedup complement of
    // the similarity family: variable-size chunks whose boundaries are
    // anchor tokens (hash ≡ 0 mod CdcMask, the CDC trick from
    // LBFS/restic/borg applied at token granularity), so shared runs
    // between near-identical documents land in IDENTICAL chunks even
    // when surrounding edits shift all offsets — fixed-size blocks
    // would mis-align after one insertion. Duplicated chunks (same
    // token sequence, ≥2 occurrences) are reported with their copy/doc
    // counts and the reclaimable token mass. vs dedup_substring (exact
    // char-level spans, suffix-style machinery): CDC is the CHEAP
    // estimate — one scan, one doc-keyed window, one groupBy — which
    // is what a 100 TB storage audit runs first. Plan: the cumulative
    // anchor count rides a doc_id-keyed window (high-cardinality, no
    // funnel); chunk assembly groups on (doc, chunk_seq); the final
    // rollup shuffles chunk STRINGS once, grouped to 60-bit
    // fingerprints in the output.
    QueryDef("dedup_cdc_chunks",
      (s, dir) => {
        cdcChunks(ProfilingQueries.widened(Tables(s, dir, "documents")))
          .filter(col("n_tokens") >= CdcMinChunk)
          .groupBy(col("chunk"))
          .agg(min(col("n_tokens")).as("n_tokens"),
            count(lit(1)).as("n_copies"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("keep_doc"))
          .filter(col("n_copies") > 1)
          .select(portableHash(col("chunk"), 0).as("chunk_fp"),
            col("n_tokens"), col("n_copies"), col("n_docs"), col("keep_doc"),
            ((col("n_copies") - 1) * col("n_tokens")).as("reclaim_tokens"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ${tokensSql("text")} AS t
              |  FROM documents),
              |p AS (
              |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
              |    i -> struct_pack(pos := i, tok := t[CAST(i AS INTEGER)]))) AS e
              |  FROM toks),
              |q AS (
              |  SELECT doc_id, e.pos AS pos, e.tok AS tok,
              |    CASE WHEN CAST(('0x' || substr(md5('$CdcSalt:' || e.tok), 1, 15)) AS BIGINT)
              |      % $CdcMask = 0 THEN 1 ELSE 0 END AS a
              |  FROM p),
              |c AS (
              |  SELECT doc_id, pos, tok,
              |    SUM(a) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_seq
              |  FROM q),
              |ch AS (
              |  SELECT doc_id, chunk_seq, COUNT(*) AS n_tokens,
              |    string_agg(tok, ' ' ORDER BY pos) AS chunk
              |  FROM c GROUP BY 1, 2)
              |SELECT CAST(('0x' || substr(md5('0:' || chunk), 1, 15)) AS BIGINT) AS chunk_fp,
              |  CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
              |  COUNT(*) AS n_copies,
              |  COUNT(DISTINCT doc_id) AS n_docs,
              |  MIN(doc_id) AS keep_doc,
              |  CAST((COUNT(*) - 1) * MIN(n_tokens) AS BIGINT) AS reclaim_tokens
              |FROM ch WHERE n_tokens >= $CdcMinChunk
              |GROUP BY chunk HAVING COUNT(*) > 1""".stripMargin)),

    QueryDef("dedup_winnowing",
      (s, dir) =>
        winnowingAudit(ProfilingQueries.widened(Tables(s, dir, "documents"))),
      Some(s"""WITH ${gramsCteSql(WinnowK, withPos = false)},
              |fp AS (
              |  ${winnowSql("h")}),
              |dup AS (SELECT h FROM fp GROUP BY h HAVING count(*) > 1),
              |per AS (SELECT f.doc_id, count(*) AS n_fp, count(d.h) AS n_dup
              |        FROM fp f LEFT JOIN dup d USING (h) GROUP BY 1)
              |SELECT doc.doc_id, CAST(COALESCE(n_fp, 0) AS BIGINT) AS n_fp,
              |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
              |  CAST(CASE WHEN COALESCE(n_dup, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
              |FROM documents doc LEFT JOIN per USING (doc_id)""".stripMargin)),

    // WINNOWING span LOCALIZATION — the dedup_winnowing audit says
    // WHETHER a doc shares fingerprints; this says WHERE. The window
    // min carries its gram's char offset along with the hash (the
    // min is taken over h‖zero-padded-pos strings, so the selected
    // occurrence — leftmost minimal gram — rides for free; same trick
    // in the oracle), matched fingerprints join per doc pair on h,
    // and consecutive matched positions on the lower-id side merge
    // into spans whenever they overlap within the K-char gram width
    // (classic gaps-and-islands: running max of pos+K−1 over the
    // ordered preceding rows marks island breaks). Output: one row
    // per (doc_a, doc_b, span) with char range and fingerprint count.
    //
    // 100 TB shape: the ONLY shuffled data is the positional
    // fingerprint set (~0.2 rows/gram, as dedup_winnowing) plus the
    // matched-pair stream; the pair equi-join on h is guarded by a
    // df cap ([[WinnowPairDfCap]], mirrored in the oracle) — a
    // fingerprint present in >64 docs is boilerplate whose pair
    // blow-up is quadratic and whose span signal is zero, the same
    // discipline as [[dfCap]] on shingles. The islands window
    // partitions by doc PAIR — bounded by the docs' span counts, no
    // global sort. Distinct a_pos per pair before the window keeps
    // the running-max frame deterministic (no peer-order ties).
    QueryDef("dedup_winnowing_spans",
      (s, dir) =>
        winnowingSpans(ProfilingQueries.widened(Tables(s, dir, "documents"))),
      Some(s"""WITH ${gramsCteSql(WinnowK, withPos = true)},
              |fp0 AS (
              |  ${winnowSql("hp")}),
              |fp AS (
              |  ${gramDecodeSql("fp0")}),
              |hot AS (
              |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM fp GROUP BY h)
              |  WHERE df > $WinnowPairDfCap),
              |fc AS (SELECT * FROM fp WHERE h NOT IN (SELECT h FROM hot)),
              |m AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS a_pos
              |  FROM fc a JOIN fc b USING (h) WHERE a.doc_id < b.doc_id),
              |${islandSpansSql("m", Seq("doc_a", "doc_b"), "a_pos", WinnowK, "n_fp")}
              |SELECT * FROM spans""".stripMargin)),

    // EXACT duplicated-SUBSTRING spans — the corpus-GLOBAL sibling of
    // the pairwise winnowing audit, after Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better",
    // arXiv:2107.06499): any K-char gram occurring in ≥ 2 DISTINCT
    // documents marks duplicated text, and consecutive duplicated gram
    // positions merge into maximal char spans per doc (gaps-and-islands
    // on the running max of pos+K−1, as the winnowing spans). The
    // paper's suffix-array formulation is re-expressed as a gram
    // doc-frequency computation — same ≥K-char exact-match guarantee,
    // but linear and shuffle-friendly where a distributed suffix array
    // needs a global sort. Output: one row per (doc_id, span) with the
    // char range an exact-substring cleaner would cut. Within-doc
    // repeats alone do NOT flag (df counts distinct docs); that
    // intra-doc signal is `text_repetition`'s job.
    //
    // 100 TB shape: NO pair join anywhere — df is a per-hash
    // count-distinct and duplicated positions come back via a
    // left_semi against the tiny df≥2 hash set, so cost stays linear
    // in corpus grams no matter how hot a gram is (boilerplate that
    // blows up a pair join quadratically only bumps one df counter
    // here — this is why the query needs no df cap). The gram stream
    // is persisted (MEMORY_AND_DISK) so the df pass and the semi-join
    // probe share one md5 computation; at cluster scale that trades a
    // second full CPU pass for local spill. The islands window
    // partitions per doc — bounded by one doc's gram count.
    QueryDef("dedup_substring",
      (s, dir) =>
        substringSpans(ProfilingQueries.widened(Tables(s, dir, "documents"))),
      Some(s"""WITH $substrGramsCteSql,
              |dup AS (
              |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM p GROUP BY h)
              |  WHERE df >= 2),
              |d AS (SELECT doc_id, pos FROM p WHERE h IN (SELECT h FROM dup)),
              |${islandSpansSql("d", Seq("doc_id"), "pos", SubstrK, "n_grams")}
              |SELECT * FROM spans""".stripMargin)),

    // exact-substring CLEANING — the deliverable `dedup_substring`'s
    // audit exists for (as `corpus_cleaned` is to `dedup_clusters`),
    // with Lee et al.'s keep-one-copy rule: for every duplicated gram
    // the LOWEST doc_id carrying it keeps its text; every later doc's
    // occurrence is cut. Cut positions merge into spans (islands) and
    // roll up to per-doc char accounting: n_chars, cut_chars,
    // kept_chars, n_spans — the corpus-size reduction a training run
    // would see, doc by doc.
    //
    // 100 TB shape: one extra hash-keyed aggregation over the SAME
    // persisted gram stream (min doc_id + df per hash — no pair join,
    // as dedup_substring), then a co-keyed h-join of positions against
    // the tiny dup-hash frame. The keep-first rule is an integer
    // comparison (doc_id > min_doc), so survivorship needs no second
    // corpus pass and no global ordering beyond doc_id itself.
    QueryDef("substring_cleaned",
      (s, dir) =>
        substringCleaned(ProfilingQueries.widened(Tables(s, dir, "documents"))),
      Some(s"""WITH $substringCleanedCteSql
              |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
              |  COALESCE(pd.cut_chars, 0) AS cut_chars,
              |  CAST(d.n_chars AS BIGINT) - COALESCE(pd.cut_chars, 0) AS kept_chars,
              |  COALESCE(pd.n_spans, 0) AS n_spans
              |FROM documents d LEFT JOIN per_doc pd USING (doc_id)""".stripMargin)),

    // the DEDUP FUNNEL report — per-stage corpus accounting (docs +
    // chars surviving raw → exact dedup → substring cleaning), the
    // one-page answer to "how much corpus is left after each cleaning
    // stage" that gates a training-data token budget. Stages reuse THE
    // shared definitions the stage queries run (the exact-dedup fp
    // expression, [[substringCleaned]] + its CTE twin) — a report that
    // reimplements its stages can only drift. Exact-dedup chars count
    // the SURVIVOR's length (min doc per fingerprint, min_by/arg_min
    // on both engines). Three tiny aggregates unioned.
    QueryDef("dedup_funnel_report",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val raw = docs
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
          .select(lit("raw").as("stage"), col("n_docs"), col("n_chars"))
        val exact = docs
          .select(exactFp(col("text")).as("fp"), col("doc_id"), col("n_chars"))
          .groupBy(col("fp"))
          .agg(min_by(col("n_chars"), col("doc_id")).as("keep_chars"))
          .agg(count(lit(1)).as("n_docs"), sum(col("keep_chars")).as("n_chars"))
          .select(lit("exact_dedup").as("stage"), col("n_docs"), col("n_chars"))
        val sub = substringCleaned(ProfilingQueries.widened(docs))
          .agg(count(lit(1)).as("n_docs"), sum(col("kept_chars")).as("n_chars"))
          .select(lit("substring_cleaned").as("stage"), col("n_docs"), col("n_chars"))
        raw.unionByName(exact).unionByName(sub)
      },
      Some(s"""WITH $substringCleanedCteSql,
          |raw AS (
          |  SELECT 'raw' AS stage, COUNT(*) AS n_docs,
          |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
          |  FROM documents),
          |ex AS (
          |  SELECT 'exact_dedup' AS stage, COUNT(*) AS n_docs,
          |    CAST(SUM(keep_chars) AS BIGINT) AS n_chars
          |  FROM (
          |    SELECT arg_min(n_chars, doc_id) AS keep_chars FROM documents
          |    GROUP BY ${exactFpSql("text")})),
          |sub AS (
          |  SELECT 'substring_cleaned' AS stage, COUNT(*) AS n_docs,
          |    CAST(SUM(CAST(d.n_chars AS BIGINT) - COALESCE(pd.cut_chars, 0)) AS BIGINT) AS n_chars
          |  FROM documents d LEFT JOIN per_doc pd USING (doc_id))
          |SELECT * FROM raw UNION ALL SELECT * FROM ex UNION ALL SELECT * FROM sub""".stripMargin)),

    // EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    // al. SSJoin / Bayardo et al. "Scaling Up All Pairs Similarity
    // Search", WWW 2007) — the deterministic complement of the
    // MinHash-LSH path: same shingle sets, same τ=0.8, but ZERO false
    // negatives by construction instead of w.h.p. Where LSH trades
    // recall for candidate volume, prefix filtering prunes exactly:
    // order every doc's shingles by ascending global document
    // frequency (rarest first) and index only the first
    // n - ⌈τ·n⌉ + 1 of them — any pair with J ≥ τ must overlap on at
    // least ⌈τ·n_a⌉ shingles, which cannot all hide in the ⌈τ·n_a⌉-1
    // suffix, so its prefix meets the partner's full set and the pair
    // surfaces. Cost shape at 100 TB: the candidate join streams
    // prefix postings (the RAREST ~20% of each doc's shingles — short
    // posting lists by construction) against the full posting index;
    // hot shingles never enter a prefix (df-descending order pushes
    // them to the suffix) AND are df-capped away besides. The oracle
    // is the full quadratic shared-shingle join — a different
    // algorithm reaching the same answer, so agreement proves the
    // pruning exact rather than echoing it; SetSimSpec additionally
    // pins equality against [[allPairsJaccard]] and measures the
    // candidate reduction.
    QueryDef("dedup_setsim_prefix",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        jaccardPairs(sh, Some(prefixCandidates(sh, SetSimTau)))
          .filter(col("jaccard") >= SetSimTau)
      },
      Some(s"""$shCappedCte,
              |${sharedShinglesCteSql("inter")}
              |${jaccardAtLeastSql(s"doc_a, doc_b, $jaccardSql AS jaccard", "inter", SetSimTau)}""".stripMargin)),

    // CONTAINMENT near-dup pairs (Broder 1997's second resemblance
    // measure): max-containment |A∩B| / min(|A|, |B|) ≥ 0.9 — the
    // SUBSET-duplication detector Jaccard is structurally blind to. A
    // 100-shingle quote embedded verbatim in a 2000-shingle page has
    // J ≈ 0.05 (invisible to every minhash/banding stack, whose
    // recall curve is a function of J) but containment 1.0; quote
    // inclusion, boilerplate wrappers, and doc-inside-digest dups are
    // all this shape. Candidate generation is PREFIX filtering at the
    // containment bound — if |A∩B| ≥ ⌈τ·n_A⌉ then A's first
    // n_A − ⌈τ·n_A⌉ + 1 shingles in the global (df, s) order cannot
    // all miss B, so [[prefixCandidates]](τ = 0.9) is LOSSLESS for
    // max-containment ≥ 0.9 (the smaller doc's prefix fires; same
    // argument as set-similarity prefix filtering, Chaudhuri 2006,
    // applied to the containment bound — and τ = 0.9 prefixes are
    // SHORTER than setsim's 0.8, so this costs less than
    // dedup_setsim_prefix). Verification counts intersections only on
    // candidate pairs; rarest-first posting lists keep the join off
    // hot shingles, the df-cap guards the pathological tail. Oracle:
    // the exact all-pairs-sharing-a-shingle form — prefix filtering
    // is lossless, so both engines must land on the identical pair
    // set; agreement checks the filter's recall claim itself.
    // THE CAP (shared with the Jaccard queries, worth stating here
    // because containment is MORE cap-sensitive): both engines df-cap
    // the shingle sets — the Spark side through [[shingleSet]], the
    // oracle through [[shCappedCte]], the same rule term for term —
    // so the oracle's agreement certifies the prefix filter's
    // losslessness w.r.t. the CAPPED sets at every scale. Where the
    // cap fires (real corpus sizes; [[MinDfFloor]] keeps it a no-op at
    // the test SFs, TextDedupSpec pins max df ≪ floor), dropping a hot
    // shingle shrinks both the intersection and min(n_a, n_b): capped
    // containment is a different statistic from raw containment, and
    // intended — boilerplate carries no subset-dup signal. The
    // prefix-bound argument covers the capped sets unchanged.
    QueryDef("dedup_containment",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val contain = round(col("inter").cast("double") /
          least(col("n_a"), col("sb.n")).cast("double"), 6)
        verifyCounts(sh, prefixCandidates(sh, ContainTau))
          .select(col("doc_a"), col("doc_b"),
            col("n_a"), col("sb.n").as("n_b"),
            contain.as("containment"))
          .filter(col("containment") >= ContainTau)
      },
      Some(s"""$shCappedCte,
              |${sharedShinglesCteSql("inter")}
              |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b,
              |  round(CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
              |FROM inter
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE round(CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 6) >= $ContainTau""".stripMargin)),

    // BLOOM-FILTER batch-vs-corpus probe — the constant-memory front
    // of incremental exact dedup: the corpus's normalized-text
    // fingerprints compress into a 2^20-bit bitmap (128 KB, built by
    // [[graft.operators.Aggregators.BloomBits]]: per-map-task bitmaps
    // OR-merged, ONE bitmap crosses the wire per task), the bitmap
    // broadcasts to the arriving batch, and only bloom HITS pay the
    // exact fingerprint join. No false negatives by construction (a
    // present fingerprint's bits are all set), so non-hits are clean
    // with zero join cost — at 100 TB the corpus is never reshuffled
    // to answer "seen before?", and the exact join touches |hits|, not
    // |batch|. k=4 positions per fingerprint via Kirsch-Mitzenmacher
    // double hashing (h0 + i·low32(h1) mod m — two md5s, pure integer
    // ops both engines agree on). The oracle tests the SAME positions
    // against the corpus position SET — logically identical to the
    // bitmap (a bit is set iff some corpus element hashed to it), via
    // a different mechanism, so agreement checks the bitmap machinery
    // rather than echoing it. Batch split reuses dedup_incremental's
    // top-10% doc_id convention. Output per batch doc: bloom verdict +
    // exact verdict (false positives = 1,0 — none at testdata scale
    // with m=2^20; BloomSpec drives a small-m corpus where they occur).
    QueryDef("dedup_bloom_probe",
      (s, dir) => {
        val withPos = arrivalTagged(Tables(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), col("is_batch"), exactFp(col("text")).as("fp"))
          .withColumn("h0", portableHash(col("fp"), 101))
          .withColumn("h1", portableHash(col("fp"), 103))
          .select(Seq(col("doc_id"), col("is_batch"), col("fp")) ++
            (0 until BloomK).map(i => pmod(
              col("h0") + lit(i.toLong) * col("h1").bitwiseAND(lit(4294967295L)),
              lit(BloomM.toLong)).as(s"p$i")): _*)
        val corpus = withPos.filter(!col("is_batch"))
        val bloom = corpus
          .select(explode(array((0 until BloomK).map(i => col(s"p$i")): _*)).as("pos"))
          .agg(graft.operators.Aggregators.bloomBits(BloomM, col("pos")).as("bm"))
        val probed = withPos.filter(col("is_batch"))
          .crossJoin(broadcast(bloom))
          .withColumn("bloom_hit",
            (0 until BloomK).map(i => expr(
              s"(shiftright(element_at(bm, cast(p$i div 64 as int) + 1), " +
                s"cast(p$i % 64 as int)) & 1) = 1"))
              .reduce(_ && _).cast("long"))
        val corpusFps = corpus.select(col("fp")).distinct()
          .withColumn("in_corpus", lit(1L))
        val exact = probed.filter(col("bloom_hit") === 1)
          .join(corpusFps, Seq("fp"), "left_outer")
          .select(col("doc_id"), coalesce(col("in_corpus"), lit(0L)).as("exact_dup"))
        probed.select(col("doc_id"), col("bloom_hit"))
          .join(exact, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("bloom_hit"),
            coalesce(col("exact_dup"), lit(0L)).as("exact_dup"))
      },
      Some {
        val h0 = portableHashSql("fp", 101)
        val h1 = portableHashSql("fp", 103)
        val ps = (0 until BloomK)
          .map(i => s"(h0 + $i * (h1 & 4294967295)) % $BloomM AS p$i").mkString(",\n    ")
        val hitPred = (0 until BloomK)
          .map(i => s"p$i IN (SELECT pos FROM cp)").mkString(" AND ")
        s"""WITH ${arrivalMaxSql("doc_id", "documents")},
           |f AS (
           |  SELECT doc_id, ${arrivalBatchSql("doc_id")} AS is_batch,
           |    ${exactFpSql("text")} AS fp
           |  FROM documents),
           |h AS (SELECT doc_id, is_batch, fp, $h0 AS h0, $h1 AS h1 FROM f),
           |p AS (
           |  SELECT doc_id, is_batch, fp,
           |    $ps
           |  FROM h),
           |cp AS (
           |  SELECT DISTINCT unnest([p0, p1, p2, p3]) AS pos
           |  FROM p WHERE NOT is_batch),
           |cfp AS (SELECT DISTINCT fp FROM p WHERE NOT is_batch)
           |SELECT doc_id,
           |  CAST($hitPred AS BIGINT) AS bloom_hit,
           |  CAST(($hitPred) AND fp IN (SELECT fp FROM cfp) AS BIGINT) AS exact_dup
           |FROM p WHERE is_batch""".stripMargin
      })
  ) :+ lshEvalDef :+ editDistanceDef

  /** `dedup_bloom_probe` sizing: m = 2^20 bits (128 KB bitmap), k = 4
    * positions per fingerprint — false-positive rate (kn/m)^k ≈ 1e-11
    * at testdata corpus sizes, ~0.02 at n = 10M per bitmap shard. */
  private[graft] def BloomM: Int = 1 << 20
  private[graft] def BloomK: Int = 4

  /** `dedup_edit_distance` report threshold: 90% character-level
    * similarity marks a pair an edit-level duplicate. */
  private[graft] def EditSimPpm: Long = 900000L

  /** Edit-distance verification of LSH candidates — the
    * character-level fuzzy-dup metric where Jaccard's bag-of-shingles
    * is blind: token REORDERING keeps shingle sets close while
    * levenshtein exposes it, and small in-word edits (OCR noise,
    * diacritics) shred shingles while levenshtein stays small. The
    * quadratic-per-pair O(len²) cost is exactly why it only ever runs
    * on LSH candidates (never the corpus cross); texts flow through
    * the SAME normalization as exact dedup (NFC → lower → whitespace
    * collapse) so the two metrics disagree only on content. Reports
    * every candidate with its distance, similarity ppm
    * ((mx − lev)·1e6 div mx, exact integers), and the ≥ 90% dup flag
    * rather than filtering — the query IS the metric audit. Both
    * engines' levenshtein is the standard unit-cost edit distance. */
  private[graft] def editDistanceDef: QueryDef =
    QueryDef("dedup_edit_distance",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val norm = Tables(s, dir, "documents")
          .select(col("doc_id"), normText(col("text")).as("nt"))
        lshCandidates(sh)
          .join(norm.as("a"), col("doc_a") === col("a.doc_id"))
          .join(norm.as("b"), col("doc_b") === col("b.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("a.nt"), col("b.nt")).cast("long").as("lev"),
            greatest(length(col("a.nt")), length(col("b.nt"))).cast("long").as("mx"))
          .select(col("doc_a"), col("doc_b"), col("lev"),
            expr("((mx - lev) * 1000000) div mx").as("sim_ppm"))
          .withColumn("is_dup",
            when(col("sim_ppm") >= EditSimPpm, 1L).otherwise(0L))
      },
      Some(s"""$shCappedCte,
              |$candCteSql,
              |nt AS (
              |  SELECT doc_id,
              |    ${normTextSql("text")} AS nt
              |  FROM documents),
              |m AS (
              |  SELECT doc_a, doc_b,
              |    CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
              |    CAST(greatest(length(a.nt), length(b.nt)) AS BIGINT) AS mx
              |  FROM cand JOIN nt a ON a.doc_id = doc_a JOIN nt b ON b.doc_id = doc_b)
              |SELECT doc_a, doc_b, lev,
              |  CAST(((mx - lev) * 1000000) // mx AS BIGINT) AS sim_ppm,
              |  CAST(CASE WHEN ((mx - lev) * 1000000) // mx >= $EditSimPpm
              |    THEN 1 ELSE 0 END AS BIGINT) AS is_dup
              |FROM m""".stripMargin))

  /** LSH discovery recall eval — `ann_recall_eval`'s sibling for the
    * dedup stack: precision of the MinHash-LSH path is 1.0 by
    * construction (every candidate is exact-Jaccard-verified), so what
    * needs continuous monitoring is candidate-discovery RECALL, and
    * the ground truth is the EXACT prefix-filtered join — zero false
    * negatives by pigeonhole (SetSimSpec), so even the truth side is
    * subquadratic; no all-pairs join exists anywhere in this eval on
    * the Spark side. Both pair sets reuse THE shared definitions the
    * production queries run (an eval that reimplements its subject
    * can only drift). One row: true pairs, found pairs, recall in
    * micro-points. The DuckDB truth side IS the quadratic all-pairs
    * join — a third, independent mechanism agreeing on the same truth. */
  private[graft] def lshEvalDef: QueryDef =
    QueryDef("dedup_lsh_eval",
      (s, dir) => {
        val sh = shingleSet(s, dir, maxDfFrac = Some(DriverMaxDfFrac))
        val truth = jaccardPairs(sh, Some(prefixCandidates(sh, SetSimTau)))
          .filter(col("jaccard") >= SetSimTau)
          .select(col("doc_a"), col("doc_b"))
        // the LSH leg needs NO re-verification (r18): found counts
        // truth ∩ {LSH candidates with J ≥ NearDupTau}, and every truth
        // pair already HAS J ≥ SetSimTau ≥ NearDupTau (the same exact Jaccard the
        // LSH leg would recompute), so probing the candidate list
        // directly is the identical set — the second jaccardPairs chain
        // (two more shingle-cache joins + pair agg + sizes joins) did
        // only redundant work. Both sides orient doc_a < doc_b. The
        // recall semantics are unchanged: discovery is still the LSH
        // bucket join; verification of a discovered TRUE pair is a
        // no-op by definition, and discovered false pairs die in the
        // join exactly as they died in the old J-filter. Exact only
        // while the truth threshold is at least the LSH leg's NearDupTau: a
        // lower tau would count truth pairs the old leg filtered out.
        require(SetSimTau >= NearDupTau,
          s"dedup_lsh_eval's unverified LSH leg needs SetSimTau >= $NearDupTau, got $SetSimTau")
        //
        // n_true and n_found ride ONE left-outer probe + aggregate
        // (count(*) vs count(hit)) instead of [persist truth; semi-join;
        // two 1-row aggs; broadcast crossJoin]: the old shape's lazy
        // persist made the broadcast-build job and the main job RACE to
        // materialize the cache (measured: ~2 s of near-zero-CPU tasks
        // blocked on the cache lock at sf0.1), and the candidate list
        // is distinct so the outer join adds at most one match per
        // truth row — the two counts are the same numbers by
        // construction, in one job.
        truth
          .join(lshCandidates(sh).withColumn("hit", lit(1)),
            Seq("doc_a", "doc_b"), "left_outer")
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
          .select(col("n_true"), col("n_found"),
            QueryDef.microPoints(col("n_found").cast("double") /
              col("n_true").cast("double")).as("recall_micro"))
      },
      Some(s"""$verifiedPairsCteSql,
              |${sharedShinglesCteSql("ap")},
              |truth AS (
              |  ${jaccardAtLeastSql("doc_a, doc_b", "ap", SetSimTau)}),
              |f AS (
              |  SELECT COUNT(*) AS n_found
              |  FROM truth t JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
              |k AS (SELECT COUNT(*) AS n_true FROM truth)
              |SELECT CAST(k.n_true AS BIGINT) AS n_true,
              |  CAST(f.n_found AS BIGINT) AS n_found,
              |  ${QueryDef.microPointsSql(
                   "CAST(f.n_found AS DOUBLE) / CAST(k.n_true AS DOUBLE)")} AS recall_micro
              |FROM k, f""".stripMargin))

  /** Jaccard threshold of `dedup_setsim_prefix` — τ such that τ·n is a
    * multiple of 1/5, so a rational Jaccard i/u can never land inside
    * the 6-decimal rounding guard band just below τ (the verify filter
    * compares ROUNDED values; at τ=0.8 the nearest non-equal rational
    * is ≥ 0.2/u away, far outside round-off). */
  private[graft] def SetSimTau: Double = 0.8

  /** `dedup_containment` threshold: max-containment ≥ 0.9 marks a
    * subset-duplication pair. Also the prefix-filter bound — see the
    * QueryDef comment for the losslessness argument. */
  private[graft] def ContainTau: Double = 0.9

  /** Prefix-filtered candidate pairs for an exact τ-Jaccard self-join
    * over a (doc_id, s) set table: rank each doc's elements by
    * (global df asc, s asc) — one total order shared by all docs —
    * and join only the first n - ⌈τ·n⌉ + 1 ranks ("the prefix")
    * against the full table. Complete for J ≥ τ (see the QueryDef
    * comment for the pigeonhole argument); candidate volume is what
    * makes it subquadratic: prefixes hold each doc's rarest elements,
    * so the posting lists entering the join are the corpus's
    * shortest. Three shuffles: df count (s), rank window (doc_id),
    * candidate join (s). */
  private[graft] def prefixCandidates(sh: DataFrame, tau: Double): DataFrame = {
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(df, Seq("s"))
      .withColumn("rn", row_number().over(byDoc.orderBy(col("df"), col("s"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    val prefix = ranked
      .filter(col("rn") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("doc_id").as("p_doc"), col("s"))
    prefix.join(sh, Seq("s"))
      .filter(col("p_doc") =!= col("doc_id"))
      .select(least(col("p_doc"), col("doc_id")).as("doc_a"),
        greatest(col("p_doc"), col("doc_id")).as("doc_b"))
      .distinct()
  }

  /** The substring-cleaning CTE chain (grams → dup hashes → cut
    * positions → islands → per-doc accounting), shared by the
    * `substring_cleaned` and `dedup_funnel_report` oracles. */
  private def substringCleanedCteSql: String =
    s"""$substrGramsCteSql,
       |dup AS (
       |  SELECT h, min(doc_id) AS min_doc
       |  FROM p GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |cut AS (
       |  SELECT p.doc_id, p.pos FROM p JOIN dup USING (h)
       |  WHERE p.doc_id > dup.min_doc),
       |${islandSpansSql("(SELECT DISTINCT doc_id, pos FROM cut)", Seq("doc_id"), "pos", SubstrK, "n_grams")},
       |per_doc AS (
       |  SELECT doc_id, CAST(sum(span_end - span_start + 1) AS BIGINT) AS cut_chars,
       |         CAST(count(*) AS BIGINT) AS n_spans
       |  FROM spans GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[gramPositions]]: the positional [[SubstrK]]-gram
    * CTE `g` and its (doc_id, h, pos) decode `p` — the head of the
    * `dedup_substring` and substring-cleaning oracles. */
  private def substrGramsCteSql: String =
    s"""${gramsCteSql(SubstrK, withPos = true)},
       |p AS (
       |  ${gramDecodeSql("(SELECT doc_id, unnest(gr) AS hp FROM g)")})""".stripMargin

  /** Winnowing gram width (chars) and window size (grams): any shared
    * verbatim region of ≥ `WinnowK + WinnowW − 1` = 31 chars is
    * guaranteed to surface a common fingerprint (Schleimer et al. 2003,
    * §winnowing). K=24 keeps random 300-char testdata docs from
    * colliding by chance; W=8 samples ~1 fingerprint per 4-5 grams.
    * `def`, not `val`: `defs` above reads these during object init, and
    * a forward-referenced val is still 0/null at that point (the
    * recorded init-order trap — a val here once rendered `$WinnowK`
    * as 0 inside the oracle SQL while the lazily-run Spark side used
    * the real 24, failing the cross-engine gate). */
  private[graft] def WinnowK: Int = 24
  private[graft] def WinnowW: Int = 8

  /** The K-char gram CTE `g(doc_id, gr)`: per doc, the md5 hex of
    * every `k`-char gram in order — the DuckDB side of
    * [[gramPositions]] and of the gram arrays `winnowSelect` scans.
    * With `withPos` each hash carries its zero-padded 1-based char
    * offset (min over the strings = digest order, leftmost gram on
    * ties), decoded by [[gramDecodeSql]]. */
  private def gramsCteSql(k: Int, withPos: Boolean): String = {
    val pos = if (withPos) " || lpad(CAST(i AS VARCHAR), 10, '0')" else ""
    s"""g AS (
       |  SELECT doc_id, list_transform(range(1, length(text) - $k + 2),
       |      i -> md5(substr(text, CAST(i AS INTEGER), $k))$pos) AS gr
       |  FROM documents)""".stripMargin
  }

  /** The (doc_id, h, pos) decode of the positional hashes `hp` of
    * `from` (see [[gramsCteSql]]). */
  private def gramDecodeSql(from: String): String =
    s"""SELECT doc_id, substr(hp, 1, 32) AS h,
       |         CAST(substr(hp, 33, 10) AS BIGINT) AS pos
       |  FROM $from""".stripMargin

  /** DuckDB twin of [[winnowingFingerprints]] (and, over positional
    * grams, of [[winnowingFingerprintsPos]]): the distinct minima of
    * every sliding [[WinnowW]]-gram window of `g`, as column `as`. */
  private def winnowSql(as: String): String =
    s"""SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(0, greatest(len(gr) - $WinnowW + 1, 0)),
       |      j -> list_aggregate(list_slice(gr, CAST(j + 1 AS INTEGER), CAST(j + $WinnowW AS INTEGER)), 'min')))) AS $as
       |  FROM g""".stripMargin

  /** Winnowing fingerprint set: distinct (doc_id, h) where h is the
    * minimum md5 of each sliding [[WinnowW]]-gram window over the doc's
    * [[WinnowK]]-char grams. Both `sequence` calls are guarded — Spark's
    * `sequence(1, 0)` DESCENDS (the recorded bpe gotcha), so a doc
    * shorter than K (or with fewer than W grams) must short-circuit to
    * an empty array, not an inverted range. */
  private[graft] def winnowingFingerprints(docs: DataFrame): DataFrame =
    // r17: fused native winnowing (WinnowSelectExpr) — one O(n) pass
    // with a monotone deque replaces the interpreted md5-gram
    // transform plus the O(n·w) array_min(slice) window chain. Same
    // selection by construction (hex strings order like their binary
    // digests), same distinct; `h` rides binary (see gramPositions).
    docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.ScanExpressions
        .winnowSelect(col("text"), WinnowK, WinnowW, withPos = false)).as("h"))

  /** Full winnowing duplicate-span audit over a (doc_id, text) frame:
    * per-doc fingerprint count, cross-doc-shared fingerprint count, and
    * the dup flag. Factored off the QueryDef so WinnowingSpec can drive
    * it on constructed corpora (the ≥ K+W−1 guarantee needs docs with
    * planted shared spans at controlled offsets). */
  private[graft] def winnowingAudit(docs: DataFrame): DataFrame = {
    val fp = QueryDef.eager(winnowingFingerprints(docs))
    val dup = fp.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"), lit(1L).as("d"))
    val per = fp.join(dup, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), count(col("d")).as("n_dup"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_dup"), lit(0L)) > 0, 1L).otherwise(0L).as("is_dup"))
  }

  /** Pair-join doc-frequency cap for span localization: a fingerprint
    * present in more than this many docs is boilerplate — its pair
    * fan-out is quadratic and its span signal is noise. Mirrored
    * verbatim in the `dedup_winnowing_spans` oracle. A def (the
    * recorded init-order trap, see [[WinnowK]]). */
  private[graft] def WinnowPairDfCap: Int = 64

  /** Positional winnowing fingerprints: distinct (doc_id, h, pos)
    * where pos is the 1-based char offset of the gram the window min
    * selected. Identical selection to [[winnowingFingerprints]] — the
    * min key is the md5 hex prefixed to a zero-padded offset, so
    * comparing the concatenated string orders by hash first and
    * breaks hash ties on the LEFTMOST occurrence, deterministically
    * on both engines (binary collation both sides). Both `sequence`
    * calls carry the same short-doc guards as the non-positional
    * form. */
  private[graft] def winnowingFingerprintsPos(docs: DataFrame): DataFrame =
    // r17: fused native winnowing with the positional tie-break — the
    // old chain minimized `md5hex || lpad(pos, 10, '0')`, i.e. digest
    // order first, LEFTMOST gram on digest ties; WinnowSelectExpr's
    // (digest, index) comparator is that order exactly, without ever
    // materializing the concatenated sort keys.
    docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.ScanExpressions
        .winnowSelect(col("text"), WinnowK, WinnowW, withPos = true)).as("hp"))
      .select(col("doc_id"), col("hp.h").as("h"), col("hp.pos").as("pos"))

  /** Winnowing span localization over a (doc_id, text) frame: matched
    * fingerprints per doc pair, rolled up into character spans on the
    * lower-id side. Spans merge when matched gram positions overlap
    * within the K-char gram width (pos ≤ running max of prior
    * pos+K−1); a verbatim shared region ≥ K+W−1 chars therefore
    * surfaces as one span covering it (fingerprint density is ≥ 1 per
    * W grams inside the region, and consecutive selected grams are at
    * most W ≤ K apart, so the islands chain). Factored off the
    * QueryDef so WinnowingSpec can plant spans at known offsets. */
  private[graft] def winnowingSpans(docs: DataFrame): DataFrame = {
    val fp = QueryDef.eager(winnowingFingerprintsPos(docs))
    // df cap before the pair join — tiny hot set by construction, AQE
    // broadcasts the anti-join build side (the dfCap discipline)
    val hot = fp.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > WinnowPairDfCap)
      .select(col("h"))
    val fc = fp.join(hot, Seq("h"), "left_anti")
    val m = fc.select(col("doc_id").as("doc_a"), col("h"), col("pos").as("a_pos"))
      .join(fc.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("a_pos"))
      .distinct()
    islandSpans(m, Seq("doc_a", "doc_b"), "a_pos", WinnowK, "n_fp")
  }

  /** THE gaps-and-islands span merge shared by the winnowing and
    * exact-substring span queries: per `parts`, positions sorted by
    * `pos` join one span while each starts at or before the running
    * max of the earlier positions' ends (pos + width − 1); a position
    * past it opens the next island. Output per island: `parts`,
    * `span_start`, `span_end` (last position + width − 1) and the
    * position count as `nAs`. */
  private def islandSpans(df: DataFrame, parts: Seq[String], pos: String,
      width: Int, nAs: String): DataFrame = {
    val wOrd = Window.partitionBy(parts.map(col): _*).orderBy(col(pos))
    val prevEnd = max(col(pos) + lit(width - 1))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("brk",
        when(col(pos) > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("gi", sum(col("brk"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((parts :+ "gi").map(col): _*)
      .agg(min(col(pos)).as("span_start"),
        (max(col(pos)) + lit(width.toLong - 1)).as("span_end"),
        count(lit(1)).as(nAs))
      .select((parts ++ Seq("span_start", "span_end", nAs)).map(col): _*)
  }

  /** DuckDB twin of [[islandSpans]] over the rows of `from`: the
    * isl/grp CTEs and `spans(parts, span_start, span_end, nAs)`. */
  private def islandSpansSql(from: String, parts: Seq[String], pos: String,
      width: Int, nAs: String): String = {
    val ps = parts.mkString(", ")
    s"""isl AS (
       |  SELECT $ps, $pos,
       |    CASE WHEN $pos > COALESCE(max($pos + $width - 1) OVER
       |        (PARTITION BY $ps ORDER BY $pos
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM $from),
       |grp AS (
       |  SELECT $ps, $pos,
       |    sum(brk) OVER (PARTITION BY $ps ORDER BY $pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gi
       |  FROM isl),
       |spans AS (
       |  SELECT $ps, CAST(min($pos) AS BIGINT) AS span_start,
       |    CAST(max($pos) + $width - 1 AS BIGINT) AS span_end,
       |    CAST(count(*) AS BIGINT) AS $nAs
       |  FROM grp GROUP BY $ps, gi)""".stripMargin
  }

  /** Exact-substring gram width (chars): the minimum duplicated region
    * `dedup_substring` can certify. Every K-char window of a shared
    * region ≥ K chars hashes identically in both docs, so ANY verbatim
    * cross-doc region of ≥ K chars is covered gram-by-gram — no
    * winnowing sampling gap. 24 matches [[WinnowK]]'s
    * collision-vs-sensitivity tradeoff on the testdata corpus. A def,
    * not a val (the recorded init-order trap, see [[WinnowK]]). */
  private[graft] def SubstrK: Int = 24

  /** The (doc_id, pos, h) K-gram position stream `dedup_substring` and
    * `substring_cleaned` both consume — one definition of the gram
    * hashing so the audit and the cleaner can never disagree on what
    * counts as duplicated text. */
  private[graft] def gramPositions(docs: DataFrame): DataFrame =
    // r17: native one-pass gram hashing (GramHashesExpr) replaces the
    // interpreted per-window md5(substr) lambda, and `h` rides as the
    // 16-byte BINARY digest instead of the 32-char hex string — a
    // bijection, so every downstream equality/group/join is unchanged
    // while the exploded stream (this family's dominant shuffle)
    // carries half the bytes (guide §2.3 "narrower types").
    docs.select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.ScanExpressions.gramHashes(col("text"), SubstrK)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))

  /** Corpus-global exact duplicated-substring spans over a
    * (doc_id, text) frame (Lee et al. 2022, arXiv:2107.06499 — the
    * gram-df re-expression of their suffix-array dedup): positions
    * whose K-gram md5 occurs in ≥ 2 distinct docs, merged into maximal
    * char spans per doc. `posexplode` (0-based j → 1-based pos) keeps
    * the 300-char text out of the exploded stream — only 32-hex-char
    * hashes shuffle. (doc_id, pos) is unique by construction, so the
    * islands window has no peer-order ties. Factored off the QueryDef
    * so SubstringDedupSpec can plant shared regions at known offsets. */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    val p = QueryDef.eager(gramPositions(docs))
    val dup = p.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"))
    islandSpans(p.join(dup, Seq("h"), "left_semi"), Seq("doc_id"), "pos", SubstrK, "n_grams")
  }

  /** Keep-one-copy exact-substring cleaning over a (doc_id, text,
    * n_chars) frame: per-hash min doc_id survives, later docs' cut
    * positions merge into spans ([[islandSpans]]) and roll up to
    * per-doc char accounting. All docs are reported (LEFT join),
    * cut-free docs with zeros — the cleaner's report covers the
    * corpus, not just the damage. */
  private[graft] def substringCleaned(docs: DataFrame): DataFrame = {
    val p = QueryDef.eager(gramPositions(docs))
    val dup = p.groupBy(col("h"))
      .agg(min(col("doc_id")).as("min_doc"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"), col("min_doc"))
    val cut = p.join(dup, Seq("h"))
      .filter(col("doc_id") > col("min_doc"))
      .select(col("doc_id"), col("pos"))
    val perDoc = islandSpans(cut, Seq("doc_id"), "pos", SubstrK, "n_grams")
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("cut_chars"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        (col("n_chars") - coalesce(col("cut_chars"), lit(0L))).as("kept_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /** Cell target for [[QueryDef dedup_semantic_k]] — small enough that
    * k leaves the floor of 8 at EVERY driver scale factor. */
  private[graft] def GrowthProbeTargetRows: Long = 16L

  /** The `dedup_semantic` oracle, parameterized by the cell target so
    * the k-sizing expression the oracle recomputes is the SAME
    * arithmetic the Scala query ran ([[cellCountRows]]) — not a
    * constant that happens to match at one scale factor. */
  private def semanticOracleSql(targetRows: Long): String =
    s"""${frozenCellsCteSql(targetRows)},
       |${withinCellDropsSql("cells")}
       |SELECT c.vec_id, c.c_id, CAST(1 AS BIGINT) AS kept
       |FROM cells c
       |WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = c.vec_id)""".stripMargin

  /** k and Lloyd iteration count for `dedup_semantic_trained` — both
    * FIXED so the DuckDB oracle can unroll the supersteps literally.
    * k=8 matches `dedup_semantic`'s coarse tier; 2 iterations is
    * enough to move every centroid off its init (pinned in
    * SemDedupSpec) while keeping the oracle's unrolled CTE chain
    * readable. */
  private[graft] def TrainedK: Int = 8
  private[graft] def TrainedIters: Int = 2

  /** Quantized pre-collapse for the trained path: vectors identical
    * after per-dim round(double, 5) collapse to their lowest-vec_id
    * representative. Near-identical vectors (within half a 1e-5 grid
    * step per dim — cosine ≈ 1 ≫ τ for unit-scale embeddings, so the
    * collapsed members are semantic duplicates by any τ ≤ 0.999) stop
    * existing before clustering, which is what bounds the within-cell
    * self-join on corpora whose duplication is concentrated in one
    * atomic ball. One hash-shuffle on the quantized key; grouping is
    * exact (no float comparison — the rounded doubles are the key). */
  private[graft] def quantizedReps(s: SparkSession, dir: String): DataFrame =
    quantizedRepsOf(Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))

  /** Frame form of [[quantizedReps]], for planted-corpus tests. */
  private[graft] def quantizedRepsOf(emb: DataFrame): DataFrame =
    emb
      .withColumn("qkey",
        expr("transform(embedding, v -> round(CAST(v AS double), 5))"))
      .groupBy(col("qkey"))
      .agg(min_by(struct(col("vec_id"), col("embedding")), col("vec_id")).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))

  /** DuckDB twin of [[graft.operators.KMeans.assign]]'s squared-L2:
    * per-dim (a−b)·(a−b) in FLOAT then cast to double (the exact
    * zip_with arithmetic), strict left-fold sum — bit-identical on
    * both engines, so the argmin ordering can never disagree. */
  private def d2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> CAST(($a[i] - $b[i]) * ($a[i] - $b[i]) AS DOUBLE)), (acc, v) -> acc + v)"

  /** One unrolled Lloyd superstep pair for [[trainedOracleSql]]:
    * assignment CTE (argmin over `cents` by [[d2Sql]], c_id tiebreak —
    * the min_by struct order) + new-centroid CTE (per-(cell,dim)
    * double avg cast to float32, list reassembled in dim order, empty
    * cells inheriting via left join — KMeans.train's coalesce). */
  private def lloydStepSql(assignCte: String, centsCte: String,
      prevCents: String): String =
    s"""${lloydAssignSql(assignCte, prevCents)},
       |${centsCte}_m AS (
       |  SELECT c_id, list(CAST(m AS FLOAT) ORDER BY pos) AS c_emb FROM (
       |    SELECT c_id, pos, avg(v) AS m FROM (
       |      SELECT c_id, generate_subscripts(embedding, 1) AS pos,
       |        unnest(embedding) AS v FROM $assignCte)
       |    GROUP BY c_id, pos) GROUP BY c_id),
       |$centsCte AS (
       |  SELECT p.c_id, coalesce(n.c_emb, p.c_emb) AS c_emb
       |  FROM $prevCents p LEFT JOIN ${centsCte}_m n USING (c_id))""".stripMargin

  /** The Lloyd assignment CTE `name(vec_id, embedding, c_id)`: every
    * `reps` vector in its nearest centroid of `cents` by [[d2Sql]], c_id
    * tiebreak — the DuckDB twin of KMeans.assign's min_by. */
  private def lloydAssignSql(name: String, cents: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, c_id FROM (
       |    SELECT r.vec_id, r.embedding, c.c_id,
       |      row_number() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${d2Sql("r.embedding", "c.c_emb")}, c.c_id) AS rk
       |    FROM reps r CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin

  /** The `dedup_semantic_trained` oracle: quantized pre-collapse,
    * first-k init, [[TrainedIters]] unrolled Lloyd supersteps, final
    * assignment with the trained centroids, within-cell cosine prune —
    * every float boundary pinned to the Spark arithmetic ([[d2Sql]],
    * the double-avg→float32 centroid cast, [[cosineSql]]'s fold). */
  private def trainedOracleSql: String =
    s"""WITH reps AS (
       |  SELECT vec_id, embedding FROM (
       |    SELECT vec_id, embedding,
       |      row_number() OVER (
       |        PARTITION BY list_transform(embedding, v -> round(CAST(v AS DOUBLE), 5))
       |        ORDER BY vec_id) AS rk
       |    FROM embeddings) WHERE rk = 1),
       |c0 AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM reps ORDER BY vec_id LIMIT $TrainedK),
       |${lloydStepSql("a1", "c1", "c0")},
       |${lloydStepSql("a2", "c2", "c1")},
       |${lloydAssignSql("af", "c2")},
       |${withinCellDropsSql("af")}
       |SELECT f.vec_id, f.c_id, CAST(1 AS BIGINT) AS kept
       |FROM af f
       |WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = f.vec_id)""".stripMargin

  /** DuckDB twin of [[frozenCells]]: the p/cents/assign/cells CTE
    * prefix (k recomputed with the SAME [[cellCountRows]] arithmetic)
    * shared by [[semanticOracleSql]] and the `knn_graph` oracle. Ends
    * after the `cells` CTE so callers extend the WITH list. */
  private[queries] def frozenCellsCteSql(targetRows: Long): String =
    s"""WITH p AS (
       |  SELECT greatest(8, least(1048576, CAST(ceil(count(*) / $targetRows.0) AS BIGINT))) AS k
       |  FROM embeddings),
       |${centsSql("(SELECT k FROM p)")},
       |assign AS $centroidRanksSql,
       |cells AS (SELECT vec_id, embedding, c_id FROM assign WHERE rk = 1)""".stripMargin

  /** DuckDB twin of [[centroids]]: the `cents(c_id, c_emb)` CTE of the
    * vectors below `k` (a number or a scalar subquery). */
  private[queries] def centsSql(k: String): String =
    s"""cents AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < $k)""".stripMargin

  /** DuckDB twin of [[centroidRanks]] over the whole `embeddings` table
    * against a `cents(c_id, c_emb)` CTE: the parenthesized body of the
    * ranking CTE (vec_id, embedding, c_id, rk) the IVF oracles and
    * [[frozenCellsCteSql]] share. A def (defs-init-order contract). */
  private[queries] def centroidRanksSql: String =
    s"""(
       |  SELECT vec_id, embedding, c_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ${cosineSql("e.embedding", "c_emb")} DESC, c_id) AS rk
       |  FROM embeddings e CROSS JOIN cents)""".stripMargin

  /** DuckDB twin of [[withinCellDrops]] at τ = 0.4 over the cell table
    * `cells(vec_id, embedding, c_id)`: the `drops` CTE. */
  private def withinCellDropsSql(cells: String): String =
    s"""drops AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM $cells a JOIN $cells b
       |    ON a.c_id = b.c_id AND a.vec_id > b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4)""".stripMargin

  /** SemDeDup cell-count sizing: one k-means cell per ~256 KiB of
    * embedding input (≈1024 64-dim float32 vectors), floor 8, capped at
    * 2^20 — the within-cell self-join is |cell|², so the cell size must
    * stay BOUNDED as the corpus grows (k scales, not the cells; the
    * same discipline as ProfilingQueries.shardCount). All testdata SFs
    * sit on the floor (pinned in SemDedupSpec). */
  private[graft] def cellCount(inputBytes: BigInt): Int =
    ((inputBytes.max(0) + CellTargetBytes - 1) / CellTargetBytes)
      .max(8).min(1 << 20).toInt
  private[graft] def CellTargetBytes: BigInt = BigInt(256) << 10

  /** Row-count cell sizing for the ORACLED `dedup_semantic`: one cell
    * per ~`targetRows` vectors (default 1024), floor 8, capped at
    * 2^20 — same bounded-cell discipline as [[cellCount]], but driven
    * by a row count because that is the one sizing signal the DuckDB
    * oracle can recompute exactly
    * (`greatest(8, least(1048576, ceil(count(*)/target)))`).
    * At the default target all testdata SFs sit on the floor (pinned
    * in SemDedupSpec); `dedup_semantic_k` shrinks the target so the
    * growth branch meets the oracle too. */
  private[graft] def cellCountRows(rows: Long,
      targetRows: Long = CellTargetRows): Int =
    ((BigInt(rows).max(0) + targetRows - 1) / targetRows)
      .max(8).min(1 << 20).toInt
  private[graft] def CellTargetRows: Long = 1024L

  /** Absolute hot-cell floor for [[semanticDropsFrozen]]'s balance
    * guard: a cell may always hold up to this many vectors (4096² ≈
    * 16.8M within-cell pairs — cheap), and beyond it only in
    * proportion to the corpus's own rows-per-cell expectation. */
  private[graft] def HotCellFloor: Long = 4096L

  /** Oracled machinery for `dedup_semantic` / `dedup_semantic_k`:
    * exact stand-in centroids (first k vec_ids — the IVF trick,
    * deterministic on both engines), one broadcast assignment pass
    * with a map-side-combinable argmin (cosine desc, c_id tiebreak —
    * mirrors [[graft.operators.KMeans.assign]]'s `min_by` shape), then
    * the within-cell cosine prune. Returns (assigned = vec_id→cell
    * with embedding+norm, drops = vec_ids with a lower-id cell-mate at
    * cosine ≥ tau, k). `assigned` is persisted — it feeds both
    * self-join sides and the final anti-join; the caller's clearCache
    * sweep releases it (Bench/Verify contract). The corpus side only
    * ever shuffles once (the groupBy argmin); the self-join is
    * cell-bounded, never all-pairs.
    *
    * Hot-cell guard: frozen first-k centroids give bit-exact oracles
    * but NO balance guarantee — a pathologically clumped corpus (every
    * vector nearest the same centroid) degenerates the |cell|²
    * self-join back to all-pairs. Rather than silently run a quadratic
    * job, the guard fails loudly (same fail-loud discipline as
    * dedup_clusters' convergence throw) when the largest cell exceeds
    * max(64 × rows/k, [[HotCellFloor]]): 64× the balanced expectation
    * tolerates ordinary skew, and the absolute floor keeps floor-k
    * corpora (rows ≤ 8·target, where one cell legitimately holds a
    * large share) out of the guard's reach. The check is one aggregate
    * over the already-persisted assignment — ≤ k rows exchange. */
  private[graft] def semanticDropsFrozen(s: SparkSession, dir: String,
      tau: Double, targetRows: Long = CellTargetRows)
      : (DataFrame, DataFrame, Int) = {
    val (assigned, k) = frozenCells(s, dir, targetRows)
    (assigned, withinCellDrops(assigned, tau), k)
  }

  /** The within-cell prune every SemDeDup path shares: the vec_ids of
    * `assigned` (vec_id, embedding, nrm, c_id) with a lower-id cell-mate
    * at cosine ≥ `tau`, distinct. The self-join is keyed on c_id, so
    * its cost is Σ|cell|², never all-pairs. [[withinCellDropsSql]] is
    * the DuckDB twin. */
  private[graft] def withinCellDrops(assigned: DataFrame, tau: Double): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") > col("b.vec_id"))
      .filter(cosineFast(col("a.embedding"), col("b.embedding"),
        col("a.nrm"), col("b.nrm")) >= tau)
      .select(col("a.vec_id").as("vec_id"))
      .distinct()

  /** SemDeDup's result rows: every assigned vector the prune did not
    * drop, with its cell and `kept = 1`. */
  private def semanticKept(assigned: DataFrame, drops: DataFrame): DataFrame =
    assigned
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c_id"))
      .withColumn("kept", lit(1L))

  /** The first `k` vectors of `corpus` (vec_id, embedding, nrm) as
    * (c_id, c_emb, c_nrm) centroids — the exact stand-in the IVF and
    * frozen SemDeDup queries share, so DuckDB reproduces every
    * assignment bit for bit. */
  private[queries] def centroids(corpus: DataFrame, k: Int): DataFrame =
    corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** Every vector of `v` (vec_id, embedding, nrm) scored against every
    * broadcast centroid of `cents`: one row per (vector, c_id) with its
    * cosine `cos_c`. */
  private def centroidCosines(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("cos_c",
        cosineFast(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm")))

  /** Centroid ranking: [[centroidCosines]] numbered `rk` per vector by
    * cosine desc with a c_id tiebreak — `rk = 1` is the vector's cell,
    * `rk <= n` its n-probe list. The window partitions by vec_id, so one
    * vector's ranking never depends on another's: a query set ranks its
    * own |Q|×k rows rather than filtering the corpus-wide ranking.
    * [[centroidRanksSql]] is the DuckDB twin. */
  private[queries] def centroidRanks(v: DataFrame, cents: DataFrame): DataFrame =
    centroidCosines(v, cents)
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_c").desc, col("c_id"))))

  /** The frozen-centroid cell assignment shared by the SemDeDup prune
    * ([[semanticDropsFrozen]]) and the k-NN graph build
    * (SimilarityQueries `knn_graph`) — everything up to and including
    * the hot-cell guard; consumers add their own within-cell join.
    * Returns (assigned = vec_id, embedding, nrm, c_id — persisted;
    * released by the caller's clearCache sweep, the Bench/Verify
    * contract) and k. The corpus side shuffles exactly once (the
    * groupBy argmin); every consumer's self-join is cell-bounded,
    * never all-pairs. [[frozenCellsCteSql]] is the DuckDB twin. */
  private[queries] def frozenCells(s: SparkSession, dir: String,
      targetRows: Long = CellTargetRows): (DataFrame, Int) = {
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val rows = emb.count()
    // fail with a diagnosis, not the NPE the hot-cell guard's max()
    // aggregate would throw on a NULL over zero cells
    require(rows > 0, s"semantic dedup: embeddings table at $dir is empty")
    val k = cellCountRows(rows, targetRows)
    val e = emb.withColumn("nrm", l2Norm(col("embedding")))
    val assigned = centroidCosines(e, centroids(e, k))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("c_id"), struct((-col("cos_c")).as("nc"), col("c_id"))).as("c_id"),
        any_value(col("embedding")).as("embedding"),
        any_value(col("nrm")).as("nrm"))
      .persist()
    val hotBound = math.max(64L * ((rows.max(1) + k - 1) / k), HotCellFloor)
    // This first() is deliberately NOT folded in-plan (r13 verdict #7
    // triage): the guard action is LOAD-BEARING as the persist
    // materializer. Every consumer self-joins `assigned` — with a cold
    // cache, the join's two map stages race and each computes the full
    // corpus→cell assignment concurrently (measured as the duplicated
    // scan the persist exists to prevent). One eager 1-row fetch both
    // warms the cache and fails fast on a hot cell BEFORE the
    // quadratic-in-cell join is even planned; an in-plan
    // raise_error-on-broadcast form would defer the diagnosis to
    // mid-join and still need an eager cache-warming action first.
    val maxCell = assigned.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).first().getLong(0)
    if (maxCell > hotBound) {
      assigned.unpersist()
      throw new IllegalStateException(
        s"semantic dedup hot cell: largest of $k cells holds $maxCell of $rows " +
          s"vectors (bound $hotBound) — frozen stand-in centroids cannot block " +
          "this corpus; use the trained path (semanticDrops/KMeans) or raise k")
    }
    (assigned, k)
  }

  /** Shared machinery for the TRAINED SemDeDup path and its brute-force test:
    * returns (assigned = vec_id→cell, drops = vec_ids with a lower-id
    * cell-mate at cosine ≥ tau), `assigned` from [[trainedCells]]. */
  private[graft] def semanticDrops(s: SparkSession, dir: String,
      k: Int, iters: Int, tau: Double): (DataFrame, DataFrame) = {
    val assigned = trainedCells(
      Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")), k, iters)
    (assigned, withinCellDrops(assigned, tau))
  }

  /** Trained-centroid cells: `k` Lloyd centroids over `emb` (vec_id,
    * embedding), every vector assigned and normed, [[QueryDef.eager]]
    * for its three consumers (both prune self-join sides and the kept
    * anti-join). */
  private def trainedCells(emb: DataFrame, k: Int, iters: Int): DataFrame =
    QueryDef.eager(graft.operators.KMeans
      .assign(emb, graft.operators.KMeans.train(emb, k, iters))
      .withColumn("nrm", l2Norm(col("embedding"))))

  private lazy val queriesByName: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap
}
