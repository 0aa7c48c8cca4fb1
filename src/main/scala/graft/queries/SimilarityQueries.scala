package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.queries.DedupQueries.{centroidRanks, centroidRanksSql, centroids, centsSql}
import graft.queries.ProfilingQueries.{topK, topKSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector queries over the `embeddings` table (`embedding:
  * array<float>`): nearest-neighbor search, its recall audits, and the
  * embedding-space statistics and graphs built beside it.
  *
  *  - exact and approximate search: brute force (`ann_bruteforce`, the
  *    shared ground truth), sign-LSH buckets (`ann_lsh`), IVF cells with
  *    1 or [[NProbe]] probes (`ann_ivf`, `ann_ivf_nprobe`), PQ/ADC and
  *    IVF-PQ (`ann_pq`, `ann_ivfpq`), SQ8, binary and Matryoshka tiers
  *    (`ann_sq8`, `ann_binary`, `ann_adaptive`), hybrid RRF and MMR.
  *  - recall audits: `ann_recall_eval`, `ann_sq8`, `ann_binary`,
  *    `ann_adaptive`, `embedding_matryoshka`, each against the one
  *    [[bruteTopK]] truth.
  *  - embedding statistics: per-dim moments, health, Gram/PCA/ABTT,
  *    quantization error, class separation.
  *  - k-NN graphs over frozen cells: edges, hubness, multi-probe,
  *    PageRank, triangles; and bitext margin mining.
  *
  * The search queries are built from a few shared stages, each with its
  * DuckDB twin: the query set ([[isQuery]], [[queryPairs]]), the IVF
  * index ([[ivfIndex]], over [[DedupQueries.centroidRanks]]), the
  * cosine top-k ([[cosineTopK]]), the per-dimension flatten
  * ([[perDim]]), the SQ8 code ([[sq8Code]]) and the recall fold
  * ([[recallAtK]]). Every ranked cut is [[ProfilingQueries.topK]]. The
  * query side (|Q| = [[NQueries]]) is the broadcast side, the corpus
  * streams, and every top-k window pre-trims per partition before its
  * exchange.
  *
  * Cosine arithmetic is the strict left fold from
  * [[graft.functions.TextFunctions]] so DuckDB oracles match exactly.
  */
object SimilarityQueries {

  private val NQueries = 8
  private val TopK = 5

  /** `ann_binary` Hamming candidate-pool size: 4× the final k — the
    * standard binary-quantization rerank multiplier (enough slack for
    * sign-bit angle error at 64 dims without paying a corpus-wide
    * cosine pass). */
  private val HammingCand = 20

  /** Spark/DuckDB-identical 8-bit sign signature over dims 1..8. */
  private def sigCol = (0 until 8).map { i =>
    when(element_at(col("embedding"), i + 1) > 0f, lit(1L << i)).otherwise(lit(0L))
  }.reduce(_ + _)

  private val sigSql = (0 until 8)
    .map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
    .mkString(" + ")

  private val NCentroids = 16
  private val NProbe = 4

  /** Negatives per anchor for `negative_sample`. */
  private val NNeg = 4

  /** Bitext-margin mining knobs: k-NN depth for the neighborhood
    * normalizer, anchor-batch bound (even ids below it), and the
    * accept threshold in micro-points (1.05 — the standard margin
    * cut). MUST sit above `defs`: the oracle SQL strings interpolate
    * them EAGERLY at object init (a forward reference would bake in
    * zero — observed). */
  private val MarginK = 4
  private val MarginAnchors = 256
  private val MarginAcceptMicro = 1050000L

  val defs: Seq[QueryDef] = Seq(

    // IVF-style ANN: assign every vector to its nearest coarse-quantizer
    // cell, probe only the query's cell. Here the "trained" centroids
    // are a fixed deterministic subset (vec_id < NCentroids) — a real
    // pipeline would k-means them; assignment, cell-restricted search,
    // and the nprobe knob (1 here) are the actual IVF machinery. At
    // scale: centroids broadcast, one corpus pass to assign (linear),
    // search touches |corpus|/cells candidates per query.
    QueryDef("ann_ivf",
      (s, dir) => ivfTopK(s, dir),
      Some(s"WITH ${ivfIndexCteSql(1)}\n${ivfSearchSql("q.cell AS cell")}")),

    // IVF with nprobe=4: queries probe their 4 nearest cells instead of
    // 1, trading 4× the candidates for recall — the knob every IVF
    // index exposes. Corpus vectors stay in exactly one cell (assign
    // rk = 1); only the probe list fans out, so the join cost is
    // nprobe·|corpus|/cells candidates per query. Same broadcast-
    // centroids assignment pass as ann_ivf; the probe side (queries ×
    // nprobe rows) is the broadcast build side of the cell join.
    QueryDef("ann_ivf_nprobe",
      (s, dir) => ivfSearch(s, dir, NProbe),
      Some(s"WITH ${ivfIndexCteSql(NProbe)}\n${ivfSearchSql()}")),

    // Product quantization + ADC (Jégou et al., TPAMI 2011) — the
    // memory-compression ANN path: each 64-dim vector is encoded as
    // m=4 one-byte codes (argmin codeword per 16-dim subspace), and
    // query-to-vector distance is approximated ASYMMETRICALLY via a
    // per-query lookup table: dist(q, v) ≈ Σ_j LUT[q, j, code_j(v)].
    // At serving scale the corpus side carries 4 bytes per vector
    // instead of 256 (a 64× memory cut) and scoring is 4 LUT adds per
    // pair — no float vector math touches the corpus after encoding.
    // Here: codebooks are the frozen first-16 subvectors (the exact
    // stand-in contract of ann_ivf / dedup_semantic — k-means-trained
    // books aren't bit-stable cross-engine); the 512-row LUT
    // (|Q|·m·codewords) broadcasts; per-j partial distances are
    // recombined with ORDER-INSENSITIVE conditional sums (3 of the 4
    // addends are exactly 0.0, so partial-agg order can't perturb the
    // double) and added in fixed j order. L2² folds left in array
    // order on both engines — bit-exact, so rank ties break identically.
    QueryDef("ann_pq",
      (s, dir) => adcTopK(pqAdc(s, dir)),
      Some {
        s"""WITH $pqCtesSql,
           |parts AS (
           |  SELECT l.q_id, k.vec_id,
           |    $pqDSumsSql
           |  FROM codes k JOIN lut l ON l.j = k.j AND l.c_id = k.code
           |  GROUP BY l.q_id, k.vec_id)
           |$pqRankSql""".stripMargin
      }),

    // IVF-PQ — the two techniques composed, i.e. the billion-scale
    // serving recipe (FAISS IndexIVFPQ): the coarse quantizer routes
    // each query to nprobe=4 cells (ann_ivf's cosine argmax, same
    // frozen stand-in centroids), and within the probed cells
    // candidates are scored by PQ ADC — 4 LUT adds per pair, never
    // touching the float vectors. Memory per corpus vector at serving
    // time: 4 code bytes + a cell id; compute per query: |probed
    // cells|·occupancy LUT adds. Both restriction joins are keyed
    // (cell; vec_id), the LUT broadcasts, and recombination uses the
    // same order-insensitive conditional sums as ann_pq.
    QueryDef("ann_ivfpq",
      (s, dir) => {
        val (cells, probes) = ivfIndex(vecs(s, dir), NProbe)
        val cand = probes.join(cells, Seq("cell"))
          .filter(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"))
        val pairs = pqCodes(s, dir).as("k")
          .join(cand.as("cd"), col("k.vec_id") === col("cd.vec_id"))
          .join(broadcast(pqLut(s, dir)).as("l"),
            col("k.j") === col("l.j") && col("cd.q_id") === col("l.q_id") &&
              col("k.code") === col("l.c_id"))
          .select(col("cd.q_id").as("q_id"), col("k.vec_id").as("vec_id"),
            col("k.j").as("j"), col("l.dq").as("dq"))
        adcTopK(adcRecombine(pairs))
      },
      Some {
        s"""WITH $pqCtesSql,
           |${ivfIndexCteSql(NProbe)},
           |cand AS (
           |  SELECT p.vec_id AS q_id, c.vec_id FROM probes p
           |  JOIN cells c ON p.cell = c.cell AND p.vec_id <> c.vec_id),
           |parts AS (
           |  SELECT l.q_id, k.vec_id,
           |    $pqDSumsSql
           |  FROM codes k
           |  JOIN cand cd ON cd.vec_id = k.vec_id
           |  JOIN lut l ON l.q_id = cd.q_id AND l.j = k.j AND l.c_id = k.code
           |  GROUP BY l.q_id, k.vec_id)
           |$pqRankSql""".stripMargin
      }),

    QueryDef("ann_bruteforce",
      (s, dir) => bruteTopK(s, dir),
      Some(bruteTopKSql)),

    // RECALL@k EVALUATION as a query — the continuous accuracy monitor
    // an ANN serving path runs against exact ground truth (IVF nprobe=1
    // vs brute force here; the knob the `ann_ivf_nprobe` variant and
    // KnnRecallSpec study, now measurable per anchor in production).
    // Truth and candidate sets come from the SAME shared definitions
    // the search queries run (`bruteTopK`/`ivfTopK`, and their SQL
    // twins below) — an eval that reimplements its subject can only
    // drift. Per-query k_true/k_found in exact integers; recall is ONE
    // ieee division exported in micro-points.
    //
    // 100 TB shape: at scale the truth side is a frozen labeled sample
    // (ground truth for every anchor is the brute-force cost this
    // whole family avoids), so |truth| is small by construction; the
    // intersection is a semi join on (q_id, n_id) and the rollup is
    // |anchors| rows.
    QueryDef("ann_recall_eval",
      (s, dir) => recallAtK(bruteTopK(s, dir), ivfTopK(s, dir)),
      Some(s"""WITH ${ivfIndexCteSql(1)},
              |got AS (${ivfSearchSql("q.cell AS cell")}),
              |$recallAtKSql""".stripMargin)),

    // NEGATIVE sampling for contrastive training (InfoNCE/triplet
    // mining): per anchor, [[NNeg]] deterministic uniform negatives
    // drawn from the corpus MINUS the anchor's true top-[[TopK]]
    // neighborhood — sampling a true positive as a "negative" is the
    // classic false-negative poisoning of contrastive losses, so the
    // exclusion is exact (the brute-force rank, computed in the same
    // joined frame — no second corpus pass). "Random" is the
    // per-(anchor, candidate) content hash (salt 41): reproducible
    // across runs/engines, and ranking by it is uniform sampling
    // without replacement. Two windows share one q_id partition: cos
    // rank excludes positives, hash rank picks negatives.
    //
    // 100 TB shape: same broadcast-queries × streamed-corpus scan as
    // ann_bruteforce (|Q| is the small side by contract); both top-k
    // windows ride WindowGroupLimit map-side pre-trims, so the
    // exchange moves O((TopK + NNeg)·partitions) rows per anchor,
    // never the corpus. When exact positive exclusion is overkill,
    // the cos window drops and this becomes a pure hash-top-k — one
    // scan, no cos arithmetic at all.
    QueryDef("negative_sample",
      (s, dir) => {
        // the positives' window is cut by rank > TopK, the complement of
        // a top-k, so it stays a plain window
        val wPos = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
        val negatives = queryPairs(vecs(s, dir))
          .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            cosineFast(col("q.embedding"), col("c.embedding"),
              col("q.nrm"), col("c.nrm")).as("cos"),
            portableHash(concat(col("q.vec_id").cast("string"), lit(":"),
              col("c.vec_id").cast("string")), 41).as("h"))
          .withColumn("pos_rank", row_number().over(wPos))
          .filter(col("pos_rank") > TopK)
        topK(negatives, Seq("q_id"), Seq(col("h"), col("n_id")), NNeg, "rk")
          .select(col("q_id"), col("n_id").as("neg_id"), col("rk"), col("cos"))
      },
      Some(s"""WITH p AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
              |    ${cosineSql("q.embedding", "c.embedding")} AS cos,
              |    ${portableHashSql(
                     "CAST(q.vec_id AS VARCHAR) || ':' || CAST(c.vec_id AS VARCHAR)", 41)} AS h,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS pos_rank
              |  FROM $queryPairsSql),
              |f AS (SELECT q_id, n_id, cos, h FROM p WHERE pos_rank > $TopK)
              |SELECT q_id, n_id AS neg_id, rk, cos FROM (
              |${topKSql("q_id, n_id, cos", "f", "q_id", "h, n_id", NNeg, "rk")})""".stripMargin)),

    // per-DIMENSION embedding moments — the dimension-collapse /
    // dead-axis check run on a representation before trusting it
    // (a dim whose variance ≈ 0 carries no information; a batch of
    // them means the encoder collapsed). The `stats_moments`
    // discipline on floats: each component is rounded ONCE to integer
    // micro-points, so every sum is exact integer arithmetic and
    // partial-agg order cannot perturb anything; mean and variance
    // come out of the integer sums by integer division (micro and
    // micro² units), and the dead flag is a pure integer comparison.
    // All sums and cross terms run in DECIMAL(38,0)/HUGEINT (the r13
    // headroom sweep): Σu² wrapped BIGINT past ~10⁸ rows/dim at
    // unit-norm magnitudes, and n², n·ss, s² square corpus-scale
    // totals — all far inside 10³⁸ for any terrestrial corpus.
    //
    // 100 TB shape: posexplode emits (dim, v) pairs that collapse
    // immediately into per-dim partial sums (64 keys — map-side
    // combinable, the word-count shape); the final frame is |dims|
    // rows.
    QueryDef("embedding_dim_stats",
      (s, dir) => {
        perDim(Tables(s, dir, "embeddings"))
          .select(col("dim"), QueryDef.microPoints(col("x")).as("u"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            sum(col("u").cast("decimal(38,0)")).as("s"),
            sum((col("u") * col("u")).cast("decimal(38,0)")).as("ss"))
          .select(col("dim"), col("n"),
            expr("s div n").as("mean_u"),
            expr("(CAST(n AS DECIMAL(38,0)) * ss - s * s) div (CAST(n AS DECIMAL(38,0)) * n)")
              .as("var_u2"),
            when(expr("CAST(n AS DECIMAL(38,0)) * ss - s * s") <
                expr("CAST(n AS DECIMAL(38,0)) * n") * lit(100000000L), 1L)
              .otherwise(0L).as("is_dead"))
      },
      Some(s"""WITH ex AS (
              |  SELECT dim, ${QueryDef.microPointsSql("x")} AS u FROM (${perDimSql()})),
              |agg AS (
              |  SELECT dim, COUNT(*) AS n, SUM(u) AS s,
              |    SUM(CAST(u AS HUGEINT) * u) AS ss
              |  FROM ex GROUP BY 1)
              |SELECT CAST(dim AS BIGINT) AS dim, n,
              |  CAST(s // n AS BIGINT) AS mean_u,
              |  CAST((CAST(n AS HUGEINT) * ss - s * s) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_u2,
              |  CAST(CASE WHEN CAST(n AS HUGEINT) * ss - s * s < CAST(n AS HUGEINT) * n * 100000000 THEN 1 ELSE 0 END AS BIGINT) AS is_dead
              |FROM agg""".stripMargin)),

    // EMBEDDING HEALTH AUDIT — the pre-flight every vector pipeline
    // runs before trusting anything built on the embedding column:
    // per label group, how many vectors carry NaN or ±Inf components
    // (a single one silently poisons dot products, k-means sums, and
    // gram folds), how many are exactly zero (cosine undefined — the
    // classic failed-encoder sentinel), and how many are RAGGED vs the
    // corpus's modal dimensionality (schema drift between encoder
    // versions; gramTriangle throws on these, this query COUNTS them
    // first). Zero-norm uses forall(x = 0.0) so a NaN vector is never
    // also counted zero (NaN = 0 is false identically in both
    // engines). Scale: one scan with per-row higher-order flags
    // (no explode), a |labels|-row counter rollup, and the modal
    // length as a broadcast 1-row frame — scan-speed at any corpus
    // size.
    QueryDef("embedding_health",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("e"))
        val modal = e.groupBy(size(col("e")).as("len"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("len")).limit(1)
          .select(col("len"))
        e.crossJoin(broadcast(modal))
          .select(col("label"),
            expr("exists(e, x -> isnan(x))").cast("long").as("nan"),
            expr("exists(e, x -> abs(x) = CAST('Infinity' AS DOUBLE))")
              .cast("long").as("inf"),
            expr("forall(e, x -> x = 0.0D)").cast("long").as("zero"),
            (size(col("e")) =!= col("len")).cast("long").as("ragged"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("nan")).as("n_nan"),
            sum(col("inf")).as("n_inf"), sum(col("zero")).as("n_zero"),
            sum(col("ragged")).as("n_ragged"))
      },
      Some("""WITH m AS (
             |  SELECT len(embedding) AS len FROM embeddings
             |  GROUP BY 1 ORDER BY COUNT(*) DESC, len LIMIT 1)
             |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
             |  CAST(SUM(CASE WHEN len(list_filter(embedding,
             |    x -> isnan(CAST(x AS DOUBLE)))) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
             |  CAST(SUM(CASE WHEN len(list_filter(embedding,
             |    x -> abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
             |  CAST(SUM(CASE WHEN len(list_filter(embedding,
             |    x -> CAST(x AS DOUBLE) = 0.0)) = len(embedding) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             |  CAST(SUM(CASE WHEN len(embedding) <> (SELECT len FROM m) THEN 1 ELSE 0 END) AS BIGINT) AS n_ragged
             |FROM embeddings GROUP BY 1""".stripMargin)),

    // Distributed GRAM MATRIX (X'X, upper triangle) — the linear-
    // algebra primitive under PCA/whitening/anisotropy correction
    // (Mu & Viswanath, ICLR 2018: all-but-the-top removal needs
    // exactly this + the mean vector `embedding_dim_stats` already
    // computes). The ONE operator family where mapPartitions beats
    // any declarative form: a per-pair explode is a D²/2-fold row
    // blowup through an exchange (≈ 2000× at D = 64), while the
    // BLAS-style rank-k update — each partition folds its vectors
    // into a local D(D+1)/2 triangle, emitting one partial triangle
    // — shuffles #partitions · D(D+1)/2 counter rows, INDEPENDENT of
    // corpus size (the RowMatrix.computeGramianMatrix shape, Spark
    // MLlib's own choice for this op). Arithmetic is the dim_stats
    // contract: components round ONCE to integer micro-points, so
    // every product and sum is exact integer math no partial-agg
    // order can perturb. Overflow discipline (r13): the per-partition
    // Long fold flushes ADAPTIVELY — 2^62/maxU² rows per chunk, so no
    // partition size can wrap a cell silently (at unit vectors that
    // is ~4.6e6 rows/chunk); the partial merge runs in DECIMAL(38,0)
    // (HUGEINT in the oracle), and a total past 2^63 RAISES on both
    // engines (Spark raise_error ↔ DuckDB's CAST(HUGEINT AS BIGINT))
    // — the remedy at that corpus mass is rescaling the micro unit.
    // Components past |x| ≈ 3000 are rejected loudly (a single
    // product would wrap). Dimension count is taken from the data
    // (min = max asserted, loud failure on ragged vectors, never a
    // silent mis-accumulation).
    QueryDef("embedding_gram",
      (s, dir) => gramTriangle(s, dir),
      Some(s"""$gramCteSql
              |SELECT i, j, gram_u2 FROM gram""".stripMargin)),

    // TOP PRINCIPAL COMPONENT by exact-integer power iteration — the
    // step after `embedding_gram` toward all-but-the-top anisotropy
    // correction (Mu & Viswanath, ICLR 2018: subtract the dominant
    // direction): v ← G·v iterated [[PcaIters]] times from the ones
    // vector, renormalized each step to the fixed 2^20 grid by
    // FLOOR-dividing by that step's max |component| — every operation
    // is integer arithmetic both engines define identically (matvec
    // products in DECIMAL(38,0)/HUGEINT; the floor is made portable by
    // a +2^21·m offset so Spark's truncating `div` and DuckDB's
    // flooring `//` act on non-negative values — the drift_psi
    // discipline), so the result is bit-reproducible regardless of
    // convergence state. Ships with share_micro = vᵀGv·10⁶ div
    // (vᵀv·trace), the Rayleigh estimate of PC1's explained-variance
    // share (PSD ⇒ every term ≥ 0). Scale: the corpus is touched ONCE
    // (the gram fold, partial-triangle shuffle independent of corpus
    // size); the [[PcaIters]] steps are one array fold over the
    // one-row D²-cell gram ([[pcaFold]]) — at 100 TB the iteration
    // cost is noise. Oracle: the recurrence UNROLLED as a CTE chain
    // (the graph_pagerank pattern), one block per step.
    QueryDef("embedding_pca_top",
      (s, dir) => {
        // eager localCheckpoint: the final plan reads the triangle
        // three times (both halves of gramFull, the trace), and each
        // read would otherwise re-run the corpus scan and gram fold.
        // Checkpointing makes the D²-cell frame a leaf, so the corpus
        // is touched once.
        val tri = gramTriangle(s, dir).localCheckpoint()
        val tr = tri.filter(col("i") === col("j"))
          .agg(sum(col("gram_u2").cast("decimal(38,0)")).as("tr"))
        // vᵀGv, vᵀv and the output rows all read the ONE folded row
        pcaFold(gramFull(tri)).crossJoin(broadcast(tr))
          .select(col("g.i").as("i"), col("v"), col("tr"),
            dot(col("v"), matvec(col("g.row"), col("v"))).as("vgv"), dot(col("v"), col("v")).as("vtv"))
          .select(inline(arrays_zip(col("i"), col("v").as("pc1_u20"))),
            when(col("vtv") === 0 || col("tr") === 0, lit(0L))
              .otherwise(expr("CAST((vgv * 1000000) div (vtv * tr) AS BIGINT)"))
              .as("share_micro"))
      },
      Some {
        s"""$gramCteSql,
           |$pcaVCteSql,
           |rq AS (
           |  SELECT SUM(CAST(g.gram_u2 AS HUGEINT) * a.v * b.v) AS vgv
           |  FROM gfull g JOIN v$PcaIters a ON a.i = g.i JOIN v$PcaIters b ON b.i = g.j),
           |nn AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS vtv FROM v$PcaIters),
           |tr AS (SELECT SUM(CAST(gram_u2 AS HUGEINT)) AS tr
           |  FROM gram WHERE i = j)
           |SELECT f.i, f.v AS pc1_u20,
           |  CAST(CASE WHEN nn.vtv = 0 OR tr.tr = 0 THEN 0
           |    ELSE (rq.vgv * 1000000) // (nn.vtv * tr.tr) END AS BIGINT) AS share_micro
           |FROM v$PcaIters f, rq, nn, tr""".stripMargin
      }),

    // ALL-BUT-THE-TOP correction, applied (Mu & Viswanath, ICLR 2018):
    // the per-VECTOR step after `embedding_pca_top` — each embedding's
    // coordinate along the dominant direction plus the squared norm of
    // what remains after centering and removing that direction, the
    // two numbers that decide whether the correction is worth applying
    // corpus-wide (big pc1 spread + resid² ≪ raw norm² = anisotropy is
    // eating the geometry). Exact integers end to end: c = u − μ̃ with
    // μ̃ the portable-floor per-dim micro mean ([[MuOffset]] offset
    // makes `div`/`//` agree; error ≤ 1 micro, identically on both
    // engines), p = vᵀc in BIGINT, pc1_micro = p div 2^20 (offset
    // [[Pc1FloorOffset]]), resid²·(vᵀv) expansion avoided by reporting
    // resid2_u2 = cᵀc − p² div vᵀv (p² in DECIMAL/HUGEINT, quotient
    // non-negative so floor = truncate). v and μ̃ come from the SHARED
    // [[pcaFold]]/dims definitions — this query cannot drift from
    // the PC it claims to remove. Scale: the corpus is touched by the
    // gram fold + per-dim sums (both counter-shaped shuffles) + ONE
    // map pass against a broadcast 1-row (varr, muarr, vtv) frame —
    // the zip_with/aggregate dot product never explodes the vector,
    // so at 100 TB this is scan-speed with 64-counter partials.
    QueryDef("embedding_abtt",
      (s, dir) => {
        // checkpointed for the same reason as embedding_pca_top's: v's
        // fold must not re-run the corpus scan behind the gram
        val tri = gramTriangle(s, dir).localCheckpoint()
        val u = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => QueryDef.microPoints(x)).as("u"))
        val dims = u
          .select(posexplode(col("u")).as(Seq("p0", "ui")))
          .groupBy(col("p0"))
          .agg(sum(col("ui")).as("su"), count(lit(1)).as("n"))
          .select((col("p0") + 1).cast("long").as("i"),
            // the offset PRODUCT computed in decimal too: 2^40·n in
            // BIGINT wraps silently past n ≈ 8.4M vectors — the very
            // scale the offset's headroom claim is about
            expr(s"CAST((CAST(su AS DECIMAL(38,0)) + CAST(${MuOffset} AS DECIMAL(38,0)) * n) div n - ${MuOffset}L AS BIGINT)")
              .as("mu"))
        // varr and vtv straight off the folded row; μ̃ collected in the
        // same key order (both are dims 1..D sorted)
        val vm = pcaFold(gramFull(tri))
          .crossJoin(broadcast(dims.agg(sort_array(collect_list(struct(col("i"), col("mu")))).as("d"))))
          .select(col("v").as("varr"), col("d.mu").as("muarr"),
            dot(col("v"), col("v")).as("vtv"))
        u.crossJoin(broadcast(vm))
          .select(col("vec_id"),
            expr("zip_with(u, muarr, (a, b) -> a - b)").as("c"),
            col("varr"), col("vtv"))
          .select(col("vec_id"),
            expr("aggregate(zip_with(c, varr, (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("p"),
            expr("aggregate(c, 0L, (acc, x) -> acc + x * x)").as("c2"),
            col("vtv"))
          .select(col("vec_id"),
            expr(s"CAST((p + ${Pc1FloorOffset}L * ${PcaVScale}L) div ${PcaVScale}L - ${Pc1FloorOffset}L AS BIGINT)")
              .as("pc1_micro"),
            when(col("vtv") === 0, col("c2"))
              .otherwise(col("c2") -
                expr("CAST((CAST(p AS DECIMAL(20,0)) * p) div vtv AS BIGINT)"))
              .as("resid2_u2"))
      },
      Some {
        s"""$gramCteSql,
           |$pcaVCteSql,
           |uu AS MATERIALIZED (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> ${QueryDef.microPointsSql("CAST(x AS DOUBLE)")}) AS u
           |  FROM embeddings),
           |ux AS MATERIALIZED (
           |  SELECT vec_id, CAST(t.ii AS BIGINT) AS i,
           |    u[CAST(t.ii AS INTEGER)] AS ui
           |  FROM uu, unnest(range(1, len(u) + 1)) AS t(ii)),
           |dims AS MATERIALIZED (
           |  SELECT i, SUM(ui) AS su, COUNT(*) AS n FROM ux GROUP BY 1),
           |vm AS MATERIALIZED (
           |  SELECT d.i, vv.v,
           |    CAST((d.su + CAST($MuOffset AS HUGEINT) * d.n) // d.n - $MuOffset AS BIGINT) AS mu
           |  FROM dims d JOIN v$PcaIters vv USING (i)),
           |nn AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS vtv FROM v$PcaIters),
           |cc AS (
           |  SELECT x.vec_id,
           |    SUM((x.ui - m.mu) * m.v) AS p,
           |    SUM((x.ui - m.mu) * (x.ui - m.mu)) AS c2
           |  FROM ux x JOIN vm m USING (i) GROUP BY 1)
           |SELECT cc.vec_id,
           |  CAST((cc.p + $Pc1FloorOffset * $PcaVScale) // $PcaVScale - $Pc1FloorOffset AS BIGINT) AS pc1_micro,
           |  CAST(cc.c2 - CASE WHEN nn.vtv = 0 THEN 0
           |    ELSE (CAST(cc.p AS HUGEINT) * cc.p) // nn.vtv END AS BIGINT) AS resid2_u2
           |FROM cc, nn""".stripMargin
      }),

    QueryDef("ann_lsh",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), sigCol.as("bucket"),
            l2Norm(col("embedding")).as("nrm"))
        cosineTopK(broadcast(e.filter(isQuery).as("q")).join(e.as("c"),
            col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id")),
          col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
          cosineFast(col("q.embedding"), col("c.embedding"), col("q.nrm"), col("c.nrm")),
          TopK, col("q.bucket").as("bucket"))
      },
      Some(s"""WITH sig AS (
              |  SELECT vec_id, embedding, CAST($sigSql AS BIGINT) AS bucket FROM embeddings)
              |${cosineTopKSql("sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id" +
                   s" WHERE ${isQuerySql("q.vec_id")}", carry = Seq("q.bucket AS bucket"))}""".stripMargin)),

    // hybrid dense+sparse retrieval with reciprocal-rank fusion
    // (Cormack, Clarke & Buettcher, SIGIR 2009), query-by-example: for
    // each of the first NQueries documents, fuse (a) the exact-cosine
    // ranking over the embedded corpus (the dense leg — embeddings and
    // documents share the id space) and (b) the word-3-gram Jaccard
    // ranking over the full corpus (the sparse leg — the same shingle
    // machinery as the dedup stack). RRF score = Σ 1e6 div (60 + rank)
    // in integer micro-points, so cross-engine parity is exact integer
    // arithmetic on ranks — no float score mixing, which is the whole
    // point of RRF.
    //
    // Scale shape: both legs broadcast the |Q|-sized query side,
    // stream the corpus and rank through
    // [[ProfilingQueries.shardedTopK]]; fusion then full-outer joins
    // two ≤ |Q|·pool-row lists — driver-scale small regardless of
    // corpus size. The oracle mirrors only the final ranking.
    QueryDef("hybrid_search",
      (s, dir) => {
        // dense leg: exact cosine, query side broadcast
        val e = vecs(s, dir)
        val cos = broadcast(queryVecs(e)).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id").as("doc_id"),
            cosineFast(col("q_emb"), col("embedding"),
              col("q_nrm"), col("nrm")).as("cos"))
        val dense = ProfilingQueries.shardedTopK(cos, "q_id",
            Seq(col("cos").desc, col("doc_id")), RrfPoolK,
            Tables(s, dir, "embeddings"), rank = "rank_d")
          .select(col("q_id"), col("doc_id"), col("rank_d"))
        // sparse leg: shingle-set Jaccard, query shingles broadcast.
        // The shingle set feeds the probe join AND both size lookups
        // → [[QueryDef.eager]].
        val sh = QueryDef.eager(DedupQueries.shingleSet(s, dir, None))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val qsh = sh.filter(col("doc_id") < NQueries)
          .select(col("doc_id").as("q_id"), col("s"))
        val jac = broadcast(qsh).join(sh, Seq("s"))
          .filter(col("doc_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("inter"))
          .join(broadcast(sizes.filter(col("doc_id") < NQueries)
            .select(col("doc_id").as("q_id"), col("n").as("na"))), Seq("q_id"))
          .join(sizes.select(col("doc_id"), col("n").as("nb")), Seq("doc_id"))
          .withColumn("jac",
            DedupQueries.jaccard(col("inter"), col("na"), col("nb")))
        val sparse = ProfilingQueries.shardedTopK(jac, "q_id",
            Seq(col("jac").desc, col("doc_id")), RrfPoolK,
            Tables(s, dir, "documents"), rank = "rank_s")
          .select(col("q_id"), col("doc_id"), col("rank_s"))
        // fusion: a doc missing from one leg's pool contributes 0 from
        // that leg (the standard RRF treatment of unranked documents)
        val fused = dense.join(sparse, Seq("q_id", "doc_id"), "full_outer")
          .select(col("q_id"), col("doc_id"),
            (coalesce(expr(s"1000000 div ($RrfK + rank_d)"), lit(0L)) +
              coalesce(expr(s"1000000 div ($RrfK + rank_s)"), lit(0L)))
              .as("rrf_micro"))
        topK(fused, Seq("q_id"), Seq(col("rrf_micro").desc, col("doc_id")), HybridTopK)
      },
      Some(s"""${DedupQueries.shCte},
              |qsh AS (SELECT doc_id AS q_id, s FROM sh WHERE doc_id < $NQueries),
              |inter AS (
              |  SELECT q.q_id, c.doc_id, count(*) AS i
              |  FROM qsh q JOIN sh c ON q.s = c.s AND c.doc_id <> q.q_id
              |  GROUP BY 1, 2),
              |sparse AS (
              |${topKSql("x.q_id, x.doc_id",
                   "inter x JOIN sizes sa ON sa.doc_id = x.q_id JOIN sizes sb ON sb.doc_id = x.doc_id",
                   "x.q_id", s"${DedupQueries.jaccardSql} DESC, x.doc_id",
                   RrfPoolK, "rank_s")}),
              |dense AS (
              |  SELECT q_id, n_id AS doc_id, rank AS rank_d FROM (
              |${cosineTopKSql(queryPairsSql, RrfPoolK)})),
              |fused AS (
              |  SELECT COALESCE(d.q_id, sp.q_id) AS q_id,
              |    COALESCE(d.doc_id, sp.doc_id) AS doc_id,
              |    COALESCE(1000000 // ($RrfK + d.rank_d), 0)
              |      + COALESCE(1000000 // ($RrfK + sp.rank_s), 0) AS rrf_micro
              |  FROM dense d FULL OUTER JOIN sparse sp
              |    ON d.q_id = sp.q_id AND d.doc_id = sp.doc_id)
              |SELECT q_id, doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro, rank FROM (
              |${topKSql("q_id, doc_id, rrf_micro", "fused", "q_id", "rrf_micro DESC, doc_id", HybridTopK)})""".stripMargin)),

    // MMR diversity rerank (Carbonell & Goldstein, SIGIR 1998) — the
    // post-retrieval stage every RAG/curation pipeline runs: from each
    // query's top-[[MmrCandK]] relevance candidates, greedily select
    // [[MmrK]] maximizing λ·rel − (1−λ)·max-sim-to-already-selected
    // (λ=1/2, scaled ×2 so the score is the integer rel_u − max_sim_u).
    // All scores are 6-dp cosine micro-points, so selection is exact
    // integer arithmetic cross-engine; ties break to the smaller id.
    //
    // Greedy selection is inherently sequential PER QUERY, so this is
    // the documented flatMapGroups case (like HeavyHitters' per-
    // partition summaries): the parallel unit is the query, state per
    // group is the CandK×CandK micro-int sim matrix (≤3 KB) built from
    // a bounded candidate self-join — never corpus-sized, and the
    // relevance stage that bounds it is the same broadcast-queries ×
    // streamed-corpus scan as ann_bruteforce. At 100 TB the candidate
    // generator upgrades to ann_ivfpq; the rerank is unchanged.
    QueryDef("mmr_rerank",
      (s, dir) => {
        import s.implicits._
        val e = vecs(s, dir)
        // [[QueryDef.eager]]: the corpus-wide relevance scan + rank
        // window runs ONCE; both sides of the candidate self-join read
        // the ≤|Q|·CandK cached rows.
        val cand = QueryDef.eager(topK(e.crossJoin(broadcast(queryVecs(e)))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"), col("embedding"),
            col("nrm"),
            QueryDef.microPoints(cosineFast(col("embedding"), col("q_emb"),
              col("nrm"), col("q_nrm"))).as("rel_u")),
          Seq("q_id"), Seq(col("rel_u").desc, col("n_id")), MmrCandK, "rk"))
        // one marker row per candidate (j = -1) so a query whose pool
        // has a single member still forms a group — the pairwise join
        // alone would drop it while the oracle's base case keeps it
        val markers = cand
          .select(col("q_id"), col("n_id").as("i"), col("rel_u"),
            lit(-1L).as("j"), lit(0L).as("sim_u"))
        val pairs = cand.as("a")
          .join(cand.as("b"),
            col("a.q_id") === col("b.q_id") && col("a.n_id") =!= col("b.n_id"))
          .select(col("a.q_id").as("q_id"), col("a.n_id").as("i"),
            col("a.rel_u").as("rel_u"), col("b.n_id").as("j"),
            QueryDef.microPoints(cosineFast(col("a.embedding"), col("b.embedding"),
              col("a.nrm"), col("b.nrm"))).as("sim_u"))
          .unionByName(markers)
          .as[(Long, Long, Long, Long, Long)]
        pairs.groupByKey(_._1)
          .flatMapGroups { (qid: Long, rows: Iterator[(Long, Long, Long, Long, Long)]) =>
            val rel = scala.collection.mutable.LongMap.empty[Long]
            val sim = scala.collection.mutable.Map.empty[(Long, Long), Long]
            rows.foreach { case (_, i, r, j, sv) =>
              rel(i) = r
              if (j >= 0) sim((i, j)) = sv // j = -1 marks a pool-membership row
            }
            val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            val k = math.min(MmrK.toLong, rel.size.toLong)
            var rank = 1L
            while (rank <= k) {
              var bestId = -1L
              var bestScore = Long.MinValue
              rel.foreach { case (c, r) =>
                if (!selected.contains(c)) {
                  // empty-selected max-sim is 0 (first pick = pure relevance)
                  val m = if (selected.isEmpty) 0L
                    else selected.iterator.map(j => sim((c, j))).max
                  val score = r - m
                  if (score > bestScore || (score == bestScore && c < bestId)) {
                    bestScore = score; bestId = c
                  }
                }
              }
              selected += bestId
              out += ((qid, rank, bestId, bestScore))
              rank += 1
            }
            out.result()
          }
          .toDF("q_id", "rank", "n_id", "mmr_u")
      },
      Some {
        val key = "10000000000" // packs (score, -n_id) into one BIGINT argmax key
        s"""WITH RECURSIVE cand AS (
           |  SELECT q_id, n_id, cos AS rel_u FROM (
           |${cosineTopKSql(queryPairsSql, MmrCandK,
                QueryDef.microPointsSql(cosineSql("q.embedding", "c.embedding")))})),
           |sims AS (
           |  SELECT a.q_id, a.n_id AS i, b.n_id AS j,
           |    ${QueryDef.microPointsSql(cosineSql("ea.embedding", "eb.embedding"))} AS sim_u
           |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
           |  JOIN embeddings ea ON ea.vec_id = a.n_id
           |  JOIN embeddings eb ON eb.vec_id = b.n_id),
           |sel AS (
           |  SELECT q_id, CAST(1 AS BIGINT) AS rank,
           |    max_by(n_id, rel_u * $key - n_id) AS n_id,
           |    max_by(rel_u, rel_u * $key - n_id) AS mmr_u,
           |    [max_by(n_id, rel_u * $key - n_id)] AS sel_ids
           |  FROM cand GROUP BY q_id
           |  UNION ALL
           |  SELECT s.q_id, s.rank + 1,
           |    max_by(c.n_id, (c.rel_u - ms.m) * $key - c.n_id) AS n_id,
           |    max_by(c.rel_u - ms.m, (c.rel_u - ms.m) * $key - c.n_id) AS mmr_u,
           |    list_append(s.sel_ids, max_by(c.n_id, (c.rel_u - ms.m) * $key - c.n_id)) AS sel_ids
           |  FROM sel s
           |  JOIN cand c ON c.q_id = s.q_id AND NOT list_contains(s.sel_ids, c.n_id),
           |  LATERAL (SELECT COALESCE(MAX(sim_u), 0) AS m FROM sims
           |           WHERE sims.q_id = s.q_id AND sims.i = c.n_id
           |             AND list_contains(s.sel_ids, sims.j)) ms
           |  WHERE s.rank < $MmrK
           |  GROUP BY s.q_id, s.rank, s.sel_ids)
           |SELECT q_id, rank, n_id, mmr_u FROM sel""".stripMargin
      }),

    // k-NN GRAPH construction: top-K within-cell neighbor edges for
    // EVERY corpus vector — the all-to-all step behind SemDeDup-style
    // cluster pruning, graph-based diversity sampling, and label
    // propagation over embeddings. The ann_* queries serve a fixed
    // query set; here the corpus is both sides, so nothing broadcasts:
    // the graph rides DedupQueries.frozenCells (one corpus shuffle to
    // assign bounded cells, hot-cell guard included) and a cell-keyed
    // SELF-join — |cell|²·k work total, linear in the corpus with the
    // cell bound as the constant, never all-pairs. Per-source top-K is
    // a row_number window partitioned by src: WindowGroupLimit
    // pre-trims each partition to K before the window's exchange, so
    // the shuffle moves O(K·|corpus|) edge candidates, not the full
    // |cell|² candidate set.
    QueryDef("knn_graph",
      (s, dir) => knnEdges(s, dir),
      Some(s"""$knnEdgesCteSql
              |SELECT src, dst, cos, rank FROM kept""".stripMargin)),

    // IN-DEGREE distribution of the k-NN graph — the HUBNESS audit
    // (Radovanović, Nanopoulos & Ivanović, JMLR 2010): in high
    // dimensions a few vectors become hubs that appear in many other
    // vectors' k-NN lists while anti-hubs appear in none, and that
    // skew silently biases everything built ON the graph (SemDeDup
    // pruning keeps hubs' whole neighborhoods, margin mining already
    // corrects for it — bitext_margin's normalizer). Out-degree is K
    // by construction, so in-degree carries all the signal. The
    // anti-hub tail matters most and is exactly what a bare groupBy
    // over the edge list drops — nodes nobody points at produce no
    // edge row — so the full vector frame left-joins the counts to
    // restore in_deg = 0 before the histogram. Plan: the edge list
    // rides the shared frozenCells pass (persisted, paid once — the
    // zero-restore join reuses the same frame); per-dst counts
    // collapse map-side; the histogram frame is ≤ max-in-degree rows
    // and the share denominator broadcasts as a one-row frame.
    QueryDef("hubness_indegree",
      (s, dir) => {
        val (cells, _) = DedupQueries.frozenCells(s, dir)
        val indeg = knnEdgesFrom(cells)
          .groupBy(col("dst")).agg(count(lit(1)).as("d"))
        val perNode = cells.select(col("vec_id"))
          .join(indeg, col("vec_id") === col("dst"), "left")
          .select(coalesce(col("d"), lit(0L)).as("in_deg"))
        val tot = perNode.agg(count(lit(1)).as("tot"))
        perNode.groupBy(col("in_deg"))
          .agg(count(lit(1)).as("n_nodes"))
          .crossJoin(broadcast(tot))
          .select(col("in_deg"), col("n_nodes"),
            expr("n_nodes * 1000 div tot").as("share_mille"))
      },
      Some(s"""$knnEdgesCteSql,
              |indeg AS (
              |  SELECT dst, COUNT(*) AS d FROM kept GROUP BY dst),
              |pn AS (
              |  SELECT c.vec_id, COALESCE(i.d, 0) AS in_deg
              |  FROM cells c LEFT JOIN indeg i ON i.dst = c.vec_id),
              |t AS (SELECT COUNT(*) AS tot FROM pn)
              |SELECT CAST(in_deg AS BIGINT) AS in_deg, COUNT(*) AS n_nodes,
              |  CAST(COUNT(*) * 1000 // (SELECT tot FROM t) AS BIGINT) AS share_mille
              |FROM pn GROUP BY 1""".stripMargin)),

    // k-NN graph with MULTI-PROBE ([[GraphNProbe]] = 2): `knn_graph`
    // restricts each vector's neighbor search to its OWN cell, so a
    // true nearest neighbor sitting just across a cell boundary is
    // unreachable — the recall loss every IVF index pays at nprobe=1.
    // Here each SOURCE vector probes its 2 nearest cells (the
    // ann_ivf_nprobe routing applied corpus-wide) and the per-source
    // top-K window runs over the UNION of both cells' candidates.
    // Corpus vectors still live in exactly one cell (the index side is
    // unchanged — frozenCells' argmin), so each (src, dst) candidate
    // pair arises at most once and no dedup step is needed before the
    // window. Cost: nprobe× the candidate rows of knn_graph — still
    // |cell|·nprobe·|corpus| total, linear in the corpus with the cell
    // bound as the constant, never all-pairs. The probe ranking is one
    // more broadcast-centroids pass over the ALREADY-persisted
    // assignment (frozenCells' contract), not a second parquet scan;
    // WindowGroupLimit pre-trims each partition to K before the
    // window's exchange exactly as in knn_graph. KnnRecallSpec measures
    // the recall-vs-brute-force gain on a boundary-heavy corpus.
    QueryDef("knn_graph_nprobe",
      (s, dir) => {
        val (cells, k) = DedupQueries.frozenCells(s, dir)
        val probes = centroidRanks(cells.select(col("vec_id"), col("embedding"), col("nrm")),
            centroids(cells, k))
          .filter(col("rk") <= GraphNProbe)
          .select(col("vec_id").as("src"), col("embedding").as("s_emb"),
            col("nrm").as("s_nrm"), col("c_id").as("cell"))
        cosineTopK(probes.join(cells.as("b"),
            col("cell") === col("b.c_id") && col("src") =!= col("b.vec_id")),
          col("src"), col("b.vec_id").as("dst"),
          cosineFast(col("s_emb"), col("b.embedding"), col("s_nrm"), col("b.nrm")),
          KnnGraphK)
      },
      Some(s"""${DedupQueries.frozenCellsCteSql(DedupQueries.CellTargetRows)},
              |probes AS (
              |  SELECT vec_id, embedding, c_id FROM assign WHERE rk <= $GraphNProbe)
              |${cosineTopKSql("probes q JOIN cells c ON q.c_id = c.c_id AND q.vec_id <> c.vec_id",
                   KnnGraphK, names = ("src", "dst"))}""".stripMargin)),

    // PageRank over the k-NN graph — graph centrality as a CURATION
    // signal: a vector heavily linked by its neighborhood is a cluster
    // core (keep / sample from), a low-rank leaf is an outlier. The
    // power iteration runs [[PageRankIters]] fixed supersteps, each ONE
    // co-keyed equi-join (edges ⋈ ranks on src — edges are
    // localCheckpoint'ed ONCE with their out-degrees, so every
    // superstep re-reads a materialized, lineage-free table) + one
    // partial-agg'd groupBy(dst); the rank frame stays keyed by node
    // throughout, so at 100 TB each iteration costs exactly one
    // edge-table shuffle, and lineage is truncated per superstep
    // exactly as in dedup_clusters' label propagation. All arithmetic
    // is INTEGER micro-units — contribution = r div out_deg, damping =
    // (85·acc) div 100 — so cross-engine parity is exact (both engines'
    // integer division agrees on the non-negative ranks; no float mass
    // ever materializes). The node set is the closed within-cell graph
    // (dst ⊆ src set by construction: every dst lives in a ≥2-member
    // cell, hence also sources edges). Oracle: the SAME recurrence
    // unrolled as a plain CTE chain r1..r5 (fixed iteration count needs
    // no recursion) — independent join order and aggregate machinery.
    QueryDef("graph_pagerank",
      (s, dir) => {
        val e = knnEdges(s, dir).select(col("src"), col("dst"))
        val edgesDeg = e
          .join(e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
          .localCheckpoint() // reused every superstep
        val nodes = edgesDeg.select(col("src").as("node")).distinct().localCheckpoint()
        var ranks = nodes.withColumn("r", lit(1000000L))
        (1 to PageRankIters).foreach { _ =>
          val acc = edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
            .select(col("dst"), expr("r div out_deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("acc_v"))
          ranks = nodes.join(acc, nodes("node") === acc("dst"), "left")
            .select(col("node"),
              (lit(150000L) + expr("(85 * coalesce(acc_v, 0L)) div 100")).as("r"))
            .localCheckpoint()
        }
        ranks.select(col("node"), col("r").as("pr_micro"))
      },
      Some(pageRankOracleSql))
  ) ++ Seq(

    // INT8 scalar quantization of the embedding corpus — the standard
    // 4× memory compression an ANN serving tier applies before PQ is
    // worth its codebook (FAISS's SQ8; per-dimension affine map to
    // 0..255). Per-dim min/max is one map-side-combinable aggregate;
    // the 64-row stats table broadcasts to the quantization scan, so
    // the whole operator is scan-speed with ONE tiny shuffle — at
    // 100 TB the codes write out 8× narrower than float32 vectors and
    // the stats table is still 64 rows. The audit reports per-vector
    // reconstruction error: each dim's squared error rounds to integer
    // pico-points (floor(e²·1e12 + 0.5) — the cents convention at 1e12,
    // every step one IEEE op) and the BIGINT sum is order-insensitive,
    // so Spark's shuffle order and DuckDB agree exactly. q_min/q_max
    // ride along to pin code-range sanity (0..255) in the same pass.
    QueryDef("embedding_quantize",
      (s, dir) => {
        val ex = perDim(Tables(s, dir, "embeddings"), "vec_id")
        ex.join(broadcast(sq8Stats(ex)), Seq("dim"))
          .withColumn("qv", sq8Code(col("x"), col("mn"), col("mx")))
          .withColumn("deq", sq8Decode(col("qv"), col("mn"), col("mx")))
          .withColumn("se_pico",
            floor((col("x") - col("deq")) * (col("x") - col("deq")) *
              lit(1000000000000.0) + lit(0.5)).cast("long"))
          .groupBy(col("vec_id"))
          .agg(sum(col("se_pico")).as("sse_pico"),
            min(col("qv")).as("q_min"), max(col("qv")).as("q_max"))
      },
      Some(s"""WITH $sq8StatsCteSql,
             |q AS (
             |  SELECT vec_id, ${sq8CodeSql("x")} AS qv,
             |    x, mn, mx
             |  FROM flat JOIN st USING (dim)),
             |d AS (
             |  SELECT vec_id, qv,
             |    x - (${sq8DecodeSql("qv")}) AS e
             |  FROM q)
             |SELECT vec_id,
             |  CAST(SUM(CAST(floor(e * e * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sse_pico,
             |  CAST(min(qv) AS BIGINT) AS q_min, CAST(max(qv) AS BIGINT) AS q_max
             |FROM d GROUP BY 1""".stripMargin)),

    // SQ8-SERVED ANN with recall audit — closes the loop on
    // `embedding_quantize`: search runs against the DEQUANTIZED int8
    // codes (what a serving tier holding 4×-compressed vectors actually
    // scores), and every query reports recall vs the float32
    // brute-force truth (`bruteTopK` — the SAME shared definition the
    // other ANN evals use). Dequantization happens IN-ROW (per-dim
    // min/max arrays broadcast as ONE stats row; codes never
    // materialize as a second corpus copy here), and the approximate
    // cosine folds over the dequantized arrays in array order — the
    // same left-fold determinism contract as the exact path, so the
    // DuckDB twin (ordered list agg + list_reduce) is bit-exact. At
    // 100 TB the corpus side stores codes + the 64-row stats table;
    // scan cost is unchanged, memory is quartered, and this query IS
    // the continuous monitor that the compression's recall cost stays
    // paid-for.
    QueryDef("ann_sq8",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val stats = sq8Stats(perDim(emb))
          .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("st"))
          .select(col("st.mn").as("mna"), col("st.mx").as("mxa"))
        // every component decoded from its SQ8 code, in array order
        val dq = emb.crossJoin(broadcast(stats))
          .select(col("vec_id"), transform(col("embedding"), (x, i) => {
            val (mn, mx) = (element_at(col("mna"), i + 1), element_at(col("mxa"), i + 1))
            sq8Decode(sq8Code(x.cast("double"), mn, mx), mn, mx)
          }).as("dq"))
        val got = cosineTopK(queryPairs(dq),
          col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
          cosine(col("q.dq"), col("c.dq")), TopK)
        recallAtK(bruteTopK(s, dir), got)
      },
      Some(s"""WITH $sq8StatsCteSql,
              |dq AS (
              |  SELECT vec_id, list(${sq8DecodeSql(sq8CodeSql("x"))} ORDER BY dim) AS dq
              |  FROM flat JOIN st USING (dim) GROUP BY vec_id),
              |got AS (
              |${cosineTopKSql(s"dq q JOIN dq c ON q.vec_id <> c.vec_id WHERE ${isQuerySql("q.vec_id")}",
                   cos = cosineSql("q.dq", "c.dq"))}),
              |$recallAtKSql""".stripMargin)),

    // BINARY (sign-bit) quantized ANN + exact rerank — the 1-bit/dim
    // compression tier below SQ8: each vector collapses to its
    // per-dim sign pattern, 64 dims → 8 BYTES (32× smaller than
    // float32, 8× below SQ8), and candidate search is Hamming
    // distance = popcount(xor) — pure integer ops, no float touches
    // the scan. Sign codes approximate angle (Charikar 2002's SimHash
    // bound: P[signs agree] = 1 − θ/π per random direction; raw axes
    // stand in for random projections here, the `dedup_embedding`
    // hyperplane-LSH argument), so top-[[HammingCand]] by Hamming is
    // a candidate set, and the TRUE ranking comes from an exact-
    // cosine rerank of ONLY those candidates — the standard two-tier
    // serving layout (binary in RAM, float fetched per candidate).
    // Reported per query: recall@[[TopK]] vs the SAME [[bruteTopK]]
    // truth every ANN eval shares. Integer-exact end to end: bits
    // from micro-point signs, codes as two 32-bit halves summed as
    // distinct powers (BIGINT-safe by construction, no 1<<63 sign-bit
    // edge on either engine), Hamming via bit_count(xor) both engines
    // define identically; the rerank reuses the established cosine
    // parity contract. 100 TB shape: the candidate stage scans ONLY
    // (vec_id, lo, hi) — 24 bytes/row against the broadcast query
    // codes, the narrowest corpus pass in the ANN family — and the
    // float vectors are joined back for |queries|·[[HammingCand]]
    // candidate rows, never corpus-wide.
    QueryDef("ann_binary",
      (s, dir) => {
        val u = transform(col("embedding").cast("array<double>"),
          x => QueryDef.microPoints(x))
        val codes = Tables(s, dir, "embeddings")
          .select(col("vec_id"), u.as("u"))
          .select(col("vec_id"),
            expr("aggregate(sequence(1, 32), 0L, (acc, i) -> " +
              "acc + IF(element_at(u, i) > 0, shiftleft(1L, i - 1), 0L))").as("lo"),
            expr("aggregate(sequence(33, 64), 0L, (acc, i) -> " +
              "acc + IF(element_at(u, i) > 0, shiftleft(1L, i - 33), 0L))").as("hi"))
        val qc = codes.filter(isQuery)
          .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
        val cand = broadcast(qc).join(codes.as("c"), col("q_id") =!= col("c.vec_id"))
          .select(col("q_id"), col("c.vec_id").as("n_id"),
            expr("CAST(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) AS BIGINT)")
              .as("hamming"))
        rerankRecall(s, dir, topK(cand, Seq("q_id"), Seq(col("hamming"), col("n_id")),
          HammingCand, "hrk").select(col("q_id"), col("n_id")))
      },
      Some {
        val mp = QueryDef.microPointsSql("CAST(x AS DOUBLE)")
        rerankRecallSql(s"""WITH uu AS (
           |  SELECT vec_id, list_transform(embedding, x -> $mp) AS u
           |  FROM embeddings),
           |codes AS (
           |  SELECT vec_id,
           |    CAST(list_sum(list_transform(range(1, 33), i ->
           |      CASE WHEN u[CAST(i AS INTEGER)] > 0
           |        THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER)) ELSE 0 END)) AS BIGINT) AS lo,
           |    CAST(list_sum(list_transform(range(33, 65), i ->
           |      CASE WHEN u[CAST(i AS INTEGER)] > 0
           |        THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INTEGER)) ELSE 0 END)) AS BIGINT) AS hi
           |  FROM uu),
           |cand AS (
           |${topKSql("q.vec_id AS q_id, c.vec_id AS n_id",
                s"codes q JOIN codes c ON q.vec_id <> c.vec_id WHERE ${isQuerySql("q.vec_id")}",
                "q.vec_id", "bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)), c.vec_id",
                HammingCand, "hrk")})""".stripMargin)
      }),

    // Adaptive (Matryoshka two-pass) retrieval — the serving pattern
    // `embedding_matryoshka` motivates and `ann_binary` shares a shape
    // with: rank the WHOLE corpus by quarter-width (16-dim) cosine —
    // a 4× cheaper scan whose ranking embedding_matryoshka showed is
    // individually poor — keep a [[HammingCand]]-deep pool, then
    // rerank those few candidates at full width (exact cosine) and
    // report recall@[[TopK]] against the SHARED bruteTopK truth (the
    // [[rerankRecall]] contract, verbatim the binary twin's). At 100 TB
    // the low-dim pass reads a quarter of the vector bytes (or a
    // separately-stored low-dim column); the corpus never shuffles —
    // broadcast query side, WindowGroupLimit top-pool — and the rerank
    // touches |queries|·pool vectors only.
    //
    // Expected READING on this corpus: recall is LOW (~0-2 of 5) and
    // that is the honest result, not a bug — the testdata embeddings
    // are isotropic random vectors, the adversarial case for prefix
    // truncation (every dim carries equal signal, so a 16-dim prefix
    // keeps 1/4 of it; MRL-TRAINED embeddings front-load variance and
    // make this pattern work). The instructive contrast is ann_binary:
    // its 64-bit sign codes quantize ALL dims and recall stays high on
    // the same corpus — lossy-everywhere beats exact-prefix on
    // isotropic data, which is precisely embedding_matryoshka's
    // measurement turned into a serving decision.
    QueryDef("ann_adaptive",
      (s, dir) => {
        val ed = Tables(s, dir, "embeddings")
          .select(col("vec_id"), slice(col("embedding"), 1, AdaptiveDim).as("emb"))
          .withColumn("nrm", l2Norm(col("emb")))
        val qd = broadcast(ed.filter(isQuery)
          .select(col("vec_id").as("q_id"), col("emb").as("qe_t"), col("nrm").as("qn_t")))
        val cand = qd.join(ed.as("c"), col("q_id") =!= col("c.vec_id"))
          .select(col("q_id"), col("c.vec_id").as("n_id"),
            cosineFast(col("qe_t"), col("c.emb"), col("qn_t"), col("c.nrm")).as("cos_t"))
        rerankRecall(s, dir, topK(cand, Seq("q_id"), Seq(col("cos_t").desc, col("n_id")),
          HammingCand, "lrk").select(col("q_id"), col("n_id")))
      },
      Some {
        val cosT = cosineSql(s"q.embedding[1:$AdaptiveDim]", s"c.embedding[1:$AdaptiveDim]")
        rerankRecallSql(s"WITH cand AS (\n${cosineTopKSql(queryPairsSql, HammingCand, cosT)})")
      }),

    // TRIANGLE COUNT + global clustering coefficient over the k-NN
    // graph — the standard graph-cohesion diagnostic (a high
    // transitivity means near-dup clusters are dense cliques worth
    // collapsing; a low one means the kNN edges are chains worth
    // keeping): triangles via the canonical ordered two-path join —
    // (u<v) ⋈ (v<w) closed by (u,w) — so each triangle is counted
    // exactly once and the join never materializes a node's full
    // neighborhood square; wedges = Σ C(deg, 2) per node (one tiny
    // aggregate), transitivity = 3·triangles/wedges in exact ppm
    // integer division. Edge list is the SAME shared knnEdges the
    // graph family runs, symmetrized to undirected (least/greatest +
    // distinct) and localCheckpoint'ed — three downstream consumers
    // (two join sides + degrees) read the materialized list, never the
    // cosine-join lineage. At 100 TB the triangle join shuffles the
    // edge list twice on its endpoints — O(E) rows, E = k·|corpus|,
    // never a neighborhood blow-up, because k-NN bounds every degree.
    QueryDef("graph_triangles",
      (s, dir) => {
        val e = knnEdges(s, dir).select(col("src"), col("dst"))
        triangleStats(
          e.select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
            .distinct()
            .localCheckpoint())
      },
      Some(s"""$knnEdgesCteSql,
              |und AS (
              |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              |  FROM kept),
              |deg AS (
              |  SELECT n, COUNT(*) AS d FROM (
              |    SELECT u AS n FROM und UNION ALL SELECT v FROM und) t
              |  GROUP BY 1),
              |w AS (
              |  SELECT COUNT(*) AS n_nodes,
              |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
              |  FROM deg),
              |t3 AS (
              |  SELECT COUNT(*) AS n_triangles
              |  FROM und e1
              |  JOIN und e2 ON e2.u = e1.v
              |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
              |e AS (SELECT COUNT(*) AS n_edges FROM und)
              |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
              |  CAST(n_edges AS BIGINT) AS n_edges,
              |  CAST(n_wedges AS BIGINT) AS n_wedges,
              |  CAST(n_triangles AS BIGINT) AS n_triangles,
              |  CAST((3 * n_triangles * 1000000) // n_wedges AS BIGINT) AS closure_ppm
              |FROM w, t3, e""".stripMargin)),

    // MARGIN-BASED bitext mining (Artetxe & Schwenk, "Margin-based
    // Parallel Corpus Mining with Multilingual Sentence Embeddings",
    // ACL 2019): the standard op for constructing parallel/translation
    // training pairs from two monolingual sides. Raw cosine thresholds
    // fail under hubness (some vectors are near everything); the
    // margin score normalizes each candidate cosine by the mean cosine
    // of BOTH endpoints' k-NN neighborhoods —
    // margin(a,b) = cos(a,b) / ((avgNN_k(a) + avgNN_k(b)) / 2).
    // Sides here: even vec_ids vs odd (a deterministic stand-in for
    // two languages). Per engine policy every cosine is rounded ONCE
    // to integer micro-points, so the k-NN sums are exact BIGINTs and
    // the final ratio is one double division in fixed shape —
    // bit-identical cross-engine; a non-positive neighborhood sum
    // yields NULL margin (never a divide) and accepted=0 on both
    // engines (CASE semantics).
    //
    // 100 TB shape: the anchor batch broadcasts (mining runs in
    // bounded batches — the incremental-dedup discipline), side B
    // streams once for the forward k-NN, and the backward k-NN probes
    // only the ≤|anchors| distinct best-candidates broadcast against
    // side A's stream. The corpus never self-joins; full-corpus mining
    // composes this with the IVF cell machinery (probe candidates per
    // cell) exactly as ann_ivf does.
    QueryDef("bitext_margin",
      (s, dir) => {
        val K = MarginK
        val e = vecs(s, dir)
        val sideA = e.filter(col("vec_id") % 2 === 0)
        val sideB = e.filter(col("vec_id") % 2 === 1)
        val anchors = sideA.filter(col("vec_id") < MarginAnchors)
        val topA = topK(broadcast(anchors.as("a")).join(sideB.as("b"), lit(true))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            QueryDef.microPoints(cosineFast(col("a.embedding"), col("b.embedding"),
              col("a.nrm"), col("b.nrm"))).as("c")),
          Seq("a_id"), Seq(col("c").desc, col("b_id")), K, "rk")
        val aAgg = topA.groupBy(col("a_id"))
          .agg(sum(col("c")).as("s_a"),
            max(when(col("rk") === 1, col("b_id"))).as("b_id"),
            max(when(col("rk") === 1, col("c"))).as("c_best"))
        val bSet = aAgg.select(col("b_id").as("vec_id")).distinct()
        val bAgg = topK(broadcast(sideB.join(bSet, Seq("vec_id")).as("bb"))
          .join(sideA.as("a2"), lit(true))
          .select(col("bb.vec_id").as("bb_id"), col("a2.vec_id").as("a2_id"),
            QueryDef.microPoints(cosineFast(col("bb.embedding"), col("a2.embedding"),
              col("bb.nrm"), col("a2.nrm"))).as("c")),
          Seq("bb_id"), Seq(col("c").desc, col("a2_id")), K, "rk")
          .groupBy(col("bb_id")).agg(sum(col("c")).as("s_b"))
        aAgg.join(bAgg, col("b_id") === col("bb_id"))
          .withColumn("margin_micro",
            when(col("s_a") + col("s_b") > 0,
              QueryDef.microPoints(col("c_best") * lit(2.0 * K) / (col("s_a") + col("s_b")))))
          .select(col("a_id"), col("b_id"), col("c_best"), col("margin_micro"),
            when(col("margin_micro") > MarginAcceptMicro, 1L).otherwise(0L).as("accepted"))
      },
      Some {
        import graft.functions.TextFunctions.cosineSql
        val K = MarginK
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |a AS (SELECT * FROM v WHERE vec_id % 2 = 0),
           |an AS (SELECT * FROM a WHERE vec_id < $MarginAnchors),
           |b AS (SELECT * FROM v WHERE vec_id % 2 = 1),
           |ab AS (
           |  SELECT an.vec_id AS a_id, b.vec_id AS b_id,
           |    ${QueryDef.microPointsSql(cosineSql("an.embedding", "b.embedding"))} AS c
           |  FROM an JOIN b ON true),
           |ta AS (${topKSql("*", "ab", "a_id", "c DESC, b_id", K, "rk")}),
           |agga AS (
           |  SELECT a_id, SUM(c) AS s_a,
           |    max(CASE WHEN rk = 1 THEN b_id END) AS b_id,
           |    max(CASE WHEN rk = 1 THEN c END) AS c_best
           |  FROM ta GROUP BY 1),
           |bset AS (SELECT DISTINCT b_id FROM agga),
           |bb AS (SELECT v.* FROM v JOIN bset ON v.vec_id = bset.b_id),
           |ba AS (
           |  SELECT bb.vec_id AS bb_id, a.vec_id AS a2_id,
           |    ${QueryDef.microPointsSql(cosineSql("bb.embedding", "a.embedding"))} AS c
           |  FROM bb JOIN a ON true),
           |tb AS (${topKSql("*", "ba", "bb_id", "c DESC, a2_id", K, "rk")}),
           |aggb AS (SELECT bb_id, SUM(c) AS s_b FROM tb GROUP BY 1),
           |m AS (
           |  SELECT agga.a_id, agga.b_id, agga.c_best,
           |    CASE WHEN s_a + s_b > 0 THEN
           |      ${QueryDef.microPointsSql(s"c_best * ${2.0 * K} / (s_a + s_b)")}
           |    END AS margin_micro
           |  FROM agga JOIN aggb ON aggb.bb_id = agga.b_id)
           |SELECT a_id, b_id, CAST(c_best AS BIGINT) AS c_best,
           |  CAST(margin_micro AS BIGINT) AS margin_micro,
           |  CAST(CASE WHEN margin_micro > $MarginAcceptMicro THEN 1 ELSE 0 END AS BIGINT) AS accepted
           |FROM m""".stripMargin
      }),

    // Per-dimension CLASS SEPARATION (Fisher score) — the feature-
    // discriminability audit of an embedding space: for each dimension,
    // between-class variance over within-class variance across the
    // `label` classes. High-F dims carry the label signal; near-zero
    // dims are dead weight a projection can drop. Parity architecture
    // (same as `embedding_dim_stats` + `source_divergence`): floats
    // quantize to integer micro-points FIRST so every per-(dim, label)
    // moment (n, Σu, Σu²) is an exact order-insensitive integer sum —
    // in DECIMAL(38,0)/HUGEINT (the r13 headroom sweep: Σu² wrapped
    // BIGINT past ~10⁸ rows/label at unit norms); the
    // one double reduction (Σ_label s²/n) folds over a label-sorted
    // collected list — |labels| entries, fixed order, op shape mirrored
    // in the oracle — so the result is bit-identical across engines.
    // Scale: the exchange carries (dim × label) moment rows (tiny, the
    // embedding data itself never shuffles); the per-dim label frame is
    // |labels| wide, so the collect_list is bounded, never corpus-sized.
    QueryDef("embedding_class_sep",
      (s, dir) => {
        val g = perDim(Tables(s, dir, "embeddings"), "label")
          .select(col("label").cast("long").as("label"), col("dim"),
            QueryDef.microPoints(col("x")).as("u"))
          .groupBy(col("dim"), col("label"))
          .agg(count(lit(1)).as("n_l"),
            sum(col("u").cast("decimal(38,0)")).as("s_l"),
            sum((col("u") * col("u")).cast("decimal(38,0)")).as("ss_l"))
        val term = (col("s_l").cast("double") * col("s_l").cast("double")) /
          col("n_l").cast("double")
        val d = g
          .select(col("dim"), col("label"), col("n_l"), col("s_l"), col("ss_l"),
            term.as("term"))
          .groupBy(col("dim"))
          .agg(sum(col("n_l")).as("n"), count(lit(1)).as("n_labels"),
            sum(col("s_l")).as("s"), sum(col("ss_l")).as("ss"),
            sort_array(collect_list(struct(col("label"), col("term")))).as("l"))
          .select(col("dim"), col("n"), col("n_labels"), col("s"), col("ss"),
            foldSum(transform(col("l"), x => x.getField("term"))).as("t"))
        val nD = col("n").cast("double")
        val cD = col("n_labels").cast("double")
        val ssb = (col("t") - (col("s").cast("double") * col("s").cast("double")) / nD) / (cD - lit(1.0))
        val ssw = (col("ss").cast("double") - col("t")) / (nD - cD)
        // ss > t excludes zero-within-class-variance dims (a dead/
        // constant dimension — plausible in exactly this audit): there
        // ssb/ssw is Inf (or 0/0 NaN), and the engines diverge on the
        // BIGINT cast (Spark saturates to Long.MaxValue, DuckDB raises
        // on CAST(inf AS BIGINT)). ss ≥ t always (Cauchy–Schwarz), so
        // strict > drops exactly the ssw = 0 rows — same predicate
        // shape in the oracle.
        d.filter(col("n_labels") > 1 && col("n") > col("n_labels") &&
            col("ss").cast("double") > col("t"))
          .select(col("dim"), col("n"), col("n_labels"),
            QueryDef.microPoints(ssb / ssw).as("fisher_micro"))
      },
      Some(s"""WITH ex AS (
              |  SELECT label, dim, ${QueryDef.microPointsSql("x")} AS u FROM (${perDimSql("label")})),
              |g AS (
              |  SELECT dim, CAST(label AS BIGINT) AS label,
              |    COUNT(*) AS n_l, SUM(u) AS s_l,
              |    SUM(CAST(u AS HUGEINT) * u) AS ss_l
              |  FROM ex GROUP BY 1, 2),
              |d AS (
              |  SELECT dim, CAST(SUM(n_l) AS BIGINT) AS n, COUNT(*) AS n_labels,
              |    SUM(s_l) AS s, SUM(ss_l) AS ss,
              |    list_reduce(list_prepend(0.0, list(
              |      (CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE)) / CAST(n_l AS DOUBLE)
              |      ORDER BY label)), (a, b) -> a + b) AS t
              |  FROM g GROUP BY 1)
              |SELECT CAST(dim AS BIGINT) AS dim, n, CAST(n_labels AS BIGINT) AS n_labels,
              |  ${QueryDef.microPointsSql(
                   "((t - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) / (CAST(n_labels AS DOUBLE) - 1.0)) / ((CAST(ss AS DOUBLE) - t) / (CAST(n AS DOUBLE) - CAST(n_labels AS DOUBLE)))")} AS fisher_micro
              |FROM d WHERE n_labels > 1 AND n > n_labels
              |  AND CAST(ss AS DOUBLE) > t""".stripMargin)),

    // Matryoshka truncation audit (Kusupati 2022, MRL): can the store
    // keep HALF (or a quarter of) the dims? For each truncation D the
    // query reports, per ANN query vector, (a) recall@TopK of the
    // D-dim brute search against the SHARED full-dim [[bruteTopK]]
    // truth — the same truth frame every ANN eval here uses, so the
    // numbers compose — and (b) the signed micro-point cosine shift
    // summed over the truth pairs (how much the D-dim geometry moves
    // the scores it must preserve, not just the ranking). Storage/
    // serving decision in one frame: dims 32 and 16 of the 64.
    //
    // Scale shape: the corpus NEVER shuffles — per D, one broadcast-
    // query brute pass (same WindowGroupLimit top-k as ann_bruteforce,
    // on sliced vectors with per-vector re-normed norms), and the
    // truth-pair score shift rides TWO broadcast joins of the tiny
    // (|Q|·TopK)-row truth frame against the streamed corpus. Slicing
    // is a zero-copy codegen'd array op; truncated norms are computed
    // |V| times, never |V|² (the cosineFast discipline).
    QueryDef("embedding_matryoshka",
      (s, dir) => {
        val truth = bruteTopK(s, dir).select(col("q_id"), col("n_id"), col("cos"))
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        MatryoshkaDims.map { d =>
          val ed = e.select(col("vec_id"), slice(col("embedding"), 1, d).as("emb"))
            .withColumn("nrm", l2Norm(col("emb")))
          val topd = topK(queryPairs(ed)
            .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
              cosineFast(col("q.emb"), col("c.emb"),
                col("q.nrm"), col("c.nrm")).as("cos_d")),
            Seq("q_id"), Seq(col("cos_d").desc, col("n_id")), TopK, "rk")
            .select(col("q_id"), col("n_id"))
          // truth-pair score shift: attach n-side then q-side truncated
          // vectors by streaming the corpus past the broadcast tiny frame
          val tN = ed.select(col("vec_id").as("n_id"), col("emb").as("n_emb"),
              col("nrm").as("n_nrm"))
            .join(broadcast(truth), Seq("n_id"))
          val shifted = ed.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
              col("nrm").as("q_nrm"))
            .join(broadcast(tN), Seq("q_id"))
            .select(col("q_id"), col("n_id"),
              (QueryDef.microPoints(col("cos")) -
                QueryDef.microPoints(cosineFast(col("q_emb"), col("n_emb"),
                  col("q_nrm"), col("n_nrm")))).as("dl"))
          val loss = shifted.groupBy(col("q_id"))
            .agg(sum(col("dl")).as("cos_loss_micro"))
          // both sides are |Q|·TopK rows; the hint keeps the tiny semi
          // join off the static SortMergeJoin path (plan-pinned)
          val hits = truth.select(col("q_id"), col("n_id"))
            .join(broadcast(topd), Seq("q_id", "n_id"), "left_semi")
            .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
          // loss always carries every query (truth has TopK rows per q);
          // hits can lose a query whose overlap is zero — rejoin, fill 0
          // (|Q|-row frames both; hinted off the static SMJ path)
          loss.join(broadcast(hits), Seq("q_id"), "left_outer")
            .select(lit(d.toLong).as("dim"), col("q_id"),
              coalesce(col("hits"), lit(0L)).as("hits"),
              col("cos_loss_micro"))
        }.reduce(_ unionByName _)
      },
      Some(MatryoshkaDims.map { d =>
        def sliced(x: String) = s"$x[1:$d]"
        val cosD = cosineSql(sliced("q.embedding"), sliced("c.embedding"))
        s"""SELECT CAST($d AS BIGINT) AS dim, h.q_id, h.hits, l.cos_loss_micro
           |FROM (
           |  SELECT t.q_id, CAST(COUNT(p.n_id) AS BIGINT) AS hits
           |  FROM ($bruteTopKSql) t
           |  LEFT JOIN (
           |${cosineTopKSql(queryPairsSql, cos = cosD)}) p
           |    ON p.q_id = t.q_id AND p.n_id = t.n_id
           |  GROUP BY t.q_id) h
           |JOIN (
           |  SELECT t.q_id, CAST(SUM(
           |      ${QueryDef.microPointsSql("t.cos")} -
           |      ${QueryDef.microPointsSql(
                    cosineSql(sliced("eq.embedding"), sliced("en.embedding")))}
           |    ) AS BIGINT) AS cos_loss_micro
           |  FROM ($bruteTopKSql) t
           |  JOIN embeddings eq ON eq.vec_id = t.q_id
           |  JOIN embeddings en ON en.vec_id = t.n_id
           |  GROUP BY t.q_id) l ON l.q_id = h.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")))
  )

  /** `ann_adaptive` low-pass width: the quarter truncation, whose
    * standalone ranking `embedding_matryoshka` shows is poor — so the
    * full-width rerank is doing real work when recall comes back high.
    * Def, not val (defs-init-order contract). */
  private def AdaptiveDim = 16

  /** Shared exact-rerank + recall contract for the cheap-candidates
    * ANN family (`ann_binary`, `ann_adaptive`): full-width cosine
    * rerank of a (q_id, n_id) candidate frame to [[TopK]], then
    * recall@TopK against the SHARED [[bruteTopK]] truth. ONE
    * definition so the evals cannot drift from each other. */
  private def rerankRecall(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val e = vecs(s, dir)
    val qv = broadcast(e.filter(isQuery)
      .select(col("vec_id").as("qv_id"), col("embedding").as("qe"), col("nrm").as("qn")))
    val got = cosineTopK(cand
        .join(e.as("cv"), col("n_id") === col("cv.vec_id"))
        .join(qv, col("q_id") === col("qv_id")),
      col("q_id"), col("n_id"),
      cosineFast(col("qe"), col("cv.embedding"), col("qn"), col("cv.nrm")), TopK)
    recallAtK(bruteTopK(s, dir), got)
  }

  /** Recall@k of `got` against `truth`, both (q_id, n_id) neighbor
    * lists (other columns are dropped): per truth query, k_true = its
    * truth size, k_found = how many of those `got` also lists (0 when
    * none, or when `got` lacks the query), and recall as ONE ieee
    * division in micro-points. A query only in `got` emits no row. The
    * overlap is a semi join on (q_id, n_id) and the rollup is
    * |queries| rows. [[recallAtKSql]] is the DuckDB twin. */
  private[graft] def recallAtK(truth: DataFrame, got: DataFrame): DataFrame = {
    val t = truth.select(col("q_id"), col("n_id"))
    val h = t.join(got.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("k_found"))
    val k = t.groupBy(col("q_id")).agg(count(lit(1)).as("k_true"))
    val found = coalesce(col("k_found"), lit(0L))
    k.join(h, Seq("q_id"), "left_outer")
      .select(col("q_id"), col("k_true"), found.as("k_found"),
        QueryDef.microPoints(found.cast("double") / col("k_true").cast("double"))
          .as("recall_micro"))
  }

  /** DuckDB twin of [[recallAtK]] against the [[bruteTopKSql]] truth:
    * the WITH-list tail after a `got(q_id, n_id)` CTE. */
  private def recallAtKSql: String =
    s"""truth AS (SELECT q_id, n_id FROM ($bruteTopKSql) tv),
       |h AS (
       |  SELECT t.q_id, COUNT(*) AS k_found
       |  FROM truth t JOIN got g ON t.q_id = g.q_id AND t.n_id = g.n_id
       |  GROUP BY 1),
       |k AS (SELECT q_id, COUNT(*) AS k_true FROM truth GROUP BY 1)
       |SELECT k.q_id, k.k_true, COALESCE(h.k_found, 0) AS k_found,
       |  ${QueryDef.microPointsSql(
          "CAST(COALESCE(h.k_found, 0) AS DOUBLE) / CAST(k.k_true AS DOUBLE)")} AS recall_micro
       |FROM k LEFT JOIN h USING (q_id)""".stripMargin

  /** DuckDB twin of [[rerankRecall]]: given WITH-clauses ending in
    * `cand(q_id, n_id)`, appends the exact rerank + recall tail. */
  private def rerankRecallSql(prefixCtes: String): String =
    s"""$prefixCtes,
       |got AS (
       |${cosineTopKSql("cand JOIN embeddings q ON q.vec_id = cand.q_id " +
          "JOIN embeddings c ON c.vec_id = cand.n_id")}),
       |$recallAtKSql""".stripMargin

  /** `embedding_matryoshka` truncation dims: 64 = the full width, a
    * built-in tautology row (hits must equal [[TopK]], loss must be 0 —
    * any drift means the sliced path's arithmetic diverged from
    * [[bruteTopK]]'s, pinned in MatryoshkaSpec); 32/16 = the halve-it
    * and quarter-it storage questions. Defs, not vals (defs-init-order
    * contract). */
  private def MatryoshkaDims = Seq(64, 32, 16)


  /** The corpus `e` flattened per dimension: one row per (`keep`...,
    * `dim`), `dim` the 1-based BIGINT position, with the component as
    * DOUBLE `x`. [[perDimSql]] is the DuckDB twin over `embeddings`. */
  private def perDim(e: DataFrame, keep: String*): DataFrame =
    e.select(keep.map(col) :+ posexplode(col("embedding")): _*)
      .select(keep.map(col) ++ Seq((col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("x")): _*)

  private def perDimSql(keep: String*): String = {
    val k = keep.map(_ + ", ").mkString
    s"""SELECT ${k}e.dim AS dim, e.x AS x FROM (
       |  SELECT ${k}unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> struct_pack(dim := i, x := CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS e
       |  FROM embeddings)""".stripMargin
  }

  /** SQ8 (FAISS's scalar quantizer, per-dimension affine map to
    * 0..255): the per-dim range (dim, mn, mx) of a [[perDim]] frame, a
    * component's code on its range (0 on a constant dimension) and the
    * value a code decodes to. [[sq8StatsCteSql]], [[sq8CodeSql]] and
    * [[sq8DecodeSql]] are the DuckDB twins. */
  private def sq8Stats(flat: DataFrame): DataFrame =
    flat.groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  private def sq8Code(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L))
      .otherwise(floor((x - mn) * (lit(255.0) / (mx - mn)) + lit(0.5)).cast("long"))

  private def sq8Decode(qv: Column, mn: Column, mx: Column): Column =
    mn + qv.cast("double") * ((mx - mn) / lit(255.0))

  /** The `flat(vec_id, dim, x)` and `st(dim, mn, mx)` CTEs. */
  private def sq8StatsCteSql: String =
    s"""flat AS (${perDimSql("vec_id")}),
       |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM flat GROUP BY 1)""".stripMargin

  /** Over columns `mn` and `mx` in scope. */
  private def sq8CodeSql(x: String): String =
    s"CASE WHEN mx = mn THEN 0 ELSE CAST(floor(($x - mn) * (255.0 / (mx - mn)) + 0.5) AS BIGINT) END"

  private def sq8DecodeSql(qv: String): String =
    s"mn + CAST($qv AS DOUBLE) * ((mx - mn) / 255.0)"

  /** Triangle/wedge/transitivity stats over an UNDIRECTED distinct
    * (u < v) edge table (`graph_triangles` core, factored for planted
    * graph tests). Caller materializes `und` — three subtrees (two
    * join sides + degrees) consume it. */
  private[graft] def triangleStats(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    // three 1-row aggregate frames; explicit broadcasts keep the
    // combine BNLJ under any threshold (r15 cartesian sweep regime)
    wedges.crossJoin(broadcast(tri)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div n_wedges").as("closure_ppm"))
  }

  /** (vec_id, embedding, nrm) corpus projection — norms computed once
    * per vector, shared by the exact-cosine queries here. */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))

  /** The query set: the first [[NQueries]] vectors. [[isQuerySql]] is
    * the DuckDB twin over the vec_id column `vecId`. */
  private def isQuery: Column = col("vec_id") < NQueries

  private def isQuerySql(vecId: String): String = s"$vecId < $NQueries"

  /** The query set of `e` (vec_id, embedding, nrm) as (q_id, q_emb, q_nrm). */
  private def queryVecs(e: DataFrame): DataFrame =
    e.filter(isQuery).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))

  /** Query × corpus pairs of a vector frame `v` (with vec_id): the
    * broadcast query set `q` joined to every other vector `c`.
    * [[queryPairsSql]] is the DuckDB twin over `embeddings`. */
  private def queryPairs(v: DataFrame): DataFrame =
    broadcast(v.filter(isQuery).as("q")).join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))

  private def queryPairsSql: String =
    s"embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id WHERE ${isQuerySql("q.vec_id")}"

  /** Brute-force exact top-[[TopK]]: broadcast query set × streamed
    * corpus scan, per-partition heap after one hash partition on q_id.
    * ONE definition serving `ann_bruteforce` AND `ann_recall_eval`'s
    * ground truth — an eval that reimplements its subject can drift. */
  private[graft] def bruteTopK(s: SparkSession, dir: String): DataFrame =
    cosineTopK(queryPairs(vecs(s, dir)),
      col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
      cosineFast(col("q.embedding"), col("c.embedding"), col("q.nrm"), col("c.nrm")),
      TopK)

  /** Cosine top-k, the ranking tail the brute-force, LSH, IVF, SQ8,
    * rerank and k-NN graph searches share: the probe × candidate rows
    * of `pairs` projected to (probe id, candidate id, `carry`..., cos),
    * numbered `rank` per probe by cos desc with a candidate-id
    * tiebreak, cut at `k` by [[ProfilingQueries.topK]]. `probe`/`cand`
    * carry their output names; `cos` is the pair's score. The rank
    * filter lowers to a WindowGroupLimit, so each input partition is
    * pre-trimmed to k rows per probe before the probe-keyed exchange. */
  private[graft] def cosineTopK(pairs: DataFrame, probe: Column, cand: Column,
      cos: Column, k: Int, carry: Column*): DataFrame = {
    val scored = pairs.select((Seq(probe, cand) ++ carry :+ cos.as("cos")): _*)
    val Array(p, c) = scored.columns.take(2)
    topK(scored, Seq(p), Seq(col("cos").desc, col(c)), k)
  }

  /** DuckDB twin of [[cosineTopK]]: over the `from` pairs of probe
    * vectors `q` and candidates `c` (both with vec_id), (q.vec_id,
    * c.vec_id) named `names`, then `carry`, then `cos` (default the
    * cosine of the two embeddings) AS cos, ranked per probe by cos desc
    * with a candidate-id tiebreak and cut at `k`. */
  private def cosineTopKSql(from: String, k: Int = TopK,
      cos: String = cosineSql("q.embedding", "c.embedding"),
      names: (String, String) = ("q_id", "n_id"), carry: Seq[String] = Nil): String =
    topKSql((Seq(s"q.vec_id AS ${names._1}", s"c.vec_id AS ${names._2}") ++ carry :+ s"$cos AS cos")
      .mkString(", "), from, "q.vec_id", s"$cos DESC, c.vec_id", k)

  /** The IVF index over the corpus `e` (vec_id, embedding, nrm): its
    * cells — every vector in the nearest of the [[NCentroids]] frozen
    * centroids, as (vec_id, embedding, nrm, cell) — and the query set's
    * probe lists, its `nprobe` nearest cells as (q_id, q_emb, q_nrm,
    * cell). The query side ranks its own |Q|×k [[centroidRanks]]
    * instead of filtering the corpus-wide one, so the expensive corpus
    * assignment subplan is consumed exactly ONCE (the join's probe
    * side), with no persist needed (pinned in PlanAuditSpec for every
    * IVF query). [[ivfIndexCteSql]] is the DuckDB twin. */
  private def ivfIndex(e: DataFrame, nprobe: Int): (DataFrame, DataFrame) = {
    val cents = centroids(e, NCentroids)
    val cells = centroidRanks(e, cents).filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id").as("cell"))
    val probes = centroidRanks(e.filter(isQuery), cents).filter(col("rk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("c_id").as("cell"))
    (cells, probes)
  }

  /** DuckDB twin of [[ivfIndex]]: the cents/assign/cells CTEs and
    * `probes` (vec_id, embedding, cell), the query set's `nprobe`
    * nearest cells. */
  private def ivfIndexCteSql(nprobe: Int): String =
    s"""${centsSql(NCentroids.toString)},
       |assign AS $centroidRanksSql,
       |cells AS (SELECT vec_id, embedding, c_id AS cell FROM assign WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id, embedding, c_id AS cell FROM assign
       |  WHERE ${isQuerySql("vec_id")} AND rk <= $nprobe)""".stripMargin

  /** IVF search: each query's cosine top-[[TopK]] among the vectors of
    * its `nprobe` probed cells ([[ivfIndex]]), `carry` columns riding
    * along (the probe list is `q`). [[ivfSearchSql]] is the DuckDB twin. */
  private def ivfSearch(s: SparkSession, dir: String, nprobe: Int,
      carry: Column*): DataFrame = {
    val (cells, probes) = ivfIndex(vecs(s, dir), nprobe)
    cosineTopK(broadcast(probes).as("q").join(cells.as("c"),
        col("q.cell") === col("c.cell") && col("q_id") =!= col("c.vec_id")),
      col("q_id"), col("c.vec_id").as("n_id"),
      cosineFast(col("q_emb"), col("c.embedding"), col("q_nrm"), col("c.nrm")),
      TopK, carry: _*)
  }

  /** DuckDB twin of [[ivfSearch]] (expects [[ivfIndexCteSql]] in scope). */
  private def ivfSearchSql(carry: String*): String =
    cosineTopKSql("probes q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id",
      carry = carry)

  /** IVF nprobe=1 top-[[TopK]], carrying the query's cell: shared by
    * `ann_ivf` and `ann_recall_eval`'s candidate side. */
  private[graft] def ivfTopK(s: SparkSession, dir: String): DataFrame =
    ivfSearch(s, dir, 1, col("q.cell").as("cell"))

  /** DuckDB twin of [[bruteTopK]]. */
  private def bruteTopKSql: String = cosineTopKSql(queryPairsSql)

  /** Power-iteration supersteps for `graph_pagerank` (damping 0.85,
    * teleport base 150000 micro-units on a 1e6 scale). */
  private def PageRankIters = 5

  /** DuckDB twin of the `graph_pagerank` recurrence: the fixed
    * [[PageRankIters]] supersteps unrolled as a chain of plain CTEs
    * over the shared [[knnEdgesCteSql]] edge list. */
  private def pageRankOracleSql: String = {
    val head = s"""$knnEdgesCteSql,
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM kept GROUP BY 1),
      |nodes AS (SELECT src AS node FROM deg),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
    val steps = (1 to PageRankIters).map { i =>
      s"""r$i AS (
        |  SELECT n.node, 150000 + (85 * COALESCE(s.acc_v, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, SUM(r.r // d.out_deg) AS acc_v
        |    FROM kept e JOIN deg d ON d.src = e.src
        |    JOIN r${i - 1} r ON r.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS pr_micro FROM r$PageRankIters"
  }

  /** Shared top-[[KnnGraphK]] within-cell neighbor edges — the frame
    * behind `knn_graph` and the graph consumed by `graph_pagerank`. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    knnEdgesFrom(DedupQueries.frozenCells(s, dir)._1)

  /** The cell-keyed self-join + per-source top-K over an ALREADY-built
    * (and persisted) cells frame — split from [[knnEdges]] so callers
    * that need the vector frame too (`hubness_indegree`'s zero-degree
    * restore) pay frozenCells' assignment pass exactly once. */
  private def knnEdgesFrom(cells: DataFrame): DataFrame =
    cosineTopK(cells.as("a").join(cells.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") =!= col("b.vec_id")),
      col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
      cosineFast(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")),
      KnnGraphK)

  /** `embedding_pca_top` power-iteration step count. Convergence
    * quality is eigen-gap dependent; cross-engine EXACTNESS is not —
    * the arithmetic is deterministic at any count. A def
    * (defs-init-order contract). */
  private def PcaIters = 10

  /** Per-step renormalization grid for [[PcaIters]]: components live
    * on [−2^20, 2^20], keeping every downstream product inside
    * DECIMAL(38,0)/HUGEINT headroom (vᵀGv ≤ 64²·2^40·maxG). */
  private def PcaVScale = 1048576L

  /** Mirror the gram UPPER triangle into the full (i, j) matrix —
    * shared by `embedding_pca_top` and `embedding_abtt`. */
  private[graft] def gramFull(tri: DataFrame): DataFrame =
    tri.unionByName(
      tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gram_u2")))

  /** p = G·v with DECIMAL(38,0) products and sums, `g` the gram as rows. */
  private def matvec(g: Column, v: Column): Column = transform(g, r => dot(r, v))

  /** Σ aᵢ·bᵢ with DECIMAL(38,0) products and sum. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("decimal(38,0)") * y), lit(0).cast("decimal(38,0)"), _ + _)

  /** The [[PcaIters]]-step exact-integer power iteration: v ← G·v
    * from the ones vector, renormalized each step onto the
    * [[PcaVScale]] grid by portable floor division (the +2·scale·m
    * offset makes Spark's truncating `div` and DuckDB's flooring `//`
    * agree on negatives). Neither the state (D components) nor the
    * input (D² cells) grows with the corpus, so the recurrence is ONE
    * expression, not a loop of supersteps: `gfull` collects into one
    * row (its sorted `i` keys and the gram as rows in key order) and
    * `aggregate(sequence(1, PcaIters), v0, …)` folds the steps. The
    * result is that one row — `g` (the keys `g.i` and the gram rows
    * `g.row`) and `v` (the component, aligned with `g.i`) — so a caller
    * derives vᵀGv, vᵀv and its output rows from one evaluation of the
    * fold. Lazy:
    * building it starts no job. ONE definition shared by
    * `embedding_pca_top` and `embedding_abtt` — a corrected-embedding
    * query whose v drifted from the reported PC would silently
    * subtract the wrong direction. Keep [[pcaVCteSql]] in lockstep
    * term-for-term. */
  private[graft] def pcaFold(gfull: DataFrame): DataFrame = {
    // f(e) with e evaluated once: higher-order SQL has no `let`
    def let(e: Column)(f: Column => Column): Column = transform(array(e), f).getItem(0)
    // floor(p·scale / m) made portable; m = 0 (an all-zero p) gives 0
    def renorm(p: Column, m: Column): Column = transform(p, x => when(m === 0, 0L).otherwise(
      (call_function("div", x * PcaVScale + m * (2 * PcaVScale), m) - 2 * PcaVScale).cast("bigint")))
    // one step, with p = G·v and its max |p| each computed once
    def step(g: Column, v: Column): Column =
      let(matvec(g, v))(p => let(array_max(transform(p, abs(_))))(m => renorm(p, m)))
    // one row: g = the gram's rows sorted by i, each row's cells sorted by j
    gfull.groupBy(col("i"))
      .agg(sort_array(collect_list(struct(col("j"), col("gram_u2")))).getField("gram_u2").as("row"))
      .agg(sort_array(collect_list(struct(col("i"), col("row")))).as("g"))
      .select(col("g"), aggregate(sequence(lit(1), lit(PcaIters)),
        array_repeat(lit(PcaVScale), size(col("g"))), (v, _) => step(col("g.row"), v)).as("v"))
  }

  /** [[pcaFold]] as `(i, v)` rows, one per dimension. */
  private[graft] def pcaVector(gfull: DataFrame): DataFrame =
    pcaFold(gfull).select(inline(arrays_zip(col("g.i").as("i"), col("v"))))

  /** DuckDB twin of [[pcaFold]]: CTE chain `gfull, v0 .. v{PcaIters}`
    * appended after [[gramCteSql]]. Every recurrence CTE is MATERIALIZED
    * (the graph_pagerank oracle pattern): DuckDB INLINES plain CTEs per
    * reference, and v_k is referenced twice by step k+1 —
    * unmaterialized, the inlining doubles per step and the 10-step
    * chain exhausts file handles re-opening the parquet 2^10 times. */
  private def pcaVCteSql: String = {
    val steps = (1 to PcaIters).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT g.i AS i, SUM(CAST(g.gram_u2 AS HUGEINT) * vv.v) AS p
         |  FROM gfull g JOIN v${k - 1} vv ON vv.i = g.j GROUP BY g.i),
         |m$k AS MATERIALIZED (SELECT MAX(abs(p)) AS m FROM p$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, CASE WHEN m = 0 THEN 0
         |    ELSE CAST((p * $PcaVScale + ${2 * PcaVScale} * m) // m - ${2 * PcaVScale} AS BIGINT)
         |    END AS v
         |  FROM p$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""gfull AS MATERIALIZED (
       |  SELECT i, j, gram_u2 FROM gram
       |  UNION ALL
       |  SELECT j, i, gram_u2 FROM gram WHERE i <> j),
       |v0 AS MATERIALIZED (SELECT DISTINCT i, CAST($PcaVScale AS BIGINT) AS v FROM gfull),
       |$steps""".stripMargin
  }

  /** Portable-floor offset for `embedding_abtt`'s per-dim mean,
    * S div n on micro-points: 2^40 ≫ any sane |mean| in micro units,
    * and the offset·n product stays inside DECIMAL(38,0)/HUGEINT even
    * at 10^12 rows — PROVIDED the multiply itself runs in decimal:
    * both engines cast the offset to DECIMAL(38,0)/HUGEINT before
    * the `* n` (a BIGINT product wraps past n ≈ 2^23 ≈ 8.4M rows,
    * silently on Spark's non-ANSI default). */
  private def MuOffset = 1099511627776L

  /** Portable-floor offset for `embedding_abtt`'s pc1_micro,
    * p div 2^20: |p| ≤ D·maxc·2^20 ≈ 5·10^14 ≪ 2^42, and
    * offset·2^20 = 2^62 still fits BIGINT. */
  private def Pc1FloorOffset = 4398046511104L

  /** Exact integer micro-point Gram UPPER TRIANGLE (1-based, i ≤ j) —
    * the BLAS-style per-partition rank-k fold behind `embedding_gram`
    * and `embedding_pca_top` (see embedding_gram's QueryDef comment
    * for the shuffle-volume argument: #partitions · D(D+1)/2 counter
    * rows, independent of corpus size). */
  private[graft] def gramTriangle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
    emb.as[Array[Double]]
      .mapPartitions { it =>
        // The dimension D is discovered from the partition's FIRST
        // vector — the old min/max(size) pre-check was a FULL extra
        // corpus scan plus a driver round-trip before the real pass
        // (the r13 verdict's first() finding). Raggedness stays loud:
        // within a partition every row is required equal to the first
        // (below), and ACROSS partitions each partial row carries its
        // partition's D so the final aggregate's min(d)=max(d) guard
        // raises in-plan — two partitions that are each internally
        // consistent at different widths share at least cell (1,1),
        // where the mismatch surfaces.
        if (!it.hasNext) Iterator.empty
        else {
        val firstVec = it.next()
        val d = firstVec.length
        require(d > 0, "embedding_gram: zero-length embedding")
        val tri = d * (d + 1) / 2
        // ADAPTIVE CHUNKED fold: a Long triangle cell safely absorbs
        // cap(maxU) = 2^62 / maxU² rows of maxU-bounded products; when
        // a chunk reaches that, its partials flush and the accumulator
        // resets — so the per-partition fold CANNOT wrap silently at
        // any partition size (the old single-chunk fold wrapped past
        // ~9e6 rows/partition at |x| ≤ 1 — exactly the corpus sizes
        // the operator exists for; DuckDB's HUGEINT sum would error
        // loudly while Spark returned wrong cells). Partial volume
        // stays #chunks·D(D+1)/2 with chunks ≈ rows/4.6e6 at unit
        // vectors — still corpus-size-independent per shuffled row.
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        val acc = new Array[Long](tri)
        val u = new Array[Long](d)
        var rows = 0L
        var maxU = 1L
        def cap(mu: Long): Long =
          math.max(1L, (1L << 62) / math.max(1L, mu * mu))
        def flush(): Unit = if (rows > 0) {
          var idx = 0
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              out += (((i + 1).toLong, (j + 1).toLong, acc(idx), d.toLong))
              idx += 1; j += 1
            }
            i += 1
          }
          java.util.Arrays.fill(acc, 0L)
          rows = 0L; maxU = 1L
        }
        (Iterator.single(firstVec) ++ it).foreach { v =>
          require(v.length == d, s"embedding_gram: vector of length ${v.length}, expected $d")
          var i = 0
          var rowMax = 1L
          while (i < d) {
            u(i) = math.floor(v(i) * 1e6 + 0.5).toLong
            val a = math.abs(u(i)); if (a > rowMax) rowMax = a
            i += 1
          }
          // loud bound instead of a silent per-product wrap: components
          // past |x| ≈ 3000 overflow a single ui·uj — no sane embedding
          // space is there, so reject rather than mis-accumulate
          require(rowMax <= 3000000000L,
            s"embedding_gram: component magnitude $rowMax micro exceeds the exact-product bound")
          if (rows + 1L > cap(math.max(maxU, rowMax))) flush()
          if (rowMax > maxU) maxU = rowMax
          var idx = 0
          i = 0
          while (i < d) {
            val ui = u(i)
            var j = i
            while (j < d) { acc(idx) += ui * u(j); idx += 1; j += 1 }
            i += 1
          }
          rows += 1L
        }
        flush()
        out.iterator
        }
      }
      .toDF("i", "j", "p", "d")
      // exact DECIMAL(38,0) merge of the partials, then the SAME
      // loud-overflow semantics as the oracle's CAST(HUGEINT AS
      // BIGINT): a gram cell past 2^63 raises instead of nulling —
      // the caller's remedy is rescaling the micro unit. The
      // min(d)=max(d) guard is the cross-partition raggedness check
      // (see the mapPartitions note) — same loud-failure discipline.
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast("decimal(38,0)")).as("g"),
        min(col("d")).as("d_lo"), max(col("d")).as("d_hi"))
      .select(col("i"), col("j"),
        expr("CASE WHEN d_lo <> d_hi " +
          "THEN CAST(raise_error(concat('embedding_gram: ragged embedding lengths [', d_lo, ', ', d_hi, ']')) AS BIGINT) " +
          "WHEN g > 9223372036854775807 OR g < -9223372036854775808 " +
          "THEN CAST(raise_error('embedding_gram: gram_u2 exceeds BIGINT - rescale the micro unit') AS BIGINT) " +
          "ELSE CAST(g AS BIGINT) END").as("gram_u2"))
  }

  /** DuckDB twin of [[gramTriangle]] — CTE chain ending in
    * `gram(i, j, gram_u2)`. */
  private def gramCteSql: String =
    s"""WITH u AS (
       |  SELECT list_transform(embedding,
       |    x -> ${QueryDef.microPointsSql("CAST(x AS DOUBLE)")}) AS uu
       |  FROM embeddings),
       |pp AS (
       |  SELECT CAST(a.ii AS BIGINT) AS i, CAST(b.jj AS BIGINT) AS j,
       |    uu[CAST(a.ii AS INTEGER)] * uu[CAST(b.jj AS INTEGER)] AS prod
       |  FROM u, unnest(range(1, len(uu) + 1)) AS a(ii),
       |       unnest(range(1, len(uu) + 1)) AS b(jj)
       |  WHERE b.jj >= a.ii),
       |gram AS (
       |  SELECT i, j, CAST(SUM(prod) AS BIGINT) AS gram_u2
       |  FROM pp GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[knnEdges]]: frozen cells + `kept` edge CTE. */
  private def knnEdgesCteSql: String =
    s"""${DedupQueries.frozenCellsCteSql(DedupQueries.CellTargetRows)},
       |kept AS MATERIALIZED (
       |${cosineTopKSql("cells q JOIN cells c ON q.c_id = c.c_id AND q.vec_id <> c.vec_id",
            KnnGraphK, names = ("src", "dst"))})""".stripMargin
  // MATERIALIZED: the pagerank oracle references `kept` once per
  // superstep; inlined, DuckDB would re-expand the |cell|² cosine join
  // 6× and OOM at sf0.1 (observed) — materialize the K·|corpus| edge
  // list once instead.

  /** Cells each SOURCE vector probes in `knn_graph_nprobe` (corpus
    * vectors stay in one cell; only the probe side fans out). */
  private def GraphNProbe = 2

  /** Edges kept per source vector in `knn_graph`. */
  private def KnnGraphK = 3

  /** MMR sizing: rerank pool [[MmrCandK]] (what the ANN stage hands
    * over) cut to [[MmrK]] diverse results. defs, not vals — both are
    * interpolated into the oracle string at `defs` init.
    *
    * Oracle bound: the DuckDB twin packs (score, -n_id) into ONE BIGINT
    * argmax key `score * 1e10 - n_id`; correct only while n_id < 1e10
    * and |score|·1e10 ≪ 2^63 (micro-point scores are ≤ 1e6, product
    * ≤ 1e16). TextDedupSpec asserts the id bound against the corpus. */
  private def MmrCandK = 20
  private def MmrK = 8

  /** RRF constant k=60 (the SIGIR'09 default) and pool/output sizes
    * for `hybrid_search`: each leg contributes its top-[[RrfPoolK]];
    * the fused list is cut at [[HybridTopK]]. */
  private def RrfK = 60
  private def RrfPoolK = 20
  private def HybridTopK = 10

  /** PQ encode + ADC scoring for every (query, corpus) pair — the
    * un-truncated frame behind `ann_pq`, exposed so TextDedupSpec can
    * assert the codeword-exactness property (a corpus vector that IS a
    * codeword quantizes to itself, so its ADC equals the exact L2²)
    * over ALL pairs, not just the ones that surface in the top-k. */
  private[graft] def pqAdc(s: SparkSession, dir: String): DataFrame =
    adcScores(pqCodes(s, dir), pqLut(s, dir))

  // defs, not vals: interpolated into oracle strings that are built
  // eagerly at `defs` init — an after-`defs` val would still be 0 then
  // (the dedup_semantic_k lesson, caught again only by the cross-engine
  // gate)
  private def PqM = 4 // subspaces
  private def PqSub = 16 // dims per subspace

  private def pqL22(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))))

  private def pqSubspaces(df: DataFrame, idCol: String): DataFrame = df
    .select(col("vec_id").as(idCol), explode(array((0 until PqM).map(j =>
      struct(lit(j).as("j"), slice(col("embedding"), j * PqSub + 1, PqSub).as("v"))): _*)).as("s"))
    .select(col(idCol), col("s.j").as("j"), col("s.v").as("v"))

  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqSubspaces(Tables(s, dir, "embeddings").filter(col("vec_id") < NCentroids), "c_id")
      .select(col("c_id"), col("j"), col("v").as("c"))

  /** PQ encode: every corpus vector → (vec_id, j, code), code = argmin
    * codeword per subspace (tie → lower c_id). The 4-bytes-per-vector
    * frame a serving system would persist. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    topK(pqSubspaces(Tables(s, dir, "embeddings"), "vec_id")
        .join(broadcast(pqCodebook(s, dir)), Seq("j"))
        .withColumn("d", pqL22(col("v"), col("c"))),
      Seq("vec_id", "j"), Seq(col("d"), col("c_id")), 1, "rk")
      .select(col("vec_id"), col("j"), col("c_id").as("code"))

  /** Per-query ADC lookup table: (q_id, j, c_id, dq) — |Q|·m·codewords
    * rows, built once per query batch and broadcast. */
  private[graft] def pqLut(s: SparkSession, dir: String): DataFrame =
    pqSubspaces(Tables(s, dir, "embeddings").filter(isQuery), "q_id")
      .join(broadcast(pqCodebook(s, dir)), Seq("j"))
      .withColumn("dq", pqL22(col("v"), col("c")))
      .select(col("q_id"), col("j"), col("c_id"), col("dq"))

  /** ADC scoring of every (query, corpus) pair: codes ⋈ broadcast LUT
    * into [[adcRecombine]]. */
  private def adcScores(codes: DataFrame, lut: DataFrame): DataFrame =
    adcRecombine(codes.join(broadcast(lut),
        codes("j") === lut("j") && codes("code") === lut("c_id"))
      .select(lut("q_id"), codes("vec_id"), codes("j"), lut("dq")))

  /** The ADC top-[[TopK]] per query: smallest `adc` first, n_id tiebreak. */
  private def adcTopK(scores: DataFrame): DataFrame =
    topK(scores, Seq("q_id"), Seq(col("adc"), col("n_id")), TopK)

  /** ADC recombination over (q_id, vec_id, j, dq) pairs: per-j partial
    * distances recombined with ORDER-INSENSITIVE conditional sums (all
    * but one addend is exactly 0.0) and added in fixed j order —
    * bit-exact on both engines regardless of partial-agg order. */
  private def adcRecombine(pairs: DataFrame): DataFrame = {
    val parts = pairs.groupBy(col("q_id"), col("vec_id"))
      .agg(
        sum(when(col("j") === 0, col("dq")).otherwise(lit(0.0))).as("d0"),
        (1 until PqM).map(j =>
          sum(when(col("j") === j, col("dq")).otherwise(lit(0.0))).as(s"d$j")): _*)
    parts
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 6).as("adc"))
  }

  /** DuckDB twins of [[pqCodes]]/[[pqLut]] (CTEs js/vsub/csub/vd/codes/
    * lut), the per-j conditional-sum recombination, and the shared
    * rank/cut tail — `def`s, not `val`s: they are interpolated into
    * oracle strings built eagerly at `defs` init (an after-`defs` val
    * would still be null then). */
  private def pqL22Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private def pqCtesSql: String =
    s"""js AS (SELECT unnest(range($PqM)) AS j),
       |vsub AS (
       |  SELECT vec_id, j, list_slice(embedding, j * $PqSub + 1, (j + 1) * $PqSub) AS v
       |  FROM embeddings CROSS JOIN js),
       |csub AS (
       |  SELECT vec_id AS c_id, j, list_slice(embedding, j * $PqSub + 1, (j + 1) * $PqSub) AS c
       |  FROM embeddings CROSS JOIN js WHERE vec_id < $NCentroids),
       |vd AS (
       |  SELECT v.vec_id, v.j, c.c_id, ${pqL22Sql("v.v", "c.c")} AS d
       |  FROM vsub v JOIN csub c ON v.j = c.j),
       |codes AS (
       |  SELECT vec_id, j, c_id AS code FROM (
       |${topKSql("vec_id, j, c_id", "vd", "vec_id, j", "d, c_id", 1, "rk")})),
       |lut AS (
       |  SELECT q.vec_id AS q_id, q.j, c.c_id, ${pqL22Sql("q.v", "c.c")} AS dq
       |  FROM vsub q JOIN csub c ON q.j = c.j WHERE ${isQuerySql("q.vec_id")})""".stripMargin

  private def pqDSumsSql: String = (0 until PqM)
    .map(j => s"SUM(CASE WHEN k.j = $j THEN l.dq ELSE 0.0 END) AS d$j")
    .mkString(",\n    ")

  private def pqRankSql: String =
    topKSql("q_id, vec_id AS n_id, round(d0 + d1 + d2 + d3, 6) AS adc",
      "parts WHERE vec_id <> q_id", "q_id", "round(d0 + d1 + d2 + d3, 6), vec_id", TopK)
}
