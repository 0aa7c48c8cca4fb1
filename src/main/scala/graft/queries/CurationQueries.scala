package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.queries.ProfilingQueries.{topK, topKSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the quality/filter/mix layer of a
  * training-data pipeline, between ingest and dedup/training: intra-doc
  * repetition metrics (Gopher-style), exact n-gram train/eval
  * decontamination (the GPT-3-style complement of the fuzzy
  * `contamination_check`), domain-mixture resampling, length
  * histograms, and lexical (BM25-shaped) retrieval.
  *
  * Scale posture: everything except the decontamination join and the
  * BM25 top-k is a pure narrow column expression over one scan —
  * per-document list algebra (no explode-then-groupBy where the answer
  * is per-doc), whole-stage-codegen'd, zero shuffles. The two
  * exceptions are annotated at their definitions.
  *
  * The reference has no analog (its transforms are per-record PHP
  * callables, `src/Transformers/CallableTransformer.php`); these are
  * engine extensions per the build brief.
  */
object CurationQueries {

  import TextQueries.{punctRatio, punctRatioSql, stopRatio, stopRatioSql, toksCte}

  /** DuckDB n-gram list matching [[graft.functions.TextFunctions.shingles]]:
    * empty below n tokens, positions 1..len-n+1 joined by one space. */
  private def gramsSql(t: String, n: Int): String =
    s"CASE WHEN len($t) >= $n THEN [array_to_string($t[i:i+${n - 1}], ' ') for i in range(1, len($t) - ${n - 2})] ELSE [] END"

  // ---- BM25 contract (shared Spark/SQL shapes) -------------------------
  // Rational idf — (N - df + 0.5) / (df + 0.5), NO logarithm: ln() is a
  // libm call whose last-ulp rounding differs between engines, while the
  // rational form is pure IEEE +,-,/ and bit-identical everywhere. It is
  // a monotone transform of the textbook BM25 idf, so rankings are
  // BM25-shaped; scores are documented as engine-exact, not
  // textbook-exact. Each term's contribution is rounded to integer
  // micro-points (the cents convention) and the per-query score is the
  // exact BIGINT sum — summation order cannot matter.
  private val BmQueries: Seq[(String, Seq[String])] = Seq(
    "q_scan_fast" -> Seq("scan", "fast"),
    "q_merge_join" -> Seq("merge", "join"),
    "q_stream_window" -> Seq("stream", "window"))
  private val BmTopK = 10

  /** `epoch_repeat` per-language repeat factors in milli-epochs:
    * upsampling (zh ×3.5, de ×2.25, fr ×1.5), identity (es), and
    * fractional downsampling (en ×0.7) in one contract. Def, not val
    * (defs-init-order contract). */
  private def EpochMilliFactors: Seq[(String, Long)] = Seq(
    "en" -> 700L, "es" -> 1000L, "fr" -> 1500L, "de" -> 2250L, "zh" -> 3500L)

  /** The frozen linear-classifier logit over a document's `text`
    * column, in integer micro-points — ONE definition serving
    * `quality_classifier` AND `quality_ensemble`'s classifier voter
    * (keep [[classifierLogitSql]] in lockstep term for term). */
  private def classifierLogit: org.apache.spark.sql.Column = {
    val t = tokens(col("text"))
    val nChars = greatest(length(col("text")).cast("long"), lit(1L))
    val f1 = QueryDef.microPoints(
      least(size(t).cast("long").cast("double") / lit(200.0), lit(1.0)))
    val f2 = QueryDef.microPoints(punctRatio(col("text")))
    val f3 = QueryDef.microPoints(stopRatio(t))
    val f4 = QueryDef.microPoints(
      size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("long").cast("double") / nChars.cast("double"))
    f1 * lit(QcWTok) + f2 * lit(QcWPunct) +
      f3 * lit(QcWStop) + f4 * lit(QcWDigit) + lit(QcBias)
  }

  /** DuckDB twin of [[classifierLogit]] — expects the toks CTE's
    * (text, t) columns in scope. */
  private def classifierLogitSql: String = {
    val f1 = QueryDef.microPointsSql("least(CAST(len(t) AS DOUBLE) / 200.0, 1.0)")
    val f2 = QueryDef.microPointsSql(punctRatioSql("text"))
    val f3 = QueryDef.microPointsSql(stopRatioSql("t"))
    val f4 = QueryDef.microPointsSql(
      "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)")
    s"$f1 * $QcWTok + $f2 * $QcWPunct + $f3 * $QcWStop + $f4 * $QcWDigit + $QcBias"
  }

  /** text_repetition's per-doc counters struct over `text`'s tokens. A
    * null text counts as no tokens (zero counters, as the oracle's
    * `CASE WHEN len(t)… ELSE []` gives) — a NULL-in-NULL-out
    * expression would diverge on the degenerate docs CurationPropsSpec
    * generates. */
  private def repetitionStatsOf(text: Column): Column =
    repetitionStats(coalesce(tokens(text), array().cast("array<string>")))

  /** The duplicate-trigram and top-bigram fractions of a
    * [[repetitionStatsOf]] struct, rounded to 6 places — text_repetition's
    * columns and quality_ensemble's repetition voter.
    * [[dup3FracSql]]/[[top2FracSql]] are the DuckDB twins over the
    * `tg`/`bg` gram lists. */
  private def repetitionFracs(st: Column): (Column, Column) = {
    val nTg = st.getField("n_tg")
    (round((nTg - st.getField("n_dist_tg")).cast("double") /
      greatest(nTg, lit(1L)).cast("double"), 6),
      round(st.getField("top_bg").cast("double") /
        greatest(st.getField("n_bg"), lit(1L)).cast("double"), 6))
  }

  private def dup3FracSql: String =
    "round(CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / CAST(greatest(len(tg), 1) AS DOUBLE), 6)"
  private def top2FracSql: String =
    "round(CAST(coalesce(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))), 0) AS DOUBLE) / CAST(greatest(len(bg), 1) AS DOUBLE), 6)"

  /** The repetition flag over the two fractions; [[isRepetitiveSql]] is
    * its DuckDB twin (`or` only sets the oracle text's layout). */
  private def isRepetitive(dup3: Column, top2: Column): Column =
    dup3 > 0.01 || top2 > 0.07
  private def isRepetitiveSql(dup3: String, top2: String, or: String = " OR "): String =
    s"$dup3 > 0.01${or}$top2 > 0.07"

  /** Each document's `score` column next to the size `grp_n` of its
    * exact-dup group (the dedup_exact fingerprint) — the dup-labelled
    * frame of quality_calibration and quality_auc;
    * [[dupLabelledCteSql]] is its DuckDB twin. */
  private def dupLabelled(s: SparkSession, dir: String, score: Column): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), exactFp(col("text")).as("fp"), score)
    docs.join(docs.groupBy(col("fp")).agg(count(lit(1)).as("grp_n")), Seq("fp"))
  }

  /** `d`: 1 for a document in an exact-dup group of two or more. */
  private def isDup: Column = when(col("grp_n") > 1, 1L).otherwise(0L).as("d")

  /** The `d` (doc_id, fp, `score`) and `g` (fp, grp_n) CTEs behind
    * [[dupLabelled]]'s oracles, after the toks CTE. */
  private def dupLabelledCteSql(score: String): String =
    s"""$toksCte,
       |d AS (
       |  SELECT doc_id,
       |    ${exactFpSql("text")} AS fp,
       |    $score
       |  FROM toks),
       |g AS (SELECT fp, COUNT(*) AS grp_n FROM d GROUP BY 1)""".stripMargin

  private def isDupSql: String = "CASE WHEN g.grp_n > 1 THEN 1 ELSE 0 END"

  /** `retrieval_mrr` phrase-relevance regex, shared Spark/DuckDB
    * character for character: terms separated by ≥1 non-token chars,
    * bounded by non-token or string edge — token-space adjacency over
    * lower(text) without materializing the token array. */
  private def phraseRegex(ts: Seq[String]): String =
    "(^|[^a-z0-9])" + ts.mkString("[^a-z0-9]+") + "($|[^a-z0-9])"

  /** The BM25 ranking frame (query, rank, doc_id, score_micro) —
    * ONE definition serving `bm25_search` AND `retrieval_mrr`'s
    * served-list side. Rational idf (see the BM25 contract note above),
    * integer micro-point scores. tf and doc-length are narrow per-doc
    * expressions (the query terms are fixed, so NO token explode);
    * corpus stats (N, Σdl, per-term df) are ONE 1-row aggregate
    * broadcast back; the top-k is [[ProfilingQueries.shardedTopK]]. */
  private def bmRanked(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val terms = BmQueries.flatMap(_._2).distinct
    val t = tokens(col("text"))
    val perDoc = Tables(s, dir, "documents").select(
      col("doc_id") +: size(t).cast("long").as("dl") +:
        terms.map(tm => size(filter(t, x => x === lit(tm))).cast("long").as(s"tf_$tm")): _*)
    val statCols = sum(col("dl")).as("sum_dl") +: terms.map(tm =>
      sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).as(s"df_$tm"))
    val stats = perDoc.agg(count(lit(1)).as("n"), statCols: _*)
    def contribMicro(tm: String) = {
      val tf = col(s"tf_$tm").cast("double")
      val df = col(s"df_$tm").cast("double")
      val n = col("n").cast("double")
      val idf = (n - df + lit(0.5)) / (df + lit(0.5))
      val den = tf + lit(1.2) *
        (lit(0.25) + (lit(0.75) * col("dl").cast("double")) / (col("sum_dl").cast("double") / n))
      when(col(s"tf_$tm") > 0,
        QueryDef.microPoints(idf * (tf * lit(2.2)) / den))
        .otherwise(lit(0L))
    }
    val scored = perDoc.crossJoin(broadcast(stats)).select(
      col("doc_id") +: BmQueries.map { case (qn, ts) =>
        ts.map(contribMicro).reduce(_ + _).as(s"s_$qn")
      }: _*)
    val stackExpr = BmQueries.map { case (qn, _) => s"'$qn', s_$qn" }.mkString(", ")
    val hits = scored
      .selectExpr("doc_id", s"stack(${BmQueries.size}, $stackExpr) AS (query, score_micro)")
      .filter(col("score_micro") > 0)
    ProfilingQueries.shardedTopK(hits, "query",
        Seq(col("score_micro").desc, col("doc_id")), BmTopK, Tables(s, dir, "documents"))
      .select(col("query"), col("rank"), col("doc_id"), col("score_micro"))
  }

  /** DuckDB twin of [[bmRanked]] — a full SELECT, embeddable as a
    * subquery (`retrieval_mrr` does). */
  private def bmRankedSql: String = {
    val terms = BmQueries.flatMap(_._2).distinct
    val tfCols = terms.map(tm => s"len(list_filter(t, x -> x = '$tm')) AS tf_$tm").mkString(",\n    ")
    val dfCols = terms.map(tm => s"CAST(SUM(CASE WHEN tf_$tm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$tm").mkString(",\n    ")
    def contrib(tm: String) = {
      val idf = s"(CAST(n AS DOUBLE) - CAST(df_$tm AS DOUBLE) + 0.5) / (CAST(df_$tm AS DOUBLE) + 0.5)"
      val den = s"CAST(tf_$tm AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE)))"
      s"CASE WHEN tf_$tm > 0 THEN ${QueryDef.microPointsSql(s"($idf) * (CAST(tf_$tm AS DOUBLE) * 2.2) / ($den)")} ELSE 0 END"
    }
    val perQuery = BmQueries.map { case (qn, ts) =>
      s"SELECT doc_id, '$qn' AS query, ${ts.map(contrib).mkString(" + ")} AS score_micro FROM j"
    }.mkString("\n  UNION ALL ")
    s"""$toksCte,
       |d AS (SELECT doc_id, len(t) AS dl,
       |    $tfCols
       |  FROM toks),
       |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfCols
       |  FROM d),
       |j AS (SELECT * FROM d CROSS JOIN st),
       |scores AS (
       |  $perQuery)
       |SELECT query, rank, doc_id, score_micro FROM (
       |${topKSql("query, doc_id, score_micro", "scores WHERE score_micro > 0", "query",
          "score_micro DESC, doc_id", BmTopK)})""".stripMargin
  }

  /** Frozen linear-classifier weights for `quality_classifier`, in
    * milli-units over micro-point features (logit is then exact BIGINT
    * arithmetic on both engines). A trained model would broadcast a
    * learned vector; freezing it keeps the inference plan identical
    * and the oracle bit-exact — the plan, not the weights, is what
    * scales. defs, not vals: interpolated into the oracle string at
    * `defs` init. */
  private def QcWTok = 800L // reward length up to the cap
  private def QcWPunct = -600L // penalize symbol soup
  private def QcWStop = 900L // reward stopword evidence (real prose)
  private def QcWDigit = -400L // penalize digit-dominated text
  private def QcBias = -300000000L // micro·milli bias
  private def QcKeepAt = 0L // keep on positive logit (the natural sign boundary)

  val defs: Seq[QueryDef] = Seq(

    // model-based quality filtering — the classifier-inference stage
    // (CCNet / RefinedWeb style) downstream of the heuristic
    // `text_quality` score: a (frozen) linear model over four
    // engineered features, evaluated per document at scan speed.
    // Features are integer micro-points (each a single IEEE division
    // of exact integer-valued doubles, then the shared scaled-round
    // contract), the logit is a BIGINT dot product, and the keep
    // decision an integer comparison — bit-exact cross-engine with no
    // float score mixing. Scale: pure narrow codegen'd expressions,
    // zero shuffles; the weight vector rides in the plan (a learned
    // one would broadcast) so 100 TB runs at scan speed.
    QueryDef("quality_classifier",
      (s, dir) => {
        val logit = classifierLogit
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), logit.as("logit_u"),
            (logit > lit(QcKeepAt)).cast("long").as("keep"))
      },
      Some(s"""$toksCte,
           |scored AS (
           |  SELECT doc_id, lang, $classifierLogitSql AS logit_u
           |  FROM toks)
           |SELECT doc_id, lang, logit_u,
           |  CAST(CASE WHEN logit_u > $QcKeepAt THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM scored""".stripMargin)),

    // intra-document repetition metrics (Gopher-style quality rules):
    // duplicate-trigram fraction + most-frequent-bigram share, composed
    // into a repetition flag.
    //
    // Shape lesson (measured, not guessed): the "obvious" per-doc list
    // algebra — `transform(array_distinct(bg), x -> size(filter(bg,
    // _ === x)))` — is a NESTED higher-order function: interpreted
    // (HOFs have no codegen), quadratic in doc length, with the
    // captured `bg` subtree re-evaluated per outer element (no CSE
    // across lambda bodies). 245 s for the sf0.1 corpus. A linear
    // sorted-runs fold cut it to 13.5 s — still interpreted-HOF-bound.
    // The codegen shape wins: explode the grams and let two hash
    // aggregations compute multiplicity/distinct counts — whole-stage
    // codegen'd, map-side combinable, 1.2 s on the same corpus, and
    // the 100 TB plan is three doc_id-keyed exchanges of token-stream
    // size, not a per-row interpreter.
    // NARROW per-doc rewrite (r14 triage of the twice-fired driver time
    // gate): the old shape persisted the shingle frame and ran TWO
    // explode → groupBy(doc_id, g) → join passes. Not a shuffle issue —
    // those groupBys reused the widening repartition's hash(doc_id)
    // clustering (subset of the group keys), so the old plan exchanged
    // exactly the same 850,594 bytes this one does — but the cache
    // (eviction → recompute both consumers) and the per-gram hash-agg
    // tables amplified co-tenant window noise ~4× vs the board (r12:
    // 11.79 s, r13: 6.36 s driver firings; 1.0-1.5 s calm, the r14
    // interleaved A/B). The answers are per-document counters, so the
    // scalable shape is one narrow projection over one scan: the
    // codegen'd RepetitionStatsExpr computes all four counters in a
    // single pass over the token array (no shingle arrays built, no
    // gram string ever materialized per position, nothing persisted,
    // nothing to evict). The custom struct is opaque to
    // SimplifyExtractValueOps, so it is provably evaluated once per
    // row; the fraction arithmetic reads its fields. Same values,
    // same oracle, 2.4× faster calm (0.50 s vs 1.2) and load-robust.
    QueryDef("text_repetition",
      (s, dir) => {
        val docs = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), repetitionStatsOf(col("text")).as("st"))
        val (dup3, top2) = repetitionFracs(col("st"))
        docs.select(
          col("doc_id"),
          col("st.n_tg").as("n_3grams"),
          dup3.as("dup3_frac"),
          top2.as("top2_frac"),
          when(isRepetitive(dup3, top2), 1L).otherwise(0L).as("is_repetitive"))
      },
      Some(s"""$toksCte,
             |g AS (SELECT doc_id,
             |    ${gramsSql("t", 2)} AS bg,
             |    ${gramsSql("t", 3)} AS tg
             |  FROM toks),
             |m AS (SELECT doc_id, len(tg) AS n_3grams,
             |    $dup3FracSql AS dup3_frac,
             |    $top2FracSql AS top2_frac
             |  FROM g)
             |SELECT doc_id, n_3grams, dup3_frac, top2_frac,
             |  CASE WHEN ${isRepetitiveSql("dup3_frac", "top2_frac")} THEN 1 ELSE 0 END AS is_repetitive
             |FROM m""".stripMargin)),

    // exact n-gram train/eval decontamination (the GPT-3-style audit):
    // train documents sharing any exact 8-token n-gram with the val/test
    // split, with the count of distinct shared grams. Complements the
    // fuzzy `contamination_check` (whole-doc near-dup leakage) — this
    // catches verbatim phrase leakage the LSH whole-doc signature can
    // miss. The split is THE shared contract (ProfilingQueries.splitCol).
    //
    // Scale shape: per-doc distinct grams (narrow list algebra) →
    // explode → equi-join on the gram string. Both sides are
    // gram-distinct before the join, so join fan-out is bounded by real
    // overlap, not doc frequency; the eval side is a ~20% slice that AQE
    // broadcast-promotes when it fits, and the shuffle key is the gram
    // itself (8 short tokens). The per-doc rollup is map-side
    // combinable.
    QueryDef("ngram_decontamination",
      (s, dir) => {
        val n = 8
        // persisted: the tokenize+shingle+distinct pass is the CPU-heavy
        // stage and BOTH split branches consume it — unpersisted, it
        // runs twice (caller's clearCache sweep releases it, the
        // Bench/Verify contract shared with DedupQueries)
        val base = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), ProfilingQueries.splitCol.as("split"),
            array_distinct(shingles(tokens(col("text")), n)).as("grams"))
          .persist()
        val train = base.filter(col("split") === "train")
          .select(col("doc_id"), explode(col("grams")).as("g"))
        val eval_ = base.filter(col("split") =!= "train")
          .select(explode(col("grams")).as("g")).distinct()
        train.join(eval_, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_grams"), min(col("g")).as("sample_gram"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
             |    ${tokensSql("text")} AS t,
             |    ${ProfilingQueries.splitSql} AS split
             |  FROM documents),
             |g AS (SELECT doc_id, split, list_distinct(${gramsSql("t", 8)}) AS grams FROM toks),
             |tr AS (SELECT doc_id, unnest(grams) AS g FROM g WHERE split = 'train'),
             |ev AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE split <> 'train')
             |SELECT doc_id, COUNT(*) AS n_shared_grams, min(g) AS sample_gram
             |FROM tr JOIN ev USING (g)
             |GROUP BY doc_id""".stripMargin)),

    // domain-mixture resampling: downsample each language stratum to a
    // target rate with the deterministic content-hash coin (salt 21) —
    // the "data mixing" step that reweights source distributions before
    // training. Same hash-threshold machinery as sample_stratified, so
    // membership is reproducible across runs/engines and stable under
    // corpus growth. The report is one map-side-combinable rollup; the
    // sample itself is the scan-speed filter `h < rate`.
    QueryDef("mixture_sample",
      (s, dir) => {
        val rates = Seq("en" -> 1000L, "es" -> 500L, "fr" -> 500L, "de" -> 250L, "zh" -> 125L)
        val thr = rates.foldRight(lit(100L): org.apache.spark.sql.Column) {
          case ((l, r), els) => when(col("lang") === l, lit(r)).otherwise(els)
        }
        val keep = pmod(portableHash(col("doc_id").cast("string"), 21), lit(1000L)) < thr
        Tables(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
            sum(when(keep, col("n_chars")).otherwise(0L)).as("kept_chars"))
      },
      Some {
        val thr = "CASE lang WHEN 'en' THEN 1000 WHEN 'es' THEN 500 WHEN 'fr' THEN 500 WHEN 'de' THEN 250 WHEN 'zh' THEN 125 ELSE 100 END"
        val keep = s"${portableHashSql("CAST(doc_id AS VARCHAR)", 21)} % 1000 < $thr"
        s"""SELECT lang, COUNT(*) AS n_total,
           |  CAST(SUM(CASE WHEN $keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN $keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
           |FROM documents GROUP BY lang""".stripMargin
      }),

    // Quality-filter ENSEMBLE agreement — the decision every curation
    // pipeline running several filters must make explicit (FineWeb-
    // style: independent heuristics vote, the release keeps majority
    // or strict intersections): three voters — the Gopher rule battery
    // (shared [[gopherFlags]] frame), the frozen linear classifier
    // (shared [[classifierLogit]]), and NON-repetitiveness
    // (text_repetition's shared [[repetitionFracs]]/[[isRepetitive]]) — then
    // vote-count distribution, majority/strict keep counts, and
    // pairwise agreement in exact ppm. Disagreement rates are the
    // actionable output: a pair agreeing at ~50% is measuring
    // different things; one at ~99% is redundant.
    //
    // Scale shape: three narrow one-scan voter frames joined on
    // doc_id (kept as separate scans ON PURPOSE — fusing them would
    // entangle the three filter definitions the ablation framework
    // keeps independent), then two map-side-combinable rollups over
    // the ≤4-value votes key / one summary row.
    QueryDef("quality_ensemble",
      (s, dir) => {
        val g = gopherFlags(s, dir).select(col("doc_id"), col("keep").as("kg"))
        val c = Tables(s, dir, "documents").select(col("doc_id"),
          (classifierLogit > lit(QcKeepAt)).cast("long").as("kc"))
        val (dup3, top2) = repetitionFracs(repetitionStatsOf(col("text")))
        val r = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            when(isRepetitive(dup3, top2), 0L).otherwise(1L).as("kr"))
        val j = g.join(c, Seq("doc_id")).join(r, Seq("doc_id"))
          .withColumn("votes", col("kg") + col("kc") + col("kr"))
        val byVotes = j.groupBy(col("votes")).agg(count(lit(1)).as("v"))
          .select(concat(lit("votes_"), col("votes").cast("string")).as("metric"),
            col("v"))
        val summary = j.agg(
            count(lit(1)).as("n"),
            sum(when(col("kg") === col("kc"), 1L).otherwise(0L)).as("a_gc"),
            sum(when(col("kg") === col("kr"), 1L).otherwise(0L)).as("a_gr"),
            sum(when(col("kc") === col("kr"), 1L).otherwise(0L)).as("a_cr"),
            sum(when(col("votes") >= 2L, 1L).otherwise(0L)).as("kmaj"),
            sum(when(col("votes") === 3L, 1L).otherwise(0L)).as("kall"))
          .selectExpr("stack(5, " +
            "'agree_gopher_classifier_ppm', (a_gc * 1000000) div n, " +
            "'agree_gopher_repetition_ppm', (a_gr * 1000000) div n, " +
            "'agree_classifier_repetition_ppm', (a_cr * 1000000) div n, " +
            "'keep_majority', kmaj, " +
            "'keep_strict', kall) AS (metric, v)")
        byVotes.unionByName(summary)
      },
      Some(s"""$gopherFlagsCteSql,
              |tk AS (
              |  SELECT doc_id, text,
              |    ${tokensSql("text")} AS t
              |  FROM documents),
              |cls AS (
              |  SELECT doc_id,
              |    CAST(CASE WHEN $classifierLogitSql > $QcKeepAt
              |      THEN 1 ELSE 0 END AS BIGINT) AS kc
              |  FROM tk),
              |gr AS (SELECT doc_id, ${gramsSql("t", 2)} AS bg,
              |    ${gramsSql("t", 3)} AS tg FROM tk),
              |rp AS (
              |  SELECT doc_id, CAST(CASE WHEN
              |    ${isRepetitiveSql(dup3FracSql, top2FracSql, "\n    OR ")}
              |    THEN 0 ELSE 1 END AS BIGINT) AS kr
              |  FROM gr),
              |j AS (
              |  SELECT f.doc_id, f.keep AS kg, c.kc, r.kr,
              |    f.keep + c.kc + r.kr AS votes
              |  FROM flags f JOIN cls c USING (doc_id) JOIN rp r USING (doc_id))
              |SELECT 'votes_' || CAST(votes AS VARCHAR) AS metric, COUNT(*) AS v
              |FROM j GROUP BY votes
              |UNION ALL
              |SELECT k, CAST(v AS BIGINT) AS v FROM (
              |  SELECT COUNT(*) AS n,
              |    SUM(CASE WHEN kg = kc THEN 1 ELSE 0 END) AS a_gc,
              |    SUM(CASE WHEN kg = kr THEN 1 ELSE 0 END) AS a_gr,
              |    SUM(CASE WHEN kc = kr THEN 1 ELSE 0 END) AS a_cr,
              |    SUM(CASE WHEN votes >= 2 THEN 1 ELSE 0 END) AS kmaj,
              |    SUM(CASE WHEN votes = 3 THEN 1 ELSE 0 END) AS kall
              |  FROM j) t,
              |  LATERAL (VALUES
              |    ('agree_gopher_classifier_ppm', (a_gc * 1000000) // n),
              |    ('agree_gopher_repetition_ppm', (a_gr * 1000000) // n),
              |    ('agree_classifier_repetition_ppm', (a_cr * 1000000) // n),
              |    ('keep_majority', kmaj),
              |    ('keep_strict', kall)) AS u(k, v)""".stripMargin)),

    // Fractional-epoch upsampling — the data-mixing operator
    // `mixture_sample` (keep-rate < 1) cannot express: training mixes
    // specify REPEAT factors per source ("books ×3.2, web ×0.7",
    // Llama/GPT-3-style epoch weighting), and a non-integer factor f
    // means every doc appears floor(f) times plus one more with
    // probability frac(f) — decided by the doc's content-hash coin, so
    // the expansion is reproducible, stable under corpus growth, and
    // engine-independent (milli-factor integer arithmetic, no floats).
    // Output is the expansion MANIFEST (doc_id, lang, n_copies ≥ 1):
    // the frame a shuffle/pack stage consumes; zero-copy docs drop out.
    // Pure narrow expression at scan speed — the explode happens
    // downstream in the consumer, not here, so the manifest is
    // corpus-sized, not expansion-sized.
    QueryDef("epoch_repeat",
      (s, dir) => {
        val f = EpochMilliFactors.foldRight(lit(1000L): org.apache.spark.sql.Column) {
          case ((l, m), els) => when(col("lang") === l, lit(m)).otherwise(els)
        }
        val coin = pmod(portableHash(col("doc_id").cast("string"), 67), lit(1000L))
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            // floor over an exact small-integer ratio (≤ 3.5), then the
            // fractional-epoch coin — all integer-valued, no rounding edge
            (floor(f / lit(1000.0)).cast("long") +
              when(coin < f % lit(1000L), 1L).otherwise(0L)).as("n_copies"))
          .filter(col("n_copies") >= 1L)
      },
      Some {
        val f = "CASE lang " + EpochMilliFactors.map { case (l, m) =>
          s"WHEN '$l' THEN $m" }.mkString(" ") + " ELSE 1000 END"
        val coin = s"${portableHashSql("CAST(doc_id AS VARCHAR)", 67)} % 1000"
        s"""SELECT doc_id, lang,
           |  CAST(($f) // 1000 + CASE WHEN $coin < ($f) % 1000
           |    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
           |FROM documents
           |WHERE ($f) // 1000 + CASE WHEN $coin < ($f) % 1000
           |  THEN 1 ELSE 0 END >= 1""".stripMargin
      }),

    // TEMPERATURE-scaled mixture resampling (α = 1/2, the multilingual
    // rebalancing rule q_l ∝ p_l^α of XLM-R / mT5): unlike
    // `mixture_sample`'s operator-supplied rates, the rates here are
    // DERIVED FROM THE CORPUS — each language keeps
    // rate_l = sqrt(n_min / n_l), so the smallest language keeps
    // everything and a k×-larger one keeps sqrt-proportionally less,
    // flattening the distribution toward uniform without inverting it.
    // No square root is ever computed: the hash coin h ∈ [0,1000)
    // accepts iff h²·n_l < n_min·10⁶ — P(accept) = sqrt(n_min/n_l) to
    // 0.1% granularity, every term an exact BIGINT product
    // (h²·n_l ≤ 10⁶·n_l stays under 2⁶³ up to 9.2e12 docs per
    // language). Language counts are a tiny broadcast frame; the
    // sample decision is a scan-speed filter; membership is
    // reproducible (content-hash coin, salt 23) and stable as the
    // corpus grows — a language's members only shrink monotonically as
    // its n_l rises, never reshuffle.
    QueryDef("mixture_temperature",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
        val rates = counts.crossJoin(broadcast(counts.agg(min(col("n_l")).as("n_min"))))
        val h = pmod(portableHash(col("doc_id").cast("string"), 23), lit(1000L))
        val keep = h * h * col("n_l") < col("n_min") * lit(1000000L)
        docs.join(broadcast(rates), Seq("lang"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
            sum(when(keep, col("n_chars")).otherwise(0L)).as("kept_chars"))
      },
      Some {
        val h = s"(${portableHashSql("CAST(d.doc_id AS VARCHAR)", 23)} % 1000)"
        val keep = s"$h * $h * c.n_l < mn.n_min * 1000000"
        s"""WITH counts AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
           |mn AS (SELECT MIN(n_l) AS n_min FROM counts)
           |SELECT d.lang, COUNT(*) AS n_total,
           |  CAST(SUM(CASE WHEN $keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN $keep THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
           |FROM documents d JOIN counts c USING (lang), mn
           |GROUP BY d.lang""".stripMargin
      }),

    // WEIGHTED sampling without replacement, k per stratum — priority
    // sampling (Duffield–Lund–Thorup, JACM 2007): each doc draws
    // priority w/u from its deterministic content-hash uniform u and
    // weight w = n_chars, and the k highest-priority docs per language
    // win — inclusion probability ∝ weight (length-proportional =
    // token-budget-proportional selection, the "sample by tokens not
    // by docs" rule training mixtures need; `mixture_sample` is its
    // unweighted Bernoulli sibling). No transcendental ever runs: u is
    // the hash folded to 2^30 grid cells and the priority is ONE ieee
    // double division of two exactly-representable integers —
    // bit-identical on any engine, so ranking and the exported
    // micro-point priority reproduce everywhere (the portableHash
    // determinism contract, salt 37).
    //
    // 100 TB shape: priority is a scan-speed column expression; the
    // per-language top-k is a window whose partitions are language
    // strata — Spark's WindowGroupLimit pre-trims each map partition
    // to k rows before the exchange (the pinned window top-k
    // discipline), so the shuffle moves O(k·langs·partitions), never
    // the corpus. No global sort, no driver state.
    QueryDef("weighted_sample",
      (s, dir) => prioritySample(Tables(s, dir, "documents"), 8),
      Some {
        val u1 = s"(${portableHashSql("CAST(doc_id AS VARCHAR)", 37)} % 1073741824) + 1"
        s"""WITH pr AS (
           |  SELECT lang, doc_id, n_chars,
           |    CAST(n_chars AS DOUBLE) / CAST($u1 AS DOUBLE) AS p
           |  FROM documents),
           |r AS (${topKSql("lang, doc_id, n_chars, p", "pr", "lang", "p DESC, doc_id", 8, "rk")})
           |SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
           |  ${QueryDef.microPointsSql("p")} AS pr_micro,
           |  rk
           |FROM r""".stripMargin
      }),

    // token-length histogram: docs bucketed by token count (width 8,
    // top bucket open) — the length-distribution profile that sizes
    // packing budgets and truncation policies. Narrow bucket expression
    // + one tiny map-side-combinable rollup.
    QueryDef("token_histogram",
      (s, dir) => {
        val nTok = size(tokens(col("text"))).cast("long")
        val bucket = least(floor(nTok.cast("double") / lit(8.0)), lit(12.0)).cast("long")
        Tables(s, dir, "documents")
          .select(bucket.as("bucket"), nTok.as("n_tokens"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
      },
      Some(s"""$toksCte
             |SELECT CAST(least(floor(CAST(len(t) AS DOUBLE) / 8.0), 12.0) AS BIGINT) AS bucket,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(len(t)) AS BIGINT) AS sum_tokens,
             |  CAST(MIN(len(t)) AS BIGINT) AS min_tokens,
             |  CAST(MAX(len(t)) AS BIGINT) AS max_tokens
             |FROM toks GROUP BY 1""".stripMargin)),

    // out-of-vocabulary rate per language against a corpus-derived
    // top-100 dictionary — the tokenizer-coverage check run before
    // committing to a vocab. The derived-dictionary-broadcast pattern:
    // pass 1 builds the dictionary (one token-count shuffle + a
    // bounded top-k), pass 2 re-scans and probes it via broadcast —
    // the token stream itself is never shuffled for the join, and the
    // per-lang rollup is map-side combinable. Two scans by design
    // (the dictionary must exist before scoring); at 100 TB pass 1's
    // dictionary would be computed once and reused across runs.
    QueryDef("oov_rate",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("lang"), explode(tokens(col("text"))).as("tk"))
        val vocab = TextQueries.topVocab(toks, 100)
          .select(col("tk"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tk"), "left_outer")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
      },
      Some(s"""WITH tk_stream AS (
             |  SELECT lang, unnest(${tokensSql("text")}) AS tk
             |  FROM documents),
             |vocab AS (
             |  SELECT tk FROM (
             |    SELECT tk, count(*) AS freq FROM tk_stream
             |    GROUP BY tk ${TextQueries.vocabOrderSql} LIMIT 100)),
             |j AS (
             |  SELECT lang,
             |    CASE WHEN tk IN (SELECT tk FROM vocab) THEN 0 ELSE 1 END AS oov
             |  FROM tk_stream)
             |SELECT lang, COUNT(*) AS n_tokens,
             |  CAST(SUM(oov) AS BIGINT) AS n_oov,
             |  round(CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
             |FROM j GROUP BY lang""".stripMargin)),

    // quality-score CALIBRATION against duplication — "does the cheap
    // quality signal predict the expensive dedup label?", the check
    // run before trusting a scalar filter to gate a 100 TB corpus.
    // Docs bucket into FIXED-WIDTH score bins (floor(q·10), top bin
    // closed) — fixed bins, not ntile deciles, BY DESIGN: a global
    // ntile is one all-corpus sort partition (the rank_global_bucketed
    // anti-pattern), while the bin is a scan-speed expression; the
    // round-6 quality score is cross-engine identical (the
    // dedup_canonical ranking contract) so bin edges cannot straddle.
    // The dup label is dedup_exact's fingerprint with group size > 1.
    // Output: per-bin doc and dup counts — the calibration curve as
    // exact integers.
    //
    // 100 TB shape: one scan computes fp + score; the fp group-size
    // frame joins back co-keyed on the 16-byte fp (the exact-dedup
    // shuffle key); the final rollup is 10 bins of map-side-combined
    // counters.
    QueryDef("quality_calibration",
      (s, dir) =>
        dupLabelled(s, dir, TextQueries.qualityScore(col("text")).as("q"))
          .select(least(floor(col("q") * 10), lit(9.0)).cast("long").as("bin"), isDup)
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("d")).as("n_dup")),
      Some(s"""${dupLabelledCteSql(s"${TextQueries.qualityScoreSql("text", "t")} AS q")}
             |SELECT CAST(least(floor(d.q * 10), 9.0) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM($isDupSql) AS BIGINT) AS n_dup
             |FROM d JOIN g USING (fp) GROUP BY 1""".stripMargin)),

    // Exact ROC AUC of the quality score against the exact-dup label —
    // the one-number discriminative-power summary completing
    // `quality_calibration`'s curve: AUC = P(score(dup) < score(clean))
    // is the Mann-Whitney U statistic, computed EXACTLY from midranks
    // with no float ever touching a rank. Scores discretize once to
    // integer micro-points (the microPoints contract), then
    // 2U = Σ_v n_neg(v)·(2·posBelow(v) + n_pos(v)) — the ½-tie credit
    // absorbed into the doubling so every term is an exact integer,
    // carried in DECIMAL(38,0) / HUGEINT (a BIGINT term wraps
    // silently once n_pos·n_neg passes ~9.2e18 ÷ 10^6 ≈ 3M×3M docs;
    // decimal keeps 100 TB corpora inside the exactness claim) — and
    // auc_micro = 2U·500000 div (n_pos·n_neg) (≥ 0 throughout, floor
    // division agrees cross-engine; the quotient ≤ 10^6 casts back
    // to BIGINT losslessly). Direction: positives are DUPS and
    // posBelow counts DUP docs scoring strictly below each clean doc,
    // so AUC → 1 means dups score BELOW clean docs (the "low quality
    // predicts duplication" hypothesis holds); ½ = no signal.
    // posBelow is a serial cumulative over the ≤ 101 coarse buckets
    // (score div 10000, [[ProfilingQueries.bucketOffsets]]) plus a
    // bucket-PARTITIONED cumulative within — no global
    // single-partition window at any cardinality. Scale: the score
    // scan + the 16-byte fp dup join (quality_calibration's shapes),
    // then everything runs on the |distinct score| histogram.
    QueryDef("quality_auc",
      (s, dir) => {
        val hist = dupLabelled(s, dir,
            QueryDef.microPoints(TextQueries.qualityScore(col("text"))).as("u"))
          .select(col("u"), isDup)
          .groupBy(col("u"))
          .agg(count(lit(1)).as("n_all"), sum(col("d")).as("n_pos"))
          .withColumn("n_neg", col("n_all") - col("n_pos"))
          .withColumn("b", expr("u div 10000"))
        val bkt = ProfilingQueries.bucketOffsets(hist, Nil, "b", weight = sum(col("n_pos")))
        val wIn = Window.partitionBy(col("b")).orderBy(col("u"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val terms = hist
          .withColumn("in_below", coalesce(sum(col("n_pos")).over(wIn), lit(0L)))
          .join(broadcast(bkt.select(col("b"), col("off"))), Seq("b"))
          .select(col("n_pos"), col("n_neg"),
            // the term and everything downstream in DECIMAL(38,0):
            // n_neg·(2·posBelow+n_pos) wraps BIGINT silently (non-ANSI)
            // once n_pos·n_neg ≈ 9.2e18 territory is approached — at
            // ~3M dups × 3M clean the u2·500000 product is already
            // past 2^63 while the oracle's HUGEINT sails on. Decimal
            // on the Spark side restores the "every term exact" claim
            // at 100 TB; the quotient is cast back to BIGINT (auc is
            // ≤ 10^6 micro-points, always representable).
            (col("n_neg").cast("decimal(38,0)") *
              (lit(2L) * (col("off") + col("in_below")) +
              col("n_pos"))).as("t"))
        terms.agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
            sum(col("t")).as("u2"))
          .select(col("n_pos"), col("n_neg"),
            when(col("n_pos") === 0L || col("n_neg") === 0L, lit(0L))
              .otherwise(expr(
                "CAST((u2 * CAST(500000 AS DECIMAL(38,0))) div " +
                  "(CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"))
              .as("auc_micro"))
      },
      Some(s"""${dupLabelledCteSql(
                   s"${QueryDef.microPointsSql(TextQueries.qualityScoreSql("text", "t"))} AS u")},
             |hist AS (
             |  SELECT u, COUNT(*) AS n_all,
             |    CAST(SUM($isDupSql) AS BIGINT) AS n_pos
             |  FROM d JOIN g USING (fp) GROUP BY 1),
             |h2 AS (
             |  SELECT u, n_pos, n_all - n_pos AS n_neg, u // 10000 AS b FROM hist),
             |bkt AS (
             |  SELECT b, COALESCE(SUM(SUM(n_pos)) OVER (ORDER BY b
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bkt_below
             |  FROM h2 GROUP BY b),
             |terms AS (
             |  SELECT h2.n_pos, h2.n_neg,
             |    CAST(h2.n_neg AS HUGEINT) * (2 * (bkt.bkt_below +
             |      COALESCE(SUM(h2.n_pos) OVER (PARTITION BY h2.b ORDER BY h2.u
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) +
             |      h2.n_pos) AS t
             |  FROM h2 JOIN bkt USING (b))
             |SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
             |  CAST(SUM(n_neg) AS BIGINT) AS n_neg,
             |  CAST(CASE WHEN SUM(n_pos) = 0 OR SUM(n_neg) = 0 THEN 0
             |    ELSE (SUM(t) * CAST(500000 AS HUGEINT))
             |      // (CAST(SUM(n_pos) AS HUGEINT) * SUM(n_neg))
             |    END AS BIGINT) AS auc_micro
             |FROM terms""".stripMargin)),

    // per-SOURCE distribution drift — Pearson χ² of each source's
    // unigram distribution against the corpus-wide one, the skewed-/
    // broken-source detector a 100 TB multi-source ingest runs before
    // mixing (a crawler gone wrong shows up as a χ² outlier long
    // before eyeballing samples would catch it). χ² instead of KL/JS
    // BY DESIGN: no transcendental ever runs — log differs in the last
    // ulp across engines, while (o−e)²/e is three IEEE ops of one
    // fixed shape. The per-source sum folds over the TOKEN-SORTED term
    // list (struct sort → strict left fold, the foldSum contract) so
    // partial-agg order can never perturb the double.
    //
    // 100 TB shape: the exploded token stream collapses immediately to
    // (source, token) counts (map-side combinable, the word-count
    // shape); the global token counts join co-keyed on token (vocab-
    // scale, the lm_perplexity discipline — never broadcast), while
    // per-source totals and the 1-row corpus total ARE broadcast. The
    // fold runs on |vocab|-length arrays per source.
    QueryDef("source_divergence",
      (s, dir) => {
        val tok = Tables(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("token"))
        val o = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("o"))
        val g = tok.groupBy(col("token")).agg(count(lit(1)).as("g"))
        val ns = tok.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
        val tot = tok.agg(count(lit(1)).as("n"))
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        val terms = o.join(g, Seq("token"))
          .join(broadcast(ns), Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("e", d(col("n_s")) * d(col("g")) / d(col("n")))
          .withColumn("dv", d(col("o")) - col("e"))
          .withColumn("term", col("dv") * col("dv") / col("e"))
        terms.groupBy(col("source"))
          .agg(max(col("n_s")).as("n_tokens"),
            sort_array(collect_list(struct(col("token"), col("term")))).as("l"))
          .select(col("source"), col("n_tokens"),
            QueryDef.microPoints(
              foldSum(transform(col("l"), x => x.getField("term"))))
              .as("chi2_micro"))
      },
      Some(s"""WITH tok AS (
             |  SELECT source, unnest(${tokensSql("text")}) AS token
             |  FROM documents),
             |o AS (SELECT source, token, COUNT(*) AS o FROM tok GROUP BY 1, 2),
             |g AS (SELECT token, COUNT(*) AS g FROM tok GROUP BY 1),
             |ns AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n FROM tok),
             |terms AS (
             |  SELECT o.source, o.token, ns.n_s,
             |    (CAST(o.o AS DOUBLE) - CAST(ns.n_s AS DOUBLE) * CAST(g.g AS DOUBLE) / CAST(tot.n AS DOUBLE))
             |    * (CAST(o.o AS DOUBLE) - CAST(ns.n_s AS DOUBLE) * CAST(g.g AS DOUBLE) / CAST(tot.n AS DOUBLE))
             |    / (CAST(ns.n_s AS DOUBLE) * CAST(g.g AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS term
             |  FROM o JOIN g USING (token) JOIN ns USING (source), tot)
             |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
             |  ${QueryDef.microPointsSql(
                  "list_reduce(list_prepend(0.0, list(term ORDER BY token, term)), (a, b) -> a + b)")} AS chi2_micro
             |FROM terms GROUP BY source""".stripMargin)),

    // exact PHRASE search — the positional retrieval capability BM25's
    // bag-of-words scoring cannot express ("batch stream" as adjacent
    // tokens, not co-occurrence). Token adjacency is ONE codegen'd
    // array expression per doc (filter over the 1..n−1 position range,
    // guarded: `sequence(1, 0)` DESCENDS on a 1-token doc — the
    // recorded trap), so matching runs at scan speed with zero shuffle
    // and zero token explode. At serving scale the same adjacency
    // predicate probes a PREBUILT positional postings index (term →
    // (doc, pos) lists, the `bm25_search` df machinery widened with
    // positions) instead of scanning the corpus — the scan form here is
    // the right plan for a one-off analytical pass, the index for
    // repeated queries.
    QueryDef("phrase_search",
      (s, dir) => {
        val t = tokens(col("text"))
        val ps = when(size(t) >= 2,
          filter(sequence(lit(1), size(t) - 1),
            i => element_at(t, i) === lit(PhraseW1) &&
              element_at(t, i + 1) === lit(PhraseW2)))
          .otherwise(array().cast("array<int>"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), ps.as("ps"))
          .filter(size(col("ps")) > 0)
          .select(col("doc_id"),
            size(col("ps")).cast("long").as("n_hits"),
            element_at(col("ps"), 1).cast("long").as("first_pos"))
      },
      Some(s"""$toksCte,
             |m AS (
             |  SELECT doc_id, list_filter(range(1, len(t)),
             |    i -> t[CAST(i AS INTEGER)] = '$PhraseW1'
             |         AND t[CAST(i AS INTEGER) + 1] = '$PhraseW2') AS ps
             |  FROM toks)
             |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_hits,
             |  CAST(ps[1] AS BIGINT) AS first_pos
             |FROM m WHERE len(ps) > 0""".stripMargin)),

    // lexical retrieval: BM25-shaped top-k per query over the corpus
    // ([[bmRanked]]) — the term-based complement of the embedding ANN
    // family. The oracle is the single per-query window.
    QueryDef("bm25_search",
      (s, dir) => bmRanked(s, dir),
      Some(bmRankedSql)),

    // Retrieval rank-evaluation (MRR@k / P@k) of the BM25 ranking —
    // the eval harness a retrieval stack ships with, on the SAME
    // ranking frame `bm25_search` serves ([[bmRanked]]: an eval that
    // re-derives its subject can drift). Relevance truth is
    // deterministic exact-PHRASE containment (the query terms ADJACENT
    // and in order — `phrase_search`'s adjacency test): an order-
    // sensitive truth judged against an order-blind bag-of-words
    // ranker is exactly the precision gap this eval exists to measure
    // (boolean-AND truth saturated at P@k = k/k on this corpus —
    // BM25's high-tf favorites all contained both terms somewhere).
    // Per query:
    //   n_relevant   — corpus-wide relevant count (the recall base),
    //   rel_in_top   — relevant docs inside the served top-[[BmTopK]]
    //                  (P@k numerator; k is constant so the ratio adds
    //                  nothing the count doesn't),
    //   first_rank   — rank of the first relevant doc (0 = none),
    //   rr_micro     — reciprocal rank in exact integer micro-points
    //                  (10^6 div first_rank; the MRR@k convention
    //                  scores a miss as 0).
    // Scale shape: the ranked frame is ≤ |queries|·k rows and
    // BROADCASTS into the corpus-sized relevance scan (the corpus is
    // scanned once, never shuffled); the per-query rollups are
    // map-side-combinable counters.
    QueryDef("retrieval_mrr",
      (s, dir) => {
        // phrase containment as ONE codegen'd regex per query: tokens
        // are the maximal [a-z0-9]+ runs of lower(text), so "terms
        // adjacent in token space" is EXACTLY "term, ≥1 non-token
        // chars, term" with non-token (or edge) boundaries — the
        // phrase_search adjacency semantics without the interpreted
        // exists-over-positions fold (measured 9.2 s → sub-second at
        // sf0.1; query terms are [a-z0-9]+ literals, regex-metachar-free
        // by construction)
        val relCols = BmQueries.map { case (qn, ts) =>
          lower(col("text")).rlike(phraseRegex(ts)).cast("long").as(s"rel_$qn")
        }
        val rel = Tables(s, dir, "documents")
          .select(col("doc_id") +: relCols: _*)
        val stackExpr = BmQueries.map { case (qn, _) => s"'$qn', rel_$qn" }.mkString(", ")
        val relLong = rel.selectExpr("doc_id",
            s"stack(${BmQueries.size}, $stackExpr) AS (query, is_rel)")
          .filter(col("is_rel") === 1L)
        val nRel = relLong.groupBy(col("query"))
          .agg(count(lit(1)).as("n_relevant"))
        val served = bmRanked(s, dir).select(col("query"), col("rank"), col("doc_id"))
        val inTop = relLong.join(broadcast(served), Seq("query", "doc_id"))
          .groupBy(col("query"))
          .agg(count(lit(1)).as("rel_in_top"),
            min(col("rank")).as("first_rank_raw"))
        nRel.join(inTop, Seq("query"), "left_outer")
          .select(col("query"), col("n_relevant"),
            coalesce(col("rel_in_top"), lit(0L)).as("rel_in_top"),
            coalesce(col("first_rank_raw"), lit(0L)).as("first_rank"),
            coalesce(expr("1000000 div first_rank_raw"), lit(0L)).as("rr_micro"))
      },
      Some {
        val relQ = BmQueries.map { case (qn, ts) =>
          s"SELECT doc_id, '$qn' AS query FROM documents " +
            s"WHERE regexp_matches(lower(text), '${phraseRegex(ts)}')"
        }.mkString("\n  UNION ALL ")
        s"""WITH rel AS (
           |  $relQ),
           |nrel AS (SELECT query, COUNT(*) AS n_relevant FROM rel GROUP BY 1),
           |served AS (SELECT query, rank, doc_id FROM ($bmRankedSql) b),
           |intop AS (
           |  SELECT r.query, CAST(COUNT(*) AS BIGINT) AS rel_in_top,
           |    CAST(MIN(s.rank) AS BIGINT) AS first_rank_raw
           |  FROM rel r JOIN served s ON s.query = r.query AND s.doc_id = r.doc_id
           |  GROUP BY r.query)
           |SELECT n.query, n.n_relevant,
           |  COALESCE(i.rel_in_top, 0) AS rel_in_top,
           |  COALESCE(i.first_rank_raw, 0) AS first_rank,
           |  COALESCE(1000000 // i.first_rank_raw, 0) AS rr_micro
           |FROM nrel n LEFT JOIN intop i ON i.query = n.query""".stripMargin
      }),

    // Per-domain quality quota — "keep the best ⌈25%⌉ of each
    // language", the selection step a curation pipeline runs after
    // scoring. The obvious window (row_number PARTITION BY lang) puts
    // an entire language in ONE task; this ranks by
    // [[ProfilingQueries.bucketedRank]] over descending score bands
    // (micro-points div 50k). The quota cut 4·rank ≤ n+3 (⟺ rank ≤
    // ⌈n/4⌉) is pure BIGINT arithmetic, deterministic under the
    // (qm desc, doc_id) total order on both engines.
    QueryDef("curation_quota",
      (s, dir) => {
        val qm = QueryDef.microPoints(
          graft.queries.TextQueries.qualityScore(col("text")))
        // eager: the scored frame feeds the offsets aggregation AND the
        // main join/window, and its qualityScore text pass is the
        // expensive stage
        val scored = QueryDef.eager(ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("lang"), qm.as("qm"))
          .withColumn("bkt", floor(col("qm") / lit(50000.0)).cast("long")))
        ProfilingQueries.bucketedRank(scored, Seq("lang"), "bkt",
            Seq(col("qm").desc, col("doc_id")), descending = true, withTotal = true)
          .filter(col("rnk") * 4 <= col("n") + 3)
          .select(col("doc_id"), col("lang"), col("qm"))
      },
      Some {
        val qmSql = QueryDef.microPointsSql(
          graft.queries.TextQueries.qualityScoreSql("text", "t"))
        s"""$toksCte,
           |q AS (SELECT doc_id, lang, $qmSql AS qm FROM toks),
           |r AS (SELECT doc_id, lang, qm,
           |    CAST(row_number() OVER (PARTITION BY lang ORDER BY qm DESC, doc_id) AS BIGINT) AS rnk,
           |    count(*) OVER (PARTITION BY lang) AS n
           |  FROM q)
           |SELECT doc_id, lang, qm FROM r WHERE rnk * 4 <= n + 3""".stripMargin
      }),

    // CCNet-style LM-perplexity quality filter (Wenzek et al. 2020):
    // score each document by mean negative log-probability under a
    // FROZEN bigram LM with add-one smoothing, trained on the corpus
    // itself, and keep documents under a fixed threshold. All scores
    // are integer micro-nats ([[QueryDef.microPoints]] of each
    // bigram's −ln p — one scalar per distinct (c_ab, c_a) integer
    // pair, so both engines round the same doubles) and the keep
    // decision is the exact integer cross-multiplication
    // sum ≤ thr·n — no float accumulation anywhere.
    //
    // Distributed shape, sized for 100 TB: the bigram model is
    // corpus-VOCAB-scale (~1e8-1e9 rows at 100 TB) so it is NEVER
    // broadcast — scoring joins doc-bigrams to the model co-keyed on
    // (w1, w2), both sides shuffle-partitioned the same way. Four
    // keyed shuffles of decreasing size (bigram count, unigram count,
    // score join, per-doc rollup); the vocabulary-size scalar is the
    // BM25 1-row-broadcast pattern; zero windows, zero driver data.
    // The shared doc-bigram frame feeds three concurrent subtrees of
    // one plan → [[QueryDef.eager]].
    QueryDef("lm_perplexity_filter",
      (s, dir) => {
        val t = tokens(col("text"))
        val docs = ProfilingQueries.widened(Tables(s, dir, "documents"))
        val bigrams = QueryDef.eager(docs.select(col("doc_id"),
            explode(when(size(t) >= 2,
              transform(sequence(lit(1), size(t) - 1),
                i => struct(element_at(t, i).as("w1"),
                  element_at(t, i + 1).as("w2"))))
              .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
              .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
        val cab = bigrams.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c_ab"))
        val ca = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c_a"))
        val v = bigrams.select(col("w1").as("w"))
          .union(bigrams.select(col("w2").as("w")))
          .agg(count_distinct(col("w")).as("v"))
        val model = cab.join(ca, "w1").crossJoin(broadcast(v))
          .select(col("w1"), col("w2"),
            QueryDef.microPoints(
              -log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v"))))
              .as("nlp_u"))
        val scored = bigrams.join(model, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bg"), sum(col("nlp_u")).as("sum_nlp_u"))
        docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bg"), lit(0L)).as("n_bg"),
            coalesce(col("sum_nlp_u"), lit(0L)).as("sum_nlp_u"))
          .withColumn("keep", col("n_bg") > 0 &&
            col("sum_nlp_u") <= lit(LmNlpThresholdMicro) * col("n_bg"))
      },
      Some(s"""$toksCte,
              |dbg AS (
              |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
              |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
              |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
              |    FROM toks)),
              |cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM dbg GROUP BY 1, 2),
              |ca AS (SELECT w1, COUNT(*) AS c_a FROM dbg GROUP BY 1),
              |vv AS (SELECT COUNT(DISTINCT w) AS v FROM (
              |  SELECT w1 AS w FROM dbg UNION ALL SELECT w2 AS w FROM dbg)),
              |model AS (
              |  SELECT cab.w1, cab.w2,
              |    ${QueryDef.microPointsSql("-ln((c_ab + 1.0) / (c_a + vv.v))")} AS nlp_u
              |  FROM cab JOIN ca ON cab.w1 = ca.w1, vv),
              |scored AS (
              |  SELECT d.doc_id, COUNT(*) AS n_bg,
              |    CAST(SUM(m.nlp_u) AS BIGINT) AS sum_nlp_u
              |  FROM dbg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
              |  GROUP BY 1)
              |SELECT t.doc_id, COALESCE(s.n_bg, 0) AS n_bg,
              |  COALESCE(s.sum_nlp_u, 0) AS sum_nlp_u,
              |  COALESCE(s.n_bg, 0) > 0 AND
              |    COALESCE(s.sum_nlp_u, 0) <= $LmNlpThresholdMicro * COALESCE(s.n_bg, 0) AS keep
              |FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id""".stripMargin)),

    // Gopher rule battery (Rae et al. 2021 §A1.1): the NAMED hard
    // pass/fail heuristics a curation pipeline runs before any
    // model-based filter — word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio (# and ellipsis), alphabetic-word fraction,
    // minimum stopword evidence. Complements text_quality (soft score)
    // and text_repetition (the Gopher repetition rules): here every
    // rule is a separate auditable flag plus the composed keep, and
    // every comparison is an integer cross-multiplication (mean length
    // in [3,10] is 3·n_words ≤ n_chars ≤ 10·n_words — no float ratio
    // ever materializes, so the oracle is bit-exact). The synthetic
    // corpus is symbol- and digit-free, so 1-in-7 docs (doc_id-keyed,
    // the text_redact augmentation trick) get a deterministic tail of
    // digit words + # / … noise appended BEFORE filtering — each rule
    // then splits the corpus on both engines instead of vacuously
    // passing. Scale: narrow codegen'd expressions, zero shuffles,
    // scan speed at 100 TB.
    QueryDef("gopher_rules",
      (s, dir) => gopherFlags(s, dir),
      Some(s"""$gopherFlagsCteSql
              |SELECT doc_id, r_words, r_word_len, r_alpha, r_symbol,
              |  r_stopwords, keep
              |FROM flags""".stripMargin)),

    // FILTER ABLATION — the rule-attribution audit run before any
    // filter stack gates a corpus: per Gopher rule, how many documents
    // fail it at all (n_fail) and how many fail ONLY it
    // (n_unique_fail — exactly the documents recovered if that one
    // rule were dropped, its true marginal cost). The two diverge
    // wildly in practice: a rule can fail 30% of the corpus yet gate
    // almost nothing uniquely (its rejects also fail other rules),
    // while a quiet rule silently owns a large unique slice —
    // dropping the wrong one is how curation pipelines lose data or
    // keep garbage. Shares in exact per-mille of total rejections.
    // Plan: rides [[gopherFlags]] (scan-speed boolean derivation, zero
    // joins), ONE single-row aggregate carrying 11 counters, then a
    // 5-row stack — nothing corpus-sized shuffles; at 100 TB this is
    // a scan plus 11 longs on the wire.
    QueryDef("filter_ablation",
      (s, dir) => {
        val rules = Seq("words", "word_len", "alpha", "symbol", "stopwords")
        def rcol(r: String) = col(s"r_$r")
        val aggs = rules.flatMap { r =>
          val others = rules.filterNot(_ == r).map(rcol).reduce(_ * _)
          Seq(sum(lit(1L) - rcol(r)).as(s"f_$r"),
            sum((lit(1L) - rcol(r)) * others).as(s"u_$r"))
        } :+ sum(lit(1L) - col("keep")).as("n_reject")
        val stackExpr = rules
          .map(r => s"'$r', f_$r, u_$r")
          .mkString(s"stack(${rules.size}, ", ", ", ") AS (rule, n_fail, n_unique_fail)")
        gopherFlags(s, dir)
          .agg(aggs.head, aggs.tail: _*)
          .select(expr(stackExpr), col("n_reject"))
          .withColumn("uniq_share_mille",
            when(col("n_reject") > 0L,
              expr("n_unique_fail * 1000 div n_reject")).otherwise(lit(0L)))
      },
      Some {
        val rules = Seq("words", "word_len", "alpha", "symbol", "stopwords")
        val sums = rules.flatMap { r =>
          val others = rules.filterNot(_ == r).map(o => s"r_$o").mkString(" * ")
          Seq(s"CAST(SUM(1 - r_$r) AS BIGINT) AS f_$r",
            s"CAST(SUM((1 - r_$r) * $others) AS BIGINT) AS u_$r")
        } :+ "CAST(SUM(1 - keep) AS BIGINT) AS n_reject"
        val arms = rules.map { r =>
          s"""SELECT '$r' AS rule, f_$r AS n_fail, u_$r AS n_unique_fail, n_reject,
             |  CAST(CASE WHEN n_reject > 0 THEN u_$r * 1000 // n_reject
             |       ELSE 0 END AS BIGINT) AS uniq_share_mille
             |FROM a""".stripMargin
        }
        s"""$gopherFlagsCteSql,
           |a AS (SELECT ${sums.mkString(",\n  ")} FROM flags)
           |${arms.mkString("\nUNION ALL\n")}""".stripMargin
      }),

    // DSIR-shaped data selection (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023):
    // score every document by how much its hashed-unigram profile
    // resembles a target domain (here: the English subcorpus) relative
    // to the raw corpus, then keep the top-K. The published method
    // sums log-likelihood ratios over hashed n-gram buckets; this
    // engine-exact variant sums Laplace-smoothed RATIO weights in
    // integer parts-per-million — ((tgt_b+1)·1e6) div (raw_b+1), pure
    // integer arithmetic both engines reproduce bit-for-bit (the same
    // rational-surrogate policy as BM25's log-free idf, documented
    // there) — so ranking favors the same target-heavy buckets while
    // the oracle stays a hash-match. Scale shape: bucket profiles are
    // two map-side-combinable counts into B=64 cells; the per-doc
    // score joins token occurrences against the broadcast 64-row
    // weight table and sums BIGINTs at scan speed; top-K is
    // TakeOrderedAndProject (no global sort materializes). The hashed
    // feature space is what makes DSIR run at 100 TB: the model is B
    // integers, never a vocabulary.
    QueryDef("dsir_select",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("tok"))
          .withColumn("b", pmod(portableHash(col("tok"), 97), lit(DsirBuckets.toLong)))
        val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("raw"))
        val tgt = toks.filter(col("lang") === DsirTargetLang)
          .groupBy(col("b")).agg(count(lit(1)).as("tgt"))
        val w = raw.join(tgt, Seq("b"), "left_outer")
          .select(col("b"),
            expr("((coalesce(tgt, 0) + 1) * 1000000) div (raw + 1)").as("w"))
        toks.join(broadcast(w), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("w")).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(DsirTopK)
      },
      Some {
        val h = portableHashSql("tok", 97)
        s"""WITH tk AS (
           |  SELECT doc_id, lang,
           |    unnest(${tokensSql("text")}) AS tok
           |  FROM documents),
           |bk AS (SELECT doc_id, lang, $h % $DsirBuckets AS b FROM tk),
           |raw AS (SELECT b, count(*) AS raw FROM bk GROUP BY 1),
           |tgt AS (SELECT b, count(*) AS tgt FROM bk WHERE lang = '$DsirTargetLang' GROUP BY 1),
           |w AS (
           |  SELECT raw.b, ((coalesce(tgt.tgt, 0) + 1) * 1000000) // (raw.raw + 1) AS w
           |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b),
           |sc AS (
           |  SELECT doc_id, SUM(w.w) AS score
           |  FROM bk JOIN w ON w.b = bk.b GROUP BY 1)
           |SELECT doc_id, CAST(score AS BIGINT) AS score
           |FROM sc ORDER BY score DESC, doc_id LIMIT $DsirTopK""".stripMargin
      }),

    // Corpus-level boilerplate-line removal — the C4 rule (Raffel 2020
    // §2.1: drop any line occurring ≥3 times in the corpus; nav menus,
    // cookie banners and footers repeat, natural text does not) /
    // CCNet's paragraph-hash dedup (Wenzek 2020 §3.1), applied with
    // per-document reconstruction so the output is a CLEANED CORPUS,
    // not just a report. The testdata's documents are single-line, so
    // the query first reshapes each doc deterministically (newline
    // after every $BoilerWords-th word — the same regex, character for
    // character, on both engines); on real web data the splitter is the
    // document's own newlines and the reshape step disappears.
    //
    // Scale shape (the whole point at 100 TB): exactly TWO corpus
    // scans and TWO shuffles, the floor for any corpus-stats-then-apply
    // operator (the stats pass must finish before the apply pass can
    // decide anything):
    //  - line frequency: corpus lines shuffle ONCE keyed by a 16-byte
    //    md5 fingerprint (never the line text — the engine's dedup
    //    fingerprint discipline), partial-aggregated map-side; the
    //    distinct-doc count is exact, not approximate.
    //  - the boilerplate SET (lines with ≥$BoilerMinDocs distinct docs)
    //    is the nav/banner tail — orders of magnitude smaller than the
    //    corpus, so the marker join broadcasts it (AQE picks that up
    //    from the runtime size; no hint needed, and none wanted: a
    //    pathological corpus where half the lines are boilerplate must
    //    fall back to a shuffle join, not OOM the executors).
    //  - ONE doc_id-keyed shuffle folds the per-doc accounting AND the
    //    reconstruction: total/kept counts and the ordered rebuild all
    //    ride a single groupBy over marker-flagged lines (sorted
    //    (pos, line) structs per doc, never a global sort) — no third
    //    scan for totals, no join-back, and fully-boilerplate docs
    //    stay in the frame with kept_lines=0 instead of needing an
    //    outer join to reappear.
    // Output is gate-friendly accounting + an md5 of the rebuilt text
    // (md5 is bit-identical across engines; the cleaned text itself
    // would bloat the compare at higher SFs).
    QueryDef("boilerplate_lines",
      (s, dir) => {
        val lines = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            regexp_replace(col("text"), BoilerReshapeRe, "$1\n").as("t"))
          .select(col("doc_id"),
            posexplode(split(col("t"), "\n", -1)).as(Seq("pos", "line")))
        boilerplateMark(lines, BoilerMinDocs)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(lit(1L) - col("is_boiler")).as("kept_lines"),
            array_join(
              transform(
                filter(
                  array_sort(collect_list(
                    struct(col("pos"), col("line"), col("is_boiler")))),
                  x => x.getField("is_boiler") === 0L),
                x => x.getField("line")),
              "\n").as("cleaned"))
          .select(col("doc_id"), col("kept_lines"),
            (col("n_lines") - col("kept_lines")).as("removed_lines"),
            md5(col("cleaned")).as("cleaned_md5"))
      },
      Some(s"""WITH reshaped AS (
              |  SELECT doc_id,
              |    regexp_replace(text, '$BoilerReshapeRe', '\\1' || chr(10), 'g') AS t
              |  FROM documents),
              |lines AS (
              |  SELECT doc_id,
              |    unnest(string_split(t, chr(10))) AS line,
              |    generate_subscripts(string_split(t, chr(10)), 1) AS pos
              |  FROM reshaped),
              |boiler AS (
              |  SELECT line FROM lines WHERE trim(line) <> ''
              |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= $BoilerMinDocs),
              |kept AS (
              |  SELECT doc_id, pos, line FROM lines
              |  WHERE line NOT IN (SELECT line FROM boiler)),
              |rebuilt AS (
              |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_lines,
              |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
              |  FROM kept GROUP BY doc_id),
              |tot AS (
              |  SELECT doc_id,
              |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines
              |  FROM reshaped)
              |SELECT t.doc_id,
              |  COALESCE(r.kept_lines, 0) AS kept_lines,
              |  t.n_lines - COALESCE(r.kept_lines, 0) AS removed_lines,
              |  md5(COALESCE(r.cleaned, '')) AS cleaned_md5
              |FROM tot t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id""".stripMargin))
  ) :+ rankNormalizeDef :+ budgetApportionDef

  /** Core of `boilerplate_lines`: given a (doc_id, pos, line) frame,
    * flag (`is_boiler` = 1) every non-blank line that occurs in
    * ≥ minDocs DISTINCT documents. The frequency pass and the marker
    * join are both keyed on the 16-byte md5 fingerprint of the line,
    * never the line text — shuffle bytes stay bounded however long the
    * boilerplate lines run (the corpus-dedup key discipline; a 128-bit
    * collision is below hardware-error probability). Blank lines are
    * never boilerplate (C4 counts content lines only). Returning a
    * MARKER instead of a filtered frame lets the caller fold kept
    * counts, totals and reconstruction into one aggregation. */
  private[graft] def boilerplateMark(
      lines: org.apache.spark.sql.DataFrame,
      minDocs: Int): org.apache.spark.sql.DataFrame = {
    val boiler = lines
      .filter(trim(col("line")) =!= "")
      .groupBy(unhex(md5(col("line"))).as("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs.toLong)
      .select(col("fp"), lit(1L).as("is_boiler"))
    lines
      .withColumn("fp", unhex(md5(col("line"))))
      .join(boiler, Seq("fp"), "left_outer")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(0L)))
      .drop("fp")
  }

  /** `boilerplateMark` filtered to surviving lines — the drop-the-
    * boilerplate view BoilerplateSpec pins rule semantics on. */
  private[graft] def boilerplateClean(
      lines: org.apache.spark.sql.DataFrame,
      minDocs: Int): org.apache.spark.sql.DataFrame =
    boilerplateMark(lines, minDocs)
      .filter(col("is_boiler") === 0L).drop("is_boiler")

  /** `boilerplate_lines` reshape contract: a synthetic newline after
    * every [[BoilerWords]]-th word turns the single-line testdata into
    * multi-line documents; [[BoilerMinDocs]] distinct docs is C4's ≥3.
    * At 4 words/line the boilerplate set is non-degenerate at every
    * testdata SF (measured 48/47/519 repeated lines at sf0.001/0.01/
    * 0.1) without collapsing the corpus (≤1% of lines at sf0.01).
    * Defs, not vals (defs-init-order contract). */
  private def BoilerWords = 4
  private def BoilerMinDocs = 3

  /** The reshape regex, shared Spark/DuckDB character for character:
    * capture $BoilerWords space-separated words, consume the following
    * space; the engines' replacement syntax differs (`$$1` vs `\1`) but
    * the pattern, greediness and resume-after-match semantics agree
    * (leftmost, non-overlapping, no backtracking-dependent constructs). */
  private def BoilerReshapeRe = s"((\\S+ ){${BoilerWords - 1}}\\S+) "

  /** `dsir_select` contract constants: B hashed buckets (the model
    * size — B integers, vocabulary-free), the target subcorpus
    * predicate, and the selection size. */
  private[graft] def DsirBuckets: Int = 64
  private[graft] def DsirTargetLang: String = "en"
  private[graft] def DsirTopK: Int = 100

  /** `token_budget_apportion` slot budget. */
  private[graft] def BudgetSlots: Long = 1000000L

  /** Token-budget apportionment across languages by Hamilton's
    * largest-remainder method — the planning step that turns "train on
    * B tokens" into exact per-language allocations: float-proportional
    * splits don't sum to B (rounding drift compounds across hundreds
    * of sources); largest-remainder is the classic apportionment
    * algorithm whose allocations are integers that sum to EXACTLY B by
    * construction. base = (B·c_l) div T with the product carried in
    * DECIMAL(38,0)/HUGEINT (BIGINT wraps past ~9.2e12 tokens per
    * language — under a 100 TB corpus's ~2.5e13), remainders ranked
    * (rem DESC, lang ASC), the leftover r = B − Σ base slots go one
    * each to the top-r remainders. Everything is BIGINT products over
    * a |languages|-row frame — the corpus is scanned once for token
    * counts and never again. */
  private[graft] def budgetApportionDef: QueryDef =
    QueryDef("token_budget_apportion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables(s, dir, "documents")
          .select(col("lang"), explode(tokens(col("text"))).as("tk"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_tokens"))
        val tot = counts.agg(sum(col("n_tokens")).as("t"))
        val base = counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_tokens"),
            // B·c_l in DECIMAL(38,0) (HUGEINT in the oracle): the
            // 10^6-slot budget times a language's token count wraps
            // BIGINT past ~9.2e12 tokens — a 100 TB corpus holds
            // ~2.5e13, exactly the scale the apportionment is for
            expr(s"CAST((CAST($BudgetSlots AS DECIMAL(38,0)) * n_tokens) div t AS BIGINT)")
              .as("base_quota"),
            expr(s"CAST((CAST($BudgetSlots AS DECIMAL(38,0)) * n_tokens) % t AS BIGINT)")
              .as("rem"))
        val wRem = Window.orderBy(col("rem").desc, col("lang"))
        val wAll = Window.partitionBy()
        base
          .withColumn("r", lit(BudgetSlots) - sum(col("base_quota")).over(wAll))
          .withColumn("rk", row_number().over(wRem))
          .select(col("lang"), col("n_tokens"), col("base_quota"),
            when(col("rk") <= col("r"), 1L).otherwise(0L).as("extra"))
          .withColumn("alloc", col("base_quota") + col("extra"))
      },
      Some(s"""WITH tk AS (
              |  SELECT lang, unnest(${tokensSql("text")}) AS tok
              |  FROM documents),
              |counts AS (SELECT lang, COUNT(*) AS n_tokens FROM tk GROUP BY 1),
              |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM counts),
              |base AS (
              |  SELECT lang, n_tokens,
              |    CAST((CAST($BudgetSlots AS HUGEINT) * n_tokens) // (SELECT t FROM tot) AS BIGINT) AS base_quota,
              |    CAST((CAST($BudgetSlots AS HUGEINT) * n_tokens) % (SELECT t FROM tot) AS BIGINT) AS rem
              |  FROM counts),
              |rk AS (
              |  SELECT *,
              |    $BudgetSlots - SUM(base_quota) OVER () AS r,
              |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
              |  FROM base)
              |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(base_quota AS BIGINT) AS base_quota,
              |  CAST(CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra,
              |  CAST(base_quota + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc
              |FROM rk""".stripMargin))

  /** Percentile-rank normalization per source — the cross-source
    * comparability step before any global threshold touches
    * heterogeneous feeds (a "long" doc from a tweets source and a
    * "long" doc from a books source live on different raw scales;
    * their PERCENTILES are comparable). pct_ppm = (#strictly-smaller
    * in source)·1e6 div (n_source − 1), min-rank ties, pure BIGINT.
    * Plan: the per-source (value → count) histogram's offsets
    * ([[ProfilingQueries.bucketOffsets]], every distinct value its own
    * bucket) joined back to the scan. Single-doc sources pin to 0
    * (greatest guard, not a div-0). */
  private[graft] def rankNormalizeDef: QueryDef =
    QueryDef("score_rank_normalize",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val offsets = ProfilingQueries.bucketOffsets(docs, Seq("source"), "n_chars",
          withTotal = true)
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .join(offsets, Seq("source", "n_chars"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            expr("(off * 1000000) div greatest(n - 1, 1)").as("pct_ppm"))
      },
      Some("""WITH hist AS (
             |  SELECT source, n_chars, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |off AS (
             |  SELECT source, n_chars, c,
             |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
             |    SUM(c) OVER (PARTITION BY source) AS n_src
             |  FROM hist)
             |SELECT d.doc_id, d.source, d.n_chars,
             |  CAST((below * 1000000) // greatest(n_src - 1, 1) AS BIGINT) AS pct_ppm
             |FROM documents d JOIN off
             |  ON off.source = d.source AND off.n_chars = d.n_chars""".stripMargin))

  /** Deterministic augmentation tail for `gopher_rules`: three digit
    * words (trip r_alpha on short docs) plus four `#` and two `…`
    * symbol tokens (trip r_symbol below 60 words). Symbol-only tokens
    * add no [a-z0-9]+ words, so n_words moves only by the digits. */
  private def GopherNoise = " 404 12345 67 # # # ... ... #"

  /** Per-doc Gopher rule flags (Rae 2021 §A1.1 shapes in exact integer
    * cross-multiplication) — the shared frame behind `gopher_rules`
    * (per-doc verdicts) and `filter_ablation` (rule attribution).
    * Keep [[gopherFlagsCteSql]] in lockstep term for term. */
  private def gopherFlags(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val aug = when(pmod(col("doc_id"), lit(7L)) === 0L,
      concat(col("text"), lit(GopherNoise))).otherwise(col("text"))
    val t = tokens(aug)
    val nWords = size(t).cast("long")
    // sum of token lengths == length of the delimiter-free join —
    // codegen'd string ops, no interpreted fold
    val nChars = length(concat_ws("", t)).cast("long")
    val nAlpha = size(filter(t, w => w.rlike("[a-z]"))).cast("long")
    val nSym = (size(regexp_extract_all(aug, lit("#"), lit(0))) +
      size(regexp_extract_all(aug, lit("\\.\\.\\."), lit(0)))).cast("long")
    val nStop = stopwordHits(t, stopwords.head._2).cast("long")
    val rWords = nWords >= 50L && nWords <= 100000L
    val rLen = nChars >= nWords * 3L && nChars <= nWords * 10L
    val rAlpha = nAlpha * 5L >= nWords * 4L
    val rSym = nSym * 10L <= nWords
    val rStop = nStop >= 2L
    Tables(s, dir, "documents").select(
      col("doc_id"),
      rWords.cast("long").as("r_words"),
      rLen.cast("long").as("r_word_len"),
      rAlpha.cast("long").as("r_alpha"),
      rSym.cast("long").as("r_symbol"),
      rStop.cast("long").as("r_stopwords"),
      (rWords && rLen && rAlpha && rSym && rStop)
        .cast("long").as("keep"))
  }

  /** Oracle CTE chain ending in
    * `flags(doc_id, r_words, r_word_len, r_alpha, r_symbol,
    * r_stopwords, keep)` — the DuckDB twin of [[gopherFlags]]. */
  private def gopherFlagsCteSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || '$GopherNoise'
       |         ELSE text END AS a
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    ${tokensSql("a")} AS t,
       |    CAST(len(regexp_extract_all(a, '#')) +
       |         len(regexp_extract_all(a, '\\.\\.\\.')) AS BIGINT) AS n_sym
       |  FROM aug),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(length(array_to_string(t, '')) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
       |    n_sym,
       |    CAST(${stopwordHitsSql("t", stopwords.head._2)} AS BIGINT) AS n_stop
       |  FROM f),
       |flags AS (
       |  SELECT doc_id,
       |    CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_words,
       |    CAST(n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS BIGINT) AS r_word_len,
       |    CAST(n_alpha * 5 >= n_words * 4 AS BIGINT) AS r_alpha,
       |    CAST(n_sym * 10 <= n_words AS BIGINT) AS r_symbol,
       |    CAST(n_stop >= 2 AS BIGINT) AS r_stopwords,
       |    CAST(n_words >= 50 AND n_words <= 100000
       |      AND n_chars >= n_words * 3 AND n_chars <= n_words * 10
       |      AND n_alpha * 5 >= n_words * 4
       |      AND n_sym * 10 <= n_words
       |      AND n_stop >= 2 AS BIGINT) AS keep
       |  FROM m)""".stripMargin

  /** lm_perplexity_filter keep threshold: mean negative log-prob ≤ 3.4
    * micro-nats… i.e. 3.4 nats (ppl ≈ 30) in integer micro-points.
    * Sits between the 25th and 75th percentile of per-doc scores at
    * every testdata SF (measured medians 3.388-3.401M), so the
    * decision SPLITS the corpus — the round-7 quality_classifier
    * lesson. A def (defs-init-order contract). */
  private def LmNlpThresholdMicro = 3400000L

  /** `phrase_search` query phrase: adjacent tokens with non-trivial hit
    * counts at every testdata SF (28/37/290 matching docs at
    * sf0.001/0.01/0.1). Defs, not vals (defs-init-order contract). */
  private def PhraseW1 = "batch"
  private def PhraseW2 = "stream"

  /** Priority sampling (Duffield–Lund–Thorup) over a
    * (lang, doc_id, n_chars) frame: k highest-priority docs per lang,
    * priority = n_chars / u with u the doc's content-hash uniform on a
    * 2^30 grid (salt 37). One ieee double division of two
    * exactly-representable integers — bit-identical on any engine.
    * Factored off the `weighted_sample` QueryDef so WeightedSampleSpec
    * can drive it on constructed weight distributions. */
  private[graft] def prioritySample(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val u1 = pmod(portableHash(col("doc_id").cast("string"), 37),
      lit(1073741824L)) + lit(1L)
    val p = col("n_chars").cast("double") / u1.cast("double")
    topK(docs.select(col("lang"), col("doc_id"), col("n_chars"), p.as("p")),
        Seq("lang"), Seq(col("p").desc, col("doc_id")), k, "rk")
      .select(col("lang"), col("doc_id"),
        col("n_chars").as("w"),
        QueryDef.microPoints(col("p")).as("pr_micro"),
        col("rk"))
  }
}
