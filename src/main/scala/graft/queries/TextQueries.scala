package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.queries.ProfilingQueries.{topK, topKSql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionScope

/** Text-analysis operators over the `documents` corpus — the
  * training-data-pipeline extensions (language-ID, quality scoring,
  * token counting, fingerprinting). All pure column expressions: one
  * narrow scan, no shuffle except where an aggregation is the point,
  * everything whole-stage-codegen'd — at 100 TB these run at scan speed.
  *
  * Every query has a DuckDB oracle; the shared contract (token regex,
  * portable md5 hash, fold order, rounding) lives in
  * [[graft.functions.TextFunctions]].
  */
object TextQueries {

  /** Oracle-side tokenized view of documents (also CurationQueries'). */
  private[queries] val toksCte =
    s"WITH toks AS (SELECT doc_id, text, lang, ${tokensSql("text")} AS t FROM documents)"

  /** Share of the raw text's characters that are neither alphanumeric
    * nor whitespace — a feature of [[qualityScore]], `text_quality` and
    * the quality classifier. [[punctRatioSql]] is its DuckDB twin. */
  private[queries] def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("long").cast("double") /
      greatest(length(text).cast("long"), lit(1L)).cast("double")

  private[queries] def punctRatioSql(text: String): String =
    s"CAST(len(regexp_extract_all($text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / CAST(greatest(length($text), 1) AS DOUBLE)"

  /** Share of the token array `t` that is an English stopword — the
    * other shared quality feature. [[stopRatioSql]] is its DuckDB twin. */
  private[queries] def stopRatio(t: Column): Column =
    stopwordHits(t, stopwords.head._2).cast("double") /
      greatest(size(t).cast("long"), lit(1L)).cast("double")

  private[queries] def stopRatioSql(t: String): String =
    s"CAST(${stopwordHitsSql(t, stopwords.head._2)} AS DOUBLE) / CAST(greatest(len($t), 1) AS DOUBLE)"

  /** Composite document quality score in [0, 1] — length, punctuation
    * and stopword-density features. Shared by `text_quality` and
    * `dedup_canonical` (canonical-doc selection ranks by it);
    * [[qualityScoreSql]] is its DuckDB twin. */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    round(
      least(size(t).cast("long").cast("double") / 50.0, lit(1.0)) * 0.3 +
        (lit(1.0) - punctRatio(text)) * 0.3 +
        least(stopRatio(t) * 5.0, lit(1.0)) * 0.4, 6)
  }

  /** DuckDB twin of [[qualityScore]]; `text` and `t` are SQL
    * expressions for the raw text and its token list. */
  def qualityScoreSql(text: String, t: String): String =
    s"""round(least(CAST(len($t) AS DOUBLE) / 50.0, 1.0) * 0.3
       |    + (1.0 - ${punctRatioSql(text)}) * 0.3
       |    + least(${stopRatioSql(t)} * 5.0, 1.0) * 0.4, 6)""".stripMargin

  /** The (freq DESC, tk) order of a unigram vocabulary, and its SQL
    * twin [[vocabOrderSql]]. */
  private def vocabOrder: Seq[Column] = Seq(col("freq").desc, col("tk"))
  private[queries] def vocabOrderSql: String = "ORDER BY freq DESC, tk"

  /** The top `n` of a `tk` token stream's unigram vocabulary as
    * (tk, freq) — vocab_top, vocab_zipf, freq_cm_sketch's probes and
    * oov_rate's dictionary. */
  private[queries] def topVocab(toks: DataFrame, n: Int): DataFrame =
    toks.groupBy(col("tk")).agg(count(lit(1)).as("freq"))
      .orderBy(vocabOrder: _*).limit(n)

  /** Per-(doc, token) counts (doc_id, tk, `name`) — doc_entropy's `c`,
    * tfidf_keywords' `tf` and collocations_lift's distinct (doc, token)
    * stream (the unused count is pruned from its plan). inverted_index
    * groups by (term, doc_id) instead and keeps its own chain (the key
    * order is in its plan). */
  private def docTokenCounts(docs: DataFrame, name: String): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as(name))

  /** Per-token document frequency `df` over a distinct (doc_id, tk)
    * stream such as [[docTokenCounts]]. */
  private def docFreqs(dt: DataFrame): DataFrame =
    dt.groupBy(col("tk")).agg(count(lit(1)).as("df"))

  val defs: Seq[QueryDef] = Seq(

    // token counting: whitespace-ish word tokens + BPE-ish sub-word
    // segmentation + mean token length
    QueryDef("text_tokens",
      (s, dir) => Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
          round(
            foldSum(transform(tokens(col("text")), t => length(t).cast("double"))) /
              greatest(size(tokens(col("text"))), lit(1)).cast("double"), 6)
            .as("avg_token_len")),
      Some(s"""$toksCte
              |SELECT doc_id,
              |  len(t) AS n_tokens,
              |  len(${bpeTokensSql("text")}) AS n_bpe_tokens,
              |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(t, x -> CAST(length(x) AS DOUBLE))), (a, b) -> a + b)
              |    / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS avg_token_len
              |FROM toks""".stripMargin)),

    // tokenizer FERTILITY per language — sub-word tokens per word, THE
    // efficiency metric a tokenizer is judged by per language (a lang
    // with fertility 2× pays 2× the compute per word; the number that
    // drives vocab-allocation decisions in multilingual training).
    // Integer word/token sums (map-side combinable), fertility = ONE
    // ieee division of the two exact sums, exported in micro-points.
    QueryDef("tokenizer_fertility",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          size(bpeTokens(col("text"))).cast("long").as("bt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"), sum(col("bt")).as("n_bpe"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
          QueryDef.microPoints(
            col("n_bpe").cast("double") /
              greatest(col("n_words"), lit(1L)).cast("double"))
            .as("fertility_micro")),
      Some(s"""$toksCte
              |SELECT lang, COUNT(*) AS n_docs,
              |  CAST(SUM(len(t)) AS BIGINT) AS n_words,
              |  CAST(SUM(len(${bpeTokensSql("text")})) AS BIGINT) AS n_bpe,
              |  ${QueryDef.microPointsSql(
                   s"CAST(SUM(len(${bpeTokensSql("text")})) AS DOUBLE) / CAST(greatest(SUM(len(t)), 1) AS DOUBLE)")} AS fertility_micro
              |FROM toks GROUP BY lang""".stripMargin)),

    // quality scoring: length + punctuation + stopword-density features
    // composed into one bounded score
    QueryDef("text_quality",
      (s, dir) => {
        val t = tokens(col("text"))
        Tables(s, dir, "documents").select(
          col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(stopRatio(t), 6).as("stop_ratio"),
          qualityScore(col("text")).as("quality"))
      },
      Some(s"""$toksCte
              |SELECT doc_id, len(t) AS n_tokens,
              |  round(${punctRatioSql("text")}, 6) AS punct_ratio,
              |  round(${stopRatioSql("t")}, 6) AS stop_ratio,
              |  ${qualityScoreSql("text", "t")} AS quality
              |FROM toks""".stripMargin)),

    // language identification: stopword-list hit counts per language,
    // argmax with a fixed tie-break order (list order in
    // TextFunctions.stopwords)
    QueryDef("lang_id",
      (s, dir) => {
        val t = tokens(col("text"))
        val scores = langScores(t)
        Tables(s, dir, "documents").select(
          col("doc_id") +: scores.map { case (l, sc) => sc.as(s"s_$l") } :+
            langPred(t).as("lang_pred"): _*)
      },
      Some(s"""$toksCte
              |SELECT doc_id,
              |  ${langScoresSql.map { case (l, sc) => s"$sc AS s_$l" }.mkString(",\n  ")},
              |  $langPredSqlExpr AS lang_pred
              |FROM toks""".stripMargin)),

    // language-ID CONFUSION matrix — the eval loop of the classifier
    // above closed as a query (as `ann_recall_eval` closes the ANN
    // loop): predicted vs labeled language counted per cell, the
    // accuracy/confusion report a curation pipeline publishes before
    // trusting `lang_id` to route or drop documents. The prediction
    // expression is THE shared definition `lang_id` runs ([[langPred]]
    // / [[langPredSqlExpr]]) — an eval that reimplements its subject
    // can only drift. One scan, |langs|² map-side-combined counters.
    QueryDef("langid_confusion",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("lang"), langPred(tokens(col("text"))).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n")),
      Some(s"""$toksCte
              |SELECT lang, $langPredSqlExpr AS lang_pred, COUNT(*) AS n
              |FROM toks GROUP BY 1, 2""".stripMargin)),

    // document chunking: fixed-size token windows with overlap (chunk =
    // 16 tokens, stride 12 → 4-token overlap) — the standard prep step
    // before embedding/tokenizing long documents. Pure narrow ops
    // (sequence + explode + slice): no shuffle, scales at scan speed;
    // chunk row count ≈ tokens/stride.
    QueryDef("chunk_documents",
      (s, dir) => {
        val chunk = 16
        val stride = 12
        Tables(s, dir, "documents")
          .withColumn("t", tokens(col("text")))
          .withColumn("s",
            explode(sequence(lit(1), greatest(size(col("t")), lit(1)), lit(stride))))
          .select(
            col("doc_id"),
            ((col("s") - 1) / stride).cast("long").as("chunk_idx"),
            concat_ws(" ", slice(col("t"), col("s"), lit(chunk))).as("chunk_text"),
            least(size(col("t")) - col("s") + 1, lit(chunk)).cast("long").as("n_tokens"))
      },
      Some(s"""$toksCte,
              |starts AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, 12)) AS s FROM toks)
              |SELECT doc_id, CAST((s - 1) / 12 AS BIGINT) AS chunk_idx,
              |  array_to_string(t[s:s+15], ' ') AS chunk_text,
              |  CAST(least(len(t) - s + 1, 16) AS BIGINT) AS n_tokens
              |FROM starts""".stripMargin)),

    // heavy hitters: every token holding ≥ 0.1% of all token
    // occurrences, EXACT counts — via the sketch→verify scale path
    // ([[graft.operators.HeavyHitters]]): bounded per-partition
    // Space-Saving summaries emit locally-heavy candidates (pigeonhole
    // completeness — no full-cardinality shuffle), then a second scan
    // exact-counts candidates only. The oracle is the plain
    // GROUP BY + HAVING against the global total: the sketch changes
    // the PLAN, never the answer. Complements vocab_top (fixed top-k)
    // with the threshold form a mixture/tokenizer audit wants.
    QueryDef("heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = Tables(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tk")).as[String]
        graft.operators.HeavyHitters(s, toks, perMille = 1)
          .orderBy(col("freq").desc, col("tk"))
      },
      Some(s"""WITH toks AS (
             |  SELECT unnest(${tokensSql("text")}) AS tk
             |  FROM documents),
             |tot AS (SELECT count(*) AS n FROM toks)
             |SELECT tk, count(*) AS freq
             |FROM toks
             |GROUP BY tk
             |HAVING 1000 * count(*) >= (SELECT n FROM tot)
             |ORDER BY freq DESC, tk""".stripMargin)),

    // Zipf rank-frequency slope — the vocabulary-shape audit that pairs
    // with vocab_growth's Heaps curve: OLS fit of ln(freq) on ln(rank)
    // over the top-1000 tokens. Natural text sits near slope −1; a
    // corpus drifting flat (template spam inflating mid-ranks) or
    // over-steep (tiny effective vocabulary) fails downstream tokenizer
    // assumptions before any model sees it. Cross-engine exactness via
    // the established two-step contract: both engines take ln() of
    // IDENTICAL integers (rank, freq), round once to micro-points, and
    // every OLS moment is then an exact integer sum — the final cross
    // terms (n·Σxy − Σx·Σy) need DECIMAL(38,0)/HUGEINT headroom (the
    // rate_mosum discipline; ~3e20 at n=1000) and both engines divide
    // the same exact values as doubles. Plan: the vocab word-count is
    // the honest shuffle; TakeOrderedAndProject shrinks to 1000 rows
    // BEFORE the serial rank window (the allow-listed shrink-then-
    // serial pattern), and the regression is one tiny aggregate.
    QueryDef("vocab_zipf",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy(vocabOrder: _*)
        val top = topVocab(Tables(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tk")), 1000)
        val xy = top
          .withColumn("r", row_number().over(w))
          .select(
            QueryDef.microPoints(log(col("r").cast("double"))).as("x"),
            QueryDef.microPoints(log(col("freq").cast("double"))).as("y"))
        val m = xy.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        m.select(col("n"),
          QueryDef.microPoints(
            (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))).cast("double") /
            (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))).cast("double"))
            .as("slope_micro"))
      },
      Some(s"""WITH cnt AS (
              |  SELECT tk, COUNT(*) AS freq
              |  FROM (SELECT unnest(${tokensSql("text")}) AS tk FROM documents)
              |  GROUP BY tk),
              |top AS (
              |  SELECT tk, freq, row_number() OVER ($vocabOrderSql) AS r
              |  FROM cnt QUALIFY r <= 1000),
              |xy AS (
              |  SELECT ${QueryDef.microPointsSql("ln(CAST(r AS DOUBLE))")} AS x,
              |         ${QueryDef.microPointsSql("ln(CAST(freq AS DOUBLE))")} AS y
              |  FROM top),
              |m AS (
              |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
              |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
              |    CAST(SUM(x * x) AS BIGINT) AS sxx
              |  FROM xy)
              |SELECT CAST(n AS BIGINT) AS n,
              |  ${QueryDef.microPointsSql(
                   "CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / " +
                   "CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)")} AS slope_micro
              |FROM m""".stripMargin)),

    // Count-Min sketch point-frequency estimation + error audit —
    // completes the engine's mergeable-sketch family (KMV = distinct,
    // quantile sketch = order stats, Space-Saving = top-k, CM = point
    // frequency): d=4 salted portable hashes route every token
    // occurrence into w=256 counters, and a token's estimate is the MIN
    // of its d cells — never below truth, over by at most the collision
    // mass (≤ ~N/w per row, Cormode & Muthukrishnan 2005, J.Algorithms
    // 55(1)). The audit joins estimates against exact counts for the
    // top-20 tokens so the overestimate is visible, not asserted.
    // Scale posture: the sketch TABLE is ≤ d·w = 1024 rows regardless
    // of corpus size — the (row, bucket) aggregation map-side combines
    // the 4× token stream into constant-size state (the mergeability
    // that lets 1000 executors build partial sketches and OR them with
    // a rollup instead of shuffling tokens); the exact word-count leg
    // exists only because this query IS the accuracy audit. Probe cells
    // join the 1024-row sketch via broadcast.
    QueryDef("freq_cm_sketch",
      (s, dir) => {
        val d = 4
        val w = 256
        val toks = Tables(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tk"))
        def cells(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("cell", explode(array((0 until d).map(i =>
            struct(lit(i).cast("long").as("r"),
              pmod(portableHash(col("tk"), i), lit(w)).cast("long").as("bucket"))): _*)))
          .withColumn("r", col("cell.r")).withColumn("bucket", col("cell.bucket"))
          .drop("cell")
        val sketch = cells(toks).groupBy(col("r"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        val probes = topVocab(toks, 20)
        cells(probes).join(broadcast(sketch), Seq("r", "bucket"))
          .groupBy(col("tk"))
          .agg(min(col("freq")).as("freq"), min(col("c")).as("cm_est"))
          .withColumn("overest", col("cm_est") - col("freq"))
      },
      Some(s"""WITH toks AS (
             |  SELECT unnest(${tokensSql("text")}) AS tk
             |  FROM documents),
             |ds AS (SELECT unnest(range(0, 4)) AS r),
             |cells AS (
             |  SELECT ds.r,
             |    CAST(('0x' || substr(md5(CAST(ds.r AS VARCHAR) || ':' || t.tk), 1, 15)) AS BIGINT) % 256 AS bucket
             |  FROM toks t, ds),
             |sketch AS (SELECT r, bucket, COUNT(*) AS c FROM cells GROUP BY 1, 2),
             |probes AS (
             |  SELECT tk, COUNT(*) AS freq FROM toks GROUP BY tk
             |  $vocabOrderSql LIMIT 20),
             |pcells AS (
             |  SELECT p.tk, p.freq, ds.r,
             |    CAST(('0x' || substr(md5(CAST(ds.r AS VARCHAR) || ':' || p.tk), 1, 15)) AS BIGINT) % 256 AS bucket
             |  FROM probes p, ds)
             |SELECT p.tk, CAST(MIN(p.freq) AS BIGINT) AS freq,
             |  CAST(MIN(s.c) AS BIGINT) AS cm_est,
             |  CAST(MIN(s.c) - MIN(p.freq) AS BIGINT) AS overest
             |FROM pcells p JOIN sketch s USING (r, bucket)
             |GROUP BY p.tk""".stripMargin)),

    // vocabulary building: corpus-wide token frequencies, top 100 —
    // one shuffle on the token, map-side combined (a word count)
    QueryDef("vocab_top",
      (s, dir) => topVocab(Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tk")), 100),
      Some(s"""SELECT tk, count(*) AS freq
             |FROM (SELECT unnest(${tokensSql("text")}) AS tk FROM documents)
             |GROUP BY tk $vocabOrderSql LIMIT 100""".stripMargin)),

    // Padding-waste audit: naive vs length-grouped batching — the
    // training-cost question every fixed-batch pipeline prices: a batch
    // pads to its longest member, so tokens-paid = Σ_batches |batch|·max
    // while tokens-used = Σ lens; batching docs in ARRIVAL order pays
    // for the length variance inside every batch, batching by LENGTH
    // confines the variance to band boundaries. Reports both strategies
    // on the same corpus (batch size [[PadBatch]]): batches, used,
    // paid, waste, waste ppm — the measured saving of a sorted loader.
    //
    // Scale shape: global ranks come from
    // [[ProfilingQueries.bucketedRank]] for either ordering; the
    // per-batch rollup and the two-row report are map-side-combinable
    // counters.
    QueryDef("padding_waste",
      (s, dir) => {
        val lens = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("len"))
        def strategyWaste(name: String, bucket: Column, s1: Column, s2: Column) =
          ProfilingQueries.bucketedRank(lens.withColumn("bkt", bucket), Nil, "bkt",
              Seq(s1, s2))
            // integer div, NOT `/` (Column./ is double division)
            .withColumn("batch", expr(s"(rnk - 1) div $PadBatch"))
            .groupBy(col("batch"))
            .agg(count(lit(1)).as("k"), max(col("len")).as("mx"),
              sum(col("len")).as("used"))
            .agg(count(lit(1)).as("n_batches"),
              sum(col("used")).as("tokens_used"),
              sum(col("k") * col("mx")).as("tokens_paid"))
            .select(lit(name).as("strategy"), col("n_batches"),
              col("tokens_used"), col("tokens_paid"),
              (col("tokens_paid") - col("tokens_used")).as("waste"),
              expr("((tokens_paid - tokens_used) * 1000000) div tokens_paid")
                .as("waste_ppm"))
        strategyWaste("arrival",
            expr("doc_id div 4096"), col("doc_id"), col("doc_id"))
          .unionByName(strategyWaste("length_grouped",
            expr("len div 8"), col("len"), col("doc_id")))
      },
      Some {
        def side(name: String, order: String) =
          s"""SELECT '$name' AS strategy, COUNT(*) AS n_batches,
             |  CAST(SUM(used) AS BIGINT) AS tokens_used,
             |  CAST(SUM(paid) AS BIGINT) AS tokens_paid,
             |  CAST(SUM(paid) - SUM(used) AS BIGINT) AS waste,
             |  CAST(((SUM(paid) - SUM(used)) * 1000000) // SUM(paid) AS BIGINT) AS waste_ppm
             |FROM (
             |  SELECT batch, COUNT(*) * MAX(len) AS paid, SUM(len) AS used
             |  FROM (
             |    SELECT len, (row_number() OVER (ORDER BY $order) - 1) // $PadBatch AS batch
             |    FROM lens) t
             |  GROUP BY batch) g""".stripMargin
        s"""WITH lens AS (
           |  SELECT doc_id,
           |    CAST(len(${tokensSql("text")}) AS BIGINT) AS len
           |  FROM documents)
           |${side("arrival", "doc_id")}
           |UNION ALL
           |${side("length_grouped", "len, doc_id")}""".stripMargin
      }),

    // Canonical text normalization — the cleaning pass that MUST run
    // before any hash-based dedup or fingerprinting: NFC composition
    // (decomposed accents render identically but hash differently —
    // the NfcNormalizeExpr contract) then whitespace canonicalization
    // (runs of space/tab/newline/CR collapse to one space, edges
    // trimmed). Reports per doc: changed flag, normalized length, and
    // the md5 a downstream dedup would key on. The synthetic corpus is
    // ASCII-clean, so 1-in-5 docs get a deterministic noise tail
    // (combining acute + tab — the gopher_rules augmentation idiom) to
    // keep the operator non-degenerate at every SF; both engines inject
    // the identical bytes. Pure narrow expressions at scan speed —
    // NfcNormalizeExpr is codegen'd, the collapse is one regex.
    QueryDef("text_normalize",
      (s, dir) => {
        // the accent is DECOMPOSED in this source file (e + U+0301) so
        // the NFC leg does real work; the oracle injects the identical
        // code points via chr(769)
        val aug = when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" café\ttest"))).otherwise(col("text"))
        val norm = trim(regexp_replace(nfcNormalize(aug), "[ \\t\\n\\r]+", " "))
        Tables(s, dir, "documents").select(
          col("doc_id"),
          (aug =!= norm).cast("long").as("changed"),
          length(norm).cast("long").as("n_chars_norm"),
          md5(norm).as("norm_md5"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0
             |      THEN text || ' cafe' || chr(769) || chr(9) || 'test'
             |      ELSE text END AS a
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, a,
             |    trim(regexp_replace(nfc_normalize(a), '[ \t\n\r]+', ' ', 'g')) AS norm
             |  FROM aug)
             |SELECT doc_id,
             |  CAST(a <> norm AS BIGINT) AS changed,
             |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
             |  md5(norm) AS norm_md5
             |FROM n""".stripMargin)),

    // Impact-ordered inverted index build — the serving ARTIFACT of
    // sparse retrieval, distinct from the retrieval queries that would
    // consume it (`bm25_search` scores live; this materializes the
    // index): per term with df ≥ 2, its document frequency, collection
    // frequency, and postings CAPPED to the top-[[PostingsCap]] docs by
    // (tf desc, doc_id) — impact-ordered truncation (Anh & Moffat
    // 2006's static pruning shape: keep the docs a scorer would rank
    // first, bound the artifact regardless of how hot the term is).
    // Postings ship as a comma-joined string: an index row is a
    // serialization boundary, and the string form is also what keeps
    // the driver compare engine-neutral.
    //
    // Scale shape (plan-pinned in PlanAuditSpec): the (term, doc) tf
    // aggregation never shuffles at all — rows arrive partitioned by
    // doc_id, which co-locates every (term, doc) group, so tf is a
    // local two-phase agg in BOTH legs; each leg then pays exactly one
    // term-keyed exchange. df/cf pre-combine map-side (a stopword's
    // counts merge in every map task, its doc list never assembles);
    // the postings leg filters rank ≤ [[PostingsCap]] DIRECTLY on the
    // row_number, which lowers to the WindowGroupLimit PARTIAL pre-trim
    // — at most cap candidates per term leave each partition, so a hot
    // term's million-doc postings never materialize anywhere. The
    // df≥2-filtered df/cf side is vocabulary-sized and broadcasts into
    // the final join; the corpus is scanned twice (the stats-then-apply
    // floor — cheaper than persisting a corpus-token-sized tf frame).
    QueryDef("inverted_index",
      (s, dir) => {
        val tf = ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        val dfcf = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
          .filter(col("df") >= 2L)
        val postings = topK(tf, Seq("term"), Seq(col("tf").desc, col("doc_id")), PostingsCap, "rk")
          .groupBy(col("term"))
          .agg(array_join(
            transform(
              array_sort(collect_list(struct((-col("tf")).as("nt"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")),
            ",").as("postings"))
        dfcf.join(postings, Seq("term"))
          .select(col("term"), col("df"), col("cf"), col("postings"))
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id,
              |    unnest(${tokensSql("text")}) AS term
              |  FROM documents),
              |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
              |rk AS (
              |  SELECT term, doc_id, tf, row_number() OVER (
              |    PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
              |  FROM tf)
              |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
              |  CAST(SUM(tf) AS BIGINT) AS cf,
              |  string_agg(CASE WHEN rk <= $PostingsCap
              |    THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY tf DESC, doc_id)
              |    AS postings
              |FROM rk GROUP BY term HAVING COUNT(*) >= 2""".stripMargin)),

    // Per-document unigram token ENTROPY — the information-density
    // quality signal: template/boilerplate/keyword-stuffed documents
    // have low H = −Σ (c/n)·ln(c/n) even when they pass length and
    // repetition screens (which look only at adjacent structure).
    // Shape: explode → (doc_id, tk) count → doc totals → weighted
    // micro-nat rollup; the (doc_id, tk) shuffle is corpus-token-sized
    // (the honest cost, same as BPE counting) and every later stage is
    // doc_id-keyed. Cross-engine exactness follows lm_perplexity's
    // contract: both engines take ln() of IDENTICAL doubles (the ratio
    // of two exact BIGINTs) and round once to integer micro-nats; the
    // per-doc mean is then an exact integer c·mp sum div n. The
    // low-entropy flag (< 2.6 nats, ~p10 on this corpus) splits the
    // corpus at every SF.
    QueryDef("doc_entropy",
      (s, dir) => {
        val tc = docTokenCounts(ProfilingQueries.widened(Tables(s, dir, "documents")), "c")
        val dn = tc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
        tc.join(dn, Seq("doc_id"))
          .withColumn("mp", QueryDef.microPoints(
            -log(col("c").cast("double") / col("n").cast("double"))))
          .groupBy(col("doc_id"))
          .agg(min(col("n")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            expr("sum(c * mp) div min(n)").as("h_u"))
          .withColumn("low_entropy", (col("h_u") < lit(2600000L)).cast("long"))
      },
      Some(s"""WITH tks AS (
             |  SELECT doc_id, unnest(${tokensSql("text")}) AS tk
             |  FROM documents),
             |tc AS (SELECT doc_id, tk, COUNT(*) AS c FROM tks GROUP BY 1, 2),
             |dn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
             |terms AS (
             |  SELECT t.doc_id, t.c, d.n,
             |    ${QueryDef.microPointsSql("-ln(CAST(t.c AS DOUBLE) / CAST(d.n AS DOUBLE))")} AS mp
             |  FROM tc t JOIN dn d USING (doc_id))
             |SELECT doc_id, CAST(min(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
             |  CAST(CAST(SUM(c * mp) AS BIGINT) // CAST(min(n) AS BIGINT) AS BIGINT) AS h_u,
             |  CAST(CAST(SUM(c * mp) AS BIGINT) // CAST(min(n) AS BIGINT) < 2600000 AS BIGINT) AS low_entropy
             |FROM terms GROUP BY doc_id""".stripMargin)),

    // NUCLEUS (top-p) vocabulary truncation: the smallest
    // frequency-ranked prefix of the vocabulary covering ≥95% of corpus
    // token mass — how tokenizer vocabularies and coverage-targeted
    // phrase lists are actually cut. Domain is token BIGRAMS (the
    // phrase-vocab case; ~930 entries and real frequency ties on the
    // testdata corpus where the unigram vocab is a degenerate 31).
    //
    // The textbook form is a global running sum over the vocab sorted
    // by (freq DESC, tk) — one serial window over EVERY distinct
    // token, unacceptable at a 1e9-entry web-corpus vocab. Decomposed
    // exactly, tier-then-bucket:
    //  1. collapse the vocab to frequency TIERS (freq, n_tk, mass) —
    //     the only serial window runs over this |distinct-freq| frame
    //     (Zipf: tiny), producing each tier's carried-in mass;
    //  2. tiers fully under the mass threshold keep ALL their tokens
    //     via one semi join — no per-token ranking at all;
    //  3. only the single BOUNDARY tier (first tier crossing the
    //     threshold) ranks its tokens by
    //     [[ProfilingQueries.bucketedRank]] over first-character
    //     buckets, so even a freq=1 boundary tier with most of the
    //     vocab in it never funnels through one task.
    // All mass arithmetic is exact BIGINT cross-multiplication
    // (20·prev_cum < 19·total) — no float share ever materializes.
    // Oracle: the serial global-window formulation, independently.
    QueryDef("vocab_top_p",
      (s, dir) => {
        // r17: bigrams via the native shingle scanner (identical
        // strings — concat over non-null tokens ≡ concat_ws); the scan
        // is WIDENED (the narrow single-split corpus scan serialized
        // the tokenize+gram chain on one core — measured 18 s of a
        // 27 s run in one single-task job), and the vocab cache is
        // EAGER ([[QueryDef.eager]]): nucleusCut consumes it from 4
        // concurrent subtrees (measured without: two concurrent 17 s
        // jobs recomputing the gram chain).
        val vocab = QueryDef.eager(ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(explode(shingles(tokens(col("text")), 2)).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("freq")))
        nucleusCut(vocab, pNum = 19L, pDen = 20L)
      },
      Some(s"""WITH tl AS (
             |  SELECT ${tokensSql("text")} AS t FROM documents),
             |grams AS (
             |  SELECT t[i] || ' ' || t[i+1] AS tk FROM tl, unnest(range(1, len(t))) AS u(i)),
             |vocab AS (SELECT tk, count(*) AS freq FROM grams GROUP BY tk),
             |tot AS (SELECT SUM(freq) AS total FROM vocab),
             |run AS (
             |  SELECT tk, freq, SUM(freq) OVER (
             |    ORDER BY freq DESC, tk ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM vocab)
             |SELECT tk, CAST(freq AS BIGINT) AS freq FROM run
             |WHERE (cum - freq) * 20 < (SELECT total FROM tot) * 19""".stripMargin)),

    // BPE tokenizer training, merge round 1: count adjacent character
    // pairs inside every word token — the statistic the first BPE merge
    // is chosen from (Sennrich et al., ACL 2016). The full trainer
    // iterates (count → merge → recount); one round pins the
    // distributed shape: explode to char pairs (rows = corpus chars —
    // the honest cost of BPE training at 100 TB), a map-side-combinable
    // count on a tiny key space (≤ ~1.3k distinct [a-z0-9]² pairs), and
    // a driver-merged global top-k (TakeOrderedAndProject, no global
    // window). Real trainers count on a corpus sample; the sampling
    // stage is `sample_stratified`, composable upstream.
    QueryDef("bpe_pair_counts",
      (s, dir) => {
        val word = col("word")
        // adjacent pairs: substr(word, i, 2) for i in 1..len-1; guard
        // len<2 — Spark's sequence(1, 0) would DESCEND, not be empty
        val pairs = when(length(word) >= 2,
          transform(sequence(lit(1), length(word) - 1),
            i => word.substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))
        ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(explode(tokens(col("text"))).as("word"))
          .select(explode(pairs).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(50)
      },
      Some(s"""$toksCte
              |SELECT pair, count(*) AS n FROM (
              |  SELECT unnest(list_transform(range(1, length(word)),
              |    i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
              |  FROM (SELECT unnest(t) AS word FROM toks) w)
              |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // iterated BPE merge training (Sennrich et al. 2016): the step
    // from a single pair statistic (bpe_pair_counts) to an actual
    // tokenizer merge table — the trainer itself is [[bpeTrain]]
    // (shared with bpe_encode; distributed shape documented there).
    QueryDef("bpe_merges",
      (s, dir) => {
        val (rows, _) = bpeTrain(s, dir, applyLast = false)
        import s.implicits._
        rows.toDF("round", "pair", "n")
      },
      Some(s"""$bpeCteSql
              |SELECT round, pair, n FROM bpe WHERE round >= 1""".stripMargin)),

    // tokenizer APPLICATION — encode the corpus with the merge table
    // bpe_merges trains, closing the train→apply loop. Distributed
    // shape: the corpus is never re-folded per occurrence — the merges
    // are applied to the VOCAB (distinct words; ~1e7 rows at 100 TB,
    // corpus-size-independent, the same collapse bpe_merges rides),
    // and the encoded vocab joins back to the exploded corpus words.
    // BPE merges only ever REMOVE separators, so the encoded symbol
    // string concatenates back to exactly the original word — that
    // reconstruction IS the join key, no id threading needed. The join
    // is vocab-sized build vs corpus-sized probe: AQE broadcasts it at
    // small scale; at 100 TB it hash-joins on `word` and hot words
    // (Zipf skew on the PROBE side only) split under AQE skew
    // handling. Output: per-doc char/token counts — the compression
    // the tokenizer achieved, exact integers on both engines.
    QueryDef("bpe_encode",
      (s, dir) => {
        val (_, vocab) = bpeTrain(s, dir, applyLast = true)
        val enc = vocab.select(
          regexp_replace(col("syms"), " ", "").as("word"),
          size(split(col("syms"), " ")).cast("long").as("n_toks"))
        ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .join(enc, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("word"))).cast("long").as("n_chars"),
            sum(col("n_toks")).as("n_tokens"))
      },
      Some(s"""$bpeCteSql,
              |final AS (
              |  SELECT replace(v.syms, ' ', '') AS word,
              |         len(string_split(v.syms, ' ')) AS n_toks
              |  FROM (SELECT unnest(vocab) AS v FROM bpe
              |        WHERE round = $BpeMergeRounds)),
              |docw AS (
              |  SELECT doc_id,
              |    unnest(${tokensSql("text")}) AS word
              |  FROM documents)
              |SELECT d.doc_id, COUNT(*) AS n_words,
              |  CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
              |  CAST(SUM(f.n_toks) AS BIGINT) AS n_tokens
              |FROM docw d JOIN final f USING (word)
              |GROUP BY d.doc_id""".stripMargin)),

    // sequence packing: concatenate documents into ~fixed-token-budget
    // packs (the standard prep step before fixed-context training —
    // "concat and split" packing, where a pack may overflow by at most
    // its last document). Deterministic: docs are packed in doc_id
    // order WITHIN each (lang, shard) unit, where shard is the
    // content-hash shard contract shared with shuffle_shards
    // (ProfilingQueries.shardCol, N sized by shardCount: one shard per
    // ~2 GiB, floor 16). Partitioning the running-sum window by lang
    // ALONE would bound parallelism by the language count — a handful
    // of WindowExec tasks each owning an entire language's corpus at
    // 100 TB; with (lang, shard) the work distributes over
    // languages × shards and scales with the data. The cost: packs
    // never span a shard boundary (one ≤budget-fill pack per (lang,
    // shard) tail instead of one per lang — noise at scale). One
    // shuffle on (lang, shard), then the tiny per-pack rollup. The
    // oracle pins N=16 (testdata is far under the 32 GiB floor
    // threshold).
    QueryDef("pack_sequences",
      (s, dir) => {
        val budget = 256L
        val docs = Tables(s, dir, "documents")
        val n = ProfilingQueries.shardCount(ProfilingQueries.inputBytes(docs))
        ProfilingQueries.warnIfOracleUnpinned("pack_sequences", n)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        docs
          .select(col("doc_id"), col("lang"),
            ProfilingQueries.shardCol(n).as("shard"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("pack_id",
            ((col("cum") - col("n_tokens")) / lit(budget)).cast("long"))
          .groupBy(col("lang"), col("shard"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"))
      },
      // window SUM is HUGEINT in DuckDB — cast before the division
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang,
             |    ${ProfilingQueries.shardSql(16)} AS shard,
             |    len(${tokensSql("text")}) AS n_tokens
             |  FROM documents),
             |cums AS (
             |  SELECT doc_id, lang, shard, n_tokens,
             |    CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM toks)
             |SELECT lang, shard, (cum - n_tokens) // 256 AS pack_id,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
             |  min(doc_id) AS first_doc
             |FROM cums GROUP BY lang, shard, (cum - n_tokens) // 256""".stripMargin)),

    // T5-style SPAN-CORRUPTION mask planning (Raffel et al. 2020,
    // JMLR §3.1.4 denoising objective): which token spans of each doc
    // get masked, planned DETERMINISTICALLY — span starts are the
    // positions whose (doc_id, pos) content-hash coin hits 1-in-20
    // (salt 43), each start draws length 2 + hash%3 ∈ {2,3,4} (salt
    // 47; mean 3, the T5 default), overlapping spans merge — realized
    // mask rate ≈ 1/20 · 3 = 15%, the T5 corruption rate. Determinism
    // is the point: a reproducible mask plan means a restarted/
    // re-sharded preprocessing job masks identical spans, and any
    // engine can re-derive the plan (the portableHash contract).
    // Span merging needs NO stateful fold: the covered-position set is
    // sort(distinct(flatten(per-start ranges))) and the span count is
    // 1 + (#adjacency breaks) — pure array ops, one pass, zero
    // shuffle, codegen'd; at 100 TB this runs at scan speed next to
    // the tokenizer. Both `sequence` calls carry the descending-range
    // guard (the recorded trap).
    QueryDef("span_corruption",
      (s, dir) => {
        val t = tokens(col("text"))
        val n = size(t)
        def h(i: Column, salt: Int) = portableHash(
          concat(col("doc_id").cast("string"), lit(":"), i.cast("string")), salt)
        val starts = filter(
          when(n >= 1, sequence(lit(1), n)).otherwise(array().cast("array<int>")),
          i => pmod(h(i, 43), lit(20L)) === 0L)
        val covered = array_sort(array_distinct(flatten(transform(starts,
          i => sequence(i.cast("long"),
            least(i.cast("long") + lit(1L) + pmod(h(i, 47), lit(3L)),
              n.cast("long")))))))
        val breaks = when(size(col("p")) >= 2,
          size(filter(sequence(lit(2), size(col("p"))),
            j => element_at(col("p"), j) > element_at(col("p"), j - 1) + 1)))
          .otherwise(0)
        Tables(s, dir, "documents")
          .select(col("doc_id"), n.cast("long").as("n_tokens"), covered.as("p"))
          .select(col("doc_id"), col("n_tokens"),
            when(size(col("p")) > 0, lit(1) + breaks).otherwise(0)
              .cast("long").as("n_spans"),
            size(col("p")).cast("long").as("n_masked"))
      },
      Some {
        def h(salt: Int) = portableHashSql(
          "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", salt)
        s"""$toksCte,
           |s AS (
           |  SELECT doc_id, len(t) AS n_tokens,
           |    list_sort(list_distinct(flatten(list_transform(
           |      list_filter(range(1, len(t) + 1), i -> ${h(43)} % 20 = 0),
           |      i -> range(i, least(i + 2 + ${h(47)} % 3, len(t) + 1)))))) AS p
           |  FROM toks)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(CASE WHEN len(p) = 0 THEN 0 ELSE 1 + len(list_filter(
           |    range(2, len(p) + 1),
           |    j -> p[CAST(j AS INTEGER)] > p[CAST(j AS INTEGER) - 1] + 1)) END
           |    AS BIGINT) AS n_spans,
           |  CAST(len(p) AS BIGINT) AS n_masked
           |FROM s""".stripMargin
      }),

    // PII redaction: emails and long digit runs replaced by tags, with
    // per-doc redaction counts — scan-speed narrow ops, codegen'd. The
    // corpus is synthetic and PII-free, so deterministic doc_id-derived
    // contact strings are appended BEFORE redacting: the oracle then
    // checks real substitutions, not 500 no-ops; output is the
    // redacted-text md5 (small, hash-exact) + match counts.
    QueryDef("text_redact",
      (s, dir) => {
        val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val numRun = "\\d{6,}"
        val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example ref "), col("doc_id") + lit(100000L))
        Tables(s, dir, "documents")
          .withColumn("aug", aug)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(email), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(col("aug"), lit(numRun), lit(0))).cast("long").as("n_nums"),
            md5(regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
              numRun, "<NUM>")).as("redacted_md5"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@mail.example ref ' || CAST(doc_id + 100000 AS VARCHAR) AS a
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(a, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(a, '\d{6,}')) AS n_nums,
             |  md5(regexp_replace(regexp_replace(a,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |    '\d{6,}', '<NUM>', 'g')) AS redacted_md5
             |FROM aug""".stripMargin)),

    // document fingerprinting: the exact-dup fingerprint (md5 of the
    // NFC → lower → whitespace-run normalised text, the key dedup_exact
    // groups by) + order-sensitive polynomial rolling hash over the
    // token stream
    QueryDef("doc_fingerprint",
      (s, dir) => Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          exactFp(col("text")).as("fp_md5"),
          rollingHash(tokens(col("text"))).as("fp_roll")),
      Some(s"""$toksCte
              |SELECT doc_id,
              |  ${exactFpSql("text")} AS fp_md5,
              |  ${rollingHashSql("t")} AS fp_roll
              |FROM toks""".stripMargin)),

    // COLLOCATION mining (document-level lift): token pairs that
    // co-occur in documents far beyond what their individual
    // frequencies predict — the classic phrase/entity discovery signal
    // behind vocabulary curation and multi-word tokenizer entries. The
    // textbook statistic is PMI = log P(x,y)/(P(x)P(y)); this is its
    // log-free rational surrogate (monotone in PMI, the BM25 idf
    // policy): lift_ppm = (N·df_xy·1e6) div (df_x·df_y), pure BIGINT.
    // Pair generation is a per-doc self-join of the DISTINCT-token
    // stream, support-filtered on BOTH sides first (df ≥ MinColloc) —
    // the frequency floor is what bounds fan-out at scale: pairs are
    // drawn from the support-qualified vocabulary only, and the join
    // is doc-keyed (never a corpus-wide cross). Top-20 by
    // (lift DESC, x, y) via TakeOrderedAndProject.
    QueryDef("collocations_lift",
      (s, dir) => {
        val dt = docTokenCounts(Tables(s, dir, "documents"), "c")
          .select(col("doc_id"), col("tk"))
        val dfs = docFreqs(dt).filter(col("df") >= MinCollocDf)
        val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n"))
        val qual = dt.join(dfs, Seq("tk"))
        val pairs = qual.as("a").join(qual.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tk") < col("b.tk"))
          .groupBy(col("a.tk").as("x"), col("b.tk").as("y"),
            col("a.df").as("dfx"), col("b.df").as("dfy"))
          .agg(count(lit(1)).as("df_xy"))
          .filter(col("df_xy") >= MinCollocDf)
        // DECIMAL(38,0) numerator: n·df_xy·10⁶ wraps a BIGINT already
        // at ~3M documents (n² · 10⁶ when the pair is corpus-wide);
        // decimal keeps the ppm exact to 10³⁸ and DuckDB mirrors with
        // HUGEINT. `div` (IntegralDivide) accepts decimals and returns
        // BIGINT, so the output schema is unchanged.
        pairs.crossJoin(broadcast(nDocs))
          .select(col("x"), col("y"), col("df_xy"),
            expr("(CAST(n AS DECIMAL(38,0)) * df_xy * 1000000) div " +
              "(CAST(dfx AS DECIMAL(38,0)) * dfy)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("x"), col("y"))
          .limit(20)
      },
      Some(s"""$toksCte,
              |dt AS (SELECT DISTINCT doc_id, unnest(t) AS tk FROM toks),
              |dfs AS (
              |  SELECT tk, COUNT(*) AS df FROM dt GROUP BY 1
              |  HAVING COUNT(*) >= $MinCollocDf),
              |nd AS (SELECT COUNT(*) AS n FROM documents),
              |qual AS (SELECT dt.doc_id, dt.tk, dfs.df FROM dt JOIN dfs USING (tk)),
              |pairs AS (
              |  SELECT a.tk AS x, b.tk AS y, a.df AS dfx, b.df AS dfy,
              |    COUNT(*) AS df_xy
              |  FROM qual a JOIN qual b
              |    ON b.doc_id = a.doc_id AND a.tk < b.tk
              |  GROUP BY 1, 2, 3, 4
              |  HAVING COUNT(*) >= $MinCollocDf)
              |SELECT x, y, CAST(df_xy AS BIGINT) AS df_xy,
              |  CAST((CAST((SELECT n FROM nd) AS HUGEINT) * df_xy * 1000000)
              |    // (CAST(dfx AS HUGEINT) * dfy) AS BIGINT) AS lift_ppm
              |FROM pairs
              |ORDER BY lift_ppm DESC, x, y LIMIT 20""".stripMargin)),

    // Per-document KEYWORD extraction by TF-IDF — the "what is this
    // document about" primitive behind tagging, routing, and topic
    // audits of a crawled corpus. Scale shape: (1) tf per (doc, token)
    // — ONE hash agg over the exploded tokens, map-side combinable, so
    // the exchange carries distinct (doc, token) pairs, not raw token
    // occurrences; (2) df per token FROM the tf table (a second agg
    // over already-collapsed pairs — the corpus is never re-read);
    // (3) tf ⋈ df keyed by token — skew on hot tokens is bounded
    // because the probe side is the collapsed pair table, and AQE
    // splits any residual hot partition; (4) top-k per doc via a
    // doc_id-partitioned window — parallelism = |docs| (millions of
    // partitions at corpus scale), rank ≤ k prunes via
    // WindowGroupLimit before the sort materializes. The idf is the
    // BM25 rational form (n − df + ½)/(df + ½) — same monotone
    // ordering as log-idf, zero libm, bit-identical across engines
    // (see `bm25_search`).
    QueryDef("tfidf_keywords",
      (s, dir) => {
        val tfs = docTokenCounts(Tables(s, dir, "documents"), "tf")
        val dfs = docFreqs(tfs)
        val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n"))
        val scored = tfs.join(dfs, Seq("tk"))
          .crossJoin(broadcast(nDocs))
          .withColumn("score_micro", QueryDef.microPoints(
            col("tf").cast("double") *
              ((col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
                (col("df").cast("double") + lit(0.5)))))
        topK(scored, Seq("doc_id"), Seq(col("score_micro").desc, col("tk")), TfidfTopK)
          .select(col("doc_id"), col("rank"), col("tk").as("token"),
            col("score_micro"))
      },
      Some(s"""$toksCte,
              |tfs AS (
              |  SELECT doc_id, tk, COUNT(*) AS tf
              |  FROM (SELECT doc_id, unnest(t) AS tk FROM toks) GROUP BY 1, 2),
              |dfs AS (SELECT tk, COUNT(*) AS df FROM tfs GROUP BY 1),
              |nd AS (SELECT COUNT(*) AS n FROM documents),
              |scored AS (
              |  SELECT tfs.doc_id, tfs.tk,
              |    ${QueryDef.microPointsSql(
                     "CAST(tf AS DOUBLE) * ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))")} AS score_micro
              |  FROM tfs JOIN dfs USING (tk), nd)
              |SELECT doc_id, rank, tk AS token, score_micro FROM (
              |${topKSql("doc_id, tk, score_micro", "scored", "doc_id", "score_micro DESC, tk", TfidfTopK)})""".stripMargin)),

    // Flesch reading-ease readability — the classic curation feature a
    // quality pipeline buckets documents by (education-level targeting,
    // grade-school filtering). Pure column expressions over one narrow
    // scan: syllables ≈ vowel groups (`[aeiouy]+` runs), sentences ≈
    // terminal-punctuation runs, all three counts floored at 1 so the
    // formula is total. The double formula 206.835 − 1.015·(W/S) −
    // 84.6·(Sy/W) is an op-shape-pinned chain over exact integers
    // (each division/multiply/subtract one IEEE op, mirrored term by
    // term in the oracle), exported in micro-points; the difficulty
    // band then thresholds the exact BIGINT micro value, so the bucket
    // can never flip on a last-ulp divergence. Zero shuffle — at
    // 100 TB this runs at scan speed.
    QueryDef("readability_flesch",
      (s, dir) => {
        val t = tokens(col("text"))
        val nW = greatest(size(t).cast("long"), lit(1L))
        val nSyl = greatest(
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .cast("long"), lit(1L))
        val nSent = greatest(
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long"), lit(1L))
        val fm = QueryDef.microPoints(
          lit(206.835) -
            lit(1.015) * (nW.cast("double") / nSent.cast("double")) -
            lit(84.6) * (nSyl.cast("double") / nW.cast("double")))
        Tables(s, dir, "documents")
          .select(col("doc_id"), nW.as("n_words"), nSent.as("n_sentences"),
            nSyl.as("n_syllables"), fm.as("flesch_micro"))
          .withColumn("band",
            when(col("flesch_micro") >= 90000000L, "very_easy")
              .when(col("flesch_micro") >= 70000000L, "easy")
              .when(col("flesch_micro") >= 50000000L, "standard")
              .when(col("flesch_micro") >= 30000000L, "difficult")
              .otherwise("very_difficult"))
      },
      Some(s"""$toksCte,
              |c AS (
              |  SELECT doc_id,
              |    greatest(CAST(len(t) AS BIGINT), 1) AS n_words,
              |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
              |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS n_syllables
              |  FROM toks),
              |f AS (
              |  SELECT doc_id, n_words, n_sentences, n_syllables,
              |    ${QueryDef.microPointsSql(
                     "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))")} AS flesch_micro
              |  FROM c)
              |SELECT doc_id, n_words, n_sentences, n_syllables, flesch_micro,
              |  CASE WHEN flesch_micro >= 90000000 THEN 'very_easy'
              |       WHEN flesch_micro >= 70000000 THEN 'easy'
              |       WHEN flesch_micro >= 50000000 THEN 'standard'
              |       WHEN flesch_micro >= 30000000 THEN 'difficult'
              |       ELSE 'very_difficult' END AS band
              |FROM f""".stripMargin)),

    // Per-document N-GRAM NOVELTY — the duplication-burden profile of a
    // corpus: for each doc, the fraction of its distinct word 3-grams
    // that appear in NO other document (df == 1). Low-novelty docs are
    // boilerplate/templated content even when no single near-dup pair
    // exists — the corpus-level signal the pairwise dedup stack can't
    // see. Scale shape: distinct-per-doc happens MAP-SIDE
    // (array_distinct on the shingle array — no dedup exchange); the
    // exploded grams shuffle as 60-bit portable hashes, never text;
    // df is one map-side-combinable count per hash; the join back is
    // hash-keyed (skew bounded — a gram's df-1 copies all land in one
    // partition only as (doc_id, h) pairs, 16 B each); the per-doc
    // rollup is a second counter-shaped agg. The shingle subtree feeds
    // both the df count and the join probe, so it persists for the
    // query's lifetime (Verify/Bench clearCache() it between queries).
    QueryDef("ngram_novelty",
      (s, dir) => {
        // r17: widened scan (the narrow single-split read serialized
        // tokenize+shingle+hash on one core) + [[QueryDef.eager]] — the
        // df count and the join probe both read it (measured with a
        // lazy persist: two parallel ~6 s single-stage jobs for one
        // 4 s query).
        val sh = QueryDef.eager(ProfilingQueries.widened(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            explode(array_distinct(shingles(tokens(col("text"))))).as("sng"))
          .select(col("doc_id"), portableHash(col("sng"), 0).as("h")))
        val dfs = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        sh.join(dfs, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_ppm",
            expr("(n_novel * 1000000) div n_grams"))
      },
      Some(s"""${graft.queries.DedupQueries.shCte},
              |hs AS (SELECT doc_id, ${portableHashSql("s", 0)} AS h FROM sh),
              |dfs AS (SELECT h, COUNT(*) AS df FROM hs GROUP BY 1),
              |agg AS (
              |  SELECT doc_id, COUNT(*) AS n_grams,
              |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
              |  FROM hs JOIN dfs USING (h) GROUP BY 1)
              |SELECT doc_id, n_grams, n_novel,
              |  (n_novel * 1000000) // n_grams AS novelty_ppm
              |FROM agg""".stripMargin)),

    // VOCABULARY GROWTH curve (Heaps' law) — cumulative distinct word
    // types vs cumulative token occurrences over the ingest order
    // (doc_id), bucketed into a fixed number of corpus slices. The
    // corpus-health profile that says whether a crawl is still finding
    // new language or re-crawling the same material (a flattening
    // curve = diminishing vocabulary returns; Heaps predicts
    // types ~ tokens^β). Scale shape: each type's FIRST occurrence is
    // one map-side-combinable min(doc_id) keyed by token (the only
    // vocab-sized exchange — same posture as `vocab_top`); per-doc
    // token counts collapse map-side to |buckets| counter rows; the
    // two cumulative windows then run over the |buckets| summary frame
    // only (shrink-then-serial, allow-listed in the funnel sweep).
    // The 1-row max(doc_id) rides a broadcast to the bucketing
    // expression on both legs.
    QueryDef("vocab_growth",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val mx = docs.agg(max(col("doc_id")).as("mx"))
        val firstOcc = docs
          .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
          .crossJoin(broadcast(mx))
          .select(expr(s"(first_doc * $GrowthBuckets) div (mx + 1)").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
        val occ = docs
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
          .crossJoin(broadcast(mx))
          .select(expr(s"(doc_id * $GrowthBuckets) div (mx + 1)").as("bucket"),
            col("n_toks"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        occ.join(firstOcc, Seq("bucket"), "left")
          .na.fill(0L, Seq("new_types"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("cum_types", sum(col("new_types")).over(w))
          .select(col("bucket"), col("n_docs"), col("n_tokens"),
            col("new_types"), col("cum_tokens"), col("cum_types"))
      },
      Some(s"""$toksCte,
              |mx AS (SELECT max(doc_id) AS mx FROM documents),
              |fo AS (
              |  SELECT tok, min(doc_id) AS first_doc
              |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks)
              |  GROUP BY 1),
              |nt AS (
              |  SELECT (first_doc * $GrowthBuckets) // (mx + 1) AS bucket,
              |    COUNT(*) AS new_types
              |  FROM fo, mx GROUP BY 1),
              |occ AS (
              |  SELECT (doc_id * $GrowthBuckets) // (mx + 1) AS bucket,
              |    COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
              |  FROM toks, mx GROUP BY 1)
              |SELECT occ.bucket AS bucket, n_docs, n_tokens,
              |  coalesce(new_types, CAST(0 AS BIGINT)) AS new_types,
              |  CAST(SUM(n_tokens) OVER (ORDER BY occ.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
              |  CAST(SUM(coalesce(new_types, 0)) OVER (ORDER BY occ.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
              |FROM occ LEFT JOIN nt USING (bucket)""".stripMargin))
  )

  /** `padding_waste` batch size — the fixed micro-batch a training
    * loader pads to. Def, not val (defs-init-order contract). */
  private def PadBatch: Int = 32

  /** `inverted_index` postings cap: impact-ordered truncation keeps the
    * top-8 docs per term by (tf desc, doc_id) — the artifact stays
    * bounded however hot the term. Def, not val (defs-init-order
    * contract). */
  private def PostingsCap: Int = 8

  /** Corpus slices for `vocab_growth`. A def, not a val (the
    * oracle-string init-order gotcha). */
  private def GrowthBuckets: Int = 10

  /** Keywords kept per document by `tfidf_keywords`. A def, not a val
    * (the oracle-string init-order gotcha). */
  private def TfidfTopK: Int = 3

  /** Support floor for `collocations_lift`: both tokens and the pair
    * itself must appear in at least this many documents — the bound
    * that keeps pair fan-out proportional to the qualified vocabulary,
    * not the raw one. */
  private[graft] def MinCollocDf: Int = 5

  /** The tier-then-bucket nucleus cut behind `vocab_top_p`: from a
    * `(tk, freq)` vocabulary, the smallest (freq DESC, tk) prefix whose
    * cumulative mass reaches pNum/pDen of the total — decomposed so no
    * window ever runs over the full vocabulary (see the query's
    * scaladoc). Takes the vocab as a frame so specs can drive the
    * boundary machinery with crafted tie-heavy corpora. */
  private[graft] def nucleusCut(vocab: org.apache.spark.sql.DataFrame,
      pNum: Long, pDen: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val tot = vocab.agg(sum(col("freq")).as("total"))
    val wTier = w.orderBy(col("freq").desc)
      .rowsBetween(w.unboundedPreceding, -1)
    val tiers = vocab.groupBy(col("freq"))
      .agg(count(lit(1)).as("n_tk"))
      .withColumn("mass", col("freq") * col("n_tk"))
      .withColumn("cum_higher", coalesce(sum(col("mass")).over(wTier), lit(0L)))
      .crossJoin(broadcast(tot))
      // last token of the tier still under the cut → whole tier kept
      .withColumn("full_keep",
        lit(pDen) * (col("cum_higher") + (col("n_tk") - 1) * col("freq"))
          < lit(pNum) * col("total"))
      // first token under the cut → tier at least touched
      .withColumn("touch", lit(pDen) * col("cum_higher") < lit(pNum) * col("total"))
    val keptFull = vocab.join(
      tiers.filter(col("full_keep")).select(col("freq")), Seq("freq"), "left_semi")
    val boundary = tiers.filter(col("touch") && !col("full_keep"))
      .select(col("freq"), col("cum_higher"), col("total"))
    val btoks = vocab.join(broadcast(boundary), Seq("freq"))
      .withColumn("bkt", substring(col("tk"), 1, 1))
    val keptBoundary = ProfilingQueries.bucketedRank(btoks, Seq("freq"), "bkt", Seq(col("tk")))
      .filter(lit(pDen) * (col("cum_higher") + (col("rnk") - 1) * col("freq"))
        < lit(pNum) * col("total"))
      .select(col("tk"), col("freq"))
    keptFull.select(col("tk"), col("freq")).unionByName(keptBoundary)
  }

  /** Per-language stopword-evidence scores over a token array — the
    * shared scoring of `lang_id` and `langid_confusion`. */
  private def langScores(t: Column): Seq[(String, Column)] =
    stopwords.map { case (l, ws) => l -> stopwordHits(t, ws).cast("long") }

  /** Argmax language prediction (first-listed language wins ties —
    * mirrored exactly by the SQL CASE order in [[langPredSqlExpr]]). */
  private[graft] def langPred(t: Column): Column = {
    val scores = langScores(t)
    scores.zipWithIndex.foldRight(lit(stopwords.last._1)) {
      case (((l, sc), i), els) =>
        if (i == scores.size - 1) els
        else when(scores.drop(i + 1).map(o => sc >= o._2).reduce(_ && _), lit(l)).otherwise(els)
    }
  }

  /** DuckDB twin of [[langScores]] over the `toks` CTE's `t` column. */
  private def langScoresSql: Seq[(String, String)] =
    stopwords.map { case (l, ws) => l -> stopwordHitsSql("t", ws) }

  /** DuckDB twin of [[langPred]] over the `toks` CTE's `t` column. */
  private def langPredSqlExpr: String = {
    val scoreSql = langScoresSql
    val cases = scoreSql.zipWithIndex.dropRight(1).map { case ((l, sc), i) =>
      val cond = scoreSql.drop(i + 1).map { case (_, o) => s"$sc >= $o" }.mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${stopwords.last._1}' END"
  }

  /** Iterated BPE merge training (Sennrich et al. 2016), shared by
    * `bpe_merges` (wants the merge table) and `bpe_encode` (wants the
    * encoded vocab). ONE corpus-sized shuffle collapses the corpus to
    * the word-frequency table (the standard BPE-training trick — at
    * 100 TB the vocab is ~1e7 rows, corpus-size-independent); every
    * merge round after that runs on the vocab-sized cached frame.
    * Each round is a superstep in the dedup_clusters style: a
    * TakeOrdered 1-row argmax action picks the (count DESC, pair ASC)
    * best pair — the documented 1-row driver-action contract, like the
    * hot-cell guard — then the merge is applied with a left-fold over
    * each word's symbol string ([[bpeApplyMerge]]). ONE job per round:
    * round r's argmax action is what materializes vocab_r's cache, so
    * the parent cache is dropped only after that action returns
    * (dropping it earlier would recompute the whole chain; a separate
    * eager count() per round would double the job count). Every
    * [[BpeCheckpointEvery]] rounds a localCheckpoint replaces the
    * persist (one extra vocab-sized job), bounding the logical-plan
    * depth — and so per-round analysis time — by the cadence constant
    * instead of r. `onRound` receives (round, analyzed-plan node count
    * of the merged vocab) — the lineage probe BpeRoundsSpec pins.
    *
    * `applyLast = false` skips the final round's merge-apply (nobody
    * consumes it) and unpersists everything before returning.
    * `applyLast = true` applies ALL rounds and returns the encoded
    * vocab still persisted but UNMATERIALIZED — its parent stays
    * cached until the caller's first action over it; the harness
    * clearCache sweep releases both (the Verify/Bench contract). Either
    * way the returned vocab plans in `s`; the rounds run in a child
    * session, so `s`'s conf is never written. */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession,
      dir: String, applyLast: Boolean,
      onRound: (Int, Int) => Unit = (_, _) => ())
      : (Seq[(Long, String, Long)], org.apache.spark.sql.DataFrame) = {
    var vocab = ProfilingQueries.widened(Tables(s, dir, "documents"))
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("syms"),
        col("freq"))
      .persist()
    // r17: the round loop's per-job width follows the VOCAB, not the
    // corpus. Every round's pair-count aggregate inherited the
    // session's corpus-scale shuffle width (32 near-empty reduce tasks
    // per tiny agg: measured 0.192 s → 0.110 s per round at sf0.1 with
    // width 4; ×50 rounds ≈ 4 s per BPE query), and the cached vocab
    // itself carried the corpus build's 32 partitions, so each round's
    // map stage ALSO launched 32 near-empty tasks. Both widths now
    // scale with the materialized vocab row count (floor 4, one
    // partition per ~250k vocab rows — a 100 TB corpus' ~1e7-word
    // vocab still spreads over ~40 tasks). The count() doubles as the
    // eager materialization of the build cache; the loop then iterates
    // on a re-persisted coalesced copy (coalesce is narrow — one cache
    // pass, no shuffle).
    val built = vocab
    val nVocab = built.count()
    val roundParts = math.min(
      math.max(4L, nVocab / 250000L),
      s.sparkContext.defaultParallelism.toLong * 4L).toInt
    vocab = QueryDef.eager(built.coalesce(roundParts))
    built.unpersist()
    // The loop runs in its own child session: the vocab-scaled width
    // and AQE-off below are ITS conf, so the caller's session (and
    // bpe_encode's corpus-sized join, planned there) keeps its own
    // settings, and concurrent callers cannot see each other's loops.
    // AQE is off because each round is a tiny 2-stage agg over the
    // vocab cache with NO join and an explicitly sized width — AQE has
    // nothing to decide, but its per-stage materialize-and-replan
    // round-trips cost a measured 0.030 s per round (0.106 → 0.076
    // s/round at sf0.1, ×50 rounds).
    val loop = SessionScope.child(s)
    loop.conf.set("spark.sql.shuffle.partitions", roundParts.toString)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    vocab = SessionScope.rebind(loop, vocab)
    var parent: org.apache.spark.sql.DataFrame = null
    val merges = Seq.newBuilder[(Long, String, Long)]
    var ok = false
    try {
      var prevN = Long.MaxValue
      for (r <- 1 to BpeMergeRounds) {
        // adjacent symbol pairs as zero-copy byte spans of `syms` (r17:
        // replaces split + per-element transform/concat lambdas — the
        // interpreted HOF ran per symbol per round; value-identity
        // pinned in ScanExpressionsSpec)
        val pairs = org.apache.spark.sql.graft.ScanExpressions.symPairs(col("syms"))
        // This per-round first() is deliberately NOT folded into a
        // broadcast (r13 verdict #7 triage): it is the round's ONLY
        // action, not an extra job — BPE training is sequentially
        // dependent (round r's merge expression is BUILT from round
        // r−1's argmax), so the fetch cannot be deferred without
        // chaining all R argmaxes as lazy broadcast joins, which
        // either recomputes each vocab level twice per round (both
        // argmax and apply reference it) or persists every level —
        // strictly more memory and executed work for the same R
        // sequential stage barriers. The localCheckpoint cadence below
        // already bounds the driver-side planning cost per round.
        val top = vocab.select(explode(pairs).as("pair"), col("freq"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(1).first()
        if (parent != null) { parent.unpersist(); parent = null }
        val (pair, n) = (top.getString(0), top.getLong(1))
        // merged-pair counts are provably non-increasing (every
        // new pair a merge creates occurs at most as often as the
        // merged pair did) — a violation is an engine bug
        require(n <= prevN,
          s"BPE round $r count $n exceeds previous round's $prevN")
        prevN = n
        merges += ((r.toLong, pair, n))
        if (r < BpeMergeRounds || applyLast) {
          val Array(a, b) = pair.split(' ')
          val merged = vocab.select(
            bpeApplyMerge(col("syms"), a, b).as("syms"),
            col("freq"))
          if (r % BpeCheckpointEvery == 0) {
            // cadence round: an eager localCheckpoint replaces the
            // persist, truncating the r-deep select-chain lineage to a
            // LogicalRDD. Without it, every round's argmax re-analyzes
            // a plan one bpeApplyMerge fold DEEPER than the last —
            // O(r) analysis per round, O(R²) total, and at R=50 the
            // driver-side planning dominates the vocab-sized job
            // (measured: see SCALE.md §bpe). The checkpoint job reads
            // this round's already-materialized cache (the argmax
            // action above populated it), so it costs one vocab-sized
            // pass; the pre-checkpoint cache is dropped immediately —
            // the checkpoint blocks, not the cache, back later rounds.
            val cp = merged.localCheckpoint()
            vocab.unpersist()
            vocab = cp
          } else {
            parent = vocab
            vocab = merged.persist()
          }
          onRound(r, vocab.queryExecution.analyzed.collect { case n => n }.size)
        }
      }
      ok = true
    } finally {
      if (!ok || !applyLast) {
        if (parent != null) parent.unpersist()
        vocab.unpersist()
      }
    }
    val rows = merges.result()
    // the table must show COMPOUNDING — some selected pair built on
    // an earlier round's merged symbol — or the "iteration" never
    // went beyond round-1 statistics (holds from round 6-8 on every
    // testdata SF; a corpus failing this needs more rounds)
    require(rows.exists(_._2.split(' ').exists(_.length > 1)),
      s"no compounded merge in $BpeMergeRounds BPE rounds")
    (rows, SessionScope.rebind(s, vocab))
  }

  /** The recursive-CTE DuckDB twin of [[bpeTrain]]: `bpe` carries the
    * whole vocab as ONE list-of-structs row per round (aggregates +
    * LATERAL in recursive terms — the mmr_rerank technique; prototyped
    * against a pure-python reference BPE before landing, per SCALE.md).
    * Round r's vocab has r merges applied; `bpe_merges` reads the
    * pair/n columns, `bpe_encode` unnests round [[BpeMergeRounds]]'s
    * vocab. Ends after the `bpe` CTE so callers can extend the WITH
    * list or select directly. */
  private def bpeCteSql: String =
    s"""WITH RECURSIVE
       |wf AS (
       |  SELECT w AS word, COUNT(*) AS freq FROM (
       |    SELECT unnest(${tokensSql("text")}) AS w
       |    FROM documents)
       |  GROUP BY 1),
       |init AS (
       |  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS syms, freq
       |  FROM wf),
       |bpe AS (
       |  SELECT CAST(0 AS BIGINT) AS round, CAST(NULL AS VARCHAR) AS pair,
       |         CAST(NULL AS BIGINT) AS n,
       |         list({'syms': syms, 'freq': freq}) AS vocab
       |  FROM init
       |  UNION ALL
       |  SELECT s.round + 1, best.pair, best.n,
       |         list_transform(s.vocab, v -> {
       |           'syms': list_reduce(string_split(v.syms, ' '), (acc, x) ->
       |             CASE WHEN regexp_extract(acc, '[^ ]+$$') = string_split(best.pair, ' ')[1]
       |                   AND x = string_split(best.pair, ' ')[2]
       |               THEN regexp_replace(acc, '[^ ]+$$', replace(best.pair, ' ', ''))
       |               ELSE acc || ' ' || x END),
       |           'freq': v.freq})
       |  FROM bpe s, LATERAL (
       |    SELECT pr AS pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
       |      SELECT unnest(list_transform(range(1, len(sy)),
       |               i -> sy[i] || ' ' || sy[i+1])) AS pr, freq
       |      FROM (SELECT string_split(v.syms, ' ') AS sy, v.freq AS freq
       |            FROM (SELECT unnest(s.vocab) AS v)))
       |    GROUP BY pr ORDER BY n DESC, pr LIMIT 1) best
       |  WHERE s.round < $BpeMergeRounds)""".stripMargin

  /** Greedy leftmost-non-overlapping application of BPE merge (a, b)
    * to a space-joined symbol string: a left fold that replaces the
    * accumulator's last symbol with the merged one whenever (last,
    * next) == (a, b). The fold IS the reference semantics — after a
    * merge the accumulator tail becomes `ab` ≠ `a`, so an adjacent
    * overlap can't double-fire (an odd run "a a a a a" folds to
    * "aa aa a", exactly greedy; a regex replace over the joined string
    * shares boundary separators between consecutive matches and gets
    * that case wrong). The DuckDB twin is the same fold via
    * list_reduce. */
  private[graft] def bpeApplyMerge(syms: org.apache.spark.sql.Column,
      a: String, b: String): org.apache.spark.sql.Column =
    // native one-pass byte walk (r17) — replaces the `aggregate` fold
    // whose lambda ran two java.util.regex operations per symbol.
    // Identical greedy leftmost-non-overlapping semantics (the odd-run
    // and compounding cases stay pinned in TextDedupSpec).
    org.apache.spark.sql.graft.ScanExpressions.bpeMerge(syms, a, b)

  /** bpe_merges round count. 50 is training scale for this corpus:
    * compounded merges (a pair containing an earlier round's merged
    * symbol) appear from rounds 6-8 on every testdata SF, and by 50
    * the table is dominated by multi-char symbols (whole testdata
    * words like 'vector'/'line' assemble by rounds 48-50). A def, not
    * a val: it is interpolated into the oracle string at `defs` init
    * (the round-7 init-order gotcha). */
  private def BpeMergeRounds = 50

  /** Lineage-truncation cadence for [[bpeTrain]]: localCheckpoint
    * every this-many merge rounds. Bounds the logical-plan depth any
    * argmax analyzes to ≤ this constant, holding per-round wall time
    * flat (BpeRoundsSpec pins flatness; cost model in SCALE.md §bpe).
    * 8 trades ~6 extra vocab-sized checkpoint jobs over R=50 against
    * an 8-deep worst-case plan — both negligible next to the
    * per-round pair-count shuffle. */
  private def BpeCheckpointEvery = 8
}
