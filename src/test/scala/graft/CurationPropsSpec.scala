package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests for the curation operators: `text_repetition` is
  * checked against an independent in-memory reference implementation
  * over GENERATED corpora (including degenerate 0/1/2-token docs the
  * testdata never produces — the left-outer + coalesce path), and the
  * histogram/BM25 invariants that must hold on any input are pinned on
  * real testdata. Uses scalacheck Gen directly (sampled trials), same
  * offline-deps pattern as TransformerPropsSpec. */
class CurationPropsSpec extends SparkSuite {

  private val trials = 6
  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    (1 to trials).foreach { i =>
      body(g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .getOrElse(g.sample.get))
    }

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "ep5")
  private val docGen: Gen[String] =
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private def writeDocs(texts: Seq[String]): String = {
    val dir = tmpDir("curation_props")
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", Option(t).fold(0L)(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def tokenize(text: String): List[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toList
  private def grams(toks: List[String], n: Int): List[String] =
    if (toks.size < n) Nil else toks.sliding(n).map(_.mkString(" ")).toList
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("null text is tolerated: zero-gram row, never a crash or a dropped doc") {
    // real corpora carry nulls; the graceful path is size(NULL) → NULL
    // → shingles' otherwise-branch → empty gram list → left-outer +
    // coalesce zeros. Pin it end to end.
    import spark.implicits._
    val dir = tmpDir("curation_nulls")
    Seq((0L, "alpha beta alpha beta gamma"), (1L, null), (2L, ""))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_repetition")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_3grams"), r.getAs[Long]("is_repetitive"))).toMap
    spark.catalog.clearCache()
    assert(rows.size == 3)                 // the null-text doc survives
    assert(rows(1L) == (0L, 0L) && rows(2L) == (0L, 0L))
    assert(rows(0L)._1 == 3L)
  }

  test("text_repetition agrees with an in-memory reference on generated corpora (incl. 0/1/2-token docs)") {
    forAll(Gen.listOfN(10, docGen)) { texts =>
      val all = texts ++ Seq("", "one", "one two", "x x x x x x")
      val dir = writeDocs(all)
      val got = SparkEntry.queries("text_repetition")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_3grams"), r.getAs[Double]("dup3_frac"),
            r.getAs[Double]("top2_frac"), r.getAs[Long]("is_repetitive"))).toMap
      spark.catalog.clearCache() // text_repetition persists its gram frame
      assert(got.size == all.size)
      all.zipWithIndex.foreach { case (text, i) =>
        val t = tokenize(text)
        val bg = grams(t, 2)
        val tg = grams(t, 3)
        val expDup3 = r6((tg.size - tg.distinct.size).toDouble / math.max(tg.size, 1))
        val expTop2 = r6(
          bg.groupBy(identity).values.map(_.size).maxOption.getOrElse(0).toDouble /
            math.max(bg.size, 1))
        val (nTg, dup3, top2, flag) = got(i.toLong)
        assert(nTg == tg.size, s"doc $i '$text'")
        assert(dup3 == expDup3, s"doc $i '$text': dup3 $dup3 != $expDup3")
        assert(top2 == expTop2, s"doc $i '$text': top2 $top2 != $expTop2")
        assert(flag == (if (expDup3 > 0.01 || expTop2 > 0.07) 1L else 0L))
      }
    }
  }

  /** quality_ensemble's rows folded in memory from its three subject
    * queries' per-doc verdicts (gopher_rules.keep,
    * quality_classifier.keep, 1 − text_repetition.is_repetitive joined
    * on doc_id), with SQL null semantics: a null vote makes `votes`
    * null and never agrees. */
  private def ensembleOfSubjects(dir: String): Map[String, Long] = {
    def q(name: String) = SparkEntry.queries(name)(spark, dir)
    val votes = q("gopher_rules").select(col("doc_id"), col("keep").as("kg"))
      .join(q("quality_classifier").select(col("doc_id"), col("keep").as("kc")), "doc_id")
      .join(q("text_repetition")
        .select(col("doc_id"), (lit(1L) - col("is_repetitive")).as("kr")), "doc_id")
      .collect()
      .map(r => (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
    spark.catalog.clearCache()
    val n = votes.length.toLong
    def agree(a: Int, b: Int) =
      votes.count(v => v(a).isDefined && v(a) == v(b)) * 1000000L / n
    val total = votes.map(v => if (v.forall(_.isDefined)) Some(v.flatten.sum) else None)
    total.groupBy(identity).map { case (k, vs) =>
      k.map(t => s"votes_$t").orNull -> vs.length.toLong } ++ Map(
      "agree_gopher_classifier_ppm" -> agree(0, 1),
      "agree_gopher_repetition_ppm" -> agree(0, 2),
      "agree_classifier_repetition_ppm" -> agree(1, 2),
      "keep_majority" -> total.count(_.exists(_ >= 2)).toLong,
      "keep_strict" -> total.count(_.contains(3L)).toLong)
  }

  private def ensemble(dir: String): Map[String, Long] = {
    val got = SparkEntry.queries("quality_ensemble")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    spark.catalog.clearCache()
    assert(got.map(_._1).distinct.length == got.length, got.mkString(", "))
    got.toMap
  }

  test("quality_ensemble is the per-doc composition of its three subject queries") {
    val testdata = new java.io.File(sf("documents")).getParent // the sf0.001 corpus
    val want = ensembleOfSubjects(testdata)
    assert(ensemble(testdata) == want)
    // non-vacuous on testdata: the voters disagree somewhere
    assert(want.keys.count(k => k != null && k.startsWith("votes_")) >= 2, want.toString)
    // generated corpora long enough to pass the Gopher word-count and
    // classifier length features, plus null-text and 0/1/2-token docs
    val words = Gen.oneOf("the", "and", "of", "alpha", "beta", "gamma", "ep5", "404")
    val longDoc = Gen.choose(0, 90).flatMap(n => Gen.listOfN(n, words)).map(_.mkString(" "))
    forAll(Gen.listOfN(12, longDoc)) { texts =>
      val dir = writeDocs(texts ++ Seq(null, "", "one", "one two", "x x x x x x"))
      assert(ensemble(dir) == ensembleOfSubjects(dir))
    }
  }

  test("exact-dup fingerprint: NFC, case and whitespace-run variants are one group") {
    val variants = Seq(
      "Caf\u00e9 au lait avec cr\u00e8me",        // composed accents
      "Cafe\u0301 au lait avec cre\u0300me",      // decomposed accents
      "CAF\u00c9 AU LAIT AVEC CR\u00c8ME",        // upper case, composed
      "CAFE\u0301 AU LAIT AVEC CRE\u0300ME",      // upper case, decomposed
      "Caf\u00e9  au\t\tlait\n\navec   cr\u00e8me") // whitespace runs
    val others = Seq("the cat and dog run far", "caf\u00e9 au lait", "Cafe au lait avec creme")
    val dir = writeDocs(others ++ variants)
    val exact = SparkEntry.queries("dedup_exact")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dups")).toMap
    val calib = SparkEntry.queries("quality_calibration")(spark, dir).collect()
    val fp = SparkEntry.queries("doc_fingerprint")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp_md5")).toMap
    spark.catalog.clearCache()
    assert(exact == (0L until others.length.toLong).map(_ -> 1L).toMap +
      (others.length.toLong -> variants.length.toLong), exact.toString)
    // doc_fingerprint's fp_md5 is the same exact-dup key: one value for
    // the variants, a distinct one for each near-miss
    val variantFps = fp.filter(_._1 >= others.length).values.toSet
    assert(variantFps.size == 1 && fp.values.toSet.size == others.length + 1, fp.toString)
    assert(calib.map(_.getAs[Long]("n_docs")).sum == others.length + variants.length)
    assert(calib.map(_.getAs[Long]("n_dup")).sum == variants.length, calib.mkString(", "))
  }

  test("token_histogram partitions the corpus: counts sum to |docs|, buckets hold their ranges") {
    forAll(Gen.listOfN(15, docGen)) { texts =>
      val dir = writeDocs(texts ++ Seq("", "one two three"))
      val rows = SparkEntry.queries("token_histogram")(spark, dir).collect()
      spark.catalog.clearCache()
      assert(rows.map(_.getAs[Long]("n_docs")).sum == texts.size + 2)
      rows.foreach { r =>
        val b = r.getAs[Long]("bucket")
        val (lo, hi) = (r.getAs[Long]("min_tokens"), r.getAs[Long]("max_tokens"))
        assert(lo <= hi)
        assert(lo >= b * 8)
        if (b < 12) assert(hi < (b + 1) * 8) // top bucket is open-ended
        assert(r.getAs[Long]("sum_tokens") >= lo && b >= 0 && b <= 12)
      }
    }
  }

  test("bm25_search invariants on testdata: dense unique ranks, ordered positive scores") {
    val rows = SparkEntry.queries("bm25_search")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("query"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
    spark.catalog.clearCache()
    // non-vacuous: every registered query must have produced results,
    // or its invariants below would silently never be checked
    assert(rows.map(_._1).toSet ==
      Set("q_scan_fast", "q_merge_join", "q_stream_window"))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rs.length).toSeq, s"$q ranks not dense")
      assert(rs.length <= 10)
      assert(rs.forall(_._4 > 0L), s"$q has non-positive scores")
      // rank order == (score desc, doc_id asc) order
      val expected = rs.sortBy(t => (-t._4, t._3)).map(_._3).toSeq
      assert(sorted.map(_._3).toSeq == expected, s"$q rank order broken")
    }
  }

  test("gopher_rules: keep composes the flags; the battery is non-vacuous on testdata") {
    val rows = SparkEntry.queries("gopher_rules")(spark, "/root/testdata/sf0.001")
      .collect()
    spark.catalog.clearCache()
    val flags = Seq("r_words", "r_word_len", "r_alpha", "r_symbol", "r_stopwords")
    rows.foreach { r =>
      val all = flags.forall(f => r.getAs[Long](f) == 1L)
      assert((r.getAs[Long]("keep") == 1L) == all,
        s"doc ${r.getLong(0)}: keep does not equal the AND of its flags")
    }
    // the battery must SPLIT the corpus, and so must the individual
    // rules the augmentation tail exists for — a testdata or
    // augmentation change that makes them vacuous should fail here,
    // not silently weaken the oracle
    val keeps = rows.count(_.getAs[Long]("keep") == 1L)
    assert(keeps > 0 && keeps < rows.length, s"keep is degenerate: $keeps/${rows.length}")
    for (f <- Seq("r_words", "r_symbol", "r_stopwords", "r_alpha")) {
      val passes = rows.count(_.getAs[Long](f) == 1L)
      assert(passes > 0 && passes < rows.length, s"$f is degenerate: $passes/${rows.length}")
    }
  }

  test("vocab_top_p nucleus cut: tier+bucket decomposition equals the serial scan, boundary in the freq=1 tail") {
    // the case the bucket machinery exists for: a Zipf head plus a
    // freq=1 tail holding most of the vocabulary, with the mass cut
    // landing INSIDE the tail — the within-tier lexicographic rank
    // must agree with the serial (freq DESC, tk) scan exactly
    import spark.implicits._
    val entries = Seq(("alpha", 50L), ("beta", 30L), ("gamma", 20L)) ++
      (1 to 200).map(i => (f"tail$i%03d", 1L))
    val got = graft.queries.TextQueries
      .nucleusCut(entries.toDF("tk", "freq"), pNum = 9L, pDen = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val sorted = entries.sortBy { case (tk, f) => (-f, tk) }
    val total = sorted.map(_._2).sum
    var cum = 0L
    val want = sorted.takeWhile { case (_, f) =>
      val keep = 10L * cum < 9L * total; cum += f; keep
    }.toSet
    assert(got == want)
    // non-vacuous: the cut keeps part of the tail tier, not all of it
    assert(want.exists(_._2 == 1L) && want.size < entries.size,
      s"cut degenerate: kept ${want.size} of ${entries.size}")
  }

  test("filter_ablation: unique-failure attribution is exact on a planted corpus") {
    import spark.implicits._
    import graft.queries.CurationQueries
    val d = tmpDir("ablation")
    val pass6 = "the cat and dog run far" // 6 words, avg len 3, 2 stopword types
    val digits6 = "111 222 333 444 555 666"
    val rows = Seq(
      // doc 1: passes every rule
      (1L, Seq.fill(10)(pass6).mkString(" "), "en", "s"),
      // doc 2: 18 words < 50 — fails ONLY r_words
      (2L, Seq.fill(3)(pass6).mkString(" "), "en", "s"),
      // doc 3: 60 digit words — fails r_alpha AND r_stopwords (never unique)
      (3L, Seq.fill(10)(digits6).mkString(" "), "en", "s"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = CurationQueries.defs.find(_.name == "filter_ablation").get
      .fn(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == Set("words", "word_len", "alpha", "symbol", "stopwords"))
    assert(got("words") == ((1L, 1L, 2L, 500L)), got.toString) // doc 2, unique
    assert(got("alpha") == ((1L, 0L, 2L, 0L)), got.toString) // doc 3, shared
    assert(got("stopwords") == ((1L, 0L, 2L, 0L)), got.toString) // doc 3, shared
    assert(got("word_len") == ((0L, 0L, 2L, 0L)), got.toString)
    assert(got("symbol") == ((0L, 0L, 2L, 0L)), got.toString)
  }

  test("filter_ablation invariants vs gopher_rules on testdata") {
    import graft.queries.CurationQueries
    val dir = "/root/testdata/sf0.001"
    val abl = CurationQueries.defs.find(_.name == "filter_ablation").get
      .fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val flags = CurationQueries.defs.find(_.name == "gopher_rules").get
      .fn(spark, dir).collect()
    val nReject = flags.count(_.getLong(6) == 0L).toLong
    abl.foreach { case (rule, (nFail, nUnique, rj)) =>
      assert(rj == nReject, s"$rule reports n_reject $rj != $nReject")
      assert(nUnique <= nFail, s"$rule: unique $nUnique > fail $nFail")
    }
    // per-rule n_fail matches the flag frame column-for-column
    val idx = Map("words" -> 1, "word_len" -> 2, "alpha" -> 3,
      "symbol" -> 4, "stopwords" -> 5)
    idx.foreach { case (rule, i) =>
      val expected = flags.count(_.getLong(i) == 0L).toLong
      assert(abl(rule)._1 == expected, s"$rule n_fail ${abl(rule)._1} != $expected")
    }
    // unique failures can never exceed total rejections
    assert(abl.values.map(_._2).sum <= nReject)
    // the battery is non-vacuous: something fails, something is unique
    assert(abl.values.map(_._1).sum > 0L && abl.values.map(_._2).sum > 0L)
  }

  test("quality_auc equals the O(N^2) Mann-Whitney pair count on a mixed planted corpus") {
    import spark.implicits._
    import graft.queries.{CurationQueries, QueryDef, TextQueries}
    // testdata has ZERO exact dups below sf0.1, so the brute check
    // needs a planted mix: seeded texts of graded quality, a third of
    // them duplicated 2-3x, interleaved so neither class dominates
    // either end of the score axis (ties across classes included —
    // dup group vs a structurally-identical unique text)
    val d = tmpDir("auc_brute")
    val rnd = new scala.util.Random(42)
    val stop = Seq("the", "and", "for", "with", "that")
    def text(i: Int): String = {
      val words = 5 + rnd.nextInt(40)
      (1 to words).map { j =>
        if (rnd.nextInt(10) < 3) stop(rnd.nextInt(stop.length))
        else if (rnd.nextInt(10) < 2) "!!!"
        else s"w${i}x$j"
      }.mkString(" ")
    }
    val base = (1 to 60).map(i => (i.toLong, text(i)))
    val dupped = base.flatMap { case (id, t) =>
      if (id % 3 == 0) (0 to 1 + rnd.nextInt(2)).map(k => (id * 100 + k, t))
      else Seq((id, t))
    } ++ Seq(
      // exact cross-class score TIE: the score depends only on (token
      // count, char length, punct count, stopword hits) — a dup pair
      // and a unique doc with identical structural stats but different
      // words land on the same micro-point
      (9999L, "aaa bbb the ccc ddd !!!"), (9998L, "aaa bbb the ccc ddd !!!"),
      (9997L, "zzz yyy the xxx www !!!"))
    dupped.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // per-doc (score_u6, dup) via the same column definitions the
    // query uses; the brute force below exercises only the RANK/U
    // machinery against literal pair counting
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(QueryDef.microPoints(TextQueries.qualityScore(col("text"))).as("u"),
        graft.functions.TextFunctions.exactFp(col("text")).as("fp"))
    val grp = docs.groupBy("fp").agg(count(lit(1)).as("n"))
    val ud = docs.join(grp, Seq("fp"))
      .select(col("u"), (col("n") > 1L).as("d")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val pos = ud.filter(_._2).map(_._1)
    val neg = ud.filterNot(_._2).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, s"degenerate plant: ${pos.length}/${neg.length}")
    // 2U = #{(dup, clean) : dup < clean} doubled + ties once
    var u2 = 0L
    pos.foreach(p => neg.foreach { q =>
      if (p < q) u2 += 2L else if (p == q) u2 += 1L
    })
    assert(pos.exists(p => neg.contains(p)),
      "plant lost its cross-class score tie") // tie path is exercised
    val expected = (u2 * 500000L) / (pos.length.toLong * neg.length)
    val got = CurationQueries.defs.find(_.name == "quality_auc").get
      .fn(spark, d).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == pos.length.toLong)
    assert(got.head.getLong(1) == neg.length.toLong)
    assert(got.head.getLong(2) == expected,
      s"auc ${got.head.getLong(2)} != brute $expected")
  }

  test("quality_auc on a dup-free corpus is the 0-positives sentinel") {
    import graft.queries.CurationQueries
    val got = CurationQueries.defs.find(_.name == "quality_auc").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 0L, s"sf0.001 grew exact dups: ${got.head}")
    assert(got.head.getLong(1) == 500L)
    assert(got.head.getLong(2) == 0L)
  }

  test("quality_auc: perfectly separated planted corpus scores AUC = 1") {
    import spark.implicits._
    import graft.queries.CurationQueries
    val d = tmpDir("auc_planted")
    val good6 = "the cat and dog run far"
    // 10 clean docs: unique high-quality text (score near 1);
    // 2x3 dup docs: identical junk (low score: no stopwords, punct-heavy)
    val clean = (1 to 10).map(i =>
      (i.toLong, s"tail$i " + Seq.fill(10)(good6).mkString(" "), "en", "s"))
    val dups = (11 to 16).map(i =>
      (i.toLong, s"### !!! 111 ,,, ### !!! junk${(i - 11) / 2} ;;;", "en", "s"))
    (clean ++ dups).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = CurationQueries.defs.find(_.name == "quality_auc").get
      .fn(spark, d).collect().head
    assert(got.getLong(0) == 6L && got.getLong(1) == 10L, got.toString)
    assert(got.getLong(2) == 1000000L, s"expected AUC 1.0, got ${got.getLong(2)}")
  }
}
