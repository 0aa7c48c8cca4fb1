package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Pins `dedup_semantic` (SemDeDup shape — centroid cells, within-cell
  * cosine prune). The driver-gated query runs over exact stand-in
  * centroids (first k vec_ids) so its DuckDB oracle is bit-exact; the
  * TRAINED path (KMeans.train centroids — float means, not bit-stable
  * cross-engine) is pinned here instead: for BOTH paths the keep/drop
  * rule must agree EXACTLY with an independently computed brute-force
  * pass over the same cell assignment.
  */
class SemDedupSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Same rounding contract as TextFunctions.cosine. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      dab += a(i).toDouble * b(i).toDouble
      daa += a(i).toDouble * a(i).toDouble
      dbb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    BigDecimal(dab / math.sqrt(daa) / math.sqrt(dbb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Brute force: collect the (small) assignment, compute all
    * within-cell pairs in Scala, drop = has lower-id mate >= tau. */
  private def bruteDrops(assigned: org.apache.spark.sql.DataFrame): (Set[Long], Set[Long]) = {
    val rows = assigned
      .select(col("vec_id"), col("c_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val dropped = (for {
      Seq((idA, _, embA), (idB, _, embB)) <-
        rows.groupBy(_._2).values.flatMap(_.toSeq.combinations(2))
      hi = if (idA > idB) (idA, embA, embB) else (idB, embB, embA)
      if cos(hi._2, hi._3) >= 0.4
    } yield hi._1).toSet
    (rows.map(_._1).toSet, dropped)
  }

  test("dedup_semantic (frozen-centroid driver query) matches brute-force within-cell pruning") {
    val (assigned, _, k) = graft.queries.DedupQueries.semanticDropsFrozen(
      spark, dir, tau = 0.4)
    val (all, expectDropped) = bruteDrops(assigned)
    val kept = SparkEntry.queries("dedup_semantic")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all.size === 500)
    assert(k === 8)                         // default target: floor k
    assert((all -- kept) === expectDropped) // exact keep/drop agreement
    assert(expectDropped.nonEmpty)          // the corpus has semantic dups
    spark.catalog.clearCache()              // release semanticDropsFrozen's persist
  }

  test("dedup_semantic_k exercises the k-growth branch and still matches brute force") {
    // the 100×-scale mechanism: k = ceil(rows/target), NOT the floor —
    // many cells, k-way argmin tie-breaks, many-cell prune
    val (assigned, _, k) = graft.queries.DedupQueries.semanticDropsFrozen(
      spark, dir, tau = 0.4,
      targetRows = graft.queries.DedupQueries.GrowthProbeTargetRows)
    assert(k === 32) // 500 rows / target 16, off the floor of 8
    val (all, expectDropped) = bruteDrops(assigned)
    val kept = SparkEntry.queries("dedup_semantic_k")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all.size === 500)
    assert((all -- kept) === expectDropped)
    spark.catalog.clearCache()
  }

  test("hot-cell guard: a pathologically clumped corpus fails loudly, never runs |cell|² = all-pairs") {
    // frozen first-k centroids have NO balance guarantee: identical
    // vectors all tie on cosine to every centroid and the c_id
    // tie-break funnels the ENTIRE corpus into cell 0 — the within-cell
    // self-join would be quadratic in the corpus. The guard must throw,
    // not start that job.
    import spark.implicits._
    val out = tmpDir("clumped_corpus")
    val one = Array.fill(8)(1.0f)
    (0L until 5000L).map(i => (i, one)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      graft.queries.DedupQueries.semanticDropsFrozen(
        spark, out, tau = 0.4, targetRows = 4)
    }
    assert(e.getMessage.contains("hot cell"), e.getMessage)
    spark.catalog.clearCache()
  }

  test("hot-cell guard: the real corpus at the growth-probe target stays inside the bound") {
    // documents the balance claim the driver queries rely on: testdata
    // embeddings spread across cells — the guard is headroom, not a
    // knife-edge (it throws inside semanticDropsFrozen if violated)
    val (assigned, _, k) = graft.queries.DedupQueries.semanticDropsFrozen(
      spark, dir, tau = 0.4,
      targetRows = graft.queries.DedupQueries.GrowthProbeTargetRows)
    val maxCell = assigned.groupBy("c_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).first().getLong(0)
    assert(k === 32)
    assert(maxCell <= 4096) // the HotCellFloor the guard enforces
    spark.catalog.clearCache()
  }

  test("trained-centroid path matches brute-force within-cell pruning") {
    val (assigned, drops) = graft.queries.DedupQueries.semanticDrops(
      spark, dir, k = 8, iters = 3, tau = 0.4)
    val (all, expectDropped) = bruteDrops(assigned)
    val actualDropped = drops.collect().map(_.getLong(0)).toSet
    assert(all.size === 500)
    assert(actualDropped === expectDropped) // exact keep/drop agreement
    assert(expectDropped.nonEmpty)
    spark.catalog.clearCache()              // release semanticDrops' persist
  }

  test("semanticDrops returns its cells ALREADY materialized (AQE race guard)") {
    // both prune self-join sides and the kept anti-join read `assigned`;
    // a persist that is only registered lets their stages race to fill it
    spark.catalog.clearCache()
    val (assigned, _) = graft.queries.DedupQueries.semanticDrops(
      spark, dir, k = 8, iters = 3, tau = 0.4)
    val ds = assigned.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cached = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
    assert(cached.nonEmpty, "semanticDrops' cells are not persisted")
    assert(cached.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded,
      "semanticDrops' cells are persisted but not yet populated")
    spark.catalog.clearCache()
  }

  test("trained drop set agrees with the frozen-centroid drop set (behavioral anchor)") {
    // The driver-gated queries run frozen stand-in centroids (bit-exact
    // cross-engine); production runs KMeans.train. Each path is already
    // pinned EXACTLY against brute force under its own assignment
    // (above) — this anchors them to EACH OTHER: on a corpus where both
    // are stable, the two keep/drop decisions must largely coincide,
    // because tau-similar pairs that co-locate under one partition
    // mostly co-locate under the other. Agreement is a rate bound (not
    // a hash): Lloyd's moves cell boundaries, so boundary pairs may
    // legitimately split (measured here: 18 frozen vs 19 trained drops,
    // 11 common — drop-set Jaccard 0.42 purely from boundary movement).
    // Two bounds, each with real margin, chosen so degenerate trained
    // paths fail: per-vector keep/drop decisions agree on >= 90% of the
    // corpus (measured 97%; drop-everything fails this), and >= half of
    // the frozen drops are re-found by the trained path (measured 0.61;
    // drop-nothing fails this — nonEmpty alone would not).
    val (frozenAssigned, frozenDrops, k) =
      graft.queries.DedupQueries.semanticDropsFrozen(spark, dir, tau = 0.4)
    val n = frozenAssigned.count()
    val frozen = frozenDrops.collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    val (_, trainedDrops) = graft.queries.DedupQueries.semanticDrops(
      spark, dir, k = k, iters = 3, tau = 0.4)
    val trained = trainedDrops.collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    assert(frozen.nonEmpty && trained.nonEmpty)
    val disagreements = ((frozen | trained) -- (frozen & trained)).size
    val decisionAgreement = (n - disagreements).toDouble / n
    val frozenRecall = (frozen & trained).size.toDouble / frozen.size
    info(s"frozen=${frozen.size} trained=${trained.size} " +
      s"decisionAgreement=$decisionAgreement frozenRecall=$frozenRecall")
    assert(decisionAgreement >= 0.9,
      s"trained/frozen keep-drop divergence: agreement=$decisionAgreement " +
        s"(frozen=${frozen.size}, trained=${trained.size}) — the frozen " +
        "driver queries no longer anchor the production path")
    assert(frozenRecall >= 0.5,
      s"trained path re-finds only $frozenRecall of the frozen drops")
  }

  test("quantized pre-collapse: the atomic hot ball becomes one representative") {
    // gen_scale --skew's adversarial shape: a 45%-of-corpus ball of
    // near-identical vectors (per-row 1e-6-scale dim-0 perturbation).
    // k-means cannot split an atomic point mass at ANY k (every member
    // is nearest the same centroid), so the within-cell prune would be
    // quadratic in the ball — the pre-collapse is what bounds it: all
    // members round to the same 1e-5 grid point and collapse to the
    // lowest-id representative BEFORE clustering.
    import spark.implicits._
    val dims = 8
    val ball = (0L until 900L).map { i =>
      val e = Array.tabulate(dims)(d => 0.5f + d * 0.01f)
      e(0) = e(0) + (i % 7).toFloat * 1e-7f // sub-half-grid perturbation
      (i, e)
    }
    val spread = (900L until 1000L).map { i =>
      // 101 prime > the 100-element range, so no two spread vectors
      // coincide on the lattice (i ≡ j mod 101 ⇒ i = j here)
      (i, Array.tabulate(dims)(d => (((i * 31 + d * 7) % 101) / 101.0f) - 0.5f))
    }
    val emb = (ball ++ spread).toDF("vec_id", "embedding")
    val reps = graft.queries.DedupQueries.quantizedRepsOf(emb).collect()
    val repIds = reps.map(_.getLong(0)).toSet
    // the ball contributes exactly ONE representative: its lowest id
    assert(repIds.contains(0L))
    assert(repIds.count(_ < 900L) === 1,
      s"ball must collapse to one rep, got ${repIds.count(_ < 900L)}")
    // the spread vectors are all far apart on the grid — all survive
    assert(repIds.count(_ >= 900L) === 100)
    // collapse guarantee: every collapsed member is a semantic
    // duplicate of its representative by any usable tau
    val rep0 = ball.head._2
    ball.tail.foreach { case (_, e) => assert(cos(rep0, e) >= 0.999) }
  }

  test("dedup_semantic_trained: kept set = reps minus brute-force drops under the trained cells") {
    // end-to-end pin of the new driver query's machinery on the real
    // corpus: quantized reps -> KMeans(k=8, iters=2) -> within-cell
    // prune, checked against an independent brute-force pass over the
    // same assignment (the exactness convention of this suite)
    val reps = graft.queries.DedupQueries.quantizedReps(spark, dir)
    val cents = graft.operators.KMeans.train(reps, 8, 2)
    val assigned = graft.operators.KMeans.assign(reps, cents)
    val (all, expectDropped) = bruteDrops(assigned)
    val kept = SparkEntry.queries("dedup_semantic_trained")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept === (all -- expectDropped))
    assert(expectDropped.nonEmpty)
    // centroids moved off their init (TrainedIters is load-bearing):
    // the init is the first k reps verbatim; after 2 Lloyd steps at
    // least one centroid must differ from its seed vector
    val init = reps.orderBy(col("vec_id")).limit(8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    val trained = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(init.keySet === trained.keySet)
    assert(init.exists { case (id, e) => trained(id) != e },
      "2 Lloyd iterations left every centroid exactly at its init")
    spark.catalog.clearCache()
  }

  test("cell-count sizing: floor 8, bounded cells, capped") {
    import graft.queries.DedupQueries.{cellCount, CellTargetBytes, cellCountRows, CellTargetRows}
    // all testdata SFs sit on the floor — the exactness tests above and
    // the driver's oracle rely on k = 8 at test scale
    assert(cellCount(0) == 8)
    assert(cellCount(BigInt(800000)) == 8) // sf0.1 embeddings file size
    // past the floor, k tracks input so |cell| stays bounded (the
    // within-cell self-join is |cell|² — cells must not grow with the
    // corpus)
    assert(cellCount(CellTargetBytes * 100) == 100)
    assert(cellCount(BigInt(1) << 62) == (1 << 20)) // cap, no overflow
    assert(cellCount(CellTargetBytes + 1) >= cellCount(CellTargetBytes))
    // row-count variant (drives the ORACLED dedup_semantic: a row count
    // is the one sizing signal DuckDB recomputes exactly)
    assert(cellCountRows(0) == 8)
    assert(cellCountRows(500) == 8)   // sf0.001/sf0.01 embeddings
    assert(cellCountRows(2000) == 8)  // sf0.1 embeddings
    assert(cellCountRows(CellTargetRows * 100) == 100)
    assert(cellCountRows(Long.MaxValue) == (1 << 20)) // cap, no overflow
    assert(cellCountRows(CellTargetRows + 1) >= cellCountRows(CellTargetRows))
    // parameterized target (dedup_semantic_k's growth probe): off the
    // floor at EVERY driver SF
    import graft.queries.DedupQueries.GrowthProbeTargetRows
    assert(cellCountRows(500, GrowthProbeTargetRows) == 32)   // sf0.001/sf0.01
    assert(cellCountRows(2000, GrowthProbeTargetRows) == 125) // sf0.1
  }

  test("dropped vectors always have a kept lower-id cell-mate justifying the drop") {
    val (assigned, drops) = graft.queries.DedupQueries.semanticDrops(
      spark, dir, k = 8, iters = 3, tau = 0.4)
    val justified = drops.as("d")
      .join(assigned.as("x"), col("d.vec_id") === col("x.vec_id"))
      .join(assigned.as("w"),
        col("w.c_id") === col("x.c_id") && col("w.vec_id") < col("x.vec_id"))
      .filter(cosineFast(col("x.embedding"), col("w.embedding"),
        col("x.nrm"), col("w.nrm")) >= 0.4)
      .select(col("d.vec_id")).distinct().count()
    assert(justified === drops.count()) // every drop has a witness
    spark.catalog.clearCache()
  }

  test("dedup_semantic_incremental: planted corpus-dup, batch-dup, and fresh batch vectors") {
    import spark.implicits._
    val d = tmpDir("sem_incr")
    // DETERMINISTIC geometry, not random draws (random 8-dim pairs land
    // above cos 0.4 ~13% of the time — a random plant flakes): the 8
    // frozen centroids (ids 0..7) are the standard basis, corpus vecs
    // are small jitters of their own axis (cos ≈ 1 with cellmates),
    // and "fresh" batch vecs are uniform ±1/√8 vectors whose cosine
    // with EVERY axis is 0.354 < 0.4 with margin ≫ the jitter.
    val rnd = new scala.util.Random(11)
    def basis(j: Int): Seq[Float] =
      (0 until 8).map(i => if (i == j) 1.0f else 0.0f)
    def jitter(v: Seq[Float]): Seq[Float] =
      v.map(x => x + (rnd.nextGaussian() * 0.002).toFloat)
    // "fresh-in-cell-0" direction: 0.37 on axis 0, uniform on the rest
    // — argmax is axis 0 with margin 0.02 ≫ jitter drift (~0.006), yet
    // cos vs the cell's ≈e1 corpus vectors is 0.37 ± 0.006 < 0.4
    val rest = math.sqrt((1.0 - 0.37 * 0.37) / 7.0).toFloat
    val fresh0 = 0.37f +: Seq.fill(7)(rest)
    val inv = (1.0 / math.sqrt(8.0)).toFloat
    val alt = (0 until 8).map(i => if (i < 4) inv else -inv)
    val corpus = (0 to 7).map(i => (i.toLong, basis(i), i % 3)) ++
      (8 to 89).map(i => (i.toLong, jitter(basis(i % 8)), i % 3))
    val batch = Seq(
      (96L, jitter(basis(3)), 0),  // cell 3: near-dup of the corpus axis
      (97L, fresh0, 1),            // cell 0: fresh (0.37 < τ vs corpus)
      (98L, jitter(fresh0), 1),    // cell 0: near-dup of 97 WITHIN batch
      (99L, alt, 2))               // cell 0 via tie→min c_id; ⊥ 97/98, fresh
    (corpus ++ batch).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = SparkEntry.queries("dedup_semantic_incremental")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    spark.catalog.clearCache()
    // batch cut: vec_id*10 >= 9*(99+1) = 900 → ids 90..99
    assert(got.keySet == Set(96L, 97L, 98L, 99L), got.toString)
    val (dc96, _, kept96) = got(96L)
    assert(dc96 == 1L && kept96 == 0L, s"96: ${got(96L)}")     // corpus dup
    assert(got(97L) == ((0L, 0L, 1L)), s"97: ${got(97L)}")     // fresh, kept
    val (dc98, db98, kept98) = got(98L)
    assert(dc98 == 0L && db98 == 1L && kept98 == 0L, s"98: ${got(98L)}")
    assert(got(99L) == ((0L, 0L, 1L)), s"99: ${got(99L)}")     // fresh, kept
    // verdict consistency: kept == neither flag, everywhere
    got.values.foreach { case (dc, db, kept) =>
      assert(kept == (if (dc == 0L && db == 0L) 1L else 0L))
    }
  }
}
