package graft

import graft.queries.TextQueries

/** Pins the R=50 BPE training loop's scale contract: the checkpoint
  * cadence holds the logical-plan depth CONSTANT across rounds, so
  * per-round cost is the vocab-sized pair-count job — not O(r)
  * re-analysis of an r-deep bpeApplyMerge select chain (cost model in
  * SCALE.md §bpe). Lineage is the deterministic proxy asserted here;
  * wall-time flatness follows from it and is not timed (CI noise). */
class BpeRoundsSpec extends SparkSuite {

  test("R=50 training: lineage bounded by cadence, merges monotone, compounded") {
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val (rows, _) = TextQueries.bpeTrain(spark, "/root/testdata/sf0.001",
      applyLast = false, onRound = (r, n) => probes += ((r, n)))
    spark.catalog.clearCache()

    assert(rows.size == 50, s"expected 50 merge rounds, got ${rows.size}")
    // counts non-increasing and compounding are require()d inside
    // bpeTrain; re-assert the headline here so a contract change there
    // cannot silently weaken this spec
    assert(rows.sliding(2).forall {
      case Seq(a, b) => b._3 <= a._3
      case _ => true
    }, "merge counts must be non-increasing")
    assert(rows.exists(_._2.split(' ').exists(_.length > 1)),
      "R=50 must reach compounded merges")

    // the lineage contract: plan node count NEVER grows past the
    // cadence window — each checkpoint round collapses it to a
    // LogicalRDD, and between checkpoints it grows by one Project per
    // round on top of the initial tokenize chain
    val maxNodes = probes.map(_._2).max
    assert(maxNodes <= 32,
      s"plan lineage escaped the cadence bound (max $maxNodes nodes): $probes")
    val atCadence = probes.filter(_._1 % 8 == 0)
    assert(atCadence.nonEmpty && atCadence.forall(_._2 <= 4),
      s"cadence rounds must collapse lineage to a LogicalRDD: $atCadence")
    // and growth between checkpoints restarts from the collapsed plan,
    // i.e. round 9's plan is smaller than round 7's chain-on-chain
    val late = probes.filter(p => p._1 > 8 && p._1 % 8 != 0).map(_._2).max
    val earlyChain = probes.filter(_._1 <= 7).map(_._2).max
    assert(late <= earlyChain,
      s"post-checkpoint chains must not exceed the initial chain: $probes")
  }

  test("the round loop runs in its own session: the caller's AQE and shuffle width are untouched") {
    // the loop's vocab-scaled width and AQE-off live on a child
    // session; the caller's width is set apart from the loop's floor
    // of 4 so a leaked setting shows
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val keep = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val caller = keys.map(spark.conf.get)
      val seen = scala.collection.mutable.Set.empty[Seq[String]]
      val (_, vocab) = TextQueries.bpeTrain(spark, "/root/testdata/sf0.001",
        applyLast = true, onRound = (_, _) => seen += keys.map(spark.conf.get))
      assert(seen == Set(caller), s"caller conf inside the loop: $seen, expected $caller")
      assert(keys.map(spark.conf.get) == caller)
      assert(vocab.sparkSession eq spark, "the returned vocab must plan in the caller's session")
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.catalog.clearCache()
    }
  }
}
