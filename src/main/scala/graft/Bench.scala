package graft
import graft.SparkEntry.jsonString
import graft.core.JobMetrics

/** Benchmark main — driver contract: ONE JSON line on stdout.
  *
  * Each query executes end-to-end through the `noop` DSv2 sink so the
  * full plan runs (a `count()` would let Catalyst prune projections and
  * under-measure).
  *
  * Noise discipline (this sandbox has heavy co-tenant CPU noise — the
  * same workload has measured 28 s vs 79 s run-to-run):
  *  - repeats are INTERLEAVED round-robin: round 1 of every query, then
  *    round 2 of every query, then round 3. Back-to-back repeats of one
  *    query let a single multi-minute co-tenant spike poison every
  *    sample of a contiguous block (exactly what BENCH_r02 recorded);
  *    interleaving spreads a noise window across one sample of many
  *    queries, and the per-query median across rounds shrugs it off;
  *  - TARGETED adaptive rounds: after the standard 3 measured rounds,
  *    up to 6 MORE interleaved rounds run over ONLY the queries whose
  *    recording is still untrustworthy — raw spread (max−min,
  *    deliberately burst-sensitive) above 2× the median, OR the median
  *    itself dragged off the clean cluster ([[medianPoisoned]]; the r9
  *    gap) — so a contaminated recording gets more clean samples
  *    instead of merely flagging itself. Re-timing the full board (the
  *    r6 behavior) spent ≈5 min re-running ~100 calm queries because
  *    ONE was bursty; the subset extension buys the same statistical
  *    repair for the cost of the affected queries;
  *  - the PUBLISHED per-query spread (and the aggregate `noise` built
  *    from it) is MAD-based — 2 × median absolute deviation from the
  *    median — so it describes STEADY-STATE variance: a co-tenant
  *    burst landing in up to half the rounds cannot masquerade as
  *    query variance (BENCH_r05 recorded bm25_search bursting in 2 of
  *    7 rounds; a trimmed range drops only one outlier, MAD shrugs off
  *    any <50% contamination). The burst-sensitive raw figure is still
  *    published as `raw_noise`, and every raw sample still lands in
  *    target/bench.json, untrimmed — the record keeps the evidence,
  *    the headline keeps the signal. Both JSON outputs carry
  *    `"spread_stat":"mad2"` so a consumer comparing recordings across
  *    rounds can tell which statistic each used (the r5→r6 switch from
  *    trimmed range to MAD changed the meaning of `noise`/`spread`
  *    under the same key with no marker);
  *  - a full warmup round (discarded) runs first, so JIT + per-query
  *    codegen compilation never lands in a measured sample;
  *  - the clock stops BEFORE cache teardown (clearCache is bookkeeping
  *    between queries, not query cost);
  *  - a query that fails on ANY run reports -1.0 (never a success time
  *    that silently hides a flaky failure) and is excluded from total;
  *  - stdout stays compact — aggregate figures, the failed-query list,
  *    the shuffle-regression findings and ONLY the top-10 medians, so
  *    the line stays well under the driver's ~2000-char tail-capture
  *    window (the 122-entry per-query map overflowed it and BENCH_r06/
  *    r07 recorded parsed:null); the complete record — every sample,
  *    per-query medians and spreads, exact shuffle bytes — goes to
  *    target/bench.json;
  *  - a GLOBAL wall-clock budget ([[DefaultBudgetSec]], env
  *    SPARK_GRAFT_BENCH_BUDGET_SEC) bounds the whole run: base rounds
  *    stop early and the adaptive extension turns GREEDY — the
  *    cheapest bursty queries keep extending while they fit the
  *    clock, only the expensive leftovers starve — and the record
  *    ships with `degraded:true` + a reason + the load fields instead
  *    of tripping the driver's kill timer (BENCH_r12: rc 124,
  *    parsed:null — the harness kept buying samples in a 3.8%-steal
  *    window until the driver shot it; BENCH_r13's all-or-nothing
  *    cost check then refused extension wholesale for 60 bursty
  *    queries, which is why the greed);
  *  - both JSONs carry `board_drift` ([[boardDrift]]): the median
  *    current/baseline ratio across the whole board — the one number
  *    separating "this window is uniformly 1.3× loaded" from "one
  *    query regressed 4×". The time gate divides by it (clamped ≥1),
  *    so a noisy co-tenant window stops producing false per-query
  *    firings while a real regression still fires drift-normalized;
  *    when >20% of the board is still bursty at extension exit the
  *    degraded reason says "window degraded" with the drift figure
  *    instead of dumping 60 query names (the full list rides
  *    target/bench.json as `still_bursty`).
  *
  * Shuffle-bytes regression gate: medians at 0.1–0.3 s are
  * noise-limited, but the BYTES a query shuffles are a property of the
  * plan, not the machine — a plan regression (lost broadcast, lost
  * partial agg, lost semi-join prune) shows up as a bytes jump long
  * before it is timeable above co-tenant noise. The warmup round runs
  * each query under its own [[JobMetrics]] tag; per-query shuffle
  * bytes/records and output rows land in target/bench.json (and a TSV
  * snapshot at target/shuffle_current.tsv), and are compared against
  * the committed record `bench/shuffle_baseline.tsv` when its scale
  * factor matches — any query growing >10% (and >64 KiB absolute, so
  * a few-KiB query can't flake the gate) is listed in
  * `shuffle_regressions` in both JSON outputs. Accepting an intentional
  * plan change = regenerating the baseline from
  * target/shuffle_current.tsv in the same commit.
  *
  * Wall-time regression gate ([[timeRegressions]]): the bytes gate is
  * blind to same-plan slow-creep (more work per row, a lost cache, a
  * regressed custom expression), so per-query MEDIANS are also gated
  * against a committed record `bench/time_baseline.tsv` — fire only
  * when slower by >25% AND beyond a noise-aware band (3× the larger of
  * the two recordings' MAD spreads, floored at 0.3 s). Findings land in
  * `time_regressions` in both JSONs; target/time_current.tsv is the
  * regeneration snapshot.
  *
  * A firing time gate is a TRIAGE PROMPT, not a verdict: a baseline
  * median can be optimistic for one query (cache/alignment luck in the
  * recording environment) while the board stays flat. The decisive
  * check is an A/B against the baseline's commit on TODAY'S machine —
  * `git worktree add <tmp> <baseline-commit>` and bench the flagged
  * query there; old-code-equally-slow = environment drift (regenerate
  * the row), old-code-fast = a real code regression (bisect it).
  * Round 11 precedent: dedup_ngram_jaccard flagged +48%, r10 code
  * reproduced today's time — environment, row regenerated.
  */
object Bench {
  private val BaseRounds = 3
  private val MaxRounds = 9
  private[graft] val NoiseTarget = 2.0
  private[graft] val PoisonRatio = 1.5
  private[graft] val PoisonFloorSec = 0.25

  /** Global wall-clock budget for the WHOLE run (warmup + base rounds
    * + adaptive extension), seconds; override with
    * SPARK_GRAFT_BENCH_BUDGET_SEC. The r12 lesson: the adaptive
    * extension bounded per-query ROUNDS but had no global clock, so a
    * degraded co-tenant window (steal 3.8%, raw_noise 21) kept the
    * harness honestly buying samples for three bursty queries until
    * the driver's own timeout killed it — rc 124, parsed:null, the
    * round's entire driver-side bench signal erased. A record from
    * fewer samples flagged `degraded:true` (with the load fields to
    * prove the window was bad) is strictly better than no record.
    * Default: the driver's kill timer measures ≈ 3600 s — r12's
    * CORRECTNESS artifact landed 08:57:21 and the rc-124 BENCH
    * artifact 09:57:22, exactly 1 h 1 s apart with nothing else
    * running between (copycheck/leakcheck mtimes follow the kill).
    * 3300 s spends as much of that window as possible on samples
    * (the whole point of the budget is MORE data, not less — a
    * first-guess 1500 s default truncated a full-board run to 2 base
    * rounds that a 3600 s window would have finished) while leaving
    * 300 s + the 5% reserve for a slow final query, JSON assembly
    * and JVM teardown. */
  private[graft] val DefaultBudgetSec = 3300.0

  /** True when `projectedSec` more work still fits: the budget is
    * consumed only to 95% so JSON assembly + spark.stop() + the
    * final println always run inside the driver's window (the whole
    * point is that the summary LINE gets out). */
  private[graft] def budgetAllows(elapsedSec: Double, projectedSec: Double,
      budgetSec: Double): Boolean =
    elapsedSec + projectedSec <= budgetSec * 0.95

  /** Median / MAD-based spread of one query's samples. Even-count
    * recordings take the UPPER middle (s(n/2)) — deliberately
    * conservative: a truncated-to-2-rounds record reports its worse
    * sample rather than flattering itself, and all 13 rounds of
    * committed records share the convention (changing it mid-project
    * would skew every cross-round comparison). Spread is
    * 2 × median(|t − median|): robust to bursts contaminating up to
    * half the samples (a trimmed range only survives one), so the
    * published figure reflects steady state. The burst-SENSITIVE
    * range lives in [[rawSpread]] and drives the adaptive extension. */
  private[graft] def stat(ts: Seq[Double]): (Double, Double) = {
    val s = ts.sorted
    val median = s(s.length / 2)
    val devs = s.map(t => math.abs(t - median)).sorted
    (median, 2.0 * devs(devs.length / 2))
  }

  /** Environment evidence riding the bench JSONs, so a reader can
    * separate co-tenant machine drift from code regressions WITHOUT a
    * re-run (the r11 record was judged "too degraded to compare
    * against" for lack of exactly this). All three read /proc and
    * degrade to sentinel values off-Linux. */
  private[graft] def loadavg1(): Double = scala.util.Try {
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/loadavg")).get(0).split(' ')(0).toDouble
  }.getOrElse(-1.0)

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line; the
    * caller diffs two snapshots for the hypervisor-withheld share of
    * the run. */
  private[graft] def cpuJiffies(): (Long, Long) = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))

  /** PSI some-avg60 from /proc/pressure/cpu — the share of the last
    * minute ANY task sat runnable-but-waiting for a CPU; the most
    * direct single-number contention signal. −1 when the kernel lacks
    * PSI. */
  private[graft] def cpuPsi60(): Double = scala.util.Try {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/pressure/cpu")).get(0)
    line.split("\\s+").collectFirst {
      case f if f.startsWith("avg60=") => f.stripPrefix("avg60=").toDouble
    }.getOrElse(-1.0)
  }.getOrElse(-1.0)

  /** Untrimmed range — the burst-sensitive figure: any single co-tenant
    * spike shows up here, which is exactly what the adaptive-extension
    * trigger wants (more rounds → the MAD/median stats get more clean
    * samples to describe steady state with). */
  private[graft] def rawSpread(ts: Seq[Double]): Double =
    if (ts.isEmpty) 0.0 else ts.max - ts.min

  /** Extension trigger for ONE query's recording: its own raw spread
    * exceeds [[NoiseTarget]]× its median. Per-query (not board-wide) so
    * a single bursty query extends itself, not ~100 calm neighbours. */
  private[graft] def burstContaminated(ts: Seq[Double]): Boolean =
    ts.nonEmpty && ts.forall(_ >= 0) && {
      val m = stat(ts)._1
      m > 0 && rawSpread(ts) / m > NoiseTarget
    }

  /** In-loop re-check for an already-extending query. Raw max−min
    * spread is monotone as samples append, so re-testing
    * [[burstContaminated]] alone could never clear a query once it
    * burst — every extension would run to the round cap. Recovery rule:
    * with the extra samples in hand, forgive ONE spike — the query
    * keeps extending only if the recording is still bursty after
    * excluding its single worst sample (i.e. ≥2 spikes, or a genuinely
    * unstable query). */
  private[graft] def stillBursty(ts: Seq[Double]): Boolean =
    burstContaminated(ts) && burstContaminated(ts.sortBy(-_).drop(1))

  /** Median-poisoning detector — the gap the raw-spread trigger leaves
    * open (BENCH_r09's `lm_perplexity_filter`: runs
    * [2.3, 13.8, 2.2, 34.4, 5.9] stopped extending via the
    * one-spike-forgiven recovery rule, yet the PUBLISHED median, 5.9,
    * was 2.6× the calm cluster — bursts had landed in 2 of 5 samples,
    * enough to drag the middle order statistic without keeping the
    * raw-spread ratio above threshold).
    *
    * Detection: the overall median is only trustworthy if it agrees
    * with the median of the recording's BEST half (bursts are always
    * one-sided — co-tenant CPU theft makes runs slower, never faster,
    * so the fastest samples are the clean cluster). Flag when the
    * overall median exceeds the best-half median by >[[PoisonRatio]]×
    * AND >[[PoisonFloorSec]] absolute (the floor keeps a 0.1 s-scale
    * query's natural jitter from extending it round after round).
    * A flagged query keeps extending — each extra round is one more
    * almost-surely-clean sample pulling the middle statistic back into
    * the calm cluster — until the cap ([[MaxRounds]]) stops it. */
  private[graft] def medianPoisoned(ts: Seq[Double]): Boolean =
    ts.nonEmpty && ts.forall(_ >= 0) && {
      val s = ts.sorted
      val m = s(s.length / 2)
      val best = s.take((s.length + 1) / 2)
      val mBest = best((best.length - 1) / 2)
      m > mBest * PoisonRatio && m - mBest > PoisonFloorSec
    }

  /** Shuffle-bytes gate: queries whose current bytes exceed the
    * committed record by BOTH >10% relative and >64 KiB absolute (the
    * absolute floor keeps a few-KiB query's natural jitter — map-side
    * combine order, AQE coalesce boundaries — from flaking the gate;
    * a real lost-broadcast/lost-partial-agg regression moves MiBs).
    * Returns human-readable findings, empty = clean. Queries absent
    * from the baseline (new this round) are not findings — they enter
    * the record when the baseline is next regenerated. */
  private[graft] def shuffleRegressions(current: Map[String, Long],
      baseline: Map[String, Long], tolerance: Double = 0.10,
      floorBytes: Long = 64L << 10): Seq[String] =
    current.toSeq.sortBy(_._1).flatMap { case (q, cur) =>
      baseline.get(q) match {
        case Some(prev) if cur > prev + floorBytes &&
            cur.toDouble > prev.toDouble * (1.0 + tolerance) =>
          Some(s"$q: $prev -> $cur bytes (+${(100.0 * (cur - prev) / prev.max(1)).round}%)")
        case _ => None
      }
    }

  /** Minimum current∩baseline overlap for [[boardDrift]] to be
    * meaningful — a local subset run over a handful of queries must not
    * publish a "board" drift. */
  private[graft] val BoardDriftMinQueries = 20

  /** Board-level drift of this run vs the committed record: the MEDIAN
    * over all queries (present in both recordings with positive
    * medians) of current_median / baseline_median. A uniformly loaded
    * co-tenant window shows up here as e.g. 1.27 across the whole board
    * (the r13 driver window, computed by the judge) while a real code
    * regression moves ONE query's ratio and leaves the median alone —
    * which is exactly why the time gate normalizes by this figure
    * ([[timeRegressions]]'s drift parameter): a noisy window must not
    * produce dozens of false per-query firings, and a genuine
    * regression (4.2× against a 1.27× board) must still fire. −1 when
    * fewer than [[BoardDriftMinQueries]] queries overlap (a subset
    * run) — consumers treat that as unknown and gate un-normalized. */
  private[graft] def boardDrift(current: Map[String, (Double, Double)],
      baseline: Map[String, (Double, Double)]): Double = {
    val ratios = current.toSeq.flatMap { case (q, (curM, _)) =>
      baseline.get(q).collect {
        case (baseM, _) if curM > 0 && baseM > 0 => curM / baseM
      }
    }.sorted
    if (ratios.length < BoardDriftMinQueries) -1.0
    else ratios(ratios.length / 2)
  }

  /** Floor parameters of [[sustainedCpuClass]]. A query is a
    * sustained-CPU shape when its COMMITTED wall median is at least
    * [[SustainedWallFloorSec]] AND its committed metrics-round
    * CPU/wall ratio is at least [[SustainedCoreFloor]] effective
    * cores: long enough that co-tenant CPU theft cannot amortize
    * across it, parallel enough that every stolen core is felt.
    * Sub-second queries are excluded wholesale (their medians are
    * noise-limited; the shuffle-bytes gate owns them), and a long but
    * LOW-parallelism query (an ordered drain, a single-partition
    * stage, the sequentially-dependent BPE argmax loop at 1.4-1.5
    * effective cores) is excluded because steal barely moves it —
    * including it would let a non-co-drifting member mask real
    * regressions (the text_repetition lesson, r16). The r17 committed
    * metrics split bimodally: every A/B-settled drifter reads 6.4-16
    * effective cores, the serial/probe shapes ≤ 3.7 — the floor sits
    * in the gap's lower half so borderline family members
    * (dedup_semantic_k, 6.4) classify with their family. */
  private[graft] val SustainedWallFloorSec = 1.0
  private[graft] val SustainedCoreFloor = 6.0

  /** The sustained-CPU drift class, derived ONCE per run from the
    * COMMITTED records (never from the current window — a regression
    * must not be able to reclassify itself out of its gate): the
    * queries whose committed shape — wall median ≥ the floor, CPU/wall
    * ≥ the core floor — saturates cores for seconds. These are the
    * shapes that drift TOGETHER 1.2-1.8× on slow machine-days while
    * the board median holds: five consecutive same-window worktree
    * A/Bs (r11 ngram_jaccard, r14 winnowing trio, r15 shingle cohort,
    * r16 minhash family, r17 dedup_lsh_eval — COVERAGE.md triage log)
    * settled that signature as ENVIRONMENT, each time on a query the
    * then-current hand-maintained cohort list missed. This replaces
    * those hand lists (ShingleCohort r15, MinhashCohort r16) with the
    * measured property they were approximating: the time gate
    * normalizes class members by the class's own median ratio
    * ([[cohortDrift]]), so a machine-day that slows the whole class
    * fires nothing, while a CODE regression in one member (class
    * median held ≈1 by the others) still fires. The min-3 rule,
    * the ≥board clamp, and the >[[CohortDriftWarnBound]] warning all
    * still apply. */
  private[graft] def sustainedCpuClass(
      time: Map[String, (Double, Double)],
      cpu: Map[String, (Double, Double)],
      wallFloorSec: Double = SustainedWallFloorSec,
      coreFloor: Double = SustainedCoreFloor): Set[String] =
    time.collect { case (q, (wallMedian, _))
        if wallMedian >= wallFloorSec &&
          cpu.get(q).exists { case (cpuSec, wallSec) =>
            wallSec > 0 && cpuSec / wallSec >= coreFloor } => q
    }.toSet

  /** Median current/baseline ratio over the cohort members present in
    * both recordings — the second, cohort-level drift normalizer (the
    * cohort being [[sustainedCpuClass]] in production). Requires ≥3
    * members so one regressed query cannot define (and thereby mask)
    * its own normalizer; −1 = unknown. */
  private[graft] def cohortDrift(current: Map[String, (Double, Double)],
      baseline: Map[String, (Double, Double)],
      cohort: Set[String]): Double = {
    val ratios = current.toSeq.collect {
      case (q, (curM, _)) if cohort(q) => (q, curM)
    }.flatMap { case (q, curM) =>
      baseline.get(q).collect {
        case (baseM, _) if curM > 0 && baseM > 0 => curM / baseM
      }
    }.sorted
    if (ratios.length < 3) -1.0 else ratios(ratios.length / 2)
  }

  /** Wall-time gate: queries whose current median exceeds the committed
    * record's by BOTH >25% relative AND more than a noise-aware band —
    * 3× the LARGER of the two recordings' MAD spreads, floored at
    * 0.3 s. The band uses whichever recording is noisier so a calm
    * baseline cannot flag a merely-noisy current run (and vice versa);
    * the relative guard keeps a slow-but-stable query from firing on an
    * absolute-seconds blip; the floor keeps 0.1 s-scale queries out
    * entirely (their medians are noise-limited — the shuffle-bytes gate
    * is the plan-property check at that scale). Queries absent from the
    * baseline are not findings — they enter the record when it is next
    * regenerated from target/time_current.tsv. Fires ONLY slower:
    * faster is not a regression.
    *
    * `drift` (see [[boardDrift]]) normalizes the whole gate by the
    * board-level machine-day ratio: the effective baseline becomes
    * baseM × max(1, drift), so a window where EVERYTHING runs 1.3×
    * slower fires nothing, while a query 4× over its row still fires
    * at 4/1.3 ≈ 3×. Clamped at 1 from below — a faster-than-baseline
    * window must not make the gate MORE trigger-happy (normalization
    * exists to subtract co-tenant slowdown, not to punish a calm run) —
    * and a −1/unknown drift gates un-normalized.
    *
    * `cohorts` ([[cohortDrift]] per cohort) is the second normalizer,
    * applied only to a cohort's members: the effective drift for a
    * cohort query is max(board, its cohort), so a machine-day that
    * slows a whole sustained-CPU cohort 1.4× without moving the board
    * median (the r14 selective-drift signature) no longer mass-fires
    * the cohort, while a single regressed member still fires against
    * the cohort median the other members hold at ≈1. A query belongs
    * to at most one cohort (first match wins — memberships are
    * disjoint by construction). */
  private[graft] def timeRegressions(
      current: Map[String, (Double, Double)],
      baseline: Map[String, (Double, Double)],
      ratio: Double = 1.25, bandMult: Double = 3.0,
      floorSec: Double = 0.3, drift: Double = 1.0,
      cohorts: Seq[(Set[String], Double)] = Nil): Seq[String] = {
    val board = math.max(1.0, drift)
    current.toSeq.sortBy(_._1).flatMap { case (q, (curM, curSp)) =>
      val cohortD = cohorts.collectFirst { case (c, cd) if c(q) => cd }
      val d = cohortD.fold(board)(cd => math.max(board, math.max(1.0, cd)))
      baseline.get(q) match {
        case Some((baseM, baseSp)) if curM > 0 && baseM > 0 &&
            curM > baseM * d * ratio &&
            curM - baseM * d > math.max(bandMult * math.max(baseSp, curSp), floorSec) =>
          val via = if (cohortD.exists(_ > board)) "cohort-normalized"
                    else "drift-normalized"
          Some(f"$q: $baseM%.2f -> $curM%.2f s (+${100.0 * (curM - baseM) / baseM}%.0f%%, x${curM / (baseM * d)}%.2f $via, band ${math.max(bandMult * math.max(baseSp, curSp), floorSec)}%.2f)")
        case _ => None
      }
    }
  }

  /** Loud-warning bound on cohort normalization (ADVICE r15): the
    * cohort median is blind to a code regression in SHARED
    * infrastructure that slows 3+ members uniformly — it would raise
    * the normalizer instead of firing. The warning does not gate (the
    * observed ENVIRONMENT drift on these shapes reaches 1.7×); it
    * names the cohort so a drifted window still gets the worktree A/B
    * the triage protocol demands rather than passing silently. */
  private[graft] val CohortDriftWarnBound = 1.6

  /** Warning lines for cohorts whose drift exceeds
    * [[CohortDriftWarnBound]] — pure, for unit-testing the bound. */
  private[graft] def cohortDriftWarnings(
      drifts: Seq[(String, Double)],
      bound: Double = CohortDriftWarnBound): Seq[String] =
    drifts.collect { case (name, d) if d > bound =>
      f"COHORT DRIFT $name x$d%.2f exceeds $bound%.2f -- a uniform cohort slowdown " +
        "can mask a shared-path code regression; triage with the same-window " +
        "worktree A/B (COVERAGE.md protocol) before trusting this normalization"
    }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .filter(_ > 0).getOrElse(DefaultBudgetSec)
    // set when the clock forced fewer samples than the noise
    // discipline wanted — the record is still valid (medians over
    // fewer rounds), just weaker; consumers see WHY via the load
    // fields riding the same JSON
    var degraded = false
    var degradedReason = ""
    val loadStart = loadavg1()
    val (stealStart, jiffiesStart) = cpuJiffies()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(defaultCpus = 32, logLevel = "WARN")

    // first failure message per query, for the summary JSON: the
    // driver's ~2000-char tail kept only the STACK of r9's failures —
    // the exception text itself was truncated away, so the one line
    // that says WHY has to ride the parsed summary, not stderr
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** One timed execution; elapsed computed before cache teardown. */
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors.getOrElseUpdate(name, {
            val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            (if (m.length > 160) m.take(157) + "..." else m).replace('\n', ' ')
          })
          -1.0
      } finally {
        // some queries persist intermediates (documented in
        // DedupQueries); drop them so no query's cache skews the next
        spark.catalog.clearCache()
      }
    }

    // optional arg: comma-separated query subset (local iteration aid;
    // the driver passes no args and benches everything). Unknown names
    // FAIL fast — a typo'd subset silently benching fewer (or zero)
    // queries looks like success with no diagnostic.
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      args.headOption.filter(_.nonEmpty) match {
        case None => all
        case Some(arg) =>
          val requested = arg.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          val unknown = requested.filterNot(all.contains)
          if (unknown.nonEmpty) {
            System.err.println(
              s"[bench] unknown queries: ${unknown.mkString(", ")} -- known: ${all.mkString(", ")}")
            spark.stop()
            sys.exit(2)
          }
          requested
      }
    }

    // warmup round: JIT + per-query codegen + FS cache; not timed — so
    // it doubles as the metrics round: shuffle bytes are a plan
    // property (identical every run), and capturing them here keeps the
    // tagging and the quiesce wait out of the measured samples. Per query
    // it keeps totals and wall (None = failed); CPU over wall is the
    // effective-cores shape datum behind [[sustainedCpuClass]]
    val measured = names.map { n =>
      n -> JobMetrics.tagged(spark.sparkContext) { metrics =>
        val t = time(n)
        // a deadline exit may leave task events uncounted — say so, so a
        // short bytes recording is distinguishable from a clean one
        if (!metrics.quiesce()) System.err.println(s"[bench] WARN: $n not quiescent, metrics may be short")
        Option.when(t >= 0)((metrics.totals, t))
      }
    }.toMap

    // measured rounds, interleaved: samples(q) accumulates one time per
    // round, so any noise window spans many queries × one sample each.
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      names.map(n => n -> Vector.empty[Double]): _*)
    var rounds = 0
    // budget check between BASE rounds too: round 1 always runs
    // (a 1-sample median beats no record at all), later rounds only
    // when a round the size of the last one still fits the clock
    var lastRoundSec = 0.0
    var stop = false
    while (rounds < BaseRounds && !stop) {
      if (rounds > 0 && !budgetAllows(elapsedSec, lastRoundSec, budgetSec)) {
        degraded = true
        degradedReason = s"base rounds truncated at $rounds/$BaseRounds"
        System.err.println(s"[bench] BUDGET: $degradedReason " +
          f"(elapsed ${elapsedSec}%.0f s, last round ${lastRoundSec}%.0f s, budget ${budgetSec}%.0f s)")
        stop = true
      } else {
        val t0 = System.nanoTime()
        names.foreach(n => samples(n) = samples(n) :+ time(n))
        lastRoundSec = (System.nanoTime() - t0) / 1e9
        rounds += 1
      }
    }
    // targeted extension: re-time ONLY the burst-contaminated queries
    // (still interleaved across that subset), capped at MaxRounds total
    // AND by the global clock. GREEDY under budget pressure (the r13
    // lesson): the old all-or-nothing subset-round cost check refused
    // the round WHOLESALE when 60 queries were bursty — nobody got the
    // extra samples the window most needed. Now the cheapest bursty
    // queries extend first, as many as still fit the clock; only the
    // expensive leftovers are starved, and they are named. 1.5x
    // headroom per query because a degraded window (the only time
    // budget pressure exists) inflates each sample.
    var bursty = names.filter(n =>
      burstContaminated(samples(n)) || medianPoisoned(samples(n)))
    def medianOf(n: String): Double =
      stat(samples(n).filter(_ >= 0) match {
        case e if e.isEmpty => Vector(0.0); case ts => ts })._1
    // bursty-but-never-extended this run (budget): named in the
    // degraded reason so a reader can see WHICH medians stayed weak
    var starved = Seq.empty[String]
    var extending = true
    while (bursty.nonEmpty && rounds < MaxRounds && extending) {
      val byCost = bursty.sortBy(n => (medianOf(n), n))
      val cum = byCost.map(n => 1.5 * medianOf(n)).scanLeft(0.0)(_ + _).tail
      val k = cum.lastIndexWhere(c => budgetAllows(elapsedSec, c, budgetSec)) + 1
      val affordable = byCost.take(k)
      starved = byCost.drop(k)
      if (affordable.isEmpty) {
        degraded = true
        System.err.println(s"[bench] BUDGET: extension stopped after $rounds rounds, " +
          s"${bursty.size} queries still bursty " +
          f"(elapsed ${elapsedSec}%.0f s, budget ${budgetSec}%.0f s)")
        extending = false
      } else {
        if (starved.nonEmpty) {
          degraded = true
          System.err.println(s"[bench] BUDGET: partial extension round -- " +
            s"${affordable.size}/${bursty.size} cheapest bursty queries fit, " +
            s"starved: ${starved.mkString(", ")}")
        } else System.err.println(
          s"[bench] ${bursty.size} bursty queries after $rounds rounds -- extending: ${bursty.mkString(", ")}")
        affordable.foreach(n => samples(n) = samples(n) :+ time(n))
        rounds += 1
        // keep extending on EITHER signal: spikes still present beyond
        // the forgiven one (stillBursty), or the median itself still
        // dragged off the clean cluster (medianPoisoned) — r9 showed the
        // first alone releases a query whose median is still wrong
        bursty = bursty.filter(n => stillBursty(samples(n)) || medianPoisoned(samples(n)))
      }
    }
    if (degraded && degradedReason.isEmpty)
      degradedReason = s"extension budget-limited, ${bursty.size} queries " +
        s"still bursty after $rounds rounds: ${bursty.mkString(", ")}"

    val stats = names.map { n =>
      val ts = samples(n)
      if (ts.exists(_ < 0)) (n, -1.0, 0.0, ts)
      else {
        val (m, sp) = stat(ts)
        (n, m, sp, ts)
      }
    }
    val total = stats.map(_._2).filter(_ >= 0).sum
    // worst relative MAD spread across queries — steady-state
    // trustworthiness (≲0.5 calm even if a burst round was recorded);
    // rawNoise is the burst-sensitive companion (what extension saw)
    val noise = stats.collect { case (_, m, sp, _) if m > 0 => sp / m }
      .foldLeft(0.0)(math.max)
    val rawNoise = stats.collect { case (_, m, _, ts) if m > 0 => rawSpread(ts) / m }
      .foldLeft(0.0)(math.max)

    // shuffle gate vs the committed record (scale-factor-matched).
    // The baseline is resolved against the REPO ROOT (nearest ancestor
    // of CWD holding build.sbt), not the bare CWD — and a gate that
    // cannot apply says so on stderr, so a silent no-op run (wrong CWD,
    // non-matching sf) is distinguishable from a genuinely clean one.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val repoRoot = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt"))).getOrElse(cwd)
    // shared sf-matched TSV loader for the gates: query -> its numeric
    // columns when the baseline's recorded sf matches this run's, else
    // empty with a LOUD stderr note (a silently inactive gate looks
    // like a clean one). Unparsable rows and negative first values (a
    // hand-committed failed-run sentinel: prev = -1 would flag every
    // healthy run) are rejected.
    def baselineRows(file: String, gate: String): Map[String, Seq[Double]] = {
      val path = repoRoot.resolve("bench").resolve(file)
      if (java.nio.file.Files.exists(path)) {
        val lines = scala.jdk.CollectionConverters
          .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala.toSeq
        val sfLine = lines.find(_.startsWith("# sf=")).map(_.stripPrefix("# sf="))
        if (sfLine.contains(sfName))
          lines.filterNot(_.startsWith("#")).map(_.split('\t')).flatMap { f =>
            scala.util.Try(f.head -> f.toSeq.tail.map(_.toDouble)).toOption
              .filter { case (_, v) => v.nonEmpty && v.head >= 0 }
          }.toMap
        else {
          System.err.println(s"[bench] $gate gate INACTIVE: baseline " +
            s"$path is for sf=${sfLine.getOrElse("?")}, this run is sf=$sfName")
          Map.empty
        }
      } else {
        System.err.println(s"[bench] $gate gate INACTIVE: no baseline at $path")
        Map.empty
      }
    }
    val baseline: Map[String, Long] = baselineRows("shuffle_baseline.tsv", "shuffle")
      .map { case (q, v) => q -> v.head.toLong }
    val currentBytes = measured.collect { case (q, Some((m, _))) => q -> m.shuffleBytes }
    val regressions = shuffleRegressions(currentBytes, baseline)
    regressions.foreach(r => System.err.println(s"[bench] SHUFFLE REGRESSION $r"))
    def writeTarget(file: String, text: String): Unit = {
      val path = java.nio.file.Paths.get("target", file)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, text.getBytes("UTF-8"))
    }
    def snapshot(file: String, rows: Seq[String]): Unit =
      writeTarget(file, s"# sf=$sfName\n" + rows.mkString("\n") + "\n")
    // snapshot for regenerating the committed baseline after an
    // intentional plan change. Failed queries (-1 sentinel) are
    // EXCLUDED from every snapshot: a committed -1 baseline row would
    // make the gate fire on every subsequent healthy run of that query
    snapshot("shuffle_current.tsv",
      names.flatMap(n => measured(n).map { case (m, _) => s"$n\t${m.shuffleBytes}" }))

    // wall-time gate vs the committed record (median + MAD spread per
    // query, sf-matched) — catches the slow-creep regressions the
    // bytes gate is blind to (same plan, more work per row)
    val timeBaseline: Map[String, (Double, Double)] = baselineRows("time_baseline.tsv", "time")
      .collect { case (q, Seq(m, sp, _*)) => q -> (m, sp) }
    val currentTimes = stats.collect {
      case (q, m, sp, _) if m >= 0 => q -> (m, sp)
    }.toMap
    // board-level machine-day drift vs the committed record; −1 =
    // unknown (subset run / no baseline). The time gate normalizes by
    // it so a uniformly-loaded window cannot mass-fire per-query gates
    // (r13: 1.27x board drift produced one false firing per ~13
    // queries before normalization), while a genuine one-query
    // regression still exceeds the normalized band.
    val drift = boardDrift(currentTimes, timeBaseline)
    // the sustained-CPU drift class, derived from COMMITTED records
    // (wall medians from time_baseline, effective cores from
    // cpu_baseline) — the selective machine-day signature the board
    // median misses; the gate normalizes members by max(board, class)
    val cpuBaseline: Map[String, (Double, Double)] = baselineRows("cpu_baseline.tsv", "cpu-class")
      .collect { case (q, Seq(c, w, _*)) => q -> (c, w) }
    val cpuClass = sustainedCpuClass(timeBaseline, cpuBaseline)
    val cdrift = cohortDrift(currentTimes, timeBaseline, cpuClass)
    val cohortWarnings = cohortDriftWarnings(Seq("sustained-cpu" -> cdrift))
    cohortWarnings.foreach(w => System.err.println(s"[bench] $w"))
    // window-level degradation verdict: when >20% of the board is
    // still bursty at extension exit, the signal is "this WINDOW is
    // degraded", not "60 queries are individually suspect" — say so,
    // with the drift figure, instead of a name dump (the full bursty
    // list rides target/bench.json as `still_bursty`)
    if (bursty.size * 5 > names.size) {
      degraded = true
      degradedReason = f"window degraded (board_drift=$drift%.2f): " +
        s"${bursty.size}/${names.size} queries still bursty after " +
        s"$rounds rounds; per-query extension futile, time gate drift-normalized"
    }
    val timeRegs = timeRegressions(currentTimes, timeBaseline, drift = drift,
      cohorts = Seq(cpuClass -> cdrift))
    timeRegs.foreach(r => System.err.println(s"[bench] TIME REGRESSION $r"))
    // snapshots for regenerating the committed time and cpu-shape baselines
    snapshot("time_current.tsv", names.filter(n => currentTimes.contains(n))
      .map { n => val (m, sp) = currentTimes(n); f"$n\t$m%.3f\t$sp%.3f" })
    snapshot("cpu_current.tsv",
      names.flatMap(n => measured(n).map { case (m, w) => f"$n\t${m.cpuNs / 1e9}%.3f\t$w%.3f" }))

    // environment evidence: loadavg at both ends, hypervisor steal
    // share over the whole run, and end-of-run CPU pressure. loadEnd
    // inevitably includes this run's own 32 worker threads — the
    // telling signals are loadStart (what the run walked into) and
    // steal/PSI (what ran that wasn't us / time spent waiting to run).
    val loadEnd = loadavg1()
    val (stealEnd, jiffiesEnd) = cpuJiffies()
    val stealPct =
      100.0 * (stealEnd - stealStart) / math.max(1L, jiffiesEnd - jiffiesStart)
    val loadJson =
      f"""{"start":$loadStart%.2f,"end":$loadEnd%.2f,"steal_pct":$stealPct%.2f,"cpu_psi60":${cpuPsi60()}%.2f}"""
    val regJson = regressions.map(r => "\"" + r + "\"").mkString("[", ",", "]")
    val timeRegJson = timeRegs.map(r => "\"" + r + "\"").mkString("[", ",", "]")
    // stdout carries only the 10 most expensive medians: the driver's
    // tail capture holds ~2000 chars, and the 122-entry per-query map
    // overflowed it (BENCH_r06/r07 landed with parsed:null). The full
    // per-query record lives in target/bench.json.
    val failedNames = stats.collect { case (k, m, _, _) if m < 0 => k }
    // one `err` line per failed query (not the whole board — the tail
    // budget is ~2000 chars and failures should be rare)
    val errJson = failedNames
      .map(k => s"${jsonString(k)}: ${jsonString(errors.getOrElse(k, "unknown"))}")
      .mkString("{", ",", "}")
    val top10 = stats.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, m, _, _) => "\"" + k + f"\":$m%.2f" }
      .mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = {
      val perQuery = stats.map { case (k, m, sp, ts) =>
        val runs = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
        val (sb, sr, or, cpuSec) = measured(k).fold((-1L, -1L, -1L, -1.0)) { case (m, _) =>
          (m.shuffleBytes, m.shuffleRecords, m.outputRows, m.cpuNs / 1e9) }
        "\"" + k + f"""\":{"median":$m%.3f,"spread":$sp%.3f,"raw_spread":${rawSpread(ts)}%.3f,"shuffle_bytes":$sb,"shuffle_records":$sr,"out_rows":$or,"cpu_sec":$cpuSec%.3f,"runs":$runs}"""
      }.mkString("{", ",", "}")
      val stillBurstyJson = bursty.map(jsonString).mkString("[", ",", "]")
      // cohort warnings ride the persisted record, not just stderr
      // (ADVICE r16): the worktree-A/B demand has to live in the file
      // later rounds actually read
      val warnJson = cohortWarnings.map(jsonString).mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","rounds":$rounds,"noise":$noise%.3f,"raw_noise":$rawNoise%.3f,"spread_stat":"mad2","degraded":$degraded,"degraded_reason":${jsonString(degradedReason)},"board_drift":$drift%.3f,"cohort_drift":$cdrift%.3f,"cpu_class_size":${cpuClass.size},"cohort_warnings":$warnJson,"still_bursty":$stillBurstyJson,"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f,"load":$loadJson,"shuffle_regressions":$regJson,"time_regressions":$timeRegJson,"queries":$perQuery,"sf":"$sfDir"}"""
    }
    writeTarget("bench.json", full)

    // summary keeps the reason SHORT (the driver tail holds ~2000
    // chars; the full reason lives in target/bench.json)
    val reasonShort =
      if (degradedReason.length > 120) degradedReason.take(117) + "..."
      else degradedReason
    val summary =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":${names.size},"failed":$failedJson,"errors":$errJson,"queries":$top10,"noise":$noise%.2f,"raw_noise":$rawNoise%.2f,"spread_stat":"mad2","rounds":$rounds,"degraded":$degraded,"degraded_reason":${jsonString(reasonShort)},"board_drift":$drift%.2f,"cohort_drift":$cdrift%.2f,"cpu_class_size":${cpuClass.size},"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f,"load":$loadJson,"shuffle_regressions":$regJson,"time_regressions":$timeRegJson,"sf":"$sfDir"}"""
    // mirrored to disk so the summary survives even if a future harness
    // change re-decorates or truncates stdout
    writeTarget("bench_summary.json", summary + "\n")
    spark.stop()
    // LAST stdout line, after Spark's shutdown chatter (which goes to
    // stderr) — the driver greps the tail for a bare-JSON line
    println(summary)
  }
}
