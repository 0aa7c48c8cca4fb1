package graft.core

import graft.operators.{Qualifier, Transformer}
import graft.sinks.{NoOpSink, Sink}
import graft.sources.Source
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ListBuffer

/** How the flow ended — the reference's `FlowStatus`
  * (`src/Loaders/LoaderAbstract.php:61-87`): clean (ran to completion),
  * dirty (a break truncated the stream, `docs/callbacks.md:36-41`),
  * exception. */
sealed trait PipelineStatus
object PipelineStatus {
  case object Clean extends PipelineStatus
  case object Dirty extends PipelineStatus
  final case class Failed(error: Throwable) extends PipelineStatus
}

/** The reference's `getStats()` surface (`src/YaEtl.php:250-281`,
  * counters declared at `:38-53`), rebuilt from `Dataset.observe`
  * metrics — zero extra passes over the data. */
final case class PipelineReport(
    status: PipelineStatus,
    counters: Map[String, Long],
    durationMs: Long) {

  /** Formatted stats line — the reference's `getStats()` report
    * (`src/YaEtl.php:250-281`, template at `:254-258`; sample output
    * `docs/events.md:171-175`). */
  def pretty: String = {
    def total(prefix: String) =
      counters.collect { case (k, v) if k.startsWith(prefix) => v }.sum
    val state = status match {
      case PipelineStatus.Clean     => "clean"
      case PipelineStatus.Dirty     => "dirty"
      case PipelineStatus.Failed(_) => "exception"
    }
    s"[graft](${state}) ${total("extract")} extracted - " +
      s"${total("load")} loaded - ${counters.size} observation points - ${durationMs} ms"
  }
}

/** Spark-native analog of the reference's fluent flow builder
  * (`YaEtl extends NodalFlow`, verbs at `src/YaEtl.php:89-229`):
  * `from / join / qualify / transform / to / branch / exec`.
  *
  * The build phase only composes an immutable step list; [[exec]] folds
  * it into plain `DataFrame` lineage, so Catalyst plans the whole flow
  * (pushdown, pruning, join strategy) — the reference's record-at-a-time
  * pump (`README.md:9`) becomes whole-stage-codegen'd vectorized
  * execution with zero interpretation overhead per record.
  *
  * Scale notes:
  *  - Multiple sinks / branches share one lineage; the longest common
  *    prefix is persisted once (`README.md:38-45` multi-sink semantics
  *    without recomputation).
  *  - Like the reference, the grammar is closed (`src/YaEtl.php:123-126`
  *    forbids raw `add`): every verb maps to a plan Catalyst can reason
  *    about; there is no "run arbitrary code mid-flow" hole outside
  *    [[graft.operators.Transformers.Callable]].
  */
final class Pipeline private (private val steps: Vector[Pipeline.Step],
    private val durableFanout: Boolean = false,
    private val orderedConcat: Boolean = false) {
  import Pipeline._

  private def append(s: Step) = new Pipeline(steps :+ s, durableFanout, orderedConcat)

  /** Durable-ID mode (the README "chained loaders" caveat): fan-out
    * points `checkpoint()` (reliable, eager) instead of `persist()`.
    * The default persist pins ONE evaluation of nondeterministic
    * id-bearing frames (uuid / monotonically_increasing_id) only
    * best-effort — an executor loss or cache eviction between two
    * sinks recomputes the prefix and the ids silently diverge across
    * sinks. A reliable checkpoint materializes the prefix to the
    * checkpoint store (cluster-visible; survives executor loss —
    * recomputation cannot happen, so divergence cannot), at the cost
    * of a write+read of the fan-out frame. Requires
    * `spark.sparkContext.setCheckpointDir` on a store every executor
    * can read (HDFS/S3 at scale); checkpoint-file lifecycle is the
    * caller's (or `spark.cleaner.referenceTracking.cleanCheckpoints`).
    * Branch sub-flows inherit the mode at compile time. */
  def durable(): Pipeline = new Pipeline(steps, durableFanout = true, orderedConcat)

  /** Ordered-concat mode — the reference's AggregateExtractor consumes
    * its shards "in the order they were added" (`README.md:174`,
    * `src/Extractors/AggregateExtractor.php:22-63`), and by default this
    * engine relaxes that to set semantics (SURVEY §7.4.1: a distributed
    * union has no inherent order). Opting in restores the observable
    * behavior END-TO-END: every source is tagged with its declaration
    * sequence plus a within-source ordinal
    * (`monotonically_increasing_id` — partition-major, i.e. file/read
    * order for file sources, the extractor's own order for `orderedBy`
    * JDBC pagination), and every SINK write (and [[toDF]]) totally
    * orders by (source_seq, ordinal) before dropping the bookkeeping
    * columns. Cost: ONE range exchange per sink — the honest price of a
    * total output order, paid only here. Scope: output order, which is
    * the reference-observable surface; joins/aggregations downstream
    * reorder rows in any engine. Internal `__graft_*` columns are
    * invisible to whole-record transformers ([[graft.operators
    * .Transformers.PerColumn]]/[[graft.operators.Transformers.PerLeaf]]
    * skip the namespace). */
  def ordered(): Pipeline = new Pipeline(steps, durableFanout, orderedConcat = true)

  /** Add the (first) source — `src/YaEtl.php:89-99`. A second `from` with
    * `aggregate = true` concatenates sources like the reference's
    * `AggregateExtractor` (`src/Extractors/AggregateExtractor.php:22-63`):
    * same schema, presented downstream as one stream (`unionByName`). */
  def from(src: Source, aggregate: Boolean = false): Pipeline =
    append(From(src, aggregate))

  /** A non-aggregated second source: the reference re-triggers it per
    * upstream record ("categorized extract", `README.md:140-168`). The
    * relational rewrite is a join on the parameterizing key; with no key
    * it is a cross product (each upstream record fans out over the whole
    * second source — `tests/QualifierTest.php:292-296` cardinality). */
  def fromPerRecord(src: Source, on: Option[(String, String)] = None): Pipeline =
    append(FromPerRecord(src, on))

  /** Equi-join against a unique-keyed source — `src/YaEtl.php:166-176`. */
  def join(spec: JoinSpec): Pipeline = append(Join(spec))

  /** AS-OF join against a time-keyed source (beyond the reference —
    * the engine's whole-operator extension, [[graft.plans.AsOf]]): for
    * each flowing record, the latest right record with the same key
    * strictly before it in (time, id) order — or the earliest strictly
    * after with `forward = true` — with NULL right columns on a miss.
    * Column names across the two sides must be disjoint; lowered by
    * the injected optimizer rule into the linear union-tag-window
    * merge (one shuffle on the key, no join at any scale). */
  def asOf(src: Source,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      leftId: String, rightId: String,
      forward: Boolean = false): Pipeline =
    append(AsOfStep(src, leftKey, rightKey, leftTime, rightTime, leftId, rightId, forward))

  /** Per-record predicate — `src/YaEtl.php:108-114`. */
  def qualify(q: Qualifier): Pipeline = append(Qualify(q))
  def qualify(pred: Column): Pipeline = qualify(graft.operators.Qualifiers.Keep(pred))

  /** Root-targeted break — the reference's `Interrupter(rootFlow, …,
    * TYPE_BREAK)` fired from inside a branch
    * (`tests/QualifierTest.php:567-648`): when ANY record of THIS
    * stream matches `cond`, every ancestor flow's continuation past its
    * branch point is interrupted — zero records flow downstream of the
    * enclosing `branch(...)` calls all the way to the root, and the
    * report's status turns Dirty. Writes declared BEFORE the break
    * point (in this branch or upstream) still flush, like the
    * reference's already-processed records.
    *
    * Declarative rendition: the firing evidence is a ≤1-row subplan
    * (`filter(cond).limit(1)`, observed as a `break_*` counter), and
    * each ancestor continuation is anti-joined against it — a broadcast
    * of at most one row, no driver-side control flow, still one job. */
  def interruptRootOn(cond: Column): Pipeline = append(RootBreak(cond))

  /** Per-record map — `src/YaEtl.php:187-193`. */
  def transform(t: Transformer): Pipeline = append(Transform(t))

  /** Add a sink. Multiple sinks per flow are legal, including mid-flow
    * (`README.md:38-45`; `tests/YaEtlTest.php:281-404` loader-mid-flow). */
  def to(sink: Sink): Pipeline = append(To(sink))

  /** Embed a sub-flow over the stream at this point — `src/YaEtl.php:223-229`.
    * Each branch is an independent qualify/transform/to chain on the shared
    * (persisted) head; reference branches cannot yield records back
    * (`docs/usage.md:45`) and neither do these. */
  def branch(build: Pipeline => Pipeline): Pipeline =
    append(Branch(build(Pipeline())))

  /** Name this position in the flow — the injection point for [[sendTo]]
    * (the analog of the reference's node ids,
    * `docs/usage.md:133-135` `$flow->sendTo($node->getId(), $record)`). */
  def label(name: String): Pipeline = {
    require(!steps.contains(Label(name)), s"duplicate label '$name'")
    append(Label(name))
  }

  /** Inject records at the labeled point, bypassing every node upstream
    * of it — the reference's `sendTo()` ("executable networks of
    * flows", `docs/usage.md:133-135`: send a record directly to the
    * branch's transformer *without passing through the Qualifier*).
    *
    * Record-at-a-time injection becomes set-at-a-time: `base` flows
    * through the steps AFTER the label only. The tail is returned as a
    * Pipeline — `toDF` it for the transformed records (the reference's
    * `$result`) or `exec` it to also run the tail's sinks. The tail
    * keeps this flow's [[durable]] and [[ordered]] modes. */
  def sendTo(name: String, base: DataFrame): Pipeline = {
    val at = steps.indexOf(Label(name))
    require(at >= 0, s"no label '$name' in this flow")
    new Pipeline(BaseDf(base) +: steps.drop(at + 1), durableFanout, orderedConcat)
  }

  /** Compile the flow to a DataFrame without running it (the reference's
    * documented standalone/partial-flow reuse, `docs/reusability.md:3-34`).
    * Only the stream is folded: no sink write is built, nothing is
    * pinned and nothing is observed, so the result's plan carries no
    * counter and the session no observation. */
  def toDF(spark: SparkSession): DataFrame = compile(spark, pins = None).df

  /** Run the flow: execute every sink write, gather counters, report —
    * `exec()` in the reference (`tests/YaEtlTest.php:40`), repeatable.
    * `events` receives the reference's flow-lifecycle notifications
    * (start/progress/flush/success/fail — SURVEY §2.7).
    *
    * Flush policy: each sink's write IS its flush (Spark's job-commit
    * protocol, all-or-nothing per sink), committed sequentially in step
    * order — equivalent to the reference's default "branches flush when
    * the root flushes, in node order" (`src/YaEtl.php:129-153,349-393`).
    * The reference's `forceFlush(true)` (flush a branch mid-flow) has
    * no analog because nothing buffers before `exec()`; see README
    * "Flush policy". A failed later sink leaves earlier sinks committed
    * (same as the reference's sequential `flushNodes`) and the report
    * carries `Failed`; per-sink `onFlush` events record which sinks
    * committed. */
  def exec(spark: SparkSession,
      events: PipelineEvents = PipelineEvents.Silent): PipelineReport =
    JobMetrics.tagged(spark.sparkContext, events.onProgress)(run(spark, events, _))

  /** [[exec]]'s body; every job it starts carries `metrics`' tag. */
  private def run(spark: SparkSession, events: PipelineEvents,
      metrics: JobMetrics): PipelineReport = {
    val t0 = System.nanoTime()
    events.onStart()
    // every frame the flow persists, released on every way out: a
    // failure in compile or in any sink must not leave a cache entry
    // per attempt in a long-lived session
    val persisted = ListBuffer.empty[DataFrame]
    try {
      val c = compile(spark, Some(persisted))
      c.writes.zipWithIndex.foreach { case ((d, sink), i) =>
        sink.write(d)
        events.onFlush(i)
      }
      // every progress tick of this flow's own jobs lands before success
      metrics.quiesce()
      val counters = c.observations.flatMap { case (name, obs) =>
        val m = obs.get
        // a break signal that never fires observes ZERO rows, and Spark
        // reports an empty metric map for an empty CollectMetrics input
        // under the broadcast subtree — synthesize the honest 0
        if (m.isEmpty && name.startsWith("break_")) Seq(s"$name.records" -> 0L)
        else m.map { case (k, v) =>
          s"$name.$k" -> v.asInstanceOf[Number].longValue() }
      }.toMap
      // a root-targeted break is dirty only when it actually FIRED
      // (data-dependent, read off its observed counter) — unlike the
      // statically truncating qualifiers
      val breakFired = counters.exists { case (k, v) => k.startsWith("break_") && v > 0 }
      // reference flow.continue / flow.break (docs/events.md:87-109),
      // fired set-at-a-time from the observed counters
      val skipped =
        counters.collect { case (k, v) if k.startsWith("skip_in_") => v }.sum -
          counters.collect { case (k, v) if k.startsWith("skip_out_") => v }.sum
      if (skipped > 0) events.onContinue(skipped)
      if (c.truncated || breakFired) events.onBreak()
      val report = PipelineReport(
        if (c.truncated || breakFired) PipelineStatus.Dirty else PipelineStatus.Clean,
        counters, (System.nanoTime() - t0) / 1000000)
      events.onSuccess(report)
      report
    } catch {
      case e: Throwable =>
        events.onFail(e)
        PipelineReport(PipelineStatus.Failed(e), Map.empty, (System.nanoTime() - t0) / 1000000)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  /** Fold the step list into lineage, in one pass: a branch re-enters
    * the fold over its own steps, based on the stream at the branch
    * point, with the flow's accumulators and the parent's modes OR its
    * own.
    *
    * `pins` is [[exec]]'s list of persisted frames; without it
    * ([[toDF]]) only the stream is folded — no sink or NoOp write is
    * built, nothing is pinned or observed, and a branch contributes
    * only the steps up to its last root-targeted break (all a branch
    * can do to the stream).
    *
    * Fan-out handling: when a `to`/`branch` is not the last step, the
    * DataFrame at that point is consumed more than once (this sink AND
    * the continuation), so it is pinned there — the shared *prefix* is
    * evaluated exactly once and every consumer's plan contains the same
    * pinned node. (Pinning each sink's final DataFrame instead would
    * cache rows nothing ever re-reads.)
    *
    * Every observation of an exec is guaranteed to sit inside some
    * executed write: if steps after the last sink changed the stream
    * (`dirtyTail`), a terminal NoOp write drives them — otherwise
    * `Observation.get` would block forever on a plan that never ran. */
  private def compile(spark: SparkSession, pins: Option[ListBuffer[DataFrame]]): Compiled = {
    val writes = ListBuffer.empty[(DataFrame, Sink)]
    val observations = ListBuffer.empty[(String, Observation)]
    val breakSignals = ListBuffer.empty[DataFrame]
    val checkpointed = ListBuffer.empty[DataFrame]
    var truncated = false

    /** Interrupt gate: keep `d`'s rows only while `signal` (≤ 1 row) is
      * empty — a broadcast anti-join, no driver round-trip. */
    def gate(d: DataFrame, signal: DataFrame): DataFrame =
      d.join(broadcast(signal), lit(true), "left_anti")

    /** Ordered mode's emission form: total (source_seq, ordinal) order,
      * bookkeeping columns dropped — applied per SINK write and to the
      * [[toDF]] result, never to the flowing stream (a mid-flow sink's
      * continuation keeps the tags). */
    def emitForm(d: DataFrame, ordered: Boolean): DataFrame =
      if (ordered && d.columns.contains(SrcSeqCol))
        d.orderBy(col(SrcSeqCol), col(SrcOrdCol)).drop(SrcSeqCol, SrcOrdCol)
      else d

    /** Count `d`'s rows into the report (exec only: no [[toDF]] caller
      * can read a counter, and an observation no write runs would stay
      * registered in the session). */
    def observed(d: DataFrame, name: String): DataFrame =
      if (pins.isEmpty) d
      else {
        // globally unique observation AND report key: branch sub-flows
        // reuse step indices, so a bare "load_3" would collide both in
        // Spark's observed-metrics registry and in the counters map
        val uid = Pipeline.obsCounter.incrementAndGet()
        val obs = new Observation(s"graft_${name}_$uid")
        observations += s"${name}_$uid" -> obs
        d.observe(obs, count(lit(1)).as("records"))
      }

    /** Pin one evaluation of `d` (exec only): best-effort `persist()` by
      * default, reliable `checkpoint()` in [[durable]] mode (survives
      * executor loss — nondeterministic ids can never be recomputed into
      * divergence). A frame already pinned stays as it is. */
    def pin(d: DataFrame, durable: Boolean): DataFrame = pins.fold(d) { persisted =>
      if (!durable) {
        if (d.storageLevel != StorageLevel.NONE) d
        else { val p = d.persist(); persisted += p; p }
      } else if (checkpointed.exists(_ eq d)) d
      else {
        // without it Spark fails with its raw "checkpoint directory has
        // not been set"
        require(spark.sparkContext.getCheckpointDir.isDefined,
          "durable() needs spark.sparkContext.setCheckpointDir " +
            "(a reliable store every executor can read)")
        val c = d.checkpoint() // eager + reliable
        checkpointed += c
        c
      }
    }

    /** One flow level: `steps` in the given modes; returns its stream. */
    def fold(steps: Vector[Step], durable: Boolean, ordered: Boolean): DataFrame = {
      var df: DataFrame = null
      var dirtyTail = false // df changed since the last sink/branch
      val writesBefore = writes.size
      steps.zipWithIndex.foreach { case (step, idx) =>
        val i = idx + 1
        // a sink or branch that is not the last step fans the stream out
        def pinShared(): Unit = if (i < steps.length) df = pin(df, durable)
        step match {
          case Label(_)     => () // position marker for sendTo, no lineage
          case BaseDf(base) => df = base
          case From(src, agg) =>
            // ordered mode: tag source sequence + within-source ordinal.
            // The seq comes from a process-global counter so branch
            // sources slot in after their parent's in declaration order;
            // only RELATIVE order within one compiled plan matters.
            def tag(d: DataFrame): DataFrame =
              if (!ordered) d
              else d.withColumn(SrcSeqCol, lit(srcSeqCounter.incrementAndGet()))
                .withColumn(SrcOrdCol, monotonically_increasing_id())
            val loaded = observed(tag(src.load(spark)), s"extract_$i")
            df = if (df == null) loaded
            else if (agg) df.unionByName(loaded, allowMissingColumns = false)
            else throw new IllegalStateException(
              "second non-aggregated from(): use fromPerRecord (per-record semantics) or aggregate = true (concat)")
            dirtyTail = true
          case FromPerRecord(src, on) =>
            require(df != null, "fromPerRecord needs an upstream source")
            val right = src.load(spark)
            df = on match {
              case Some((l, r)) =>
                val joined = df.join(right, df(l) === right(r))
                if (l == r) joined.drop(right(r)) else joined
              case None => df.crossJoin(right)
            }
            dirtyTail = true
          case Join(spec)    => df = spec(spark, df); dirtyTail = true
          case AsOfStep(src, lk, rk, lt, rt, lid, rid, fwd) =>
            require(df != null, "asOf needs an upstream source")
            df = graft.plans.AsOf.join(df, src.load(spark), lk, rk, lt, rt, lid, rid, fwd)
            dirtyTail = true
          case Qualify(q) =>
            // non-truncating (continue-semantics) qualifiers get in/out
            // observations so exec can report the skipped-record total as
            // the reference's flow.continue event — two CollectMetrics
            // nodes, zero extra passes. Truncating qualifiers are covered
            // by the dirty status + flow.break instead.
            if (!q.truncates) {
              df = observed(df, s"skip_in_$i")
              df = q(df)
              df = observed(df, s"skip_out_$i")
            } else df = q(df)
            truncated ||= q.truncates; dirtyTail = true
          case Transform(t)  => df = t(df); dirtyTail = true
          case RootBreak(cond) =>
            require(df != null, "interruptRootOn needs an upstream source")
            // ≤1-row firing evidence; pinned so the observe node runs
            // once even though every downstream write's anti-join reads it
            val signal = pin(observed(
              df.filter(cond).select(lit(1).as("__graft_break")).limit(1),
              s"break_$i"), durable)
            breakSignals += signal
            // this flow's own continuation past the break point is gated
            // too (the reference stops the current stream as well)
            df = gate(df, signal)
            dirtyTail = true
          case To(sink) =>
            if (pins.isDefined) {
              pinShared()
              writes += ((observed(emitForm(df, ordered), s"load_$i"), sink))
              dirtyTail = false
            }
          case Branch(sub) =>
            pinShared()
            val raisedBefore = breakSignals.size
            val body = if (pins.isDefined) sub.steps
              else sub.steps.take(sub.steps.lastIndexWhere(raises) + 1)
            fold(BaseDf(df) +: body, durable || sub.durableFanout, ordered || sub.orderedConcat)
            // root-targeted breaks inside the branch gate THIS flow's
            // continuation and keep propagating to every ancestor
            val raised = breakSignals.drop(raisedBefore)
            raised.foreach(sig => df = gate(df, sig))
            dirtyTail = raised.nonEmpty
        }
      }
      require(df != null, "pipeline has no source (from)")
      // a flow without an explicit sink — or with nodes after the last
      // sink — still executes fully (reference exec() semantics): drive
      // the tail through a NoOp write so counters materialize. It stays
      // UN-ordered: it exists to run counters, and a range sort no sink
      // observes would be a wasted exchange.
      if (pins.isDefined && (writes.size == writesBefore || dirtyTail))
        writes += ((observed(df, s"load_${steps.length + 1}"), NoOpSink))
      df
    }

    val df = fold(steps, durableFanout, orderedConcat)
    Compiled(emitForm(df, orderedConcat), writes.toSeq, observations.toSeq, truncated)
  }
}

object Pipeline {
  def apply(): Pipeline = new Pipeline(Vector.empty)
  def from(src: Source): Pipeline = Pipeline().from(src)

  private val obsCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Ordered-concat bookkeeping (internal `__graft_` namespace — skipped
    * by whole-record transformers, dropped at emission). */
  private[graft] val SrcSeqCol = "__graft_src_seq"
  private[graft] val SrcOrdCol = "__graft_src_ord"
  private val srcSeqCounter = new java.util.concurrent.atomic.AtomicLong(0)

  private final case class Compiled(
      df: DataFrame,
      writes: Seq[(DataFrame, Sink)],
      observations: Seq[(String, Observation)],
      truncated: Boolean)

  /** Can this step gate its flow's stream (a root-targeted break, here
    * or in a nested branch)? */
  private def raises(s: Step): Boolean = s match {
    case RootBreak(_) => true
    case Branch(sub)  => sub.steps.exists(raises)
    case _            => false
  }

  sealed private trait Step
  private final case class From(src: Source, aggregate: Boolean) extends Step
  private final case class FromPerRecord(src: Source, on: Option[(String, String)]) extends Step
  private final case class Join(spec: JoinSpec) extends Step
  private final case class AsOfStep(src: Source,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      leftId: String, rightId: String, forward: Boolean) extends Step
  private final case class Qualify(q: Qualifier) extends Step
  private final case class Transform(t: Transformer) extends Step
  private final case class To(sink: Sink) extends Step
  private final case class Branch(sub: Pipeline) extends Step
  private final case class BaseDf(df: DataFrame) extends Step
  private final case class RootBreak(cond: Column) extends Step
  private final case class Label(name: String) extends Step
}
