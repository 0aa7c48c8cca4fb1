package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine — a deliberate extension:
  * the reference is strictly batch/pull-based (SURVEY §2.8, `exec()`
  * runs to completion). Most operators have an oracle-checked batch
  * twin, in one of two forms:
  *  - Column twins run the same Catalyst operators after a
  *    `withWatermark` ([[hourlyCounts]] ↔ `events_hourly`);
  *    [[slidingCounts]] and [[rateAnomalyStream]] call their batch
  *    query's own stage, `EventQueries.slidingAgg` and `rateSpike`.
  *  - JVM-fold twins re-state a batch Column query as a per-key state
  *    function, and StreamingSpec checks them against the batch rows.
  *    Their batch twins live in EventQueries (sessionize, funnel_steps,
  *    the as-of attributions, event_transitions, session_gap_dist,
  *    rate_mosum, drift_psi), ProfilingQueries (distinct_kmv,
  *    distinct_hll, quantile_sketch), TextQueries (heavy_hitters,
  *    freq_cm_sketch), CurationQueries (weighted_sample) and
  *    DedupQueries (dedup_bloom_probe).
  * The four operators that keep whole per-user state under an
  * event-time timeout share one fold and one expiry rule
  * ([[eventTimeFold]]); the (ts, event_id) order is [[before]]. The
  * eight sketch twins, whose state never expires, share one state
  * fold ([[sketchFold]]).
  *
  * Scale notes: all stateful operators here key their state by
  * `user_id`/window — state is hash-partitioned across executors and
  * bounded by the watermark (late data beyond it is dropped and state
  * evicted), which is what keeps 100 TB/day streams from accreting
  * unbounded state.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based stream over an events directory (new parquet files are
    * discovered per micro-batch). `maxFilesPerTrigger` bounds batch
    * size — the streaming analog of the reference's extract batchSize.
    *
    * File streams need the schema up front, and the testdata's `ts` has
    * shipped with different physical encodings across generations
    * (int64 nanos, `timestamp[us]` NTZ, session-zoned TIMESTAMP). By
    * default (`nanosTs = None`) the encoding is DETECTED from the
    * directory's parquet footer on the driver ([[FooterSchema.infer]]
    * with `nanosAsLong`, no Spark job, no data scan) and normalized to a
    * microsecond `TimestampType` column, matching the batch path
    * ([[graft.Tables.events]]). Pass `Some(true)` to force the legacy
    * nanos-as-long decode, `Some(false)` to skip the probe for ordinary
    * Spark-written timestamp parquet.
    *
    * The probe tolerates a missing/empty directory (the normal
    * consumer-before-producer stream deployment order) by falling back
    * to the standard `TimestampType` schema and letting the stream
    * wait for files — a legacy nanos producer that starts AFTER the
    * consumer must state `Some(true)` explicitly, since no footer
    * existed to detect it from. The session's conf is never written:
    * the stream's micro-batch scans read INT64 nanos into the supplied
    * `LongType` column without `spark.sql.legacy.parquet.nanosAsLong`. */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4, nanosTs: Option[Boolean] = None): DataFrame = {
    val tsType: DataType = nanosTs match {
      case Some(true) => LongType
      case Some(false) => TimestampType
      case None => FooterSchema.infer(spark, Seq(dir), nanosAsLong = true)
        .fold[DataType](TimestampType)(_("ts").dataType)
    }
    val stream = spark.readStream
      .schema(StructType(eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = tsType)
        case f => f
      }))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
    graft.Tables.eventTs(stream, s"events stream at $dir")
  }

  /** Watermarked tumbling-window aggregation — the streaming twin of
    * the batch `events_hourly` query. Late events beyond the watermark
    * are dropped; window state is evicted once the watermark passes. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // integer cents before summing, per the engine-wide numeric
        // policy (QueryDef.cents): a double sum's low bits vary with
        // micro-batch/partition order; a BIGINT cents sum never does
        sum(graft.queries.QueryDef.cents(col("value"))).as("sum_value_cents"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Watermarked SLIDING-window aggregation (1 h window every 15 min):
    * `events_sliding`'s own stage ([[graft.queries.EventQueries.slidingAgg]])
    * after a watermark. Each event lands in window-length/slide = 4
    * windows, so state holds 4 open windows per key instead of 1;
    * eviction is still watermark-driven. */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    graft.queries.EventQueries.slidingAgg(events.withWatermark("ts", watermark))

  /** Streaming twin of the batch `rate_anomaly` query: live hourly
    * counts flagged against a FROZEN per-type baseline of historical
    * count moments (event_type, n, s, ss) — the production shape,
    * where the control chart's limits come from yesterday's batch job
    * and the stream only compares. The 3-sigma test and the tail are
    * the batch query's own ([[graft.queries.EventQueries.rateSpike]]).
    *
    * Structure note: the static baseline joins BEFORE the windowed
    * aggregation (carried through via min(), constant per type) —
    * Spark does not allow joins after a streaming aggregation, and the
    * pre-agg stream-static broadcast join is the supported, cheaper
    * plan anyway. */
  def rateAnomalyStream(events: DataFrame, baseline: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val (spike, tail) = graft.queries.EventQueries.rateSpike(col("n_events"))
    events
      .withWatermark("ts", watermark)
      .join(broadcast(baseline), Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("n")).as("n"), min(col("s")).as("s"), min(col("ss")).as("ss"))
      .select(col("window"), col("event_type"), col("n_events"),
        when(spike, 1L).otherwise(0L).as("is_spike"), tail)
  }

  /** [[rateMosumStream]] state per event type: the OPEN hour being
    * accumulated (`openHr` = MinValue when none) and the trailing
    * ≤ W most-recently-CLOSED observed hours — O(W) per key, forever
    * (a |types|-cardinality key space needs no eviction). */
  final case class MosumState(openHr: Long, openC: Long,
      hist: List[(Long, Long)])
  final case class MosumOut(event_type: String, hr: Long, t6: Long, shifted: Long)

  /** Streaming MOSUM mean-shift detection — the streaming twin of the
    * batch `rate_mosum` query, against FROZEN per-type count moments
    * (n, s, ss) from the historical batch job (the [[rateAnomalyStream]]
    * production shape: yesterday's batch sets the control limits, the
    * stream only compares; the moment frame is |types| rows, so it
    * rides in as a plain broadcast-sized map). Same float-free
    * contract, in BigInt — the JVM twin of the batch DECIMAL(38,0)
    * headroom: (n·T − W·S)² > 9·W·(n·SS − S²).
    *
    * Why flatMapGroupsWithState and not a windowed agg: the trailing-W
    * sum needs the previous W−1 OBSERVED hours' counts next to each
    * closing hour — cross-window state no window aggregation carries.
    * An hour EMITS when it closes: a later-hour event arrives, or the
    * event-time timeout fires once the watermark passes the open
    * hour's end (so the stream's last hour is not held hostage). Rows
    * appear once, append-mode, exactly the batch rows for in-order
    * data (StreamingSpec pins the equality, timeout flush included).
    *
    * Divergence by construction (the bounded-state twin contract): a
    * late row landing BEHIND its type's open hour folds into the open
    * hour (arrival-order accounting — the batch plan, seeing all
    * data, recounts the true hour), and hours the frozen map lacks a
    * moment row for pass through silently. */
  def rateMosumStream(events: Dataset[Event],
      moments: Map[String, (Long, Long, Long)], w: Int = 6,
      watermark: String = "2 hours"): Dataset[MosumOut] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L
    val none = Long.MinValue

    def stat(tpe: String, hr: Long, hist: List[(Long, Long)]): Option[MosumOut] =
      if (hist.size < w) None
      else moments.get(tpe).map { case (n, s, ss) =>
        val t6 = hist.map(_._2).sum
        val dev = BigInt(n) * t6 - BigInt(w) * s
        val bound = BigInt(9) * w * (BigInt(n) * ss - BigInt(s) * s)
        MosumOut(tpe, hr, t6, if (dev * dev > bound) 1L else 0L)
      }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MosumState, MosumOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (tpe: String, rows: Iterator[Event], state: GroupState[MosumState]) =>
          var st = state.getOption.getOrElse(MosumState(none, 0L, Nil))
          val out = Seq.newBuilder[MosumOut]
          // close the open hour: fold it into the trailing history and
          // emit its MOSUM row once W observed hours are in hand
          def close(): Unit = if (st.openHr != none) {
            val hist = (st.hist :+ ((st.openHr, st.openC))).takeRight(w)
            stat(tpe, st.openHr, hist).foreach(out += _)
            st = MosumState(none, 0L, hist.takeRight(w - 1))
          }
          if (!state.hasTimedOut) {
            byTime(rows).foreach { e =>
              val hr = e.ts.getTime / hourMs
              if (st.openHr == none) st = st.copy(openHr = hr, openC = 1L)
              else if (hr == st.openHr || hr < st.openHr)
                // late-behind-open rows fold in (documented divergence)
                st = st.copy(openC = st.openC + 1L)
              else { close(); st = st.copy(openHr = hr, openC = 1L) }
            }
          }
          // finalize by watermark — on timeout fire AND inline (an
          // open hour whose end the watermark already passed can never
          // arm a future timer: re-arming at-or-before it throws)
          val wm = state.getCurrentWatermarkMs()
          if (st.openHr != none && (st.openHr + 1) * hourMs <= wm) close()
          state.update(st)
          if (st.openHr != none) state.setTimeoutTimestamp((st.openHr + 1) * hourMs)
          out.result().iterator
      }
  }

  /** The click→purchase interval join, one body for the inner, LEFT
    * OUTER and FULL OUTER forms: clicks joined to the same user's
    * purchases within the hour that follows, both sides watermarked so
    * join state is evicted (unbounded state = the classic stream-join
    * failure at scale; the time-range condition is what bounds it). */
  private def clickPurchaseJoin(events: DataFrame, watermark: String,
      joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + INTERVAL 1 HOUR"""),
      joinType)
  }

  /** Stream-stream inner join: clicks enriched with the purchase that
    * followed within an hour ([[clickPurchaseJoin]]). */
  def clickToPurchase(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    clickPurchaseJoin(events, watermark, "inner")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))

  /** Stream-stream LEFT OUTER join: every click, enriched with its
    * following purchase when one exists, or NULL purchase columns once
    * the watermark proves none can arrive. Outer stream joins are the
    * harder state problem: the engine must hold an unmatched left row
    * until the watermark passes the end of its join window before it
    * may emit the NULL-padded result — so the same watermark + time-
    * range bounds that evict inner-join state are what make the outer
    * result *correct*, not just space-bounded. */
  def clickToPurchaseOuter(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    clickPurchaseJoin(events, watermark, "left_outer")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))

  /** Stream-stream FULL OUTER join: every click AND every purchase
    * survives — matched pairs emit immediately; each side's unmatched
    * rows emit NULL-padded only once the watermark proves no partner
    * can arrive. This doubles the LEFT OUTER state obligation: BOTH
    * sides hold their unmatched rows until the watermark passes the
    * end of their join window (clicks wait out [click_ts, click_ts+1h];
    * purchases wait out [purchase_ts-1h, purchase_ts]), and since the
    * watermark is tracked per input and advances on the SLOWEST side,
    * one stalled side delays the other side's NULL emission too — the
    * correctness property StreamingSpec pins per side. */
  def clickToPurchaseFullOuter(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    clickPurchaseJoin(events, watermark, "full_outer")
      .select(col("user_id").as("click_user"), col("click_id"), col("click_ts"),
        col("p_user_id").as("purchase_user"), col("purchase_ts"), col("purchase_value"))

  /** The (ts, event_id) event-time order every twin here folds in —
    * the batch windows' sort: `a` before `b`. */
  private def before(aMs: Long, aId: Long, bMs: Long, bId: Long): Boolean =
    aMs < bMs || (aMs == bMs && aId < bId)

  /** One micro-batch's rows for a key, sorted by [[before]]. */
  private def byTime(rows: Iterator[Event]): Seq[Event] =
    rows.toSeq.sortWith((a, b) => before(a.ts.getTime, a.event_id, b.ts.getTime, b.event_id))

  /** The per-key event-time fold, ONE definition for both state APIs:
    * rows fold in [[before]] order through `step`, from the carried
    * state. Returns the new state and the rows the steps emitted. */
  private def foldByTime[S, O](key: Long, init: Option[S], rows: Iterator[Event])(
      step: (Long, Option[S], Event) => (Option[S], Option[O])): (Option[S], Seq[O]) = {
    val out = Seq.newBuilder[O]
    var cur = init
    byTime(rows).foreach { e =>
      val (next, o) = step(key, cur, e)
      cur = next
      out ++= o
    }
    (cur, out.result())
  }

  /** THE event-time-timeout rule, one definition for every operator
    * that keeps whole per-user state under `flatMapGroupsWithState`
    * ([[attributeStateful]], [[successorStateful]],
    * [[sessionizeStateful]], [[funnelStateful]]): the user's rows fold
    * through `step` ([[foldByTime]]). Then, on a timeout OR when the
    * folded state's `expiryMs` is already at or behind the current
    * watermark, the state expires NOW — `expire` emits its closing
    * row and the state is removed; otherwise the state is stored and
    * its timer armed at `expiryMs`.
    *
    * The inline expiry is what keeps the query alive, not a shortcut:
    * `setTimeoutTimestamp` throws for a timestamp behind the current
    * watermark, and a backlog batch can hand the function exactly such
    * rows — Spark drops late rows against the PREVIOUS batch's
    * watermark, while the timer check uses the current one
    * (StreamingSpec's backlog-drain case). */
  private def eventTimeFold[S: Encoder, O: Encoder](events: Dataset[Event],
      watermark: String)(expiryMs: S => Long, expire: (Long, S) => Option[O])(
      step: (Long, Option[S], Event) => (Option[S], Option[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[S]) =>
          val (cur, out) = foldByTime(userId, state.getOption, rows)(step)
          cur match {
            case Some(s) if !state.hasTimedOut &&
                expiryMs(s) > state.getCurrentWatermarkMs() =>
              state.update(s)
              state.setTimeoutTimestamp(expiryMs(s))
              out.iterator
            case Some(s) =>
              state.remove()
              (out ++ expire(userId, s)).iterator
            case None => out.iterator
          }
      }
  }

  final case class ClickState(clickMs: Long, clickId: Long)
  final case class AttributionOut(purchase_id: Long, user_id: Long,
      purchase_ms: Long, click_id: Option[Long], click_ms: Option[Long])

  /** Streaming last-touch attribution — the streaming twin of the batch
    * `asof_attribution` as-of join: each purchase is attributed to the
    * latest click by the same user at-or-before it (ties on equal
    * timestamps resolved by event_id, like the batch query).
    *
    * State is ONE (clickMs, clickId) pair per user — the as-of join's
    * "carry the latest left row forward" made explicit — keyed by
    * user_id so it hash-partitions across executors, and expired by
    * [[eventTimeFold]] `ttlMs` past the last click, emitting nothing
    * (an attribution window: a click older than the TTL no longer
    * attributes, which is both the business rule and what bounds
    * state).
    *
    * Streaming divergence from the batch twin, by construction: a
    * purchase is attributed against the clicks SEEN when its
    * micro-batch is processed — a click arriving later (late data
    * within the watermark) cannot retro-attribute an already-emitted
    * purchase. In-order streams reproduce the batch result exactly
    * (pinned in StreamingSpec). */
  def attributeStateful(events: Dataset[Event],
      ttlMs: Long = 24L * 3600 * 1000,
      watermark: String = "2 hours"): Dataset[AttributionOut] = {
    import events.sparkSession.implicits._
    eventTimeFold[ClickState, AttributionOut](
        events.filter(e => e.event_type == "click" || e.event_type == "purchase"),
        watermark)(c => c.clickMs + ttlMs, (_, _) => None) { (userId, cur, e) =>
      val t = e.ts.getTime
      if (e.event_type == "click")
        // keep the MAX (ts, id) click — a late click within the
        // watermark must not regress the carried state
        (if (cur.forall(c => before(c.clickMs, c.clickId, t, e.event_id)))
          Some(ClickState(t, e.event_id)) else cur, None)
      else {
        // the TTL is enforced HERE, in event time, not only via
        // state-timeout eviction: eviction is micro-batch-granular, so
        // a purchase can race an expired click into the same batch —
        // without this check the attribution would depend on batch
        // boundaries
        val att = cur.filter(c =>
          before(c.clickMs, c.clickId, t, e.event_id) && t - c.clickMs <= ttlMs)
        (cur, Some(AttributionOut(e.event_id, userId, t,
          att.map(_.clickId), att.map(_.clickMs))))
      }
    }
  }

  /** Pending clicks awaiting their first following purchase, for
    * [[attributeForwardStateful]]. */
  final case class PendingClicks(clicks: Seq[ClickState])
  final case class ForwardAttributionOut(click_id: Long, user_id: Long,
      click_ms: Long, purchase_id: Option[Long], purchase_ms: Option[Long],
      latency_ms: Option[Long])

  /** Streaming FORWARD attribution — the streaming twin of the batch
    * `asof_forward` query: each click is matched to the user's EARLIEST
    * purchase strictly after it in (ts, event_id) order, with the
    * conversion latency; a click whose `horizonMs` passes with no
    * purchase emits a NULL row (the batch query accounts for every
    * click, so the twin does too).
    *
    * State is the user's PENDING clicks — those whose following
    * purchase hasn't arrived — keyed by user_id so it hash-partitions
    * across executors. The horizon is what bounds it: a purchase
    * flushes every pending click before it in one pass, and the
    * event-time timeout (armed at the EARLIEST pending click's expiry)
    * sweeps the rest, so state per user never exceeds one horizon's
    * worth of unconverted clicks. It expires PART of its state, so it
    * keeps its own sweep instead of [[eventTimeFold]]'s whole-state
    * rule. The horizon is enforced in EVENT time at match point too,
    * not only via timeout eviction — eviction is micro-batch-granular,
    * and a purchase can race an expired click into the same batch
    * (same guard as [[attributeStateful]]).
    *
    * Streaming divergence from the batch twin, by construction: a
    * purchase arriving LATE (within the watermark but after a later
    * purchase was already processed) cannot claim clicks the earlier-
    * processed purchase already flushed. In-order streams reproduce
    * the batch result exactly for clicks converting within the horizon
    * (pinned in StreamingSpec). */
  def attributeForwardStateful(events: Dataset[Event],
      horizonMs: Long = 24L * 3600 * 1000,
      watermark: String = "2 hours"): Dataset[ForwardAttributionOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PendingClicks, ForwardAttributionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[PendingClicks]) =>
          val out = Seq.newBuilder[ForwardAttributionOut]
          var pending = state.getOption.map(_.clicks.toVector).getOrElse(Vector.empty)
          byTime(rows).foreach { e =>
            val t = e.ts.getTime
            if (e.event_type == "click")
              pending :+= ClickState(t, e.event_id)
            else {
              // this purchase is the first-following for every pending
              // click strictly before it; clicks past the horizon NULL
              // out here rather than wait for the timeout sweep
              val (flushed, waiting) = pending.partition(c =>
                before(c.clickMs, c.clickId, t, e.event_id))
              flushed.foreach { c =>
                if (t - c.clickMs <= horizonMs)
                  out += ForwardAttributionOut(c.clickId, userId, c.clickMs,
                    Some(e.event_id), Some(t), Some(t - c.clickMs))
                else
                  out += ForwardAttributionOut(c.clickId, userId, c.clickMs,
                    None, None, None)
              }
              pending = waiting
            }
          }
          // unified expiry sweep (timeout fire AND inline): emit NULL
          // rows for clicks whose horizon the watermark has passed —
          // doing it inline also keeps the re-arm below strictly beyond
          // the current watermark (re-arming at-or-before it throws)
          val wm = state.getCurrentWatermarkMs()
          val (expired, live) = pending.partition(c => c.clickMs + horizonMs <= wm)
          expired.sortWith((a, b) => before(a.clickMs, a.clickId, b.clickMs, b.clickId)).foreach(c =>
            out += ForwardAttributionOut(c.clickId, userId, c.clickMs, None, None, None))
          if (live.nonEmpty) {
            state.update(PendingClicks(live))
            state.setTimeoutTimestamp(live.map(c => c.clickMs + horizonMs).min)
          } else state.remove()
          out.result().iterator
      }
  }

  /** Per-user last-event state of the successor operators
    * ([[transitionsStateful]], [[sessionGapsStream]] and their in-query
    * aggregation forms): epoch ms, tie-break id, and type of the latest
    * event consumed. */
  final case class LastEvent(ms: Long, id: Long, tpe: String)

  /** The successor step, ONE definition for both state APIs: each row
    * pairs with the carried last event through `pair`. An out-of-order
    * row at-or-before the carried event (same-batch rows are sorted,
    * so only cross-batch late data hits this) still pairs — in arrival
    * order, per the documented divergence — but must not REGRESS the
    * carried (ms, id) clock. */
  private def successorStep[O](pair: (Long, LastEvent, Event) => O)(userId: Long,
      last: Option[LastEvent], e: Event): (Option[LastEvent], Option[O]) = {
    val t = e.ts.getTime
    (if (last.forall(p => before(p.ms, p.id, t, e.event_id)))
      Some(LastEvent(t, e.event_id, e.event_type)) else last,
      last.map(pair(userId, _, e)))
  }

  /** [[successorStep]] under state API v1 (`flatMapGroupsWithState`):
    * ONE [[LastEvent]] per user — O(1) per key, hash-partitioned on
    * user_id — expired by [[eventTimeFold]] once the watermark passes
    * `last + idleMs` (nothing to emit at expiry: rows emit inline as
    * their successor arrives, so eviction is purely a state bound). */
  private def successorStateful[O: Encoder](events: Dataset[Event], idleMs: Long,
      watermark: String)(pair: (Long, LastEvent, Event) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    eventTimeFold[LastEvent, O](events, watermark)(_.ms + idleMs, (_, _) => None)(
      successorStep(pair))
  }

  /** [[successorStep]] under state API v2 (`transformWithState`), for
    * the two operators that chain an aggregation after it: run with the
    * output's `ts` DECLARED as its event-time column, the emitted rows
    * may feed a downstream stateful aggregation (the v1 API cannot
    * declare one). Requires the RocksDB state store. State: ONE
    * ValueState[LastEvent] per user, evicted by an event-time timer at
    * last + idleMs.
    *
    * Timer hygiene: v2 timers are NOT the single-slot v1
    * `setTimeoutTimestamp` — every `registerTimer` ADDS a pending
    * timer. Tracking the armed expiry in a ValueState lets a re-arm
    * DELETE the superseded timer and skip a no-op re-arm, holding
    * pending timers at ≤ 1 per key; and because a timer may still fire
    * after its user spoke again, the expiry handler re-checks the
    * CURRENT state's horizon before clearing. */
  private class SuccessorProcessor[O](idleMs: Long, pair: (Long, LastEvent, Event) => O)
      extends StatefulProcessor[Long, Event, O] {
    @transient private var last: ValueState[LastEvent] = _
    @transient private var armedMs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      last = getHandle.getValueState[LastEvent]("last",
        org.apache.spark.sql.Encoders.product[LastEvent], TTLConfig.NONE)
      armedMs = getHandle.getValueState[Long]("armedMs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[O] = {
      val prior = if (last.exists()) Some(last.get()) else None
      val (cur, out) = foldByTime(userId, prior, rows)(successorStep(pair))
      cur.foreach { c =>
        last.update(c)
        val expiryMs = c.ms + idleMs
        val armed = if (armedMs.exists()) Some(armedMs.get()) else None
        if (!armed.contains(expiryMs)) {
          armed.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(expiryMs)
          armedMs.update(expiryMs)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[O] = {
      if (last.exists() && last.get().ms + idleMs <= info.getExpiryTimeInMs()) {
        last.clear(); armedMs.clear()
      }
      Iterator.empty
    }
  }

  final case class TransitionOut(user_id: Long, from_type: String,
      to_type: String, to_ms: Long)

  /** Stateful event-transition pairs — the streaming twin of the batch
    * `event_transitions` query (per-user consecutive (from, to) event
    * pairs under the (ts, event_id) total order; downstream
    * `groupBy(from_type, to_type).count()` is the live Markov matrix
    * behind funnel design, done in-query by [[transitionMatrixStream]]).
    *
    * State and eviction are [[successorStateful]]'s. Divergence by
    * construction (the bounded-state contract every twin here
    * documents): an event arriving between two already-paired events —
    * late but within the watermark, delivered in a later micro-batch —
    * appends to the carried last event instead of splicing between
    * them; the batch twin, seeing all data at once, would order it in
    * place. */
  def transitionsStateful(events: Dataset[Event],
      idleMs: Long = 2L * 60 * 60 * 1000,
      watermark: String = "2 hours"): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    successorStateful(events, idleMs, watermark)((userId, p, e) =>
      TransitionOut(userId, p.tpe, e.event_type, e.ts.getTime))
  }

  final case class TransitionEv(user_id: Long, ts: java.sql.Timestamp,
      from_type: String, to_type: String)

  /** The LIVE Markov matrix in one query — `event_transitions`' final
    * shape (from_type, to_type, n), not just the pair stream: the
    * transition pairs, emitted WITH their event time by
    * [[SuccessorProcessor]], feed an in-query
    * `groupBy(from_type, to_type).count()`. Agg state = the
    * |types|²-key count grid — bounded by construction, map-side
    * combinable, exactly the batch plan's shuffle shape. Requires the
    * RocksDB state store (state-API-v2 constraint). Update-mode
    * emission: the current matrix row versions per micro-batch. */
  def transitionMatrixStream(events: Dataset[Event],
      idleMs: Long = 2L * 60 * 60 * 1000,
      watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    val pair = (userId: Long, p: LastEvent, e: Event) =>
      TransitionEv(userId, e.ts, p.tpe, e.event_type)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SuccessorProcessor(idleMs, pair), "ts", OutputMode.Append())
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  final case class GapOut(user_id: Long, ts: java.sql.Timestamp,
      gap_s: Long, bucket: Long)

  /** One inter-event gap row: seconds since the carried last event,
    * floored at 0 (a late row's negative difference must never reach
    * the two's-complement bucket), and its floor(log₂ gap_s) bucket —
    * the batch column's JVM twin: length(bin(gap_s)) − 1 =
    * 63 − numberOfLeadingZeros, never a float log. */
  private def gapOut(userId: Long, p: LastEvent, e: Event): GapOut = {
    val g = math.max(0L, (e.ts.getTime - p.ms) / 1000L)
    GapOut(userId, e.ts, g,
      if (g == 0L) 0L else 63L - java.lang.Long.numberOfLeadingZeros(g))
  }

  /** Streaming inter-event gaps — the streaming half of the batch
    * `session_gap_dist` twin (the sessionization-timeout tuning
    * curve): per-user consecutive-event gap seconds with their
    * floor(log₂ gap_s) bucket ([[gapOut]]), emitted as each successor
    * event arrives. State and eviction are [[successorStateful]]'s.
    *
    * The histogram rollup lives in [[gapHistogram]], applied per sink
    * batch (`foreachBatch` + upsert, the repo's streaming-JDBC
    * pattern) or over any collected slice: Spark's global-watermark
    * correctness checker categorically rejects a streaming
    * aggregation downstream of `flatMapGroupsWithState` (the emitted
    * rows are "late" to the second stateful operator, whatever their
    * carried event time), so the honest streaming contract — same
    * reasoning as [[heavyHittersStream]]'s candidates-only contract —
    * is per-gap emission plus a trivially-mergeable ≤ ~40-key
    * read-side fold: bucket counts are associative/commutative, so
    * ANY downstream accumulation (per-batch upsert, cross-shard
    * merge) lands on the batch query's numbers. StreamingSpec pins
    * exactly that composition against the oracle-gated batch rows.
    *
    * Divergence by construction (the bounded-state contract every twin
    * documents): a late row delivered in a later micro-batch — within
    * the watermark but behind its user's carried last event — pairs in
    * ARRIVAL order (the batch plan, seeing all data, would splice it
    * in place). */
  def sessionGapsStream(events: Dataset[Event],
      idleMs: Long = 2L * 60 * 60 * 1000,
      watermark: String = "2 hours"): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    successorStateful(events, idleMs, watermark)(gapOut)
  }

  /** The full `session_gap_dist` twin IN ONE STREAMING QUERY — gap
    * emission AND the bucket histogram, no read-side fold: the gaps,
    * emitted by [[SuccessorProcessor]] with `ts` declared as the
    * output's event-time column, feed the downstream `groupBy(bucket)`
    * aggregation (the fMGWS-based [[sessionGapsStream]] documents why
    * v1 cannot do this). The agg state is the ≤ ~40-key bucket grid —
    * bounded without a watermark, map-side combinable like the batch
    * plan; `share_mille` stays a read-time projection over the final
    * tiny frame (a SECOND global agg in-query is still unsupported,
    * and the counts are associative anyway). Requires the RocksDB
    * state store provider (a state-API-v2 constraint). Same late-row
    * divergence contract as [[sessionGapsStream]]. */
  def sessionGapDistStream(events: Dataset[Event],
      idleMs: Long = 2L * 60 * 60 * 1000,
      watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SuccessorProcessor(idleMs, gapOut), "ts", OutputMode.Append())
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sum_gap_s"))
  }

  /** The `session_gap_dist` rollup over [[sessionGapsStream]] output —
    * batch-side by design (see that method's contract note): apply per
    * micro-batch inside `foreachBatch` (merging counts into the sink
    * by bucket — the counts are associative, so per-batch upsert
    * accumulates to the batch query's numbers) or over any collected
    * slice. Emits the batch query's full shape, share_mille included
    * (the cross-bucket total is affordable here — the frame is ≤ ~40
    * rows by construction). */
  def gapHistogram(gaps: DataFrame): DataFrame = {
    val agg = gaps.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sum_gap_s"))
    val tot = agg.agg(sum(col("n_gaps")).as("tot"))
    agg.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_gaps"), col("sum_gap_s"),
        expr("n_gaps * 1000 div tot").as("share_mille"))
  }

  final case class SessionState(startMs: Long, lastMs: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, total_value: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * escape hatch for state logic `session_window` cannot express
    * (custom counters, conditional emission, cross-session features).
    *
    * A session closes either when a later event for the same user
    * arrives more than `gapMs` after the previous one (emitted
    * immediately) or when the event-time watermark passes
    * `last + gapMs` ([[eventTimeFold]]'s expiry — this is what bounds
    * state). */
  def sessionizeStateful(events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def closed(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, s.startMs, s.lastMs, s.n, s.total)
    eventTimeFold[SessionState, SessionOut](events, watermark)(
        _.lastMs + gapMs, (userId, s) => Some(closed(userId, s))) { (userId, cur, e) =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastMs > gapMs =>
          (Some(SessionState(t, t, 1, e.value)), Some(closed(userId, s)))
        case Some(s) =>
          // min/max, not overwrite: a late-but-in-watermark event from
          // a previous micro-batch may precede the session's current
          // bounds — never regress them
          (Some(SessionState(math.min(s.startMs, t), math.max(s.lastMs, t),
            s.n + 1, s.total + e.value)), None)
        case None => (Some(SessionState(t, t, 1, e.value)), None)
      }
    }
  }

  /** Per-user funnel state: min event-time (ms) per step, MaxValue =
    * unseen; `lastMs` is the max event time seen (the inactivity
    * clock). */
  final case class FunnelState(clickMs: Long, viewMs: Long,
      purchaseMs: Long, lastMs: Long)
  final case class FunnelOut(user_id: Long, step: Int,
      click_ms: Option[Long], view_ms: Option[Long], purchase_ms: Option[Long])

  /** Stateful funnel — the streaming twin of the batch `funnel_steps`
    * query. Batch semantics, reproduced exactly: per user, the step
    * reached is computed from the MIN timestamp of each event type
    * (step 1 = any click; step 2 = min view strictly after min click;
    * step 3 = step 2 and min purchase strictly after min view — a view
    * that precedes every click kills step 2 even if later views
    * follow, exactly like the batch conditional-min aggregation).
    *
    * State is three min-timestamps + an inactivity clock per user —
    * O(1) per key, hash-partitioned on user_id — and min is a
    * monotone merge, so late-but-in-watermark events fold in
    * order-independently. A user's funnel row is emitted ONCE, when
    * [[eventTimeFold]] expires the state at `lastMs + idleMs` (the
    * funnel report on inactivity; the batch twin reports at corpus
    * end). Divergence by construction: an event arriving after its
    * user's report emitted starts a NEW funnel (the old state is
    * gone) — the cost of bounded state on an unbounded stream.
    *
    * Downstream `groupBy(step).count()` (or a conditional sum) gives
    * the batch query's step counts; StreamingSpec pins the per-user
    * agreement and restart exactly-once. */
  def funnelStateful(events: Dataset[Event],
      idleMs: Long = 2L * 3600 * 1000,
      watermark: String = "2 hours"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val Unseen = Long.MaxValue
    def emit(userId: Long, s: FunnelState): FunnelOut = {
      val step1 = s.clickMs != Unseen
      val step2 = step1 && s.viewMs != Unseen && s.viewMs > s.clickMs
      val step3 = step2 && s.purchaseMs != Unseen && s.purchaseMs > s.viewMs
      val step = if (step3) 3 else if (step2) 2 else if (step1) 1 else 0
      def opt(v: Long) = if (v == Unseen) None else Some(v)
      FunnelOut(userId, step, opt(s.clickMs), opt(s.viewMs), opt(s.purchaseMs))
    }
    eventTimeFold[FunnelState, FunnelOut](
        events.filter(e => e.event_type == "click" || e.event_type == "view" ||
          e.event_type == "purchase"),
        watermark)(_.lastMs + idleMs, (userId, s) => Some(emit(userId, s))) { (_, cur, e) =>
      val s = cur.getOrElse(FunnelState(Unseen, Unseen, Unseen, Long.MinValue))
      val t = e.ts.getTime
      val stepped = e.event_type match {
        case "click" => s.copy(clickMs = math.min(s.clickMs, t))
        case "view"  => s.copy(viewMs = math.min(s.viewMs, t))
        case _       => s.copy(purchaseMs = math.min(s.purchaseMs, t))
      }
      (Some(stepped.copy(lastMs = math.max(s.lastMs, t))), None)
    }
  }

  /** The one state rule of the no-timeout sketch twins below: per key,
    * `step` folds the group's rows into the stored state (`zero` for a
    * key not seen yet) and returns the state to keep and the rows to
    * emit, in Update mode. A sketch never expires, so there is no
    * timeout; each twin keeps its own fold and arithmetic. */
  private def sketchFold[K, V, S: Encoder, O: Encoder](grouped: KeyValueGroupedDataset[K, V],
      zero: => S)(step: (K, Iterator[V], S) => (S, Iterator[O])): Dataset[O] =
    grouped.flatMapGroupsWithState[S, O](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        val (next, out) = step(key, rows, state.getOption.getOrElse(zero))
        state.update(next)
        out
    }

  final case class HeavyUser(event_type: String, user_id: String, est: Long, n: Long)
  final case class HhState(entries: List[(String, Long)], n: Long)

  /** Streaming heavy-hitter monitoring per event type — the streaming
    * twin of the batch [[graft.operators.HeavyHitters]] CANDIDATE pass
    * (the batch operator's exact-verify second scan has no streaming
    * analog; candidates-with-overcount is the honest streaming
    * contract). State per group is a Space-Saving summary serialized
    * as its (key, estimate) list plus the true processed count; each
    * micro-batch reseeds the summary via the weighted offer (the
    * standard SS merge direction — estimates only ever over-count, so
    * presence of true heavies survives checkpoint round-trips). Emits
    * the current candidates each batch: users whose estimate clears
    * perMille/1000 of the type's stream so far. O(capacity) state
    * where exact per-user counting state is unbounded; the pigeonhole
    * presence guarantee (share > 1/capacity ⇒ present) and the
    * overcount bound (est ≤ true + n/capacity ⇒ sub-threshold users
    * with margin stay absent) are pinned in StreamingSpec. */
  def heavyHittersStream(events: Dataset[Event], capacity: Int = 64,
      perMille: Long = 100): Dataset[HeavyUser] = {
    import events.sparkSession.implicits._
    sketchFold(events.groupByKey(_.event_type), HhState(Nil, 0L)) { (tpe, rows, prev) =>
      val ss = new graft.operators.HeavyHitters.SpaceSaving(capacity)
      prev.entries.foreach { case (k, c) => ss.offerWeighted(k, c) }
      var n = prev.n
      rows.foreach { e => ss.offer(e.user_id.toString); n += 1 }
      val total = n
      (HhState(ss.entries.toList.sorted, n), ss.entries.collect {
        case (u, est) if 1000L * est >= perMille * total =>
          HeavyUser(tpe, u, est, total)
      }.toList.sortBy(_.user_id).iterator)
    }
  }

  final case class DistinctEst(event_type: String, n_est: Long, sketch_size: Int)

  /** Streaming distinct-user cardinality per event type — the
    * streaming twin of the batch `distinct_kmv` query, running the
    * SAME sketch ([[graft.operators.Aggregators.Kmv]] reduce over the
    * same [[graft.functions.TextFunctions.portableHashJvm]] hashes),
    * so a stream restarted from a checkpoint and the batch query over
    * the same events land on the IDENTICAL sketch. This is the point
    * of mergeable summaries in streaming: the state is the bounded
    * k-smallest-distinct-hash list (O(k) per group, no timeout — a
    * cardinality never expires), which unbounded countDistinct state
    * could never be. Emits the running estimate per group per
    * micro-batch (Update mode): exact below k, (k-1)·2^60 / kth-min
    * past it — the same libm-free estimator the batch oracle checks. */
  def distinctSketchStream(events: Dataset[Event], k: Int = 64): Dataset[DistinctEst] = {
    import events.sparkSession.implicits._
    val sketch = new graft.operators.Aggregators.Kmv(k)
    sketchFold(events.groupByKey(_.event_type), sketch.zero) { (eventType, rows, prev) =>
      val s = rows.foldLeft(prev) { (b, e) =>
        sketch.reduce(b,
          graft.functions.TextFunctions.portableHashJvm(e.user_id.toString, 71))
      }
      (s, Iterator.single(DistinctEst(eventType,
        graft.operators.Aggregators.kmvEstimateJvm(s, k), s.size)))
    }
  }

  final case class Doc(doc_id: Long, text: String)
  final case class BloomFlag(doc_id: Long, fp: Long, dup_suspect: Boolean)

  /** Streaming CONSTANT-MEMORY dedup — the streaming face of the batch
    * `dedup_bloom_probe` front-end, and the bounded-state alternative
    * to exact [[org.apache.spark.sql.Dataset.dropDuplicatesWithinWatermark]]:
    * that operator keeps every key within the watermark horizon
    * (unbounded per horizon, exact); this one keeps a FIXED
    * `groups × bitsPerGroup` bit budget FOREVER — it never needs
    * eviction, at the price of false POSITIVES that grow with fill
    * (never false negatives: an exact duplicate always lands on set
    * bits). The honest production pairing: Bloom flags route to an
    * exact fingerprint check, exactly as the batch query's hits do.
    *
    * Sharding: the content fingerprint routes to `fp mod groups`, so
    * the filter distributes across executors as `groups` independent
    * mini-Blooms (standard partitioned Bloom) instead of one
    * driver-sized bitmap; a duplicate always routes to the same group,
    * preserving the no-false-negative guarantee. Within a micro-batch
    * rows fold in doc_id order, so an intra-batch duplicate is flagged
    * deterministically (the lower id inserts, the higher id hits). */
  def bloomDedupStream(docs: Dataset[Doc], bitsPerGroup: Int = 8192,
      groups: Int = 256, k: Int = 4): Dataset[BloomFlag] = {
    import docs.sparkSession.implicits._
    require(Integer.bitCount(bitsPerGroup) == 1 && bitsPerGroup >= 64,
      s"bitsPerGroup must be a power of two >= 64: $bitsPerGroup")
    val fps = docs
      .map(d => (d.doc_id, graft.functions.TextFunctions.portableHashJvm(d.text, 31)))
      .groupByKey { case (_, fp) => (fp % groups).toInt }
    sketchFold(fps, new Array[Byte](bitsPerGroup / 8)) { (_, rows, prev) =>
      val bm = prev.clone()
      // each fingerprint probes k positions; a duplicate = all
      // probed bits already set (the fold mutates `bm` in place)
      val out = rows.toSeq.sortBy(_._1).map { case (id, fp) =>
        val pos = (0 until k).map(i =>
          (graft.functions.TextFunctions.portableHashJvm(fp.toString, 131 + i)
            % bitsPerGroup).toInt)
        val dup = pos.forall(p => (bm(p >> 3) & (1 << (p & 7))) != 0)
        pos.foreach(p => bm(p >> 3) = (bm(p >> 3) | (1 << (p & 7))).toByte)
        BloomFlag(id, fp, dup)
      }
      (bm, out.iterator)
    }
  }

  final case class CmEst(event_type: String, user_id: Long, cm_est: Long, n: Long)

  /** Streaming Count-Min frequency monitoring per event type — the
    * streaming twin of the batch `freq_cm_sketch` query, running the
    * SAME d×w counter grid over the same
    * [[graft.functions.TextFunctions.portableHashJvm]] hashes, so the
    * state after any prefix of the stream IS the batch sketch over that
    * prefix (counters just add — the mergeability the batch query's
    * Scaladoc claims, exercised live here). State per group is the flat
    * d·w counter vector plus the processed count: O(d·w) fixed,
    * where exact per-key counting state is unbounded. Each micro-batch
    * emits the running estimate for the caller's probe keys (Update
    * mode): never below the key's true count, over by at most the
    * colliding mass (StreamingSpec pins both against an independently
    * folded reference grid). */
  def cmSketchStream(events: Dataset[Event], probes: Seq[Long],
      d: Int = 4, w: Int = 256): Dataset[CmEst] = {
    import events.sparkSession.implicits._
    def bucket(key: String, row: Int): Int =
      (graft.functions.TextFunctions.portableHashJvm(key, row) % w).toInt
    sketchFold(events.groupByKey(_.event_type), (0L, new Array[Long](d * w))) {
      case (tpe, rows, (n0, cells0)) =>
        val cells = cells0.clone()
        var n = n0
        rows.foreach { e =>
          n += 1
          var i = 0
          while (i < d) { cells(i * w + bucket(e.user_id.toString, i)) += 1; i += 1 }
        }
        ((n, cells), probes.iterator.map { uid =>
          val est = (0 until d)
            .map(i => cells(i * w + bucket(uid.toString, i))).min
          CmEst(tpe, uid, est, n)
        })
    }
  }

  final case class QuantileEst(event_type: String, n: Long,
      p50_cents: Long, p95_cents: Long, sample_size: Int)

  /** Streaming quantile monitoring per event type — the streaming twin
    * of the batch `quantile_sketch` (ProfilingQueries): state is the
    * deterministic bottom-k-by-hash uniform sample of event VALUES
    * ([[graft.operators.Aggregators.StableSample]]'s reduce — O(k) per
    * group, order-insensitive, so micro-batch arrival order and
    * checkpoint restarts land on the identical sample a batch run
    * computes over the same events), plus the true processed count.
    * Emits the running p50/p95 of value-cents per group per
    * micro-batch (Update mode), read at the same exact-integer ceil
    * positions as the batch form — (n·q + 99) div 100, no float
    * boundary. Quantile state that is NOT a bounded sketch (exact
    * order statistics) would be unbounded per group. */
  def quantileSketchStream(events: Dataset[Event], k: Int = 256): Dataset[QuantileEst] = {
    import events.sparkSession.implicits._
    val sampler = new graft.operators.Aggregators.StableSample(k)
    sketchFold(events.groupByKey(_.event_type), (0L, sampler.zero)) { (eventType, rows, prev) =>
      var (n, buf) = prev
      rows.foreach { e =>
        n += 1
        buf = sampler.reduce(buf, (
          graft.functions.TextFunctions.portableHashJvm(e.event_id.toString, 71),
          math.floor(e.value * 100.0 + 0.5).toLong)) // QueryDef.cents, JVM form
      }
      val sv = buf.map(_._2).sorted.toIndexedSeq
      def pos(q: Int): Long = sv(((sv.size * q + 99) / 100 - 1).max(0))
      ((n, buf), Iterator.single(QuantileEst(eventType, n, pos(50), pos(95), sv.size)))
    }
  }

  final case class PsiEst(event_type: String, n_base: Long, n_cur: Long,
      psi_micro: Long, drifted: Long)

  /** Streaming POPULATION STABILITY INDEX per event type — the twin of
    * the batch `drift_psi` (EventQueries): state is the 2×24
    * hour-of-day count grid (baseline = event days in [d0Day,
    * d0Day+15), current = the rest — same split as the batch anchor),
    * a fixed 48 longs per type, and each micro-batch emits the running
    * PSI in micro-nats with the batch form's EXACT integer arithmetic:
    * add-one-smoothed cross products pn/qn in BigInt (the JVM twin of
    * the batch decimal(38,0) — a Long product wraps past ~3e9-count
    * grids), ln of their double ratio rounded once to micro-nats, the
    * Σ(pn−qn)·t term and the final floor division in BigInt too. Every term of the sum is ≥ 0, so
    * truncating and floor division agree — the same argument the
    * batch/DuckDB pair relies on; the final emission over the same
    * events therefore equals the batch rows bit for bit, and
    * StreamingSpec asserts exactly that plus checkpoint-restart
    * consistency (state is a pure fold, so batching cannot move it).
    *
    * `d0Day` (epoch days) is supplied by the caller, as
    * [[rateAnomalyStream]] takes its baseline frame: a stream cannot
    * know the corpus-wide min day until it has seen all data — the
    * deployment contract is "anchor the monitoring window when you
    * arm the monitor". Day/hour come from floorDiv on epoch millis,
    * which equals the batch's micro-level floor by nested-floor-
    * division identity. */
  def psiDriftStream(events: Dataset[Event], d0Day: Long): Dataset[PsiEst] = {
    import events.sparkSession.implicits._
    val B = 24
    sketchFold(events.groupByKey(_.event_type), new Array[Long](2 * B)) { (tpe, rows, prev) =>
      val g = prev.clone()
      rows.foreach { e =>
        val msEpoch = e.ts.getTime
        val cur = if (Math.floorDiv(msEpoch, 86400000L) >= d0Day + 15) 1 else 0
        val hr = Math.floorMod(Math.floorDiv(msEpoch, 3600000L), 24L).toInt
        g(cur * B + hr) += 1
      }
      var n0 = 0L; var n1 = 0L
      var i = 0
      while (i < B) { n0 += g(i); n1 += g(B + i); i += 1 }
      var sm = BigInt(0)
      i = 0
      while (i < B) {
        // BigInt cross products — the JVM twin of the batch
        // query's DECIMAL(38,0): a Long (count+1)·(total+24) wraps
        // past ~3e9-count grids, silently
        val pn = BigInt(g(B + i) + 1L) * (n0 + B)
        val qn = BigInt(g(i) + 1L) * (n1 + B)
        val t = math.floor(math.log(pn.toDouble / qn.toDouble) * 1e6 + 0.5).toLong
        sm += (pn - qn) * BigInt(t)
        i += 1
      }
      val psi = (sm / (BigInt(n1 + B) * BigInt(n0 + B))).toLong
      (g, Iterator.single(PsiEst(tpe, n0, n1, psi, if (psi > 200000L) 1L else 0L)))
    }
  }

  final case class DocMeta(doc_id: Long, lang: String, n_chars: Long)
  final case class WeightedSampleOut(lang: String, n_seen: Long,
      doc_id: Long, w: Long, pr_micro: Long, rk: Long)

  /** Streaming WEIGHTED SAMPLE — the twin of the batch
    * `weighted_sample` (CurationQueries.prioritySample,
    * Duffield–Lund–Thorup priority sampling): per language stratum the
    * state is the k highest-priority documents seen so far — a BOUNDED
    * k-entry list, the reservoir that makes weighted sampling a
    * one-pass streaming operator at all. The fold is a top-k set merge
    * under the batch query's exact total order (priority DESC, doc_id
    * ASC), which is associative, commutative and idempotent per
    * doc_id (at-least-once redelivery cannot double-insert), so
    * batching cannot move the final emission. Priority arithmetic is
    * the batch column's JVM twin: u = floorMod(portableHash(id, 37),
    * 2^30) + 1, ONE ieee division n_chars/u of two
    * exactly-representable integers, micro-rounded once — the final
    * emission equals the batch rows bit for bit (StreamingSpec
    * asserts it under an arbitrary split). `n_seen` counts processed
    * rows per stratum so a reader can pick each stratum's latest
    * emission out of an update-mode sink. */
  def weightedSampleStream(docs: Dataset[DocMeta], k: Int = 8)
      : Dataset[WeightedSampleOut] = {
    import docs.sparkSession.implicits._
    sketchFold(docs.groupByKey(_.lang), (0L, List.empty[(Long, Long, Double)])) {
      (lang, rows, prev) =>
        var (n, top) = prev
        rows.foreach { d =>
          n += 1
          val u = java.lang.Math.floorMod(
            graft.functions.TextFunctions.portableHashJvm(
              d.doc_id.toString, 37), 1073741824L) + 1L
          val p = d.n_chars.toDouble / u.toDouble
          top = ((d.doc_id, d.n_chars, p) ::
            top.filterNot(_._1 == d.doc_id))
            .sortBy(t => (-t._3, t._1)).take(k)
        }
        ((n, top), top.zipWithIndex.iterator.map { case ((id, w, p), i) =>
          WeightedSampleOut(lang, n, id, w,
            math.floor(p * 1e6 + 0.5).toLong, (i + 1).toLong)
        })
    }
  }

  final case class HllEst(event_type: String, n_seen: Long, n_est: Long)

  /** Streaming HYPERLOGLOG distinct-user estimate per event type — the
    * twin of the batch `distinct_hll` (ProfilingQueries): state is the
    * 64-register max-rank grid (a fixed 64 longs per type — registers
    * merge by MAX, so the fold is order-insensitive and a checkpoint
    * restart cannot move it), plus the raw processed count. Each
    * micro-batch emits the running estimate with the batch form's
    * EXACT integer arithmetic: rho from Long.numberOfLeadingZeros (the
    * JVM twin of the engines' length(bin(w)) integer log₂), the
    * harmonic sum held exactly as S = Σ 2^(55−Mj) over denominator
    * 2^55, n_raw = α-numerator div (S·10^6) in BigInt (the JVM twin of
    * the batch DECIMAL(38,0)), and the linear-counting branch below
    * 2.5m with the same once-rounded micro-nat ln — so the final
    * emission over the same events equals the batch rows bit for bit
    * (StreamingSpec asserts exactly that). */
  def hllDistinctStream(events: Dataset[Event]): Dataset[HllEst] = {
    import events.sparkSession.implicits._
    val AlphaNum = BigInt("104680255103913656422760448")
    sketchFold(events.groupByKey(_.event_type), (0L, new Array[Long](64))) {
      case (tpe, rows, (n0, regs)) =>
        val regs0 = regs.clone()
        var n = n0
        rows.foreach { e =>
          n += 1
          val h = graft.functions.TextFunctions
            .portableHashJvm(e.user_id.toString, 83)
          val j = (h % 64).toInt
          val w = h / 64
          val rho =
            if (w == 0L) 55L
            else 55L - (64 - java.lang.Long.numberOfLeadingZeros(w))
          if (rho > regs0(j)) regs0(j) = rho
        }
        var s = BigInt(0); var v = 0L
        var i = 0
        while (i < 64) {
          if (regs0(i) == 0L) v += 1
          s += BigInt(1) << (55 - regs0(i).toInt)
          i += 1
        }
        val nRaw = (AlphaNum / (s * 1000000)).toLong
        val nEst =
          if (v > 0 && nRaw <= 160L) {
            val tMicro = math.floor(math.log(64.0 / v) * 1e6 + 0.5).toLong
            (64L * tMicro) / 1000000L
          } else nRaw
        ((n, regs0), Iterator.single(HllEst(tpe, n, nEst)))
    }
  }
}
