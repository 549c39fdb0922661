package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface over the `events` table shape
  * (SURVEY.md §2.8 — the reference has no streaming; this is engine-surface
  * extension, Spark-native by construction).
  *
  * Every transform here is written against an unbounded DataFrame and
  * works identically on the batch `events` table — that is Spark's own
  * unified-batch-streaming contract, and it is what lets the DuckDB oracle
  * check the windowing semantics on the batch side while StreamingSpec
  * drives the same code through MemoryStream with watermarks, late data,
  * and state timeouts.
  *
  * `ts` is int64 nanoseconds (Tables.events); event time is derived with
  * integer `div` — a double division would lose precision above 2^53.
  */
object EventStreams {

  /** Attach an event-time column (µs precision, truncating ns). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window counts+sums per event type. In streaming mode the
    * watermark bounds state and admits `delay` of lateness; append-mode
    * emits each window once it is final.
    */
  def tumblingTypeCounts(events: DataFrame, window: String = "1 hour",
                         delay: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"),
        window), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Windowed RATE MONITOR against a static per-type reference — the
    * streaming face of the drift/anomaly family (q146/q169): each
    * finalized tumbling window's per-type count is compared to the
    * reference's expected count for that window length, and flagged
    * when it falls outside `[lo‰, hi‰] × expected`. The alerting loop a
    * pipeline runs against its own historical baseline ("signups
    * halved this hour", "error events 4× the norm").
    *
    * `reference` is a STATIC (event_type, ref_cnt) frame — expected
    * count per window at baseline rate. The join is stream-static after
    * the one watermark-bounded aggregation (stateless, broadcast), so
    * append-mode semantics and state bounds are exactly
    * `tumblingTypeCounts`'s. Types with no reference row surface NULL
    * bounds and a NULL flag (unknown baseline ≠ anomalous). The
    * decision is integer arithmetic — `cnt·1000 vs ‰·ref` — so the
    * batch-replay law (StreamingSpec) is exact, no float drift.
    */
  def rateMonitor(events: DataFrame, reference: DataFrame,
                  window: String = "1 hour", delay: String = "2 hours",
                  loPermille: Long = 250L,
                  hiPermille: Long = 4000L): DataFrame = {
    require(loPermille >= 0 && hiPermille >= loPermille,
      "need 0 <= loPermille <= hiPermille")
    tumblingTypeCounts(events, window, delay)
      .join(broadcast(reference.select(col("event_type"),
        col("ref_cnt").cast("long").as("ref_cnt"))),
        Seq("event_type"), "left")
      .select(col("win_us"), col("event_type"), col("cnt"),
        col("ref_cnt"),
        (col("cnt") * 1000L < lit(loPermille) * col("ref_cnt") ||
          col("cnt") * 1000L > lit(hiPermille) * col("ref_cnt"))
          .as("anomalous"))
  }

  /** Hopping (sliding) window counts+sums per event type: windows of
    * `window` length starting every `slide` (< window ⇒ overlap, each
    * event lands in window/slide windows). The smoothing form of
    * `tumblingTypeCounts` — rate monitoring that doesn't jump at bucket
    * boundaries. Same watermark/state contract: in streaming mode each
    * of an event's covering windows finalizes independently as the
    * watermark passes its end; state is window/slide × live windows,
    * still watermark-bounded.
    */
  def hoppingTypeCounts(events: DataFrame, window: String = "1 hour",
                        slide: String = "30 minutes",
                        delay: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"),
        window, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Per-user session windows (gap-based). Built-in session_window merges
    * events whose inter-event gap is ≤ `gap` (the boundary is INCLUSIVE —
    * an event landing exactly `gap` after its predecessor still merges,
    * verified empirically and pinned by BehaviorSpec); a new session
    * starts only when the gap EXCEEDS `gap`. Note the opposite boundary
    * convention from `Behavior.sessionStats` (half-open, splits at ≥):
    * `session_window(G) ≡ sessionStats(G + 1 quantum)` exactly — the
    * BehaviorSpec law — and any oracle for this operator must use
    * strict `>` on the gap.
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   delay: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  // ---- custom state: KeyValueGroupedDataset.mapGroupsWithState ----

  final case class Event(user_id: Long, ts: Long, event_type: String,
                         value: Double)
  final case class UserRunning(user_id: Long, n_events: Long,
                               total_value: Double, last_ts: Long)

  /** Running per-user totals with explicit state + processing-time timeout
    * — the custom-state template (flatMapGroupsWithState generalizes it).
    */
  def runningUserTotals(events: Dataset[Event],
                        timeout: GroupStateTimeout =
                          GroupStateTimeout.NoTimeout): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](timeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0, 0L))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserRunning(uid, acc.n_events + 1, acc.total_value + e.value,
              math.max(acc.last_ts, e.ts))
          }
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup on an id column: duplicates arriving within
    * the watermark window are dropped and the per-key state expires with
    * the watermark — bounded-state dedup for an unbounded stream (the
    * streaming face of Dedup.exactDupGroups; at-least-once sources make
    * this the first stage of any production event pipeline).
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  delay: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream two-leg join — the streaming form of
    * Joins.twoLegPairs: a `view` joined to the same user's `purchase`
    * within the bounded event-time window. Both sides carry watermarks and
    * the join condition bounds purchase_time to a range of view_time, so
    * Spark can expire join state — the unbounded-state trap a naive
    * stream join falls into.
    */
  def twoLegPairsStreaming(events: DataFrame,
                           firstType: String = "view",
                           secondType: String = "purchase",
                           window: String = "24 hours",
                           delay: String = "1 hour"): DataFrame =
    viewPurchaseJoin(events, firstType, secondType, window, delay, "inner")
      .select(col("user_id"), col("view_time"), col("purchase_time"),
        (col("v1") + col("v2")).as("combined_value"))

  /** LEFT-OUTER stream-stream join: every view pairs with the purchases
    * that follow it within `window`, and a view with NO such purchase is
    * emitted ONCE, null-extended, when the watermark passes
    * `view_time + window` and its join state is evicted — the abandoned-
    * view feed (view-without-purchase) computed inside the engine's
    * state machinery rather than by a batch anti-join afterwards.
    * Spark requires exactly what [[twoLegPairsStreaming]] already has:
    * watermarks on BOTH sides plus a time-range conjunct, which is what
    * makes the join state (and the outer-emission decision) bounded.
    *
    * The outer rows surface only AFTER the watermark moves: under
    * `Trigger.AvailableNow` that is the trailing no-data micro-batch,
    * and views younger than `window + delay` at end-of-input are still
    * in state, unemitted, when the query stops — a CONSUMER of the
    * outer feed must treat the tail as undecided. The census entry
    * (q380) therefore restricts itself to views at least one guard
    * interval older than that line, so membership is decided by exact
    * integer µs arithmetic and the engine's ms-quantized watermark
    * wobble lands entirely inside the excluded band — the q346 device
    * of keeping the watermark edge out of the oracle's decision.
    */
  def viewPurchaseLeftOuter(events: DataFrame,
                            firstType: String = "view",
                            secondType: String = "purchase",
                            window: String = "24 hours",
                            delay: String = "1 hour"): DataFrame =
    viewPurchaseJoin(events, firstType, secondType, window, delay,
        "left_outer")
      .select(col("user_id"), col("view_time"), col("purchase_time"),
        col("v1"), col("v2"))

  /** The view ⋈ purchase join both stream-stream operators run: each side
    * filtered to its type and watermarked by `delay` (view side
    * `user_id, view_time, v1`; purchase side `uid2, purchase_time, v2`),
    * joined on the same user with `purchase_time` in
    * `(view_time, view_time + window]` — the range conjunct that lets
    * Spark expire join state.
    */
  private def viewPurchaseJoin(events: DataFrame, firstType: String,
      secondType: String, window: String, delay: String,
      joinType: String): DataFrame = {
    def side(eventType: String) =
      withEventTime(events.filter(col("event_type") === eventType))
        .withWatermark("event_time", delay)
    val v = side(firstType).select(col("user_id"),
      col("event_time").as("view_time"), col("value").as("v1"))
    val p = side(secondType).select(col("user_id").as("uid2"),
      col("event_time").as("purchase_time"), col("value").as("v2"))
    v.join(p,
      col("user_id") === col("uid2") &&
      col("purchase_time") > col("view_time") &&
      col("purchase_time") <= col("view_time") + expr(s"INTERVAL $window"),
      joinType)
  }

  final case class TimedEvent(user_id: Long, ts: Long, event_type: String,
                              value: Double, event_time: java.sql.Timestamp)
  final case class SessionAcc(startUs: Long, lastUs: Long, n: Long,
                              sum: Double)
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long,
                              sum_value: Double)

  /** Custom sessionization via flatMapGroupsWithState + EVENT-TIME
    * timeout: sessions close when the WATERMARK passes last-event + gap,
    * not when any new element arrives — the fully-general stateful form
    * (session_window covers the common case declaratively; this is the
    * template for session logic the built-in cannot express, e.g.
    * emitting only closed sessions with custom payloads).
    *
    * Streaming-only semantics: in batch mode flatMapGroupsWithState never
    * fires timeouts, so open sessions would go unemitted by design.
    *
    * State-backend decision (r18 verdict item 6, adjudicated r19): the
    * custom-state entries RECORD under the engine-default
    * HDFSBackedStateStoreProvider and treat the provider as a
    * deployment dial, because output is provider-INVARIANT — the law is
    * pinned in StreamingSpec (q346's census bit-equal under RocksDB vs
    * default) and the DevScale q346_rocksdb experiment quantifies the
    * dial (RocksDB 1.6× faster at the x64 rung: 17.0× vs 30.6×, state
    * off-heap). Default-on-record keeps the parity artifacts
    * comparable across rounds and free of a native-library dependency;
    * a 100 TB/day deployment whose state outgrows executor heaps flips
    * the one conf (spark.sql.streaming.stateStore.providerClass) with
    * no semantic change — that invariance, not the choice itself, is
    * the contract this library ships.
    */
  def sessionizeWithState(events: DataFrame,
                          gapUs: Long = 30L * 60 * 1000000,
                          delay: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = withEventTime(events).withWatermark("event_time", delay)
      .as[TimedEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[TimedEvent],
         state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(closedSession(uid, s))
          } else {
            val (next, closed) =
              foldSessions(uid, state.getOption, batch, gapUs)
            next.foreach { s =>
              state.update(s)
              // timeout fires when the watermark passes last + gap (ms)
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapUs / 1000)
            }
            closed.iterator
          }
      }
  }

  /** One sessionizer step, shared by [[sessionizeWithState]] and
    * [[SessionStatefulProcessor]]: folds `events` in `ts` order into the
    * open session `cur`, closing it at the first event `gapUs` or more
    * after its last one. Returns the open session left and the sessions
    * closed on the way.
    */
  private def foldSessions(uid: Long, cur: Option[SessionAcc],
      events: Iterator[TimedEvent],
      gapUs: Long): (Option[SessionAcc], Seq[SessionOut]) = {
    val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
    val next = events.toArray.sortBy(_.ts).foldLeft(cur) { (acc, e) =>
      val us = e.ts / 1000
      acc match {
        case Some(s) if us - s.lastUs < gapUs =>
          // admitted-but-late events (< watermark delay) may sort before
          // the session's current bounds — never move the bounds backward
          // or the timeout would regress
          Some(SessionAcc(math.min(s.startUs, us),
            math.max(s.lastUs, us), s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed += closedSession(uid, s)
          Some(SessionAcc(us, us, 1, e.value))
        case None =>
          Some(SessionAcc(us, us, 1, e.value))
      }
    }
    (next, closed.toList)
  }

  private def closedSession(uid: Long, s: SessionAcc): SessionOut =
    SessionOut(uid, s.startUs, s.lastUs, s.n, s.sum)

  /** The q346 sessionizer's state machine re-expressed on Spark 4's
    * `transformWithState` (StatefulProcessor — the arbitrary-state API
    * v2): named ValueState handle + registered event-time timers in
    * place of GroupState + setTimeoutTimestamp, around the SAME fold
    * (`foldSessions`). One live timer per key: each batch deletes
    * the previous flush timer and re-registers at last-event + gap —
    * exactly what setTimeoutTimestamp did implicitly in v1.
    */
  class SessionStatefulProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedEvent, SessionOut] {
    @transient private var session:
        org.apache.spark.sql.streaming.ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      session = getHandle.getValueState[SessionAcc]("session",
        org.apache.spark.sql.Encoders.product[SessionAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[TimedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val (next, closed) = foldSessions(uid,
        if (session.exists()) Some(session.get()) else None, rows, gapUs)
      next.foreach { s =>
        session.update(s)
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.lastUs / 1000 + gapUs / 1000)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] =
      if (session.exists()) {
        val s = session.get()
        session.clear()
        Iterator(closedSession(uid, s))
      } else Iterator.empty
  }

  /** [[sessionizeWithState]] on the v2 API — identical contract, new
    * machinery. Requires the RocksDB state store provider (the v2
    * multi-column-family state layout; the harness wrapper scopes the
    * conf). The MIGRATION LAW is the point: q385 pins this pipeline's
    * output bit for bit against q346's oracle, the invariance a
    * production pipeline needs before moving custom-state code to the
    * new API.
    */
  def sessionizeWithStateV2(events: DataFrame,
                            gapUs: Long = 30L * 60 * 1000000,
                            delay: String = "1 hour")
      : Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    withEventTime(events).withWatermark("event_time", delay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionStatefulProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SessionOut])
  }

  final case class IdEvent(event_id: Long, user_id: Long, ts: Long,
                           event_type: String, value: Double,
                           event_time: java.sql.Timestamp)
  final case class LastClick(click_id: Long, clickUs: Long)
  final case class EnrichedPurchase(user_id: Long, purchase_id: Long,
                                    purchase_us: Long,
                                    click_id: Option[Long],
                                    gap_us: Option[Long])

  /** Streaming as-of enrichment — the streaming face of Joins.asOfJoin's
    * q54 shape: every `purchase` is annotated with the same user's most
    * recent `click` so far (None if no click is live). Per-user state
    * holds ONE row (the latest click), and an event-time timeout drops a
    * user's state once the watermark passes last-click + `ttlUs` — state
    * is bounded by active users, not by stream length, the property that
    * keeps this runnable forever at 100 TB/day.
    *
    * Semantics: events are processed in event-time order WITHIN a
    * micro-batch (the batch is sorted), but a click arriving in a later
    * batch cannot retro-enrich an earlier purchase — the standard
    * low-latency enrichment contract (Joins.asOfJoin is the exact batch
    * form when full retrospection matters).
    */
  def enrichPurchasesWithLastClick(events: DataFrame,
                                   ttlUs: Long = 24L * 3600 * 1000000,
                                   delay: String = "1 hour")
      : Dataset[EnrichedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = withEventTime(
        events.filter(col("event_type").isin("click", "purchase")))
      .withWatermark("event_time", delay)
      .as[IdEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, EnrichedPurchase](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[IdEvent], state: GroupState[LastClick]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ListBuffer.empty[EnrichedPurchase]
            var cur = state.getOption
            batch.toArray.sortBy(e => (e.ts, e.event_id)).foreach { e =>
              val us = e.ts / 1000
              if (e.event_type == "click") {
                // keep the LATEST click only — a late-arriving older click
                // must not regress the state
                if (cur.forall(_.clickUs <= us))
                  cur = Some(LastClick(e.event_id, us))
              } else {
                out += EnrichedPurchase(uid, e.event_id, us,
                  cur.map(_.click_id), cur.map(c => us - c.clickUs))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // expire once the watermark passes last click + ttl (ms)
              state.setTimeoutTimestamp(c.clickUs / 1000 + ttlUs / 1000)
            }
            out.iterator
          }
      }
  }

  /** The STREAMING AS-OF enrichment executed through the real engine,
    * driver-checkable (q361): `enrichPurchasesWithLastClick`
    * (flatMapGroupsWithState, one-row-per-user state) over the file
    * source, matched rows only, against q54's batch ASOF-join oracle
    * VERBATIM. Two harness choices make the finite-input parity exact:
    * the TTL and watermark delay are pushed far past any fixture's time
    * span (no state expiry, no timeout — the q346 device), and the file
    * source under AvailableNow with no maxFilesPerTrigger takes every
    * file in ONE micro-batch, so each user's full timeline reaches one
    * sorted flatMapGroups invocation — the retro-enrichment caveat of
    * the incremental contract (a later-batch click cannot annotate an
    * earlier purchase) never triggers. Unmatched purchases (no prior
    * click) are filtered because the batch oracle's ASOF JOIN is inner.
    *
    * Scale shape: per-user state is ONE row regardless of stream
    * length; deployment uses a real TTL — this wrapper's horizon-free
    * parameters are parity harness, not production config.
    */
  def asOfEnrichmentViaStream(spark: SparkSession, dir: String,
      queryName: String = "q361_stream_asof"): DataFrame = {
    drain(spark, Seq(Sink(queryName,
      enrichPurchasesWithLastClick(readEventStream(spark, dir),
          ttlUs = 100L * 365 * 24 * 3600 * 1000000L,
          delay = "87600 hours").toDF())))(())
    spark.table(queryName)
      .filter(col("click_id").isNotNull)
      .select(col("purchase_id"), col("click_id"), col("gap_us"))
      .orderBy("purchase_id")
  }

  /** File-based streaming intake of an events-shaped parquet directory —
    * the deployment path (`readStream` mirror of Tables.events).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // same contract as Tables.load: the nanos flag must be set at session
    // build time, never mutated here as a hidden side effect
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    // case-insensitive: Spark's boolean conf parsing accepts TRUE/True too
    require(spark.conf.getOption(flag).exists(_.equalsIgnoreCase("true")),
      s"streaming the events table requires $flag=true in the session builder")
    // cached footer read (Tables.schemaCache): every streaming parity
    // entry re-opens this immutable fixture's schema per call
    val schema = graft.Tables.cachedSchema(spark, s"$dir/events.parquet")
    // FileStreamSource needs a directory-rooted GLOB (a bare file path is
    // rejected); events*.parquet scopes it to the event files only —
    // other tables in the same directory must not leak into the stream.
    // normalizeEventTs: the int64-nanos `ts` contract is enforced at the
    // intake boundary for BOTH fixture encodings (stateless codegen'd
    // projection — streaming-safe), exactly like the batch loader.
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
  }

  /** The tumbling-window aggregate executed THROUGH the streaming
    * engine — `readEventStream` → `tumblingTypeCounts` → memory sink
    * under `Trigger.AvailableNow`, complete mode — then returned as a
    * plain DataFrame. This is the entry that puts the STREAMING
    * EXECUTION PATH itself under the driver's DuckDB oracle (q309; the
    * oracle is q30's batch SQL verbatim): micro-batch planning, state
    * store accumulation across batches, and window finalization must
    * reproduce the batch result bit for bit, not just pass unit specs.
    * Complete mode because a finite file source ends before any
    * watermark can pass the last window — append mode would hold the
    * tail windows back forever (the StreamingSpec finalization law);
    * complete emits every window at termination, which IS the batch
    * semantics this parity check wants.
    *
    * Scale shape: identical to the batch q30 plan (keyed partial agg
    * per window×type) plus state-store writes; at 100 TB the same
    * query runs unbounded with append mode + watermark — this entry
    * pins the arithmetic parity, the specs pin the watermark behavior.
    */
  def tumblingCountsViaStream(spark: SparkSession, dir: String,
      queryName: String = "q309_stream_tumbling"): DataFrame = {
    drain(spark, Seq(Sink(queryName,
      tumblingTypeCounts(readEventStream(spark, dir)), "complete")))(())
    spark.table(queryName).orderBy("win_us", "event_type")
  }

  /** The watermarked streaming DEDUP LAW, driver-checkable: the events
    * file is ingested TWICE (two file streams unioned — a doubled
    * at-least-once delivery), `dropDuplicatesWithinWatermark` on
    * event_id collapses the copies, and the surviving rows fold to a
    * per-type census that must equal the batch census of the single
    * table — exactly-once semantics recovered from at-least-once
    * delivery, the contract every 100 TB streaming intake depends on.
    * The duplicate copies carry identical event times, so they always
    * fall within any watermark delay of each other — the law is exact,
    * not probabilistic. Census arithmetic is the q30 convention
    * (integer counts + 2-dp value sums).
    *
    * Scale shape: dedup state is keyed by event_id and pruned by the
    * watermark (bounded by delay × arrival rate, never the corpus);
    * the census is a keyed partial agg over the deduped stream. The
    * memory-sink collection here is parity harness, not the deployment
    * path (that writes a real sink, UpsertSink).
    */
  def dedupedUnionCensusViaStream(spark: SparkSession, dir: String,
      queryName: String = "q312_stream_dedup"): DataFrame = {
    val doubled = readEventStream(spark, dir)
      .unionByName(readEventStream(spark, dir))
    drain(spark, Seq(Sink(queryName, withEventTime(doubled)
      .withWatermark("event_time", "2 hours")
      .dropDuplicatesWithinWatermark("event_id"))))(())
    spark.table(queryName)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"),
        sum(cents("value")).as("sum_cents"))
      .orderBy("event_type")
  }

  /** The STREAM-STREAM JOIN executed through the real engine, driver-
    * checkable (q345): `twoLegPairsStreaming` (watermarked view ⋈
    * purchase within the bounded event-time window) over the file
    * source, folded to a per-user census of emitted pairs. Inner
    * stream-stream joins emit each match as soon as both sides have
    * arrived — nothing is held back for the watermark (that is the
    * OUTER-join rule) — so over a finite source the emitted pair set
    * equals the batch theta-join exactly, and the DuckDB oracle is the
    * batch SQL verbatim. Cents are rounded per pair then summed as
    * longs (two-operand double adds are order-free; a corpus-wide
    * double fold is not).
    *
    * Scale shape: join state is bounded by the watermark + the range
    * condition (Spark derives the view-side state horizon from
    * `purchase_time <= view_time + window`); the census is a keyed
    * partial agg. The memory sink is parity harness, not deployment.
    */
  def twoLegPairsCensusViaStream(spark: SparkSession, dir: String,
      queryName: String = "q345_stream_join"): DataFrame = {
    drain(spark, Seq(Sink(queryName,
      twoLegPairsStreaming(readEventStream(spark, dir)))))(())
    spark.table(queryName)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(cents("combined_value")).as("sum_cents"))
      .orderBy("user_id")
  }

  /** Stream-STATIC dim enrichment executed through the real engine,
    * driver-checkable (q370): the purchase stream joined to the STATIC
    * customer dim (broadcast hash join inside every micro-batch — the
    * stateless enrichment shape every streaming pipeline runs against a
    * slowly-changing dimension), folded to a per-nation census that
    * must equal the batch join bit for bit. Completes the
    * streaming-executed operator set: q309 agg, q312 dedup, q345
    * stream-stream join, q346/q361 custom state, and now the
    * stream-static join — the sixth micro-batch parity entry.
    *
    * Stream-static joins keep NO state (the dim is re-read/broadcast
    * per batch), so unlike q345 there is no watermark in the join —
    * parity is unconditional on finite input. Orphan user_ids (events
    * from users absent in the dim) drop on both sides (inner join).
    *
    * Scale shape: the dim side is a broadcast (or a bucketed join at
    * dim scale); the stream side is scan-shaped per batch. Cents
    * quantization is the q345 convention.
    */
  def dimEnrichmentViaStream(spark: SparkSession, dir: String,
      queryName: String = "q370_stream_dim"): DataFrame = {
    val cust = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    drain(spark, Seq(Sink(queryName, readEventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(broadcast(cust), col("user_id") === col("c_custkey")))))(())
    spark.table(queryName)
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(cents("value")).as("sum_cents"))
      .orderBy("nation")
  }

  /** Streaming STATE-STORE census (r17 verdict item 7): run the two
    * state-heavy streaming shapes this library ships — the q345
    * stream-stream interval join (symmetric hash-join buffers) and the
    * q346 flatMapGroupsWithState sessionizer (one state row per live
    * user) — through the real engine, and report each state operator's
    * row/byte footprint from the StreamingQueryProgress surface
    * (`stateOperators`: numRowsTotal / numRowsUpdated /
    * memoryUsedBytes). State growth becomes a measured,
    * regression-gated number next to the parity entries' correctness:
    * the DevScale rung pins how state scales as event volume grows
    * (disjoint-user inflation → join buffers grow with events, session
    * state with users), which is THE capacity number a 100 TB/day
    * deployment sizes its state backend from.
    *
    * Row counts are deterministic for a fixture (state contents are a
    * pure function of the finite input under AvailableNow) — the q369
    * query pins them as a VALUES literal oracle at the gate fixture
    * (r18 verdict item 2), selecting only the deterministic columns.
    * Byte sizes are engine-internal (layout + versioning overhead) and
    * ship HERE for observability only — never through a compared
    * output. StreamingSpec pins the laws: sessionizer state rows =
    * distinct users with a live session, join state rows = both sides'
    * buffered rows, bit-equal across reruns.
    *
    * Scale shape: the census itself is |state operators| rows collected
    * from driver-side progress metadata — the pipelines it measures are
    * the q345/q346 shapes, priced by their own rungs.
    */
  def stateStoreCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both pipelines start before either is awaited (guide §2.6 —
    // overlap independent jobs): the two queries share no state, so the
    // sessionizer's micro-batches back-fill cores the join's trailing
    // batch leaves idle. Results are per-query state metrics — identical
    // under any interleaving.
    val (queries, _) = drain(spark, Seq(
      Sink("q369_state_join",
        twoLegPairsStreaming(readEventStream(spark, dir))),
      Sink("q369_state_sessions",
        sessionizeWithState(readEventStream(spark, dir),
          gapUs = 30L * 60 * 1000000, delay = "87600 hours").toDF())))(())
    val rows = queries.zip(Seq("1_stream_join", "2_sessionize")).flatMap {
      case (sq, pipeline) =>
        sq.recentProgress.toSeq.reverse
          .find(_.stateOperators.nonEmpty).toSeq
          .flatMap(_.stateOperators.toSeq)
          .map(so => (pipeline, so.operatorName, so.numRowsTotal,
            so.numRowsUpdated, so.memoryUsedBytes))
    }
    rows.toDF("pipeline", "operator", "n_state_rows", "n_rows_updated",
        "state_bytes")
      .orderBy("pipeline", "operator")
  }

  // ---- the parity harness: every *ViaStream / census / readback entry ----

  /** One memory-sink query of a parity run: the query (and temp view)
    * name, the streaming frame, the output mode, and a checkpoint
    * directory if the run's state is read back afterwards. */
  private[streaming] final case class Sink(name: String, frame: DataFrame,
      mode: String = "append", checkpoint: Option[String] = None)

  /** State-store width of the parity runs (see [[drain]]). Deployment
    * sizes the same conf to state VOLUME; 4 is the measured fixed-cost
    * knee of the parity fixtures (r20 A/B over the five state-heavy
    * entries, min of 3: width 8 = 17.5 s, width 4 = 12.0 s, width 2 =
    * 12.0 s). Results do not depend on it — state is keyed, the census
    * aggregates are exact integer arithmetic and q369's pinned counts are
    * operator TOTALS; StreamingSpec "state width: the q345 and q346
    * censuses are equal at one and four partitions" pins that.
    */
  private val StatePartitions = 4

  /** The lifecycle of one parity run: starts every sink's query under
    * `Trigger.AvailableNow` (dropping a stale view of the same name
    * first), runs `body` while they drain, awaits them all, and returns
    * the finished queries with `body`'s value. On every exit path it
    * stops each query it started and puts `confs` and
    * `spark.sql.shuffle.partitions` back as it found them.
    *
    * Width: a streaming query materializes one state-store instance per
    * shuffle partition per stateful operator (a stream-stream join keeps
    * FOUR per partition), and on a finite input the per-store fixed cost
    * (provider init, checkpoint dir, per-batch commit fsync) dominates
    * long before data volume does, so the queries run at
    * [[StatePartitions]]. A query binds the conf at START; the restored
    * value governs everything planned afterwards (the caller's census
    * aggregates). This is about the harness's fixed costs, not the
    * operators' scale shape (the DevScale rung is flat).
    */
  private[streaming] def drain[T](spark: SparkSession, sinks: Seq[Sink],
      confs: Map[String, String] = Map.empty)(
      body: => T): (Seq[StreamingQuery], T) =
    graft.Session.withConfs(spark, confs +
        ("spark.sql.shuffle.partitions" -> StatePartitions.toString)) {
      val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
      try {
        sinks.foreach { s =>
          spark.catalog.dropTempView(s.name)
          val w = s.frame.writeStream.format("memory").queryName(s.name)
            .outputMode(s.mode).trigger(Trigger.AvailableNow())
          started +=
            s.checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
        }
        val out = body
        started.foreach(_.awaitTermination())
        (started.toList, out)
      } finally started.foreach(_.stop())
    }

  /** Runs `run` against a fresh temp checkpoint, then opens the state it
    * left with `format("statestore")` (plus `options`), collects
    * `census` of it and returns the rows as a local frame. The checkpoint
    * is deleted on every exit path. */
  private[streaming] def readState[B](spark: SparkSession,
      options: Map[String, String] = Map.empty)(run: String => B)(
      census: (DataFrame, B) => DataFrame): DataFrame = {
    val cp = java.nio.file.Files.createTempDirectory("graft_state_cp")
      .toString
    try {
      val b = run(cp)
      val frame = census(spark.read.format("statestore")
        .option("path", cp).options(options).load(), b)
      spark.createDataFrame(java.util.Arrays.asList(frame.collect(): _*),
        frame.schema)
    } finally {
      val path = new org.apache.hadoop.fs.Path(cp)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(path, true)
    }
  }

  /** `min(max view µs, max purchase µs) − horizonUs` over the batch
    * events table (the same files the stream reads): exact integer µs,
    * no watermark value in it. The MIN, not the global max: each side's
    * watermark node sits AFTER its type filter and tracks only its own
    * type's max event time, so the join's global watermark is the MIN
    * over the two sides — a trailing purchase-only (or view-only)
    * stretch advances one side's clock and not the other's. When either
    * type is absent the watermark never advances and the bound is
    * `Long.MinValue`.
    */
  private def viewPurchaseBound(spark: SparkSession, dir: String,
      horizonUs: Long): Long = {
    val t = graft.Tables.events(spark, dir)
      .agg(
        max(when(col("event_type") === "view", expr("ts div 1000")))
          .as("mv"),
        max(when(col("event_type") === "purchase", expr("ts div 1000")))
          .as("mp"))
      .head()
    if (t.isNullAt(0) || t.isNullAt(1)) Long.MinValue
    else math.min(t.getLong(0), t.getLong(1)) - horizonUs
  }

  /** Exact cents of a double expression, rounded per row: summed as longs,
    * the census matches the oracle bit for bit, where a corpus-wide
    * double fold is order-sensitive at the ulp level. */
  private def cents(x: String): Column =
    expr(s"cast(round(($x) * 100) as long)")

  /** The per-user census of closed sessions q346 and q385 share. */
  private def closedSessionCensus(spark: SparkSession,
      queryName: String): DataFrame =
    spark.table(queryName)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions_closed"),
        sum("n_events").as("n_events"),
        sum(expr("session_end_us - session_start_us")).as("dur_us"))
      .orderBy("user_id")

  /** The streaming AGGREGATION STATE read back through Spark's state
    * data source (q387): run q309's complete-mode tumbling aggregate
    * with a durable checkpoint, then open the checkpoint's state store
    * as a DataFrame (`format("statestore")`) and reconstruct the
    * census from the raw (group key, aggregation buffer) state rows.
    * In complete mode the aggregate's state IS the full census, so
    * q30's batch oracle pins the STATE CONTENTS bit for bit — the
    * driver-checkable complement of q369's state census: q369 counts
    * state rows from progress metrics; this reads the rows themselves.
    * The tool a 100 TB streaming deployment actually reaches for:
    * inspect a live query's keyed state from its checkpoint, audit a
    * migration, seed a backfill — without touching the query.
    *
    * The buffer row for count+sum aggregation surfaces as
    * `value.{count, sum}`; `round(sum, 2)` here is the SAME final
    * projection the query applies, so the readback equals the sink
    * output exactly. Result is bounded by |windows|×|types| (complete
    * mode is only usable when that holds), so it is collected, the
    * checkpoint deleted, and a localized frame returned — the harness
    * form; a production inspection keeps the checkpoint, obviously.
    */
  def aggStateReadback(spark: SparkSession, dir: String,
      queryName: String = "q387_state_reader"): DataFrame =
    readState(spark) { cp =>
      drain(spark, Seq(Sink(queryName,
        tumblingTypeCounts(readEventStream(spark, dir)), "complete",
        Some(cp))))(())
    } { (state, _) =>
      state.select(unix_micros(col("key.window.start")).as("win_us"),
        col("key.event_type").as("event_type"),
        col("value.count").as("cnt"),
        round(col("value.sum"), 2).as("sum_value"))
    }.orderBy("win_us", "event_type")

  /** Stream-stream JOIN STATE read back through the state data source
    * (q393, `joinSide=left`): run the q345 view⋈purchase join with a
    * durable checkpoint, then read the LEFT side's buffered rows — the
    * views still retained for future matches — and census the ones in
    * the SAFE-RETAINED region. The retention dual of q380's eviction
    * census: q380 pins that old-enough views were provably EVICTED
    * (null-emitted); this pins that recent-enough views were provably
    * KEPT — over-eager eviction (the state bug that silently loses
    * matches) is a driver hash mismatch here.
    *
    * Safe region: the join evicts a view when the watermark passes
    * `view_time + window`, and the final watermark is
    * `min(max view ts, max purchase ts) − delay` (per-side watermark
    * nodes, min-combined — the q380 find), so every view with
    * `view_us ≥ min(mv, mp) − window` sits a full `delay` above the
    * eviction line: provably in state, with the engine's ms-quantized
    * edge inside the excluded band and exact integer µs arithmetic
    * deciding membership on both engines. When either side is empty
    * the watermark never advances, nothing evicts, and the unbounded
    * census is exact as well.
    */
  def joinStateReadback(spark: SparkSession, dir: String,
      queryName: String = "q393_join_state"): DataFrame =
    readState(spark, Map("joinSide" -> "left")) { cp =>
      // the batch bound job runs WHILE the stream drains (guide §2.6 —
      // it reads the same immutable files and shares nothing with the
      // join's state); the window is the horizon, the 1h delay the guard
      drain(spark, Seq(Sink(queryName,
        twoLegPairsStreaming(readEventStream(spark, dir)),
        checkpoint = Some(cp))))(
        viewPurchaseBound(spark, dir, 24L * 3600L * 1000000L))._2
    } { (state, boundUs) =>
      state.select(col("value.user_id").as("user_id"),
          unix_micros(col("value.view_time")).as("vt_us"),
          col("value.v1").as("v1"))
        .filter(col("vt_us") >= boundUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_recent_views"),
          sum(cents("v1")).as("v_cents"))
    }.orderBy("user_id")

  /** The v2 sessionizer executed through the real engine (q385): same
    * wrapper shape and SAME ORACLE as q346 — the api-migration parity.
    * RocksDB provider scoped to the run (transformWithState requires
    * the multi-column-family state layout v2; the provider choice is
    * already adjudicated output-invariant by StreamingSpec's q346
    * invariance law, so the oracle comparison is apples to apples).
    */
  def closedSessionCensusViaStreamV2(spark: SparkSession, dir: String,
      queryName: String = "q385_stream_tws_sessions"): DataFrame = {
    drain(spark, Seq(Sink(queryName,
        sessionizeWithStateV2(readEventStream(spark, dir),
          gapUs = 30L * 60 * 1000000, delay = "87600 hours").toDF())),
      confs = Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))(())
    closedSessionCensus(spark, queryName)
  }

  /** The LEFT-OUTER stream-stream join executed through the real engine
    * (q380): `viewPurchaseLeftOuter` over the file source under
    * `Trigger.AvailableNow`, folded to a per-user census — join rows,
    * matched rows, and the matched-value cents sum. The outer
    * (null-extended) emissions come from STATE EVICTION in the trailing
    * no-data micro-batch, so this entry pins the eviction machinery
    * itself against a batch LEFT JOIN oracle, the way q345 pins the
    * inner path.
    *
    * Census membership: only views with
    * `view_us ≤ min(max view_us, max purchase_us) − (window + delay +
    * 1h guard)` — the min because the global watermark is the MIN over
    * the two per-side watermark nodes (`viewPurchaseBound`). For member
    * views the watermark provably passed their eviction point a full
    * hour before end-of-input, so every member has either matched or
    * been null-emitted, and the engine's ms-quantized watermark edge
    * cannot decide membership (it lands inside the guard band; integer
    * µs arithmetic on both engines decides instead — the q346 device).
    * The bound job runs WHILE the stream drains (guide §2.6 — same
    * immutable files, no shared state).
    */
  def leftOuterPairsCensusViaStream(spark: SparkSession, dir: String,
      queryName: String = "q380_stream_louter"): DataFrame = {
    val (_, boundUs) = drain(spark, Seq(Sink(queryName,
      viewPurchaseLeftOuter(readEventStream(spark, dir)))))(
      // 24h window + 1h delay + 1h guard
      viewPurchaseBound(spark, dir, 26L * 3600L * 1000000L))
    spark.table(queryName)
      .filter(unix_micros(col("view_time")) <= boundUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_time")).as("n_matched"),
        sum(when(col("purchase_time").isNotNull, cents("v1 + v2")))
          .as("matched_cents"))
      .orderBy("user_id")
  }

  /** The CUSTOM-STATE sessionizer executed through the real engine,
    * driver-checkable (q346): `sessionizeWithState`
    * (flatMapGroupsWithState + event-time timeout) over the file
    * source, folded to a per-user census of the emitted sessions.
    *
    * The watermark delay is deliberately set LONGER than any fixture's
    * time span, so the watermark never passes last-event + gap and NO
    * timeout fires: the emitted set is exactly the sessions closed by
    * a SUCCESSOR session (each user's non-final sessions) — a contract
    * the batch gaps-and-islands oracle states exactly, with no
    * ms-quantized watermark edge in it. The timeout path (sessions
    * flushed when the watermark passes) is pinned separately by
    * StreamingSpec, where the watermark is driven explicitly batch by
    * batch. Duration sums are µs integers — exact at any size.
    */
  def closedSessionCensusViaStream(spark: SparkSession, dir: String,
      queryName: String = "q346_stream_sessions"): DataFrame = {
    drain(spark, Seq(Sink(queryName,
      sessionizeWithState(readEventStream(spark, dir),
        gapUs = 30L * 60 * 1000000, delay = "87600 hours").toDF())))(())
    closedSessionCensus(spark, queryName)
  }
}
