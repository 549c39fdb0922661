package graft.streaming

import graft.SparkSpec
import graft.streaming.EventStreams.{Event, UserRunning}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Drives the streaming transforms through MemoryStream: watermark
  * finalization, late-data drop, session merging, and custom
  * mapGroupsWithState accumulation across micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000000000L // one hour in ns

  private def ev(user: Long, tsNs: Long, typ: String = "view",
                 value: Double = 1.0) = Event(user, tsNs, typ, value)

  /** The sf0.001 fixture (TESTDATA.md) the parity-harness tests stream. */
  private val fixture = "/root/testdata/sf0.001"

  private val rocksDb = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def withQuery[T](q: StreamingQuery)(f: => T): T =
    try f finally q.stop()

  test("checkpoint recovery: offsets and dedup state survive a query " +
      "restart (no replayed rows, cross-run duplicates collapse)") {
    // The operational core of exactly-once: a query killed and restarted
    // from its checkpoint must neither reprocess committed input (offset
    // log) nor forget its dedup state (state store). Two laws, one
    // two-run file-source harness.
    val root = java.nio.file.Files
      .createTempDirectory("graft-restart").toString
    val in = s"$root/in"
    def rows(rs: Seq[(Long, Long, Long, String, Double)]) =
      rs.toDF("event_id", "user_id", "ts", "event_type", "value")
    def runOnce(out: String, ckpt: String, dedup: Boolean): Unit = {
      val src = spark.readStream
        .schema("event_id LONG, user_id LONG, ts LONG, " +
          "event_type STRING, value DOUBLE")
        .parquet(in)
      val staged = EventStreams.withEventTime(src)
        .withWatermark("event_time", "1 hour")
      val q = (if (dedup) staged.dropDuplicatesWithinWatermark("event_id")
               else staged)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: ids 1..3 plus an in-run duplicate of 2
    rows(Seq((1L, 1L, 1 * H, "view", 1.0), (2L, 1L, 1 * H, "view", 1.0),
        (2L, 1L, 1 * H, "view", 1.0), (3L, 2L, 1 * H, "click", 1.0)))
      .write.mode("append").parquet(in)
    runOnce(s"$root/out_d", s"$root/ck_d", dedup = true)
    runOnce(s"$root/out_p", s"$root/ck_p", dedup = false)
    // run 2: a CROSS-RUN duplicate of 3 (same id, same event time) plus
    // fresh ids 4, 5 — then restart both queries from their checkpoints
    rows(Seq((3L, 2L, 1 * H, "click", 1.0), (4L, 2L, 1 * H, "view", 1.0),
        (5L, 3L, 1 * H, "view", 1.0)))
      .write.mode("append").parquet(in)
    runOnce(s"$root/out_d", s"$root/ck_d", dedup = true)
    runOnce(s"$root/out_p", s"$root/ck_p", dedup = false)
    // state-store law: every id exactly once — run 2's replayed id 3 was
    // dropped by state RESTORED from the checkpoint, not by this run
    val deduped = spark.read.parquet(s"$root/out_d")
      .groupBy("event_id").count()
      .as[(Long, Long)].collect().toMap
    assert(deduped == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L))
    // offset-log law: the passthrough emitted each INPUT row exactly
    // once — a restart that replayed run-1 files would double them
    val passthrough = spark.read.parquet(s"$root/out_p")
      .groupBy("event_id").count()
      .as[(Long, Long)].collect().toMap
    assert(passthrough == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L,
      5L -> 1L))
  }

  test("tumbling windows finalize on watermark; late data is dropped") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingTypeCounts(in.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(ev(1, 0), ev(2, 10), ev(1, 3 * H)) // hour-0 ×2, hour-3 ×1
      q.processAllAvailable() // watermark → 1h: hour-0 window final
      val after1 = spark.table("tumbling").as[(Long, String, Long, Double)]
        .collect().toSet
      assert(after1 == Set((0L, "view", 2L, 2.0)))
      in.addData(ev(1, 6 * H)) // watermark → 4h: hour-3 window final
      q.processAllAvailable()
      val after2 = spark.table("tumbling").as[(Long, String, Long, Double)]
        .collect().toSet
      assert(after2 == Set((0L, "view", 2L, 2.0),
        (3 * H / 1000, "view", 1L, 1.0)))
      in.addData(ev(9, 30)) // hour-0 event, far behind the 4h watermark
      q.processAllAvailable()
      assert(spark.table("tumbling").count() == 2) // dropped, not appended
    }
  }

  test("hopping windows: each event covers window/slide windows; " +
      "they finalize independently on watermark") {
    implicit val ctx = spark.sqlContext
    val halfH = H / 2
    val in = MemoryStream[Event]
    val q = EventStreams.hoppingTypeCounts(in.toDF(), "1 hour",
        "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("hopping")
      .outputMode("append").start()
    withQuery(q) {
      // t=45min sits in windows starting at 0 and at 30min
      in.addData(ev(1, 45 * 60 * 1000000000L), ev(1, 4 * H))
      q.processAllAvailable() // watermark → 2h: both covering windows final
      val after1 = spark.table("hopping").as[(Long, String, Long, Double)]
        .collect().toSet
      assert(after1 == Set(
        (0L, "view", 1L, 1.0), (halfH / 1000, "view", 1L, 1.0)))
      in.addData(ev(1, 7 * H)) // watermark → 5h: the 3.5h/4h windows final
      q.processAllAvailable()
      val after2 = spark.table("hopping").as[(Long, String, Long, Double)]
        .collect().toSet
      assert(after2 == after1 ++ Set(
        ((4 * H - halfH) / 1000, "view", 1L, 1.0),
        (4 * H / 1000, "view", 1L, 1.0)))
    }
  }

  test("session windows merge events within the gap, split at >= gap") {
    // batch-mode execution of the same transform (unified semantics)
    val gapNs = 1800L * 1000000000L
    val df = Seq(
      ev(1, 0), ev(1, gapNs - 1), // same session (gap not reached)
      ev(1, 2 * gapNs + 10),      // new session
      ev(2, 0)).toDF()
    val r = EventStreams.userSessions(df, "30 minutes")
      .orderBy("user_id", "session_start_us")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1L, 0L, 2L, 2.0), (1L, (2 * gapNs + 10) / 1000, 1L, 1.0),
      (2L, 0L, 1L, 1.0)))
  }

  test("flatMapGroupsWithState closes sessions on event-time timeout only") {
    implicit val ctx = spark.sqlContext
    val M = 60L * 1000000000L // one minute in ns
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeWithState(in.toDF(),
      gapUs = 30L * 60 * 1000000, delay = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    withQuery(q) {
      // base offset keeps events off the initial watermark boundary at 0
      val base = 60 * M
      in.addData(ev(1, base, value = 2.0), ev(1, base + 10 * M, value = 3.0))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // still open
      in.addData(ev(2, base + 2 * 60 * M)) // watermark ≫ timeout at +40m
      q.processAllAvailable()
      val out = spark.table("sessions")
        .as[EventStreams.SessionOut].collect().toSeq
      assert(out == Seq(EventStreams.SessionOut(1L, base / 1000,
        (base + 10 * M) / 1000, 2L, 5.0)))
      // user 2's session is still open: nothing advanced past its timeout
      assert(!out.exists(_.user_id == 2L))
    }
  }

  test("join state readback: every safe-region view — matched or not — " +
      "is retained in the left buffer (no over-eager eviction)") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col, count, expr, lit, max,
      sum, when}
    val got = EventStreams.joinStateReadback(spark, dir,
        queryName = "spec_join_state")
      .collect().map(_.toSeq).toSeq
    val ev = graft.Tables.events(spark, dir)
    val tm = ev.agg(
        max(when(col("event_type") === "view", expr("ts div 1000"))),
        max(when(col("event_type") === "purchase", expr("ts div 1000"))))
      .head
    val bound = math.min(tm.getLong(0), tm.getLong(1)) -
      24L * 3600L * 1000000L
    val expected = ev.filter(col("event_type") === "view" &&
        expr("ts div 1000") >= bound)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_recent_views"),
        sum(expr("cast(round(value * 100) as long)")).as("v_cents"))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("state readback: the checkpoint's aggregation state reconstructs " +
      "the batch census bit for bit") {
    val got = EventStreams.aggStateReadback(spark, "/root/testdata/sf0.001",
        queryName = "spec_state_readback")
      .collect().map(_.toSeq).toSeq
    val batch = EventStreams.tumblingTypeCounts(
        graft.Tables.events(spark, "/root/testdata/sf0.001"))
      .orderBy("win_us", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got == batch)
    assert(got.size > 100) // a real census, not a degenerate frame
  }

  test("transformWithState sessionizer (v2): registered timers flush on " +
      "event time, and the output matches the v1 state machine") {
    implicit val ctx = spark.sqlContext
    val M = 60L * 1000000000L
    withConfs(rocksDb) {
      val in = MemoryStream[Event]
      val q = EventStreams.sessionizeWithStateV2(in.toDF(),
          gapUs = 30L * 60 * 1000000, delay = "10 minutes")
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append").start()
      withQuery(q) {
        val base = 60 * M
        // the v1 timeout test's exact scenario, on the v2 machinery
        in.addData(ev(1, base, value = 2.0), ev(1, base + 10 * M, value = 3.0))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").count() == 0) // still open
        in.addData(ev(2, base + 2 * 60 * M)) // wm ≫ user 1's flush timer
        q.processAllAvailable()
        in.addData(ev(3, base + 3 * 60 * M)) // next batch: timers fire —
        // user 1's (+40m) AND user 2's (+150m) are both behind the
        // wm (+170m) now; user 3's is not
        q.processAllAvailable()
        val out = spark.table("tws_sessions")
          .as[EventStreams.SessionOut].collect().toSeq.sortBy(_.user_id)
        assert(out == Seq(
          EventStreams.SessionOut(1L, base / 1000,
            (base + 10 * M) / 1000, 2L, 5.0),
          EventStreams.SessionOut(2L, (base + 2 * 60 * M) / 1000,
            (base + 2 * 60 * M) / 1000, 1L, 1.0)), out.toString)
      }
    }
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    // Event has no event_id; dedup on (user_id, ts) composite via user_id
    // is ambiguous — use ts as the id column for this shape
    val q = EventStreams.dedupStream(in.toDF(), idCol = "ts",
      delay = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    withQuery(q) {
      val base = 10 * H
      in.addData(ev(1, base), ev(1, base), ev(2, base + 1)) // dup in-batch
      q.processAllAvailable()
      in.addData(ev(1, base)) // dup across batches, inside watermark
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2)
    }
  }

  test("file-based intake streams the real events table end-to-end") {
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$src/events.parquet").isFile)
    val stream = EventStreams.readEventStream(spark, src)
    assert(stream.isStreaming)
    val q = stream.groupBy("event_type")
      .count()
      .writeStream.format("memory").queryName("file_intake")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("file_intake")
      .as[(String, Long)].collect().toMap
    val batch = graft.Tables.events(spark, src)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(streamed == batch && streamed.values.sum == 1000L)
  }

  test("tumblingCountsViaStream reproduces the batch q30 result") {
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$src/events.parquet").isFile)
    val streamed = EventStreams.tumblingCountsViaStream(spark, src,
        queryName = "spec_tumbling_parity")
      .as[(Long, String, Long, Double)].collect().toSeq
    val batch = EventStreams
      .tumblingTypeCounts(graft.Tables.events(spark, src))
      .orderBy("win_us", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("dedup law: doubled delivery collapses to the single-table census") {
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$src/events.parquet").isFile)
    val streamed = EventStreams.dedupedUnionCensusViaStream(spark, src,
        queryName = "spec_dedup_law")
      .as[(String, Long, Long, Long)].collect().toSeq
    val batch = graft.Tables.events(spark, src)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.countDistinct($"user_id")
          .as("n_users"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions
            .expr("cast(round(value * 100) as long)")).as("sum_cents"))
      .orderBy("event_type")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch && streamed.map(_._2).sum == 1000L)
  }

  test("stream-stream two-leg join matches within the window, per user") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.twoLegPairsStreaming(in.toDF(), window = "24 hours",
      delay = "1 hour")
      .writeStream.format("memory").queryName("legs")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        ev(1, 10 * H, "view", 1.0), ev(1, 12 * H, "purchase", 2.0),
        ev(1, 40 * H, "purchase", 9.0),  // outside 24h window
        ev(2, 10 * H, "view", 1.0), ev(3, 12 * H, "purchase", 5.0))
      q.processAllAvailable()
      val out = spark.table("legs")
        .select("user_id", "combined_value")
        .as[(Long, Double)].collect().toSeq
      assert(out == Seq((1L, 3.0))) // one valid connection, same user only
    }
  }

  test("left-outer stream-stream join: unmatched views null-emit exactly " +
      "once on watermark eviction; matched views never null-emit") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.viewPurchaseLeftOuter(in.toDF(),
        window = "24 hours", delay = "1 hour")
      .writeStream.format("memory").queryName("louter")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        ev(1, 10 * H, "view", 1.0), ev(1, 12 * H, "purchase", 2.0),
        ev(2, 10 * H, "view", 5.0)) // never purchases
      q.processAllAvailable()
      // inner match emits immediately; user 2's outer row is HELD — the
      // watermark (12h − 1h) has not passed its eviction point (10h+24h)
      val early = spark.table("louter")
        .select($"user_id", $"purchase_time".isNotNull)
        .as[(Long, Boolean)].collect().toSeq
      assert(early == Seq((1L, true)), early.toString)
      // advance the watermark past 34h → user 2's state evicts and the
      // null-extended row emits; user 1's matched view must NOT.
      // BOTH sides must advance: the global watermark is the MIN over
      // the per-side watermark nodes (each sits after its type filter),
      // so a purchase alone would leave the view-side clock at 10h and
      // evict nothing. Eviction emits ride the batch AFTER the one that
      // moved the watermark, so drive one more micro-batch past it.
      in.addData(ev(3, 36 * H, "purchase", 9.0), ev(4, 36 * H, "view", 0.0))
      q.processAllAvailable()
      in.addData(ev(3, 36 * H + 1, "purchase", 9.0))
      q.processAllAvailable()
      val out = spark.table("louter")
        .select($"user_id", $"purchase_time".isNotNull, $"v1", $"v2")
        .as[(Long, Boolean, Double, Option[Double])].collect().toSeq
        .sortBy(_._1)
      assert(out == Seq((1L, true, 1.0, Some(2.0)),
        (2L, false, 5.0, None)), out.toString)
    }
  }

  test("late admitted events never move session bounds backward") {
    implicit val ctx = spark.sqlContext
    val M = 60L * 1000000000L
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeWithState(in.toDF(),
      gapUs = 30L * 60 * 1000000, delay = "1 hour")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    withQuery(q) {
      val base = 120 * M
      in.addData(ev(1, base, value = 1.0), ev(1, base + 20 * M, value = 1.0))
      q.processAllAvailable()
      // late for the session (before its last event) but within the 1h
      // watermark delay → admitted, must merge without regressing bounds
      in.addData(ev(1, base + 10 * M, value = 1.0))
      q.processAllAvailable()
      in.addData(ev(2, base + 180 * M)) // advance watermark → close user 1
      q.processAllAvailable()
      val out = spark.table("late_sessions")
        .as[EventStreams.SessionOut].collect().toSeq
      assert(out == Seq(EventStreams.SessionOut(1L, base / 1000,
        (base + 20 * M) / 1000, 3L, 3.0)))
    }
  }

  test("stream-stream join state plateaus: a hot user's old views expire") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    // 4h match window + 1h lateness → join state horizon ≈ 5–6h of events;
    // feeding 96h of an adversarial hot user must NOT grow state linearly
    val q = EventStreams.twoLegPairsStreaming(in.toDF(), window = "4 hours",
      delay = "1 hour")
      .writeStream.format("memory").queryName("hot_legs")
      .outputMode("append").start()
    withQuery(q) {
      val stateSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (b <- 0 until 8) {
        val hours = (b * 12) until ((b + 1) * 12)
        // hot user 7: one view EVERY hour; a purchase every 3 hours
        // (matching the views of the preceding 4h); plus a late-but-
        // admitted view 30 min behind the batch head every batch
        val batch = hours.map(h => ev(7, h * H, "view", 1.0)) ++
          hours.filter(_ % 3 == 2).map(h => ev(7, h * H + 1, "purchase", 1.0)) ++
          Seq(ev(7, (b * 12 + 11) * H - H / 2, "view", 1.0))
        in.addData(batch: _*)
        q.processAllAvailable()
        stateSizes += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      val fed = 8 * 13 // 96 hourly views + 32 purchases + 8 late views
      // matches exist (the operator is doing real work)...
      assert(spark.table("hot_legs").count() > 0)
      // ...while state stays bounded: nowhere near the events fed, and no
      // growth in the second half once the expiry horizon is reached —
      // a leak would show monotone growth toward `fed`
      assert(stateSizes.max < fed / 2,
        s"state ${stateSizes.mkString(",")} not bounded vs $fed events")
      assert(stateSizes.drop(4).max <= stateSizes.take(4).max,
        s"state still growing in steady state: ${stateSizes.mkString(",")}")
    }
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    withQuery(q) {
      in.addData(ev(1, 10, value = 2.0), ev(1, 20, value = 3.0))
      q.processAllAvailable()
      in.addData(ev(1, 30, value = 5.0), ev(2, 5, value = 1.0))
      q.processAllAvailable()
      val byUser = spark.table("running").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(_.n_events) }
      assert(byUser(1L) == UserRunning(1L, 3L, 10.0, 30L))
      assert(byUser(2L) == UserRunning(2L, 1L, 1.0, 5L))
    }
  }

  test("streaming as-of: purchases see the latest prior click, state expires") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val ttlUs = 2L * 3600 * 1000000 // 2h: click state lives 2h past the click
    // all ts sit well above epoch 0: a first-batch event AT the initial
    // watermark (0) is filtered as late by the streaming late-row guard
    val q = EventStreams.enrichPurchasesWithLastClick(df, ttlUs, "1 hour")
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    withQuery(q) {
      // user 1: click then purchase in one batch -> enriched (in-batch order)
      in.addData((10L, 1L, 10 * H, "click", 1.0),
                 (20L, 1L, 10 * H + H / 2, "purchase", 5.0))
      q.processAllAvailable()
      val r1 = spark.table("enrich")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(r1 == Set((1L, 20L, (10 * H + H / 2) / 1000,
        Some(10L), Some(H / 2000))))
      // user 2 purchase with no live click -> None
      in.addData((30L, 2L, 11 * H, "purchase", 1.0))
      q.processAllAvailable()
      assert(spark.table("enrich")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
        .contains((2L, 30L, 11 * H / 1000, None, None)))
      // advance the watermark to 14h (15h event - 1h delay): past user 1's
      // click TTL (10h + 2h). Timeouts for dataless keys fire against the
      // PREVIOUS batch's watermark, so push two batches.
      in.addData((40L, 9L, 15 * H, "click", 1.0))
      q.processAllAvailable()
      in.addData((41L, 9L, 15 * H + 1, "click", 1.0))
      q.processAllAvailable()
      // user 1's click state expired -> a fresh purchase enriches to None
      in.addData((50L, 1L, 15 * H + 2, "purchase", 1.0))
      q.processAllAvailable()
      val last = spark.table("enrich")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(last.contains((1L, 50L, (15 * H + 2) / 1000, None, None)))
    }
  }

  test("upsert sink: latest-wins snapshot with durable tombstones") {
    import graft.streaming.UpsertSink.Change
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert").toString
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ck").toString
    val in = MemoryStream[Change]
    val q = UpsertSink.start(
      in.toDF().withColumn("is_del", $"op" === "D"),
      base, ckpt, "key", "ts", "off", "is_del")
    withQuery(q) {
      in.addData(Change(1, 10, 0, "U"), Change(2, 10, 1, "U"))
      q.processAllAvailable()
      in.addData(Change(1, 5, 2, "U"),  // out-of-order: older, ignored
        Change(2, 20, 3, "D"),          // delete key 2
        Change(3, 1, 4, "U"))
      q.processAllAvailable()
      val mid = UpsertSink.readMaterialized(spark, base, "is_del").get
        .select("key", "ts", "off").as[(Long, Long, Long)].collect().toSet
      assert(mid == Set((1L, 10L, 0L), (3L, 1L, 4L)))
      // the tombstone is retained as a marker in the stored snapshot...
      val stored = UpsertSink.readSnapshot(spark, base).get
        .select("key").as[Long].collect().toSet
      assert(stored == Set(1L, 2L, 3L))
      // ...so a LATER batch's out-of-order update older than the delete
      // cannot resurrect the key
      in.addData(Change(2, 15, 5, "U"))
      q.processAllAvailable()
      val fin = UpsertSink.readMaterialized(spark, base, "is_del").get
        .select("key", "ts", "off").as[(Long, Long, Long)].collect().toSet
      assert(fin == Set((1L, 10L, 0L), (3L, 1L, 4L)))
      // the streamed snapshot equals one batch compaction of ALL changes
      val all = Seq(Change(1, 10, 0, "U"), Change(2, 10, 1, "U"),
        Change(1, 5, 2, "U"), Change(2, 20, 3, "D"), Change(3, 1, 4, "U"),
        Change(2, 15, 5, "U")).toDF().withColumn("is_del", $"op" === "D")
      val batchEq = graft.ops.Cdc.compactChangelog(all, $"key", $"ts",
          $"off", $"is_del")
        .select("key", "ts", "off").as[(Long, Long, Long)].collect().toSet
      assert(fin == batchEq)
      // at-least-once REPLAY: re-merging the LAST batch under its own
      // batchId must read the predecessor (not v=batchId itself) and
      // leave the materialized state unchanged
      val lastBatch = Seq(Change(2, 15, 5, "U")).toDF()
        .withColumn("is_del", $"op" === "D")
      val lastId = UpsertSink.latestVersion(spark, base).get
      UpsertSink.mergeBatch(lastBatch, lastId, base, "key", "ts", "off",
        "is_del")
      val replayed = UpsertSink.readMaterialized(spark, base, "is_del")
        .get.select("key", "ts", "off").as[(Long, Long, Long)]
        .collect().toSet
      assert(replayed == fin)
    }
  }

  test("upsert sink: commit detection survives disabled _SUCCESS markers") {
    import graft.streaming.UpsertSink.Change
    val base = java.nio.file.Files.createTempDirectory("upsert_ns").toString
    val b0 = Seq(Change(1, 10, 0, "U"), Change(2, 10, 1, "U")).toDF()
      .withColumn("is_del", $"op" === "D")
    UpsertSink.mergeBatch(b0, 0, base, "key", "ts", "off", "is_del")
    // simulate an object-store deployment with
    // mapreduce.fileoutputcommitter.marksuccessfuljobs=false: strip every
    // _SUCCESS the local committer wrote — the sink's OWN marker must
    // carry commit detection alone, or batch 0's state is silently lost
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val succ = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$base/v=*/_SUCCESS"))
    assert(succ.nonEmpty) // the local committer does write them
    succ.foreach(st => fs.delete(st.getPath, false))
    assert(UpsertSink.latestVersion(spark, base).contains(0L))
    val b1 = Seq(Change(3, 1, 2, "U")).toDF()
      .withColumn("is_del", $"op" === "D")
    UpsertSink.mergeBatch(b1, 1, base, "key", "ts", "off", "is_del")
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$base/v=*/_SUCCESS"))
      .foreach(st => fs.delete(st.getPath, false))
    val got = UpsertSink.readMaterialized(spark, base, "is_del").get
      .select("key").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L)) // batch 0's keys survived the merge
  }

  test("streaming near-dup: band-bucket state flags the batch candidate " +
    "set under doc_id-ordered arrival") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines here today"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (4L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (5L, "another unrelated line of text with many more words"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream
      .candidates(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(texts.take(2): _*) // micro-batch 1: ids 1, 2
      q.processAllAvailable()
      in.addData(texts.drop(2): _*) // micro-batch 2: ids 3, 4, 5
      q.processAllAvailable()
      val out = spark.table("neardup")
        .as[(Long, Long, Int)].collect().toSeq
      // keep-first: every candidate's canonical is the bucket's first doc
      assert(out.forall { case (a, b, _) => a < b })
      val flagged = out.map(_._2).toSet
      // cross-surface law: the flagged set equals the BATCH banded
      // candidate id_b set (same corpus, same shared banding formula)
      val banded = graft.ops.Dedup.bandKeys(texts.toDF("doc_id", "text"))
      val ref = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") &&
          col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("y.doc_id")).as[Long].collect().toSet
      assert(flagged == ref)
      assert(ref.contains(3L)) // the exact dup is always proposed
      assert(!ref.contains(2L) && !ref.contains(5L)) // unrelated: never
    }
  }

  test("rateMonitor: finalized windows flag against the static baseline; " +
      "unknown types get NULL, and streaming ≡ the batch formulation") {
    implicit val ctx = spark.sqlContext
    val reference = Seq(("view", 4L), ("click", 4L))
      .toDF("event_type", "ref_cnt")
    val in = MemoryStream[Event]
    val q = EventStreams.rateMonitor(in.toDF(), reference,
        "1 hour", "2 hours", loPermille = 500L, hiPermille = 2000L)
      .writeStream.format("memory").queryName("rates")
      .outputMode("append").start()
    // hour 0: 4 views (in range), 1 click (< 50% of 4 → anomalous),
    // 20 errors (no baseline → NULL flag)
    val batch1 = (1L to 4L).map(u => ev(u, u)) ++ Seq(ev(9, 5, "click")) ++
      (1L to 20L).map(u => ev(u, 6 + u, "error"))
    withQuery(q) {
      in.addData(batch1: _*)
      in.addData(ev(1, 4 * H)) // advance watermark → hour-0 finalizes
      q.processAllAvailable()
      val got = spark.table("rates")
        .as[(Long, String, Long, Option[Long], Option[Boolean])]
        .collect().toSet
      assert(got == Set(
        (0L, "view", 4L, Some(4L), Some(false)),
        (0L, "click", 1L, Some(4L), Some(true)),
        (0L, "error", 20L, None, None)))
    }
    // unified-contract law: the same operator over the same rows as a
    // BATCH frame produces the identical finalized windows
    val batchDf = (batch1 :+ ev(1, 4 * H)).toDF()
    val batch = EventStreams.rateMonitor(batchDf, reference,
        "1 hour", "2 hours", loPermille = 500L, hiPermille = 2000L)
      .as[(Long, String, Long, Option[Long], Option[Boolean])]
      .collect().toSet
    val streamed = spark.table("rates")
      .as[(Long, String, Long, Option[Long], Option[Boolean])]
      .collect().toSet
    // batch also emits the (not-yet-final in streaming) hour-4 window
    assert(streamed.subsetOf(batch))
    assert(batch.size == streamed.size + 1)
  }

  test("dimEnrichmentViaStream: stream-static join census equals the " +
      "batch join verbatim") {
    val src = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{broadcast, count, expr, lit, sum}
    val got = EventStreams.dimEnrichmentViaStream(spark, src)
      .as[(Long, Long, Long)].collect().toSeq
    val cust = graft.Tables.customer(spark, src)
      .select(org.apache.spark.sql.functions.col("c_custkey"),
        org.apache.spark.sql.functions.col("c_nationkey"))
    val want = graft.Tables.events(spark, src)
      .filter(org.apache.spark.sql.functions.col("event_type")
        === "purchase")
      .join(broadcast(cust),
        org.apache.spark.sql.functions.col("user_id")
          === org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy(org.apache.spark.sql.functions.col("c_nationkey")
        .cast("long").as("nation"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("cast(round(value * 100) as long)")).as("sum_cents"))
      .orderBy("nation")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("provider invariance: the q346 sessionizer census is bit-equal " +
      "under RocksDB and the default state store (the r19-adjudicated " +
      "state-backend law — the provider is a deployment dial, never a " +
      "semantic choice)") {
    val src = "/root/testdata/sf0.001"
    val default = EventStreams.closedSessionCensusViaStream(spark, src)
      .as[(Long, Long, Long, Long)].collect().toSeq
    withConfs(rocksDb) {
      val rocks = EventStreams.closedSessionCensusViaStream(spark, src)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(rocks == default)
      assert(default.nonEmpty)
    }
  }

  test("stateStoreCensus: row laws hold and the census is bit-equal " +
      "across reruns") {
    val src = "/root/testdata/sf0.001"
    val got = EventStreams.stateStoreCensus(spark, src)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // both pipelines reported at least one state operator each
    val byPipe = got.groupBy(_._1)
    assert(byPipe.keySet == Set("1_stream_join", "2_sessionize"), got)
    // session state: horizon-free watermark → no timeout ever fires, so
    // every user with ≥1 event holds exactly ONE open-session state row
    val users = spark.read.parquet(s"$src/events.parquet")
      .select("user_id").distinct().count()
    val sessRows = byPipe("2_sessionize").map(_._3).sum
    assert(sessRows == users, s"session state $sessRows vs users $users")
    // join state: the symmetric hash buffers hold rows from BOTH sides
    // (views + purchases admitted under the watermark) — nonzero here,
    // and never more than the type census itself
    val vp = spark.read.parquet(s"$src/events.parquet")
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("view", "purchase")).count()
    val joinRows = byPipe("1_stream_join").map(_._3).sum
    assert(joinRows > 0 && joinRows <= vp, s"join state $joinRows vs $vp")
    // state contents are a pure function of the finite input: the ROW
    // metrics reproduce bit-for-bit (byte sizes are engine-internal and
    // deliberately not pinned)
    val again = EventStreams.stateStoreCensus(spark, src)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(again.map(r => (r._1, r._2, r._3, r._4)) ==
      got.map(r => (r._1, r._2, r._3, r._4)))
  }

  test("parity entries leave unset shuffle.partitions and state-store " +
      "provider keys unset") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val saved = keys.map(k => k -> spark.sessionState.conf.getAllConfs.get(k))
    keys.foreach(spark.conf.unset)
    try {
      EventStreams.tumblingCountsViaStream(spark, fixture,
        queryName = "spec_conf_q309")
      EventStreams.closedSessionCensusViaStreamV2(spark, fixture,
        queryName = "spec_conf_q385")
      val left = spark.sessionState.conf.getAllConfs
      keys.foreach(k =>
        assert(!left.contains(k), s"$k left at ${left.get(k)}"))
      assert(spark.streams.active.isEmpty)
    } finally saved.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
  }

  test("a parity run whose body throws stops its queries and deletes " +
      "its checkpoint") {
    var checkpoint = Option.empty[String]
    val ex = intercept[IllegalStateException] {
      EventStreams.readState(spark) { cp =>
        checkpoint = Some(cp)
        EventStreams.drain(spark, Seq(EventStreams.Sink("spec_failing_run",
            EventStreams.tumblingTypeCounts(
              EventStreams.readEventStream(spark, fixture)),
            "complete", Some(cp))))(
          throw new IllegalStateException("bound job failed"))
      }((state, _) => state)
    }
    assert(ex.getMessage == "bound job failed")
    assert(spark.streams.active.isEmpty)
    assert(checkpoint.exists(cp => !new java.io.File(cp).exists), checkpoint)
  }

  test("state width: the q345 and q346 censuses are equal at one and " +
      "four partitions") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, expr, lit, sum}
    def drained(name: String, frame: DataFrame): DataFrame = {
      val q = frame.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      withQuery(q)(q.awaitTermination())
      spark.table(name)
    }
    def censuses(width: Int) =
      withConfs(Map("spark.sql.shuffle.partitions" -> width.toString)) {
        val pairs = drained(s"spec_width_join_$width",
            EventStreams.twoLegPairsStreaming(
              EventStreams.readEventStream(spark, fixture)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr("cast(round(combined_value * 100) as long)")))
          .orderBy("user_id").collect().map(_.toSeq).toSeq
        val sessions = drained(s"spec_width_sessions_$width",
            EventStreams.sessionizeWithState(
              EventStreams.readEventStream(spark, fixture),
              gapUs = 30L * 60 * 1000000, delay = "87600 hours").toDF())
          .groupBy("user_id")
          .agg(count(lit(1)), sum("n_events"),
            sum(expr("session_end_us - session_start_us")))
          .orderBy("user_id").collect().map(_.toSeq).toSeq
        (pairs, sessions)
      }
    val (pairs1, sessions1) = censuses(1)
    val (pairs4, sessions4) = censuses(4)
    assert(pairs1.nonEmpty && sessions1.nonEmpty)
    assert(pairs1 == pairs4)
    assert(sessions1 == sessions4)
  }
}
