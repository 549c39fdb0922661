package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.streaming.EventStreams

/** One `events` row as the generator appends it. */
final case class Ev(event_id: Long, ts: Long, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Open-loop ingest: one generator thread appends the seeded events at
  * their due times, one tick at a time, to an in-memory source; the
  * streaming query deduplicates by event_id within the watermark and
  * keeps running per-user totals (graft's custom-state aggregation) in
  * update mode on a 2-s processing-time trigger (well over a batch's
  * duration, so every batch takes two seconds of events). Every emitted update is
  * collected, with its emission time.
  */
final class StreamIngest(seconds: Double) extends Workload {
  val tickS = 0.05
  val triggerMs = 2000L
  val tables = Seq("events")
  private var schedule: Array[(Long, Ev)] = _

  def register(ctx: Ctx): Unit = {
    schedule = Tables.events(ctx.spark, ctx.in).collect().map { r =>
      (r.getAs[Long]("due_ns"), Ev(r.getAs[Long]("event_id"),
        r.getAs[Long]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[String]("props")))
    }.sortBy(_._1)
  }

  /** A started, primed query with the records its sink keeps. */
  private final class Run(val source: MemoryStream[Ev], val q: StreamingQuery,
                          val firstBatch: Long,
                          val emits: mutable.ArrayBuffer[Map[String, Any]],
                          val appended: AtomicLong)

  /** Starts the query and primes it: the first second of the schedule,
    * appended in two chunks as fast as the query takes them, starts its
    * state stores and compiles its plans. The generator appends these
    * events again later; the query drops them as duplicates. */
  private def start(ctx: Ctx, name: String): Run = {
    val spark = ctx.spark
    import spark.implicits._
    val emits = mutable.ArrayBuffer.empty[Map[String, Any]]
    val appended = new AtomicLong()
    val source = MemoryStream[Ev](spark)
    val deduped = EventStreams.dedupStream(source.toDF(), "event_id",
      "10 minutes").select("user_id", "ts", "event_type", "value")
    val totals = EventStreams.runningUserTotals(deduped.as[EventStreams.Event])
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      val t = ctx.now()
      emits.synchronized(emits += Map("batch_id" -> id, "emit" -> t,
        "appended" -> appended.get,
        "rows" -> rows.map(r => Seq[Any](r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSeq))
    }
    val q = totals.toDF().writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"${ctx.out}/checkpoints/$name")
      .foreachBatch(sink)
      .start()
    val first = schedule.takeWhile(_._1 < 1000000000L)
    first.grouped(math.max(1, (first.length + 1) / 2))
      .foreach { g => source.addData(g.map(_._2).toSeq); q.processAllAvailable() }
    new Run(source, q, q.lastProgress.batchId + 1, emits, appended)
  }

  /** Set-up starts the query the first pass feeds. */
  private var ready: Option[Run] = None

  def warmup(ctx: Ctx): Unit = ready = Some(start(ctx, "pass1"))

  def pass(ctx: Ctx): Boolean = {
    val ticks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var run: Run = null
    ctx.op("stream", "streaming") { _ =>
      run = ready.getOrElse(start(ctx, s"pass${ctx.pass}"))
      ready = None
      // open loop: tick k appends every event due before (k+1)·tick at
      // t0 + (k+1)·tick, however far the query has got
      val t0 = ctx.now() + 0.2
      val gen = new Thread(() => {
        val nTicks = math.ceil(seconds / tickS).toInt
        var i = 0
        (0 until nTicks).foreach { k =>
          val due = t0 + (k + 1) * tickS
          val wait = due - ctx.now()
          if (wait > 0) Thread.sleep((wait * 1000).toLong,
            ((wait * 1e9) % 1e6).toInt)
          val endNs = ((k + 1) * tickS * 1e9).toLong
          var j = i
          while (j < schedule.length && schedule(j)._1 < endNs) j += 1
          val off = run.source.addData(schedule.slice(i, j).map(_._2).toSeq)
          run.appended.incrementAndGet()
          ticks += Map("tick" -> k, "due" -> due, "at" -> ctx.now(),
            "offset" -> off.json, "events" -> (j - i))
          i = j
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      run.q.processAllAvailable()
      run.q.stop()
      ctx.checks("start:" + ctx.pass) = t0
    }.isDefined && {
      ctx.checks("run_id:" + ctx.pass) = run.q.runId.toString
      ctx.checks("first_batch:" + ctx.pass) = run.firstBatch
      ctx.checks("ticks:" + ctx.pass) = ticks.toList
      ctx.checks("emits:" + ctx.pass) = run.emits.toList
      true
    }
  }

  override def opCount(ctx: Ctx): Int =
    if (ctx.ops.nonEmpty) schedule.length else 0
}
