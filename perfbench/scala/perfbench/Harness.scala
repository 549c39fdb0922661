package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run state shared by the harness and the workloads: the session, the
  * listeners, the operation and span records, and the outputs the checks
  * read. Times are seconds since `epochMs0` (wall clock), measured with
  * `System.nanoTime`.
  */
final class Ctx(val in: String, val out: String, val seed: Long,
                val cpus: Int) {
  private val nano0 = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9

  var spark: SparkSession = _
  val actions = new ActionLog
  val jobLog = new JobLog
  val progress = new ProgressLog
  /** Set while a traced pass runs; jobs then carry their operation's id. */
  var tracer: Option[Tracer] = None
  val tracers = mutable.ArrayBuffer.empty[Tracer]

  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
  var pass = 0
  private var opSeq = 0

  def span(id: String, parent: String, layer: String, name: String,
           start: Double, end: Double): Unit =
    spans += Map("id" -> id, "parent" -> parent, "layer" -> layer,
      "name" -> name, "start" -> start, "end" -> end)

  def drainBus(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** One operation: a call into a graft layer. Times it, charges its
    * Spark jobs to its id when traced, and records the actions it ran.
    * A thrown call is recorded as failed and yields None.
    */
  def op[T](name: String, layer: String)(f: String => T): Option[T] = {
    opSeq += 1
    val id = s"op$opSeq"
    val sc = spark.sparkContext
    if (tracer.isDefined) sc.setJobGroup(id, name, interruptOnCancel = false)
    actions.take()
    jobLog.take()
    val t0 = now()
    val res = try Right(f(id)) catch { case NonFatal(e) => Left(e) }
    val t1 = now()
    if (tracer.isDefined) sc.clearJobGroup()
    drainBus()
    val acts = actions.take()
    val jobs = jobLog.take()
    res.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    ops += Map("id" -> id, "pass" -> pass, "name" -> name, "layer" -> layer,
      "start" -> t0, "end" -> t1, "ok" -> res.isRight,
      "traced" -> tracer.isDefined,
      "actions" -> acts.map(a => Map("name" -> a._1, "s" -> a._2, "ok" -> a._3)),
      "jobs" -> jobs.map(j => Map("s" -> j._1, "ok" -> j._2)))
    if (tracer.isDefined) span(id, s"pass$pass", layer, name, t0, t1)
    res.toOption
  }

  /** An ops-layer call's planning step: the call that builds `df`, plus
    * its physical plan forced in traced runs. */
  def planned(opId: String)(df: => DataFrame): DataFrame =
    sub(opId, "plan", "ops") {
      val d = df
      if (tracer.isDefined) d.queryExecution.executedPlan
      d
    }

  /** A timed sub-step of a traced operation (plan vs execute). */
  def sub[T](opId: String, name: String, layer: String)(f: => T): T = {
    val t0 = now()
    val r = f
    if (tracer.isDefined) span(s"$opId.$name", opId, layer, name, t0, now())
    r
  }
}

/** One workload: inputs registered at set-up, a warm-up, and passes. */
trait Workload {
  /** Operation latency samples a run must collect before it may stop. */
  def minOps: Int = 8
  /** Passes a run must complete; a traced run alternates untraced and
    * traced passes, so it needs one of each. */
  def minPasses(trace: Boolean): Int = if (trace) 2 else 1
  /** The tables `register` loads through graft.Tables. */
  def tables: Seq[String]
  def register(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit
  /** A complete pass; false when one of its operations failed. */
  def pass(ctx: Ctx): Boolean
  /** Operation latency samples of the passes run so far: Spark jobs. */
  def opCount(ctx: Ctx): Int =
    ctx.ops.map(_("jobs").asInstanceOf[Seq[_]].length).sum
  /** Traced runs: kernel-only probes timed outside the pass. */
  def probe(ctx: Ctx): Unit = ()
  /** Untimed checks after the last pass. */
  def finish(ctx: Ctx): Unit = ()
}

object Harness {
  def newSession(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toLong)
      // graft.Bench's posture: byte-targeted AQE coalescing, no UI, the
      // nanos flag the events loader requires, and a UTC session
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${ctx.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.out}/warehouse")
      .config("spark.sql.streaming.checkpointLocation",
        s"${ctx.out}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(ctx.actions)
    spark.sparkContext.addSparkListener(ctx.jobLog)
    spark.streams.addListener(ctx.progress)
    spark
  }

  private def loadAvg(): String =
    try scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)
    catch { case NonFatal(_) => "unavailable" }

  private def procStatusMb(key: String): Double =
    try scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status")) { src =>
        src.getLines().find(_.startsWith(key + ":"))
          .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      }
    catch { case NonFatal(_) => -1.0 }

  /** Largest heap in use right after a garbage collection (the live
    * data's high-water mark), from the collectors' notifications. */
  private object PostGcHeap {
    @volatile var peakMb = 0.0
    def watch(): Unit = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification,
                                     _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[
                  javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if !pool.contains("Metaspace") &&
                  !pool.contains("Code") && !pool.contains("Class") =>
                  u.getUsed }.sum / 1048576.0
              synchronized { peakMb = math.max(peakMb, used) }
            }
          }, null, null)
        case _ => ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(name, in, out, secondsS, traceS, seedS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(in, out, seedS.toLong, cpus)
    val wl: Workload = name match {
      case "olap" => new Olap
      case "corpus" => new Corpus
      case "kmeans_sweep" => new KmeansSweep
      case "stream_ingest" => new StreamIngest(seconds)
    }
    val loadStart = loadAvg()
    PostGcHeap.watch()
    // Set-up: from JVM start through the session, input registration and
    // the warm-up pass, to the first timed operation.
    ctx.spark = newSession(ctx)
    wl.register(ctx)
    wl.warmup(ctx)
    ctx.drainBus()
    ctx.actions.take()
    ctx.jobLog.take()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    ctx.progress.synchronized(ctx.progress.batches.clear())

    // Timed passes: until `seconds` have passed, enough passes
    // completed and enough operations were sampled — within a hard cap.
    // A traced run alternates untraced and traced passes, so the pass
    // time difference between the two is the tracing overhead.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = ctx.now()
    val hardCap = seconds + 90
    def elapsed = ctx.now() - t0
    while ((elapsed < seconds || passes.length < wl.minPasses(trace) ||
        wl.opCount(ctx) < wl.minOps) && elapsed < hardCap) {
      ctx.pass += 1
      val traced = trace && ctx.pass % 2 == 0
      if (traced) {
        val t = new Tracer
        ctx.spark.sparkContext.addSparkListener(t)
        ctx.tracer = Some(t)
        ctx.tracers += t
      }
      val p0 = ctx.now()
      val ok = wl.pass(ctx)
      val p1 = ctx.now()
      if (traced) {
        ctx.span(s"pass${ctx.pass}", "workload", "bench", "pass", p0, p1)
        wl.tables.foreach { t =>
          val l0 = ctx.now()
          graft.Tables.load(ctx.spark, in, t).schema
          ctx.probes += Map("layer" -> "tables", "name" -> s"load:$t",
            "s" -> (ctx.now() - l0), "rows" -> 0L)
        }
        wl.probe(ctx)
        ctx.drainBus()
        ctx.spark.sparkContext.removeSparkListener(ctx.tracer.get)
        ctx.tracer = None
      }
      passes += Map("n" -> ctx.pass, "start" -> p0, "end" -> p1,
        "ok" -> ok, "traced" -> traced)
      ctx.spark.catalog.clearCache()
    }
    if (trace) ctx.span("workload", null, "bench", name, t0, ctx.now())
    wl.finish(ctx)
    ctx.drainBus()
    val result = Map(
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cpus,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> ctx.spark.version,
      "shuffle_partitions" ->
        ctx.spark.conf.get("spark.sql.shuffle.partitions"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "epoch_ms0" -> ctx.epochMs0, "setup_s" -> setupS,
      "measure_start" -> t0, "measure_end" -> ctx.now(),
      "passes" -> passes, "ops" -> ctx.ops, "spans" -> ctx.spans,
      "checks" -> ctx.checks, "probes" -> ctx.probes,
      "progress" -> ctx.progress.synchronized(ctx.progress.batches.toList),
      "tracer" -> ctx.tracers.map(_.dump()),
      "peak_rss_mb" -> procStatusMb("VmHWM"),
      "peak_post_gc_heap_mb" -> PostGcHeap.peakMb)
    ctx.spark.stop()
    val f = new java.io.File(out, "result.json")
    java.nio.file.Files.write(f.toPath,
      Json.render(result).getBytes("UTF-8"))
  }
}
