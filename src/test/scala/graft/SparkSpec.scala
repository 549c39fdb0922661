package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (forked test JVM, one session). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder(2).appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key's previous explicit value, or unsets it
    * ([[Session.withConfs]]). */
  protected def withConfs[T](confs: Map[String, String])(body: => T): T =
    Session.withConfs(spark, confs)(body)

  /** Runs `marker` after `body` and waits until `seen` holds: the listener
    * bus delivers asynchronously but in order, so once the marker's event
    * is seen, every event of `body` has been seen too. */
  private def flushed(body: => Unit, marker: => Unit,
                      seen: => Boolean): Unit = {
    body
    marker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    assert(seen, "the listener bus never delivered the marker")
  }

  /** (name, query execution) of every listener action `body` runs, in
    * order; `tail` actions are the markers, so `body` must run none. A
    * marker also runs before `body`: an action that ended before the
    * listener was registered can still be on the bus, and it is
    * delivered ahead of that marker. */
  protected def actionsOf(body: => Unit): Seq[(String, QueryExecution)] = {
    val actions =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        actions.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        actions.add((funcName, qe))
    }
    def seen = actions.toArray(Array.empty[(String, QueryExecution)]).toSeq
    def markers = seen.count(_._1 == "tail")
    spark.listenerManager.register(listener)
    try {
      flushed((), spark.range(1).tail(1), markers == 1)
      flushed(body, spark.range(1).tail(1), markers == 2)
    } finally spark.listenerManager.unregister(listener)
    seen.dropWhile(_._1 != "tail").drop(1).takeWhile(_._1 != "tail")
  }

  private def inGroup(group: String)(f: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
  }

  /** The number of Spark jobs `body` starts. */
  protected def jobsOf(body: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try flushed(inGroup("graft-jobs-of")(body),
      inGroup("graft-jobs-of-marker")(spark.range(1).rdd.count()),
      groups.contains("graft-jobs-of-marker"))
    finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "graft-jobs-of")
  }

  /** The stage id of every map stage `body` completes (a stage that wrote
    * shuffle output), in completion order; a map stage whose output a job
    * reuses is skipped and absent, one that runs again appears again.
    */
  protected def mapStagesOf(body: => Unit): Seq[Int] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") ==
            "graft-map-stages-marker") marked = true
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        if (!marked && info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          stages.add(info.stageId)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try flushed(body,
      inGroup("graft-map-stages-marker")(spark.range(1).rdd.count()),
      marked)
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }
}
