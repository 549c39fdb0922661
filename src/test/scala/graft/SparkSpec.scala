package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    * each key's previous value, or unsets it. */
  protected def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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
    * order; a `tail` action is the marker, so `body` must run none. */
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
    spark.listenerManager.register(listener)
    try flushed(body, spark.range(1).tail(1), seen.exists(_._1 == "tail"))
    finally spark.listenerManager.unregister(listener)
    seen.takeWhile(_._1 != "tail")
  }

  /** The number of Spark jobs `body` starts. */
  protected def jobsOf(body: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    def inGroup(group: String)(f: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try flushed(inGroup("graft-jobs-of")(body),
      inGroup("graft-jobs-of-marker")(spark.range(1).rdd.count()),
      groups.contains("graft-jobs-of-marker"))
    finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "graft-jobs-of")
  }
}
