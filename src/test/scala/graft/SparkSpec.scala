package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBridges
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession, local[4],
  * ANSI on (the Spark 4 default the engine must survive).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it starts on this thread,
    * schema-inference jobs included.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val result = body
      TestBridges.waitUntilListenerBusEmpty(sc)
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` and returns the executed plan of every action that
    * finished while it ran.
    */
  def plansDuring[A](body: => A): (A, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      TestBridges.waitUntilListenerBusEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` and lists the stages it ran on this thread: each stage's
    * finished task count and the records its tasks wrote to files.
    */
  def stagesDuring[A](body: => A): (A, Seq[SparkSpec.StageRun]) = {
    val sc = spark.sparkContext
    val key = "graft.test.stagesDuring"
    val tag = java.util.UUID.randomUUID.toString
    val runs = new java.util.concurrent.ConcurrentHashMap[Int, SparkSpec.StageRun]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          runs.putIfAbsent(e.stageInfo.stageId,
            SparkSpec.StageRun(e.stageInfo.stageId, 0, 0L))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        runs.computeIfPresent(e.stageId, (_, r) => r.copy(
          tasks = r.tasks + 1,
          recordsWritten = r.recordsWritten + Option(e.taskMetrics)
            .fold(0L)(_.outputMetrics.recordsWritten)))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val result = body
      TestBridges.waitUntilListenerBusEmpty(sc)
      import scala.jdk.CollectionConverters._
      (result, runs.values.asScala.toSeq.sortBy(_.stageId))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  final case class StageRun(stageId: Int, tasks: Int, recordsWritten: Long)

  lazy val session: SparkSession = GraftSession.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      new java.io.File("target/tmp/warehouse").getAbsolutePath)
}
