package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBridges
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      new java.io.File("target/tmp/warehouse").getAbsolutePath)
}
