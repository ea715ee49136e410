package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage counters, read from the stage's aggregated task metrics. */
final case class StageRec(id: Int, op: Int, phase: String, job: Int,
                          tasks: Int, start: Double, end: Double,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, taskMs: Array[Long]) {
  /** Longest task over the median task, for stages with 2+ tasks. */
  def skew: Double =
    if (taskMs.length < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2)).toDouble
    }
}

final case class JobRec(id: Int, op: Int, phase: String, start: Double,
                        end: Double)

/** Actions seen by the QueryExecutionListener: planning-phase time and
  * what the action's file scans read (the scan nodes' "size of files
  * read" and "number of output rows" SQL metrics).
  */
final case class ActionRec(op: Int, planMs: Double, scanBytes: Long,
                           scanRows: Long)

/** Listener side of a traced run. Everything stays in memory; the run
  * writes it out once at the end. Jobs and stages are attributed to an
  * op through the local properties the benchmark sets on the driver
  * thread (`perfbench.op`, `perfbench.phase`), which Spark copies into
  * each job's and stage's submission properties. Actions carry no such
  * property, so they are attributed to the op running when their
  * callback arrives; the benchmark drains the listener bus after every
  * op, so a callback can never land on the next op.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: Int = -1
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val actions = mutable.ArrayBuffer.empty[ActionRec]
  private val jobStart = mutable.Map.empty[Int, (Int, String, Double)]
  private val stageOf = mutable.Map.empty[Int, (Int, String, Int)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def opOf(p: java.util.Properties): (Int, String) =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.OpKey))) match {
      case Some(o) => (o.toInt,
        Option(p.getProperty(Tracer.PhaseKey)).getOrElse("execute"))
      case None => (currentOp, "execute")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, phase) = opOf(e.properties)
    jobStart(e.jobId) = (op, phase, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, phase, t0) =>
      jobs += JobRec(e.jobId, op, phase, t0, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val (op, phase) = opOf(e.properties)
      stageOf(e.stageInfo.stageId) =
        (op, phase, stageJob.getOrElse(e.stageInfo.stageId, -1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (op, phase, job) = stageOf.getOrElse(i.stageId,
        (currentOp, "execute", stageJob.getOrElse(i.stageId, -1)))
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      stages += StageRec(i.stageId, op, phase, job, i.numTasks,
        i.submissionTime.getOrElse(end).toDouble, end.toDouble,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled,
        taskMs.remove(i.stageId).map(_.toArray).getOrElse(Array.empty))
    }

  private def action(qe: QueryExecution): Unit = synchronized {
    val planMs = qe.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val scans = Tracer.nodes(qe.executedPlan).collect {
      case f: FileSourceScanExec => f }
    def metric(f: FileSourceScanExec, k: String) =
      f.metrics.get(k).map(_.value).getOrElse(0L)
    actions += ActionRec(currentOp, planMs,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = action(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = action(qe)
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Every node of an executed plan, looking through adaptive plans,
    * query stages, command results and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def attach(sc: SparkContext, t: Tracer,
             spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(sc: SparkContext, t: Tracer,
             spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.perfbench.BusBridge.drain(sc)
    spark.listenerManager.unregister(t)
    sc.removeSparkListener(t)
  }
}
