package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.perfbench.Main.{OpSpan, PassTrace}

/** Derives the per-layer metrics of one traced pass from its spans and
  * stage counters. Additive counters are summed over the pass's ops;
  * ratios are recomputed from the sums.
  */
object Layers {
  val indexSteps = Seq(
    "Similarity.build", "Similarity.delete", "Similarity.probe",
    "Dedup.build", "Dedup.delete", "Dedup.compact")

  val maintenance = Seq("MaintenanceIo.bytes_written_mb",
    "MaintenanceIo.files_written", "MaintenanceIo.write_amp",
    "MaintenanceIo.live_generations", "MaintenanceIo.epoch")

  /** Metrics measured per op, in report order. */
  val perOp = Seq(
    "SparkEntry.construct_s", "SparkEntry.execute_s",
    "catalyst.plan_s", "catalyst.actions",
    "scheduler.jobs", "scheduler.stages", "scheduler.driver_floor_s",
    "executor.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.core_util", "executor.one_task_stages", "executor.skew_max",
    "exchange.shuffle_write_mb", "exchange.shuffle_read_mb",
    "exchange.spill_mb",
    "Tables.input_mb", "Tables.input_rows", "Tables.rows_read_per_result",
    "self.construct_s", "self.execute_s", "self.job_s",
    "self.stage_s")

  val names: Seq[String] = perOp ++ Seq("ml.fit_s", "ml.core_util",
    "self.pass_s") ++ indexSteps.map(_ + "_s") ++ maintenance ++
    Seq("trace.wall_s", "trace.overhead_pct")

  def unit(n: String): String =
    if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_pct")) "%"
    else if (n.endsWith("_util") || n.endsWith("_amp") ||
             n.endsWith("_per_result") || n.endsWith("skew_max")) "ratio"
    else "count"

  private def ms(x: Double) = x / 1000

  def opMetrics(o: OpSpan, t: Tracer, cores: Int,
                resultRows: Long): Map[String, Double] = {
    val js = t.jobs.filter(_.op == o.id).toSeq
    val ss = t.stages.filter(_.op == o.id).toSeq
    val as = t.actions.filter(_.op == o.id).toSeq
    val wall = ms(o.end - o.start)
    def jobsIn(phase: String) =
      js.filter(_.phase == phase).map(j => (j.start, j.end))
    val runS = ss.map(_.runMs).sum / 1000.0
    val inRows = as.map(_.scanRows).sum.toDouble
    Map(
      "wall_s" -> wall,
      "SparkEntry.construct_s" -> ms(o.constructEnd - o.start),
      "SparkEntry.execute_s" -> ms(o.end - o.constructEnd),
      "catalyst.plan_s" -> ms(as.map(_.planMs).sum),
      "catalyst.actions" -> as.size.toDouble,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.driver_floor_s" -> ms(o.end - o.start -
        Tracer.covered(js.map(j => (j.start, j.end)), o.start, o.end)),
      "executor.tasks" -> ss.map(_.tasks).sum.toDouble,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "executor.core_util" -> runS / math.max(wall * cores, 1e-9),
      "executor.one_task_stages" -> ss.count(_.tasks == 1).toDouble,
      "executor.skew_max" -> (ss.map(_.skew) :+ 1.0).max,
      "exchange.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
      "exchange.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
      "exchange.spill_mb" -> ss.map(_.spill).sum / 1e6,
      "Tables.input_mb" -> as.map(_.scanBytes).sum / 1e6,
      "Tables.input_rows" -> inRows,
      "Tables.result_rows" -> resultRows.toDouble,
      "Tables.rows_read_per_result" -> inRows / math.max(1L, resultRows),
      "self.construct_s" -> ms(o.constructEnd - o.start -
        Tracer.covered(jobsIn("construct"), o.start, o.constructEnd)),
      "self.execute_s" -> ms(o.end - o.constructEnd -
        Tracer.covered(jobsIn("execute"), o.constructEnd, o.end)),
      "self.job_s" -> ms(js.map { j =>
        j.end - j.start - Tracer.covered(
          ss.filter(_.job == j.id).map(s => (s.start, s.end)), j.start, j.end)
      }.sum),
      "self.stage_s" -> ms(ss.map(s => s.end - s.start).sum),
      "ml.run_s" -> ss.filter(_.phase == "construct").map(_.runMs).sum / 1000.0)
  }

  def passMetrics(t: PassTrace, cores: Int, resultRows: Map[String, Long],
                  gauges: Map[String, Double]): Map[String, Double] = {
    val ops = t.ops.map(o => o -> opMetrics(o, t.tracer, cores,
      resultRows.getOrElse(o.name, 0L)))
    def sum(k: String) = ops.map(_._2(k)).sum
    val wall = sum("wall_s")
    val ml = ops.filter(_._1.name.contains("_ml_"))
    val mlFit = ml.map(_._2("SparkEntry.construct_s")).sum
    val steps = ops.map { case (o, m) => s"${o.name}_s" -> m("wall_s") }.toMap
    perOp.map(k => k -> sum(k)).toMap ++ Map(
      "executor.core_util" -> sum("executor.run_s") / math.max(wall * cores, 1e-9),
      "executor.skew_max" -> ops.map(_._2("executor.skew_max")).max,
      "Tables.rows_read_per_result" ->
        sum("Tables.input_rows") / math.max(1.0, sum("Tables.result_rows")),
      "ml.fit_s" -> mlFit,
      "ml.core_util" -> ml.map(_._2("ml.run_s")).sum / math.max(mlFit * cores, 1e-9),
      "self.pass_s" -> ms(t.end - t.start -
        Tracer.covered(t.ops.map(o => (o.start, o.end)), t.start, t.end))
    ) ++ indexSteps.map(s => s"${s}_s" -> steps.getOrElse(s"${s}_s", 0.0)) ++
      maintenance.map(k => k -> gauges.getOrElse(k, 0.0))
  }

  /** One line per op of a traced pass, for the printed report. */
  def opTable(t: PassTrace, cores: Int,
              resultRows: Map[String, Long]): Seq[String] = {
    val header = f"${"op"}%-34s ${"wall"}%7s ${"constr"}%7s ${"exec"}%6s " +
      f"${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"util"}%5s " +
      f"${"1task"}%5s ${"skew"}%6s ${"shufMB"}%7s ${"inMB"}%7s ${"floor"}%6s"
    header +:
    t.ops.map { o =>
      val m = opMetrics(o, t.tracer, cores, resultRows.getOrElse(o.name, 0L))
      f"${o.name}%-34s ${m("wall_s")}%7.3f ${m("SparkEntry.construct_s")}%7.3f " +
        f"${m("SparkEntry.execute_s")}%6.3f ${m("scheduler.jobs")}%5.0f " +
        f"${m("scheduler.stages")}%6.0f ${m("executor.tasks")}%6.0f " +
        f"${m("executor.core_util")}%5.2f ${m("executor.one_task_stages")}%5.0f " +
        f"${m("executor.skew_max")}%6.1f ${m("exchange.shuffle_write_mb")}%7.2f " +
        f"${m("Tables.input_mb")}%7.2f ${m("scheduler.driver_floor_s")}%6.3f"
    }
  }

  /** Spans (run → pass → op → construct/execute → job → stage), stage
    * counters and per-op metrics of every traced pass, written once.
    */
  def writeTrace(path: String, passes: Seq[PassTrace], cores: Int,
                 resultRows: Map[String, Long]): Unit = {
    val spans = Seq.newBuilder[ListMap[String, Any]]
    var nextId = 0
    def span(kind: String, name: String, op: Int, parent: Int,
             start: Double, end: Double): Int = {
      val id = nextId; nextId += 1
      spans += ListMap("id" -> id, "kind" -> kind, "name" -> name, "op" -> op,
        "parent" -> parent, "start" -> start, "end" -> end)
      id
    }
    val run = span("run", "traced", -1, -1, passes.head.start, passes.last.end)
    passes.foreach { t =>
      val ps = span("pass", "pass", -1, run, t.start, t.end)
      t.ops.foreach { o =>
        val os = span("op", o.name, o.id, ps, o.start, o.end)
        val phases = Map(
          "construct" -> span("construct", o.name, o.id, os, o.start, o.constructEnd),
          "execute" -> span("execute", o.name, o.id, os, o.constructEnd, o.end))
        t.tracer.jobs.filter(_.op == o.id).foreach { j =>
          val js = span("job", s"job ${j.id}", o.id,
            phases.getOrElse(j.phase, os), j.start, j.end)
          t.tracer.stages.filter(s => s.op == o.id && s.job == j.id).foreach { s =>
            span("stage", s"stage ${s.id}", o.id, js, s.start, s.end)
          }
        }
      }
    }
    val stages = passes.flatMap(_.tracer.stages).map { s =>
      ListMap("stage" -> s.id, "op" -> s.op, "job" -> s.job, "phase" -> s.phase,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill, "skew" -> s.skew)
    }
    val ops = passes.flatMap(t => t.ops.map { o =>
      ListMap[String, Any]("op" -> o.name, "id" -> o.id) ++
        opMetrics(o, t.tracer, cores, resultRows.getOrElse(o.name, 0L))
          .toSeq.sortBy(_._1).map { case (k, v) => k -> finite(v) }
    })
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Json.write(path, ListMap("spans" -> spans.result(), "stages" -> stages,
      "ops" -> ops))
  }

  /** Non-finite values (an empty ratio) are written as 0. */
  def finite(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v
}

/** JSON output through the Jackson mapper that ships with Spark. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}
