package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <scratch dir> --cores <n>
  *      --expected <dir> --out <result.json> [--trace-out <trace.json>]
  * }}}
  *
  * Set-up (stop any session, empty the `cachedBuild` artifact directory,
  * start a session, run one warm-up query) first runs once from JVM
  * start, which loads and compiles the classes later starts reuse, and
  * then [[SetupRounds]] more times in the running JVM. `startup_s` is
  * the first, from process start until the session is ready; `setup_s`
  * is the median of the later rounds, which all time the same work. Then one
  * cold pass, [[WarmUpPasses]] unmeasured passes, and warm passes until
  * `--seconds` have passed (at least the workload's `minPasses`).
  * Each op is timed from its call into the program to the end of its
  * execution; the cache is cleared and a GC requested between ops,
  * outside the timing, as `graft.Bench` does. `wall_s` is the sum of
  * the ops' fastest warm times: on a shared host, a pass during which
  * other machines take the CPUs away runs up to 1.8x slower, and the
  * fastest run of an op is the one least disturbed. The results of the
  * last pass are checked after all timed passes.
  *
  * With `--trace 1` warm passes alternate untraced and traced; only the
  * traced ones carry listeners, and their medians give the per-layer
  * metrics. The difference of the two medians is the tracing overhead.
  */
object Main {
  val SetupRounds = 3
  val WarmUpPasses = 2

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds, at nanoTime resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class OpSpan(id: Int, name: String, start: Double,
                          constructEnd: Double, end: Double)
  final case class PassTrace(start: Double, end: Double, ops: Seq[OpSpan],
                             tracer: Tracer)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("data"), a("work"), a("seed").toLong, a("cores").toInt)
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val wl = Workloads(a("workload"), a("expected"))

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${ctx.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", ctx.cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${ctx.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- set-up -----------------------------------------------------
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    def setUp(): Unit = {
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      IndexMaint.deleteTree(Paths.get(ctx.work, "target"))
      ctx.spark = newSession()
      noop(SparkEntry.queries("q01_pricing_summary")(ctx.spark, ctx.data))
    }
    setUp()
    val firstSetup = (nowMs - jvmStart) / 1000
    val setups = (1 to SetupRounds).map { _ =>
      val t0 = nowMs
      setUp()
      (nowMs - t0) / 1000
    }
    wl.init(ctx)

    // ---- timed passes -----------------------------------------------
    def errMsg(e: Throwable): String = s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.find(_.nonEmpty)
        .getOrElse("")

    val passPeakRss = mutable.ArrayBuffer.empty[Double]
    val passSteal = mutable.ArrayBuffer.empty[Double]
    def runPass(p: Int, tracer: Option[Tracer]): (Seq[StepRun], Option[PassTrace]) = {
      val spark = ctx.spark
      val sc = spark.sparkContext
      val steps = wl.pass(ctx, p)
      resetPeakRss()
      tracer.foreach(t => Tracer.attach(sc, t, spark))
      val spans = mutable.ArrayBuffer.empty[OpSpan]
      val pStart = nowMs
      val steal0 = stealS()
      val runs = steps.zipWithIndex.map { case (st, i) =>
        spark.catalog.clearCache()
        System.gc()
        val id = p * 1000 + i
        tracer.foreach(_.currentOp = id)
        sc.setLocalProperty(Tracer.OpKey, id.toString)
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val t0 = nowMs
        var t1 = t0
        val run = try {
          val out = st.construct()
          t1 = nowMs
          sc.setLocalProperty(Tracer.PhaseKey, "execute")
          val rows = out.map(_.collect())
          val t2 = nowMs
          StepRun(st.name, (t1 - t0) / 1000, (t2 - t1) / 1000, None, rows)
        } catch { case e: Throwable =>
          val t2 = nowMs
          System.err.println(s"[perfbench] ${st.name} failed: ${errMsg(e)}")
          if (t1 == t0) t1 = t2
          StepRun(st.name, (t1 - t0) / 1000, (t2 - t1) / 1000,
            Some(errMsg(e)), None)
        }
        spans += OpSpan(id, st.name, t0, t0 + run.constructS * 1000,
          t0 + run.totalS * 1000)
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
        tracer.foreach(_ => org.apache.spark.perfbench.BusBridge.drain(sc))
        wl.afterStep(ctx, st.name)
        run
      }
      val pEnd = nowMs
      passSteal += stealS() - steal0
      passPeakRss += peakRssMb()
      tracer.foreach(t => Tracer.detach(sc, t, spark))
      wl.afterPass(ctx, p)
      (runs, tracer.map(t => PassTrace(pStart, pEnd, spans.toSeq, t)))
    }

    val (cold, _) = runPass(0, None)
    // The JIT is still compiling the ops' code after the cold pass and the
    // next passes run 10-25% slower than later ones, so they are left out.
    val warmUp = (1 to WarmUpPasses).map(runPass(_, None)._1)
    val warm = mutable.ArrayBuffer.empty[Seq[StepRun]]
    val traced = mutable.ArrayBuffer.empty[(Seq[StepRun], PassTrace)]
    val measureStart = nowMs
    var p = 1 + WarmUpPasses
    while (warm.size + traced.size < wl.minPasses || (trace && traced.isEmpty) ||
           nowMs - measureStart < seconds * 1000) {
      if (trace && p % 2 == 0) {
        val (r, t) = runPass(p, Some(new Tracer))
        traced += ((r, t.get))
      } else warm += runPass(p, None)._1
      p += 1
    }
    val last = if (trace && p % 2 == 1) traced.last._1 else warm.last

    // ---- untimed result checks ----------------------------------------
    val checks = try wl.check(ctx, last) catch { case e: Throwable =>
      Seq("checks" -> Some(errMsg(e))) }
    checks.collect { case (n, Some(why)) =>
      System.err.println(s"[perfbench] check $n failed: $why") }

    val allRuns = cold ++ warmUp.flatten ++ warm.flatten ++ traced.flatMap(_._1)
    val attempted = allRuns.size + checks.size
    val failed = allRuns.count(_.err.isDefined) + checks.count(_._2.isDefined)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val passTotal = (rs: Seq[StepRun]) => rs.map(_.totalS).sum
    val opTimes = warm.flatten.groupBy(_.name).view
      .mapValues(_.map(_.totalS).toSeq).toMap
    val opBest = opTimes.view.mapValues(_.min).toMap
    val report = mutable.ArrayBuffer.empty[String]
    report += f"set-up from JVM start $firstSetup%.3f s; " +
      s"rounds (s): ${setups.map(x => f"$x%.3f").mkString(" ")}"
    report += f"cold pass ${passTotal(cold)}%.3f s; warm-up passes (s): " +
      warmUp.map(r => f"${passTotal(r)}%.3f").mkString(" ") +
      "; warm passes (s): " + warm.map(r => f"${passTotal(r)}%.3f").mkString(" ")
    report += "host steal per pass (cpu-s): " +
      passSteal.map(x => f"$x%.2f").mkString(" ")
    opTimes.toSeq.sortBy(_._1).foreach { case (n, ts) =>
      report += f"  op $n%-34s fastest ${ts.min}%.3f s, median ${median(ts)}%.3f s" }
    report += f"fail_ratio ${failed.toDouble / attempted}%.4f fraction " +
      s"($failed of $attempted ops and checks)"

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups), "s"),
        ("startup_s", firstSetup, "s"),
        ("cold_pass_s", passTotal(cold), "s"),
        ("wall_s", opBest.values.sum, "s"),
        ("geomean_op_s", math.exp(opBest.values
          .map(v => math.log(math.max(v, 1e-6))).sum / opBest.size), "s"),
        ("ok_ratio", 1.0 - failed.toDouble / attempted, "fraction"),
        ("peak_rss_mb", median(passPeakRss.drop(1 + WarmUpPasses).toSeq), "MB"))
      else {
        val resultRows = last.map(r => r.name ->
          r.rows.map(_.length.toLong).getOrElse(0L)).toMap
        val perPass = traced.toSeq.map { case (_, t) =>
          Layers.passMetrics(t, ctx.cores, resultRows, wl.gauges) }
        val keys = Layers.names
        val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
        val untracedWall = median(warm.map(passTotal).toSeq)
        val tracedWall = median(traced.map(t => passTotal(t._1)).toSeq)
        a.get("trace-out").foreach(path =>
          Layers.writeTrace(path, traced.toSeq.map(_._2), ctx.cores, resultRows))
        Layers.opTable(traced.last._2, ctx.cores, resultRows).foreach(report += _)
        keys.map(k => (k, k match {
          case "trace.overhead_pct" =>
            (tracedWall - untracedWall) / untracedWall * 100
          case "trace.wall_s" => tracedWall
          case _ => med(k)
        }, Layers.unit(k)))
      }

    Json.write(a("out"), ListMap("correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> Layers.finite(v), "unit" -> u) }: _*),
      "report" -> report.toSeq))
    ctx.spark.stop()
  }

  /** The process's peak resident set since the last [[resetPeakRss]]
    * (VmHWM), in MB.
    */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(-1.0)

  /** CPU seconds the host has taken from this machine's CPUs (steal in
    * `/proc/stat`), to tell a slow pass on a busy host from a slow program.
    */
  def stealS(): Double = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    .trim.split("\\s+")(8).toDouble / 100

  /** Lowers VmHWM to the current resident set (Linux `clear_refs` 5). */
  def resetPeakRss(): Unit =
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
}
