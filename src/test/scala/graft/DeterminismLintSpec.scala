package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Sort, Window => WindowNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Regression gate for the oracle determinism rules (SparkEntry scaladoc):
  * every oracle-checkable query must (a) end in a GLOBAL Sort — the total
  * ORDER BY the hash-compare depends on — unless it can produce at most one
  * row, and (b) contain no Sum/Average over raw floating-point input, whose
  * result depends on partition order and silently reopens hash-flakiness.
  * One carelessly-written new query previously could only be caught by a
  * flaky red several rounds later; this spec catches it at `sbt test` time.
  *
  * Scope is exactly the registry records with an oracle: golden-pinned
  * ML/split queries are checked by GoldenSpec against stored outputs instead
  * (their determinism argument is seeded fits + rounding, not hash-stable
  * plans).
  */
class DeterminismLintSpec extends SparkSpec {

  private def lint(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val errs = Seq.newBuilder[String]
    // a Limit above a global Sort stays deterministic (the sort's
    // tiebreaks pin which rows survive the cut) — unwrap it
    def stripLimit(p: LogicalPlan): LogicalPlan = p match {
      case l: GlobalLimit => stripLimit(l.child)
      case l: LocalLimit => stripLimit(l.child)
      case other => other
    }
    val sortOk = stripLimit(plan) match {
      case s: Sort => s.global
      case p => p.maxRows.exists(_ <= 1L)
    }
    if (!sortOk)
      errs += "no global Sort at the plan root (result order unpinned)"
    def checkAggs(exprs: Seq[Expression], where: String): Unit =
      exprs.foreach(_.foreach {
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case f @ (_: Sum | _: Average)
                if f.children.exists(c =>
                  c.dataType == DoubleType || c.dataType == FloatType) =>
              errs += s"order-dependent float ${f.prettyName} in $where " +
                s"(decimal-cast the input): ${ae.sql}"
            case _ => ()
          }
        case _ => ()
      })
    plan.foreach {
      case a: Aggregate => checkAggs(a.aggregateExpressions, "Aggregate")
      case w: WindowNode => checkAggs(w.windowExpressions, "Window")
      case _ => ()
    }
    errs.result()
  }

  test("every oracle-checkable query obeys the determinism rules") {
    val failures = queries.QueryRegistry.all.filter(_.oracle.nonEmpty)
      .sortBy(_.name).flatMap { q =>
        lint(q.declared(spark, sf0001)).map(e => s"${q.name}: $e")
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the lint actually fires on a deliberately-broken query") {
    val broken = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("s"), avg(col("l_discount")).as("a"))
    val errs = lint(broken)
    assert(errs.exists(_.contains("no global Sort")), errs.toString)
    assert(errs.count(_.contains("order-dependent float")) == 2,
      errs.toString)
    // and the fixed form passes
    val fixed = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(operators.Relational.decSum(col("l_quantity")).as("s"))
      .orderBy("l_returnflag")
    assert(lint(fixed).isEmpty, lint(fixed).toString)
  }

  test("no serving query runs an in-line corpus-linear recall audit " +
      "(round-17 verdict #1: certificates, not per-query brute force)") {
    // The production-probe rows (q164/q169/q173) must enforce their
    // recall floors by READING the persisted certificate, never by
    // re-running ivfRecallAtK / an exhaustive-decisions pass inside the
    // serving query. Source-level pin: the query layer may not reference
    // the audit primitive at all — it lives in the mutation/certification
    // layer (Similarity.certifyIvfIndex, Dedup.certifyDecisionRecall)
    // and in specs.
    // The query layer is SparkEntry plus every registry file.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get("src/main/scala/graft/queries"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq :+
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")
    val scanned = files.map(_.getFileName.toString).toSet
    val families = Seq("Relational", "Event", "Dedup", "Similarity", "Graph",
      "Text", "Ml").map(f => s"${f}Queries.scala")
    assert((families :+ "SparkEntry.scala").forall(scanned),
      s"the pin scans $scanned, missing a query family file")
    val offenders = files.filter(p =>
      java.nio.file.Files.readString(p).contains("ivfRecallAtK"))
    assert(offenders.isEmpty,
      s"${offenders.mkString(", ")} references ivfRecallAtK — a serving " +
        "query regressed to the in-line corpus-linear audit; read the " +
        "stored recall certificate instead (requireCertifiedRecall)")
  }

  test("every parquet read goes through Tables.parquet (no schema job)") {
    // spark.read.parquet infers its schema in a Spark job; Tables.parquet
    // reads the same footer on the driver. A new read site must not bring
    // the job back, so only Tables.scala may call the reader directly.
    import scala.jdk.CollectionConverters._
    val readParquet = """\.read\s*\.parquet\(""".r
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Tables.scala")
      .filter(p => readParquet.findFirstIn(
        java.nio.file.Files.readString(p)).isDefined)
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"read.parquet( outside Tables.scala: ${offenders.mkString(", ")}")
  }

  test("every KMeans fit goes through KMeansFit (no 25-job fit)") {
    // KMeansFit.fit runs a driver-sized fit in two jobs and falls back to
    // est.fit otherwise; a direct .fit( on a KMeans estimator would bring
    // the ~25 one-task jobs back, so only the fit entry may call it
    import scala.jdk.CollectionConverters._
    assert(fitsKMeansDirectly("val km = new KMeans().setK(3)\n  km.fit(df)"))
    assert(fitsKMeansDirectly("new KMeans().setK(k).setSeed(s)\n      .fit(train)"))
    assert(!fitsKMeansDirectly("val km = new KMeans().setK(3)\nKMeansFit.fit(km, df)"))
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "KMeansFit.scala")
      .filter(p => fitsKMeansDirectly(java.nio.file.Files.readString(p)))
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"KMeans .fit( outside KMeansFit.scala: ${offenders.mkString(", ")}")
  }

  test("tombstone writes and max-epoch views live only in MaintenanceIo") {
    // MaintenanceIo.tombstone / .live hold the one epoch rule of the IVF,
    // LSH and inverted indexes; a family writing its own tombstone
    // generation, reading the tombstone table itself or building a
    // max-epoch view would drift from it (live is an anti join, so no
    // max-epoch view is left anywhere). SimGraphIndex keeps a tombstone
    // generation of its own: its rows carry no epoch, so its set is
    // epoch-less and its readers anti-join it directly.
    import scala.jdk.CollectionConverters._
    assert(maxEpochView("""te = t.groupBy("id").agg(max("epoch").as("e"))"""))
    assert(tombstoneGen("""getOrElse("tombstones",
      MaintenanceIo.nextGen(path, "tombstones"))"""))
    assert(tombstoneRead("""Tables.parquet(sp, snap("tombstones"))"""))
    assert(tombstoneRead("""s"$root/${m.tables("tombstones")}""""))
    assert(tombstoneRead("""MaintenanceIo.snapshot(p) ( "tombstones" )"""))
    assert(tombstoneRead("""snap.get("tombstones").fold(rows)(f)"""))
    assert(!maxEpochView("""MaintenanceIo.live(rows, snap, "id")"""))
    assert(!tombstoneGen("""MaintenanceIo.tombstone(path, m, ids, "id")"""))
    assert(!tombstoneRead("""if (!m.tables.contains("tombstones")) return"""))
    assert(!tombstoneRead("""snap("assignments") + tables("bands")"""))
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val (name, src) =
          (p.getFileName.toString, java.nio.file.Files.readString(p))
        maxEpochView(src) ||
          !Set("MaintenanceIo.scala", "SimGraphIndex.scala")(name) &&
            (tombstoneGen(src) || tombstoneRead(src))
      }
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty, "own tombstone write or read, or max-epoch " +
      s"view: ${offenders.mkString(", ")}")
  }

  test("every session is built by GraftSession (one conf, no drift)") {
    // GraftSession.local owns the shared conf (master, shuffle partitions,
    // UTC, nanosAsLong, no UI); a hand-built session elsewhere would
    // drift from it, as the copied builders once did
    import scala.jdk.CollectionConverters._
    assert(buildsSession("val s = SparkSession\n  .builder()\n  .master(m)"))
    assert(buildsSession("org.apache.spark.sql.SparkSession" + ".builder()"))
    assert(!buildsSession("""val s = GraftSession.local(4, "k" -> "v")"""))
    assert(!buildsSession("SparkSession.active.conf.get(k)"))
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => buildsSession(java.nio.file.Files.readString(p)))
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"SparkSession built outside GraftSession: ${offenders.mkString(", ")}")
  }

  private def buildsSession(src: String): Boolean =
    """\bSparkSession\s*\.\s*builder\b""".r.findFirstIn(src).isDefined

  private def maxEpochView(src: String): Boolean =
    src.contains("""max("epoch")""")

  private def tombstoneGen(src: String): Boolean =
    """nextGen\([^()]*"tombstones"\s*\)""".r.findFirstIn(src).isDefined

  /** A lookup of the tombstone table's path: `tables("tombstones")`,
    * `snap("tombstones")`, `snapshot(p)("tombstones")` or a `.get` of it.
    */
  private def tombstoneRead(src: String): Boolean =
    """(\btables|\bsnap|\))\s*(\.\s*get\s*)?\(\s*"tombstones"\s*\)""".r
      .findFirstIn(src).isDefined

  /** A chained `new KMeans()….fit(` or `.fit(` on a val bound to one. */
  private def fitsKMeansDirectly(src: String): Boolean = {
    val chained = """new KMeans\(\)(\s*\.set\w+\([^()]*\))*\s*\.fit\(""".r
    val bound = """va[lr]\s+(\w+)\s*=\s*new KMeans\(""".r
    chained.findFirstIn(src).isDefined ||
      bound.findAllMatchIn(src).map(_.group(1)).exists(v =>
        s"(?<![\\w.])$v\\s*\\.fit\\(".r.findFirstIn(src).isDefined)
  }
}
