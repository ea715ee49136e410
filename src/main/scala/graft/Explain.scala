package graft

import org.apache.spark.sql.SparkSession

import graft.queries.{QueryDef, QueryRegistry}

/** Plan-inspection tool: prints the formatted physical plan for selected
  * queries so scan pushdown (PushedFilters/ReadSchema), broadcast joins,
  * and WholeStageCodegen spans can be audited per round.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  *        runMain graft.Explain --audit [sfDir]
  *
  * `--audit` runs the scale-smell scan over EVERY query instead of
  * printing plans: flags Cartesian products, non-broadcast nested loops,
  * single-partition exchanges, and parquet scans with no pushed filters
  * AND no projection pruning — then prints one verdict line per offender
  * and a summary. Known-benign shapes (global aggregates' final merge,
  * bounded scalar windows, MLlib-internal joins) still print, with the
  * query named, so each flag can be adjudicated by eye. An accepted
  * smell the plan no longer shows prints `STALE <query>: <smell>` and
  * counts as unexplained, like an unaccepted one.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val audit = args.headOption.contains("--audit")
    val rest = if (audit) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else QueryRegistry.all.map(_.name).sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, audit, sfDir, names)
    spark.stop()
  }

  /** Prints the plans (or, with `audit`, the smell scan) of the named
    * queries. A name not in the registry prints `unknown query <name>` and
    * is skipped; the rest still run.
    */
  def run(spark: SparkSession, audit: Boolean, sfDir: String,
          names: Seq[String]): Unit = {
    val (records, unknown) = QueryRegistry.resolve(names)
    unknown.foreach(n => println(s"unknown query $n"))
    val known = records.map(q => q.name -> q.declared)
    def passes(q: QueryDef) =
      q.audits.map(p => s"${q.name}#${p.pass}" -> p.build).sortBy(_._1)
    if (audit) {
      var flagged = 0
      var unexplained = 0
      // construction-time plans (driver-collected passes) audit alongside
      // the returned frames — restricted to the selected queries' passes
      val auditTargets = known ++ records.distinct.flatMap(passes).sortBy(_._1)
      auditTargets.foreach { case (n, build) =>
        try {
          val qe = build(spark, sfDir).queryExecution
          val plan = qe.executedPlan.toString
          // wide rows into a dedup shuffle: a dropDuplicates-shaped
          // Aggregate (grouping attrs + first()-carried payload) whose
          // input still carries array columns — shuffle bytes a pre-dedup
          // projection (score/verify first) would have dropped
          import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
          import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}
          import org.apache.spark.sql.catalyst.plans.logical.Aggregate
          val wideDedup = qe.optimizedPlan.exists {
            case a: Aggregate if a.groupingExpressions.nonEmpty =>
              val dedupShaped = a.aggregateExpressions.forall {
                case _: Attribute => true
                case Alias(ae: AggregateExpression, _) =>
                  ae.aggregateFunction.isInstanceOf[First]
                case _ => false
              }
              dedupShaped && a.child.output.exists(_.dataType
                .isInstanceOf[org.apache.spark.sql.types.ArrayType])
            case _ => false
          }
          val smells = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
            "SinglePartition-exchange" ->
              plan.contains("Exchange SinglePartition"),
            "single-partition-arg" ->
              plan.contains("Arguments: SinglePartition"),
            "array-cols-into-dedup-shuffle" -> wideDedup,
          ).collect { case (s, true) => s }
          val accepted = QueryRegistry.accepted.getOrElse(n, Set.empty)
          val fresh = smells.filterNot(accepted)
          if (smells.nonEmpty) {
            flagged += 1
            val tag = if (fresh.isEmpty) "FLAG(adjudicated)" else "FLAG"
            println(s"$tag $n: ${smells.mkString(", ")}")
          }
          // an acceptance the plan no longer needs would hide the smell's
          // return, so it counts against the audit until it is dropped
          val stale = (accepted -- smells).toSeq.sorted
          stale.foreach(smell => println(s"STALE $n: $smell"))
          if (fresh.nonEmpty || stale.nonEmpty) unexplained += 1
        } catch {
          case e: Throwable =>
            unexplained += 1
            println(s"FLAG $n: audit failed: $e")
        }
      }
      println(s"audit: ${auditTargets.size} plans scanned " +
        s"(${known.size} queries + construction-time passes), " +
        s"$flagged flagged, " +
        s"$unexplained UNEXPLAINED (adjudicated shapes are documented at " +
        "each query's `accepted` set; a nonzero unexplained count is a " +
        "regression to triage)")
    } else {
      // a selected query's construction-time passes print alongside it,
      // so a query whose RETURNED plan is a checkpoint stub (q138/q160
      // class) still yields its full heavy plan here
      records.foreach { q =>
        ((q.name -> q.declared) +: passes(q)).foreach { case (k, build) =>
          println(s"\n========== $k ==========")
          try println(build(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"explain failed: $e") }
        }
      }
    }
  }
}
