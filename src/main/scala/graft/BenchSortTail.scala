package graft

import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.PlanBridge

/** Exposure probe for the global-sort tail (guide §1): a query whose
  * final ORDER BY sits directly on heavy compute with no exchange in
  * between pays the range-sampling pass twice (the sampler executes the
  * whole child stage). For each named query this times the full plan vs
  * the plan with the final Sort stripped; a gap far above the result's
  * own sort cost marks the double-execution class.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS; args = query names.
  */
object BenchSortTail {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    names.foreach { n =>
      try {
        def full = SparkEntry.queries(n)(spark, sfDir)
        val lp = full.queryExecution.logical
        val stripped = lp match {
          case s: Sort if s.global => Some(PlanBridge.ofRows(spark, s.child))
          case _ => None
        }
        stripped match {
          case None => println(s"""{"q":"$n","tail":"no-global-sort"}""")
          case Some(child) =>
            // warm BOTH variants untimed before timing either — the
            // first version of this probe warmed only `full` and timed
            // `nosort` second, crediting the stripped plan with warm OS
            // page cache + hot JIT (the r20 sort-tail probe bias: the
            // Bench-protocol A/B contradicted 8 of its 10 "gaps")
            noop(full)
            noop(child)
            val tFull = timed(noop(SparkEntry.queries(n)(spark, sfDir)))
            val tChild = timed(noop(PlanBridge.ofRows(spark,
              SparkEntry.queries(n)(spark, sfDir).queryExecution.logical
                .asInstanceOf[Sort].child)))
            val tFull2 = timed(noop(SparkEntry.queries(n)(spark, sfDir)))
            println(f"""{"q":"$n","full":$tFull%.3f,"nosort":$tChild%.3f,""" +
              f""""full2":$tFull2%.3f,"gap":${math.min(tFull, tFull2) -
                tChild}%.3f}""")
        }
      } catch { case e: Throwable =>
        println(s"""{"q":"$n","err":"${e.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }
}
