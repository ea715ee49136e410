package graft

import org.apache.spark.sql.functions._

/** End-to-end proof of the GraftExtensions plug-in on a REAL session
  * (forked JVM → fresh session, so `spark.sql.extensions` genuinely
  * applies, unlike the shared-session test suites which go through
  * registry bridges): SQL surface resolves, and with the top-k rewrite
  * flag on, the row_number idiom optimizes into the partial topkrows
  * aggregate with identical results.
  *
  * Usage: runMain graft.ExtensionCheck [sfDir]
  */
object ExtensionCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4,
      "spark.sql.extensions" -> classOf[GraftExtensions].getName)
    spark.sparkContext.setLogLevel("ERROR")

    // 1. injected SQL functions resolve without imperative registration
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0)
    assert(dot == 11.0, s"graft_dot via extensions returned $dot")
    val topk = spark.sql(
      """SELECT g, graft_topk(s, i, 1) FROM VALUES
           (1, 0.3d, 7L), (1, 0.9d, 8L) AS t(g, s, i) GROUP BY g""").count()
    assert(topk == 1L)

    // 2. the injected optimizer rule fires under its flag
    def q02(dir: String) = SparkEntry.queries("q02_top_users_per_type")(spark, dir)
    val baseline = q02(sfDir).collect().toSeq
    spark.conf.set("spark.graft.topkRewrite.enabled", "true")
    val rewritten = q02(sfDir)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("topkrows"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), "window survived the rewrite")
    val got = rewritten.collect().toSeq
    assert(got == baseline, "rewritten result differs from window result")
    println(s"[extension-check] OK: ${GraftFunctions.builders.size} SQL " +
      s"functions injected; topkRewrite fired and matched on ${baseline.size} rows")
    spark.stop()
  }
}
