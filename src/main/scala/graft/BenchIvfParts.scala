package graft

import org.apache.spark.sql.functions._

/** Decomposition probe for q160's kernel (ivfKnnJoinFromIndex): times the
  * stored-index scan, the routing-only prefix, and the full join at
  * several nProbe settings so the pair-proportional share of the cost is
  * measurable (guide §1: decide where the time goes before touching the
  * operator). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchIvfParts {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // per-stage task counts + CPU: which stage actually burns the time
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val i = sc.stageInfo
          val rt = i.taskMetrics.executorRunTime
          if (rt > 200)
            println(f"""{"stage":${i.stageId},"tasks":${i.numTasks},""" +
              f""""runMs":$rt,"desc":"${i.name.take(60)}"}""")
        }
      })
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val path = java.nio.file.Files
      .createTempDirectory("bench_ivfparts").toString
    def timed(tag: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(tag)
      val t0 = System.nanoTime(); f
      println(f"""{"part":"$tag","s":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      spark.sparkContext.setJobDescription(null)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    timed("build nLists=8")(
      operators.Similarity.buildIvfIndex(emb, path, nLists = 8))
    // warm the JVM/codegen once, untimed
    noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8))
    for (r <- 1 to 2) {
      timed(s"knnjoin nProbe=8 r$r")(
        noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)))
      timed(s"knnjoin+sort nProbe=8 r$r")(
        noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)
          .orderBy("q_id", "rn")))
      timed(s"knnjoin+ckpt+sort nProbe=8 r$r")(
        noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)
          .localCheckpoint().orderBy("q_id", "rn")))
      timed(s"knnjoin+repart+sort nProbe=8 r$r")(
        noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)
          .repartition(col("q_id")).orderBy("q_id", "rn")))
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        "false")
      timed(s"knnjoin nProbe=8 nocoalesce r$r")(
        noop(operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)))
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        "true")
    }
    val sorted = operators.Similarity.ivfKnnJoinFromIndex(path, emb, 5, 8)
      .orderBy("q_id", "rn")
    noop(sorted)
    println("=== sorted executed plan ===")
    println(sorted.queryExecution.executedPlan.toString)
    println(s"""{"n":$n,"sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(path)
    spark.stop()
  }
}
