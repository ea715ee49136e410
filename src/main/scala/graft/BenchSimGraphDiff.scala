package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lifecycle-isolation bench for the q161/q162 pair: the RELEASE-AUDIT
  * snapshot diff paid two ways on the same v1→v2 transition (the q162
  * %10 slices — remove %4, edit %5, add %7):
  *
  *  - `build`    one-time v1 SimGraphIndex build (amortized across nights)
  *  - `export`   v1's edge artifact snapshot (edge-volume, not corpus)
  *  - `delta`    the nightly maintenance: delete removed + edited
  *               originals, compact, land adds + edits as batch
  *               generations (shard-probe-sized work)
  *  - `diff`     the gated query: two edge-table reads + full-outer join
  *  - `rebuild2` the alternative q161 pays every night: TWO from-scratch
  *               exactJaccardJoin kernels + the same diff
  *
  * The number that justifies q162's existence is (delta+diff)/rebuild2 —
  * the nightly-cadence ratio. Prints ONE JSON line.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchSimGraphDiff"
  */
object BenchSimGraphDiff {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val threshold = 0.7
    val path = java.nio.file.Files
      .createTempDirectory("bench_simdiff").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val v1 = docs.filter(col("doc_id") % 10 =!= 7)
    val v2 = docs.filter(col("doc_id") % 10 =!= 4)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" v2edit")))
          .otherwise(col("text")).as("text"))
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val tBuild = timed(operators.SimGraphIndex.build(
      v1, "doc_id", "text", path, threshold))
    val tExport = timed(operators.SimGraphIndex.edges(spark, path)
      .write.mode("overwrite").parquet(s"$path/edges_v1.parquet"))
    val tDelta = timed {
      operators.SimGraphIndex.delete(
        v1.filter(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5)
          .select("doc_id"), "doc_id", path)
      operators.SimGraphIndex.compact(spark, path)
      operators.SimGraphIndex.appendBatch(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path,
        batchId = 0L)
      operators.SimGraphIndex.appendBatch(
        docs.filter(col("doc_id") % 10 === 5)
          .select(col("doc_id"),
            concat(col("text"), lit(" v2edit")).as("text")),
        "doc_id", "text", path, batchId = 1L)
    }
    def diffOf(e1: org.apache.spark.sql.DataFrame,
               e2: org.apache.spark.sql.DataFrame) =
      e1.select(col("id_a"), col("id_b"), lit(1L).as("__in1"))
        .join(e2.select(col("id_a"), col("id_b"), lit(1L).as("__in2")),
          Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"),
          when(col("__in1").isNull, "added")
            .when(col("__in2").isNull, "removed")
            .otherwise("kept").as("status"))
    val tDiff = timed(noop(diffOf(
      Tables.parquet(spark, s"$path/edges_v1.parquet"),
      operators.SimGraphIndex.edges(spark, path))))
    val tRebuild2 = timed(noop(diffOf(
      operators.Dedup.exactJaccardJoin(v1, "doc_id", "text", threshold),
      operators.Dedup.exactJaccardJoin(v2, "doc_id", "text", threshold))))
    val edges = operators.SimGraphIndex.edges(spark, path).count()

    println(f"""{"build":$tBuild%.3f,"export":$tExport%.3f,""" +
      f""""delta":$tDelta%.3f,"diff":$tDiff%.3f,""" +
      f""""rebuild2":$tRebuild2%.3f,"edges_v2":$edges,"sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(path)
    spark.stop()
  }
}
