package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.Sources

/** Reproducible evidence for the bench-notes claim that the queries'
  * no-repartition design pays off once the parquet layout parallelizes:
  * `sbt "Test/runMain graft.ScanScaleNote"`.
  *
  * The sf0.1 fixture tables are single-row-group parquet, so every scan is
  * ONE task locally regardless of core count. This rewrites the two largest
  * tables (lineitem, orders) with a per-file record cap — multiple files,
  * each its own row group, no repartition — copies the rest verbatim, and
  * times the three scan-heavy relational queries on both layouts under the
  * bench session (local[32], AQE on). Expect the multi-row-group layout to
  * be faster on the scan-bound queries purely from scan parallelism.
  */
object ScanScaleNote {
  private val src = "/root/testdata/sf0.1"
  private val dst = "target/tmp/sf0.1_multirg"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  private val queriesToTime =
    Seq("q01_pricing_summary", "q04_filter_pushdown", "q05_revenue_by_nation")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "spark.app.name" -> "graft-scan-scale-note")

    Files.createDirectories(Paths.get(dst))
    tables.foreach {
      case t @ ("lineitem" | "orders") =>
        Sources.rematerializeSplittable(
          Tables.load(spark, src, t), s"$dst/$t.parquet",
          maxRecordsPerFile = 50000L)
      case t =>
        Files.copy(Paths.get(s"$src/$t.parquet"),
          Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scan-scale] lineitem partitions: " +
      s"fixture=${Tables.lineitem(spark, src).rdd.getNumPartitions} " +
      s"multirg=${Tables.lineitem(spark, dst).rdd.getNumPartitions}")

    def time(name: String, dir: String): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up both layouts (codegen/JIT), then alternate reps
    queriesToTime.foreach { q => time(q, src); time(q, dst) }
    val reps = 3
    queriesToTime.foreach { q =>
      val single = Seq.fill(reps)(time(q, src)).min
      val multi = Seq.fill(reps)(time(q, dst)).min
      println(f"[scan-scale] $q: single-row-group=$single%.3fs " +
        f"multi-row-group=$multi%.3fs speedup=${single / multi}%.2fx")
    }
    spark.stop()
  }
}
