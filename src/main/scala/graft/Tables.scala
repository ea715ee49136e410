package graft

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixtures (see TESTDATA.md /
  * FIXTURES.md §B). All engine queries read these; the DuckDB oracle reads
  * the same files, so loaders do nothing but scan — no casts, no renames —
  * letting Catalyst push filters/projections into the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without its schema job. Spark infers
    * a parquet schema in a one-task job that reads one footer; this reads
    * the same footer on the driver, converts it with Spark's own
    * per-footer conversion under the session's conf, and hands the result
    * to `spark.read.schema`. Partition columns are not in the footer, so
    * Spark still discovers them from directory names. Every call reads
    * its footer again, so a rewritten file is seen. Reads Spark must
    * resolve itself (a missing path or no data file, so its error stays
    * the same; a glob; a streaming sink's log; merged schemas) fall back
    * to `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    val schema = for {
      f <- if (conf.isParquetSchemaMergingEnabled) None
           else schemaFile(hadoop, paths)
      footer = Using.resource(ParquetFileReader.open(
        HadoopInputFile.fromStatus(f, hadoop),
        HadoopReadOptions.builder(hadoop, f.getPath)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build()))(_.getFooter)
      s = ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
      // a partition column also stored in the files keeps its data-schema
      // position only under inference: leave that layout to Spark
      partCols = f.getPath.toString.split('/').filter(_.contains('='))
        .map(_.takeWhile(_ != '=').toLowerCase)
      if !s.fieldNames.exists(n => partCols.contains(n.toLowerCase))
    } yield s
    schema.fold(spark.read.parquet(paths: _*))(
      spark.read.schema(_).parquet(paths: _*))
  }

  /** The file whose footer Spark's inference reads with `mergeSchema`
    * off: a `_common_metadata`, else a `_metadata`, else the first data
    * file of all leaf files sorted by full path. The walk goes down the
    * sorted listings only as far as that first data file, since Spark's
    * file index lists the whole tree again; summary files are looked for
    * in the directories it lists, which include each root, where parquet
    * writers put them. None when Spark must resolve the read itself.
    */
  private def schemaFile(hadoop: Configuration,
                         paths: Seq[String]): Option[FileStatus] = {
    // HadoopFSUtils.shouldFilterOutPathName: the leaves Spark lists
    def listed(name: String): Boolean =
      name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) ||
          name.startsWith(".") || name.endsWith("._COPYING_"))
    def isSummary(name: String): Boolean =
      name == "_common_metadata" || name == "_metadata"
    val summaries = Seq.newBuilder[FileStatus]
    // a leaf's full path begins with its directory's path plus "/", so
    // ordering children by that key orders every leaf below them
    def firstData(dir: FileStatus): Option[FileStatus] = {
      val fs = dir.getPath.getFileSystem(hadoop)
      val children = fs.listStatus(dir.getPath)
        .filter(c => listed(c.getPath.getName))
      summaries ++= children.filter(c => c.isFile && isSummary(c.getPath.getName))
      children.sortBy(c =>
        c.getPath.getName + (if (c.isDirectory) "/" else "")).iterator
        .flatMap { c =>
          if (c.isDirectory) firstData(c)
          else if (isSummary(c.getPath.getName)) None
          else Some(c)
        }.nextOption()
    }
    val roots = paths.map(new Path(_))
    // a missing path (a glob among them) is Spark's to report, and Spark
    // lists a streaming sink's directory from its log, not the file system
    val plain = roots.nonEmpty && roots.forall { p =>
      val fs = p.getFileSystem(hadoop)
      fs.exists(p) && !fs.exists(new Path(p, "_spark_metadata"))
    }
    if (!plain) None
    else {
      val firsts = roots.flatMap { p =>
        val r = p.getFileSystem(hadoop).getFileStatus(p)
        if (r.isDirectory) firstData(r)
        else Some(r).filter(f => listed(f.getPath.getName))
      }
      val sum = summaries.result().sortBy(_.getPath.toString)
      sum.find(_.getPath.getName == "_common_metadata")
        .orElse(sum.find(_.getPath.getName == "_metadata"))
        .orElse(firsts.sortBy(_.getPath.toString).headOption)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has varied across fixture generations: TIMESTAMP(NANOS)
    * (which Spark 4 reads as a nanos LONG under the legacy conf) and
    * TIMESTAMP(MICROS) without timezone (which Spark reads as
    * TIMESTAMP_NTZ). Branch on the scanned type so both generations load
    * to the same microsecond TimestampType the queries and the DuckDB
    * oracle expect:
    *   - LongType (nanos): truncate ns→µs — the truncation DuckDB applies.
    *   - TIMESTAMP_NTZ (micros): cast to TimestampType; the session TZ is
    *     pinned to UTC everywhere, so the wall-clock values are unchanged
    *     and match DuckDB's naive-timestamp read exactly.
    *
    * The nanos-long read path needs `spark.sql.legacy.parquet.nanosAsLong`
    * = true, which every session FACTORY in this project sets at build time
    * (Bench/Verify/Explain/Apps/BenchStream/the test session) — the loader
    * itself is side-effect-free (round-10 verdict: a loader silently
    * flipping session-wide legacy conf is a mixed-workload surprise). A
    * session without the conf fails the nanos-generation scan LOUDLY at
    * analysis, never silently wrong.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already a microsecond instant timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
