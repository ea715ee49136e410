package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Input/output surface (reference §2.1 S1-S5):
  * headerless CSV (higgs_ensemble_analysis.py:62), header CSV
  * (Claims_Prediction.py:24, als_clustering_analysis.py:28-29), gzip text
  * (log_mining_analysis.py:21), plus the scale-path fixes the reference
  * lacks: schema-explicit reads and gzip→parquet re-materialization
  * (quirk Q7 — a .gz text source is non-splittable, so stage 1 runs as ONE
  * task no matter the cluster size).
  */
object Sources {

  /** S1: headerless CSV — columns arrive as _c0.._cN strings; `castAll`
    * coerces every column to double in ONE select (the reference loops
    * withColumn per column, stacking 29 Projects — higgs:64-65).
    */
  def csvHeaderless(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read.option("sep", sep).csv(path)

  /** S2: header CSV, all strings (schema inference deliberately off,
    * matching the reference — inference costs a full extra pass over
    * 100 TB; `castAll` types the columns in one Project instead).
    */
  def csvWithHeader(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** S3: text scan (transparently handles .gz — but see materialize). */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Cast every listed column in one Project (replaces per-column
    * withColumn loops: higgs:64-65, claims:30-32, als:33-34).
    */
  def castAll(df: DataFrame, to: String, cols: Seq[String]): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      if (cols.contains(c)) col(c).cast(to).as(c) else col(c)): _*)

  /** Q7 scale path: one-time re-materialization of a non-splittable source
    * into splittable parquet with a chosen partition count; every
    * downstream read then parallelizes. At 100 TB this is the difference
    * between a single-task scan and a full-cluster scan.
    */
  def materializeToParquet(df: DataFrame, outPath: String,
                           partitions: Int): Unit =
    df.repartition(partitions).write.mode("overwrite").parquet(outPath)

  /** Layout fix for single-row-group parquet: rewrite with a per-file
    * record cap so the result is MANY files, each its own row group — and
    * therefore many scan tasks. No repartition/shuffle: each writing task
    * just rolls files at the cap. A parquet file whose data is one row
    * group is an unsplittable scan unit no matter how many executors the
    * cluster has; at 100 TB the writer's row-group/file sizing, not the
    * reader, decides scan parallelism.
    */
  def rematerializeSplittable(df: DataFrame, outPath: String,
                              maxRecordsPerFile: Long): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(outPath)

  /** File count for a layout rewrite, derived from the INPUT's byte size
    * against a target output file size — the sizing rule every table-
    * maintenance writer (OPTIMIZE/compaction) applies: at 100 TB the
    * target is ~128-1024 MiB so each file is one splittable, stats-pruned
    * scan unit; a hard-coded count would under-split at scale and
    * over-split fixtures. Accepts a single file or a directory tree
    * (ScaleUpGen writes multi-file tables).
    */
  def filesForTargetSize(inPath: String, targetBytes: Long): Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum)
        .getOrElse(0L)
      else f.length()
    val bytes = sizeOf(new java.io.File(inPath))
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** Z-ordered layout write: range-partition + sort by the 2-D Morton key
    * of (`xCol`, `yCol`) — both must be non-negative and < 2^31 (scatter
    * wider domains first; see q85) — so every output file's z-range covers
    * a small aligned rectangle in (x, y) space and parquet min/max stats
    * prune files for predicates on EITHER or BOTH columns (the
    * Delta/Iceberg OPTIMIZE ZORDER write path; ZOrderScanNote measures
    * 4.8-5.7× fewer rows read than a single-column sort on 2-D boxes).
    * One range shuffle, `files` output files, each file one sorted run;
    * the transient __z key is dropped from the written schema. At 100 TB
    * `files` follows the table's target file size (~128-1024 MiB), and
    * the pruning ratio IMPROVES with file count — the read side repays
    * the one-time sort.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    outPath: String, files: Int): Unit = {
    val keyed = df.withColumn("__z",
      graft.functions.LayoutFunctions.morton(col(xCol), col(yCol)))
    keyed.repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)
  }

  /** Deterministic TRAINING-SHARD export — the pipeline's last step:
    * rows land in `shards` contiguous slices of the [[graft.operators
    * .Relational.shuffleIndex]] order (a pure function of (ids, seed), so
    * the export is bit-reproducible across runs/partitionings/engine
    * versions), one directory per shard (`shard=K/`), rows sorted by
    * global position inside each shard so a reader streams the permuted
    * corpus in order. Plan: the shuffleIndex pass, one count (sizes the
    * shards), one exchange on the shard key + in-partition sort, write.
    * Shard size = ceil(n / shards); pick `shards` for the target file
    * size at corpus scale.
    */
  def writeShards(df: DataFrame, idCol: String, outPath: String,
                  shards: Int, buckets: Int, seed: Long): Unit = {
    require(shards >= 1, s"writeShards: shards >= 1, got $shards")
    val indexed = graft.operators.Relational
      .shuffleIndex(df, idCol, buckets, seed).drop("bucket")
    val n = math.max(1L, indexed.count())
    val shardSize = (n + shards - 1) / shards
    indexed
      // `div` is Spark's integral division — exact at ANY pos, unlike
      // `/` (which promotes longs to double and is only exact below
      // 2^53; at corpus scale that would silently misplace rows near
      // shard boundaries, diverging from the oracle's integer `//`)
      .withColumn("shard", expr(s"pos div ${shardSize}L"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write.partitionBy("shard").mode("overwrite").parquet(outPath)
  }

  /** Bucketed table write: pre-shuffles once on `key` into `buckets` files
    * per partition, so every later equi-join/aggregation on `key` between
    * co-bucketed tables runs with NO exchange — the amortize-one-shuffle
    * pattern for repeatedly-joined 100 TB fact tables. Requires a table
    * (bucketing lives in the catalog), hence saveAsTable.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** JSONL (newline-delimited JSON) write — the corpus interchange format
    * training-data pipelines exchange (Dolma, RedPajama, web-crawl dumps
    * all ship JSONL). Gzip-compressed parts by default: JSONL corpora
    * travel compressed, and unlike a .gz TEXT source (quirk Q7) the
    * many-parts layout keeps the READ parallel — each part is one task.
    */
  def writeJsonl(df: DataFrame, outPath: String,
                 compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression)
      .json(outPath)

  /** Schema-explicit JSONL read: zero inference passes (inference costs a
    * full extra scan of a 100 TB corpus), columns arrive typed, and
    * malformed lines surface per Spark's PERMISSIVE default unless the
    * caller tightens `mode`. Pair with [[writeJsonl]] for lossless
    * round-trips (q100 gates string/long columns byte-for-byte).
    */
  def jsonlWithSchema(spark: SparkSession, path: String,
                      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC write: the Hive-ecosystem columnar interchange sibling of
    * [[writeJsonl]]. Unlike JSONL the schema travels IN the file (typed
    * read needs no schema argument and no inference pass), values stay
    * binary-typed end-to-end, and stripe-level min/max indexes give the
    * same predicate-pushdown class as parquet. q103 gates the loop on
    * losslessness against the original fixture.
    */
  def writeOrc(df: DataFrame, outPath: String): Unit =
    df.write.mode("overwrite").orc(outPath)

  /** S5: driver-side text sink for small reports (replaces the reference's
    * open()/write blocks, higgs:27-59). Engine results that are themselves
    * large must go through df.write, never through this.
    */
  def writeTextReport(path: String, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
