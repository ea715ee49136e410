package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** MEASURED byte economics of the quantized semantic-dedup candidate pass
  * (round-18 verdict #2: the ~8× fewer-scan-bytes claim for the int8 code
  * column was asserted, never measured — no bytes-read metric existed in
  * the bench record).
  *
  * Builds the plain IVF index and the quantized index over the q170 twin
  * corpus at the fixture scale, then measures `inputMetrics.bytesRead`
  * (task-level, summed via a SparkListener — the actual IO the scan paid,
  * post parquet compression/encoding) for:
  *   - `vec_scan_bytes`: the PLAIN candidate pass's column set
  *     (cell, n_id, nrm_n, v_n) force-read off the plain index;
  *   - `code_scan_bytes`: the QUANTIZED candidate pass's column set
  *     (cell, n_id, nrm_n, codes, oob) force-read off the quantized index
  *     — same rows, the double vectors pruned away;
  * and, with SPARK_GRAFT_SCANBYTES_FULL=1, the END-TO-END bytes + seconds
  * of the two batch kNN joins (ivfKnnJoinFromIndex vs
  * quantizedKnnJoinFromIndex) at the same geometry, query side re-read
  * from parquet so every measured byte is real IO (no cache reads).
  *
  * The force-read is a checksum aggregate over every projected column —
  * a bare count() would let parquet answer from footer metadata and read
  * nothing. Listener totals are drained to quiescence before and after
  * each measured action (the listener bus is async).
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SEMDEDUP_NLISTS (default 2·√N rounded up to a power of 2),
  * SPARK_GRAFT_SEMDEDUP_NPROBE (default 8),
  * SPARK_GRAFT_SCANBYTES_FULL=1 for the end-to-end join measurement.
  * Prints ONE JSON line.
  */
object BenchScanBytes {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_NPROBE", "8").toInt
    val full = sys.env.get("SPARK_GRAFT_SCANBYTES_FULL").contains("1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val bytesRead = new AtomicLong(0L)
    val shufBytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytesRead.addAndGet(m.inputMetrics.bytesRead)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // the listener bus is async: wait until the byte totals stop moving
    def drain(): (Long, Long) = {
      var prev = (-1L, -1L)
      var cur = (bytesRead.get(), shufBytes.get())
      while (prev != cur) {
        Thread.sleep(1000); prev = cur
        cur = (bytesRead.get(), shufBytes.get())
      }
      cur
    }
    def measured(f: => Unit): (Long, Long, Double) = {
      val (b0, s0) = drain()
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      val (b1, s1) = drain()
      (b1 - b0, s1 - s0, sec)
    }

    // PRODUCTION-regime scan model, computed from the written index's own
    // parquet footers: the sum of compressed column-chunk bytes for a
    // column set is exactly what a column-pruned scan must fetch once
    // files are production-sized (row groups of MBs — per-file
    // footer/dictionary overhead amortized to nothing). The task-level
    // bytesRead above stays as the honest LOCAL number; at this fixture's
    // row counts each cell file holds a few hundred rows, so footers
    // dominate it and the two can legitimately disagree.
    def columnChunkBytes(dir: String, cols: Set[String]): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      var sel = 0L
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f.getPath, conf))
          try {
            rdr.getFooter.getBlocks.forEach { b =>
              b.getColumns.forEach { c =>
                if (cols(c.getPath.toDotString.split("\\.")(0)))
                  sel += c.getTotalSize
              }
            }
          } finally rdr.close()
        }
      }
      sel
    }

    // q170 twin corpus (the restatement BenchSemDedup used, source at
    // 9a451be), LANDED AS PARQUET so
    // measured passes never read cached blocks (cache reads also count as
    // inputMetrics.bytesRead and would muddy the scan comparison).
    //
    // SPARK_GRAFT_SCANBYTES_ENTROPY=<rows> swaps in a HIGH-ENTROPY corpus
    // of hash-derived unique vectors instead: the ScaleUpGen fixtures
    // replicate the base vectors by circular ROTATION, so the double
    // leaf column has ~50× value redundancy and parquet compresses it to
    // ~1 byte/element — a compression gift production embeddings (float
    // noise, effectively incompressible) never give, which masks the
    // code column's economics. Both fixtures are measured and recorded;
    // the entropy row is the one that models the 100 TB regime.
    val work = java.nio.file.Files.createTempDirectory("bench_scanbytes")
      .toString
    val entropyN = sys.env.get("SPARK_GRAFT_SCANBYTES_ENTROPY").map(_.toLong)
    val corpusDf = entropyN match {
      case Some(rows) =>
        // full-entropy mantissas (hash bits / 2^63 keeps ~52 random
        // mantissa bits): production embeddings are float noise, and a
        // grid-valued synthetic (k/10^8) hands snappy a 3× compression
        // production data never gives
        spark.range(rows).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            xxhash64(col("id"), d).cast("double")
              / lit(Long.MaxValue.toDouble) + lit(1.5)).as("embedding"))
      case None =>
        val base = Tables.embeddings(spark, sfDir).select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("embedding"))
        val twins = base.filter(col("vec_id") < 50)
          .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (lit(1.0) - col("a")) * x + col("a") *
                element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
              .as("embedding"))
        base.unionByName(twins)
    }
    corpusDf.write.parquet(s"$work/corpus.parquet")
    val corpus = Tables.parquet(spark, s"$work/corpus.parquet")
    val n = corpus.count()
    val nLists = sys.env.get("SPARK_GRAFT_SEMDEDUP_NLISTS").map(_.toInt)
      .getOrElse {
        val target = 2.0 * math.sqrt(n.toDouble)
        math.max(8, 1 << math.ceil(math.log(target) / math.log(2)).toInt)
      }

    val plainIdx = s"$work/plain_idx"
    val quantIdx = s"$work/quant_idx"
    operators.Similarity.buildIvfIndex(corpus, plainIdx, nLists = nLists)
    operators.Similarity.buildQuantizedIndex(corpus, quantIdx,
      nLists = nLists)

    def assignments(idx: String) = Tables.parquet(spark,
      operators.MaintenanceIo.snapshot(idx)("assignments"))
    // checksum force-read: every projected column materializes per row
    // (bit_xor never overflows; a bare count() would answer from parquet
    // footers and read nothing)
    def forceRead(df: org.apache.spark.sql.DataFrame): Unit = {
      val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
      df.select(h.as("__h")).agg(bit_xor(col("__h"))).head()
      ()
    }
    val (vecBytes, _, vecSec) = measured {
      forceRead(assignments(plainIdx).select("cell", "n_id", "nrm_n", "v_n"))
    }
    val (codeBytes, _, codeSec) = measured {
      forceRead(assignments(quantIdx)
        .select("cell", "n_id", "nrm_n", "codes", "oob"))
    }
    // footer ground truth for the same two column sets ("cell" is a
    // partition directory — no chunk bytes)
    val plainAsgDir = operators.MaintenanceIo.snapshot(plainIdx)("assignments")
    val quantAsgDir = operators.MaintenanceIo.snapshot(quantIdx)("assignments")
    val vecColBytes = columnChunkBytes(plainAsgDir,
      Set("n_id", "nrm_n", "v_n"))
    val codeColBytes = columnChunkBytes(quantAsgDir,
      Set("n_id", "nrm_n", "codes", "oob"))

    var fullStats = ""
    if (full) {
      val (pb, psh, ps) = measured {
        operators.Similarity.ivfKnnJoinFromIndex(plainIdx,
          Tables.parquet(spark, s"$work/corpus.parquet"), k = 5,
          nProbe = nProbe).count()
        ()
      }
      val (qb, qsh, qs) = measured {
        operators.Similarity.quantizedKnnJoinFromIndex(quantIdx,
          Tables.parquet(spark, s"$work/corpus.parquet"), k = 5,
          nProbe = nProbe).count()
        ()
      }
      fullStats = f""","plain_knn_bytes":$pb,"plain_knn_sec":$ps%.1f""" +
        f""","plain_knn_shuffle":$psh""" +
        f""","quant_knn_bytes":$qb,"quant_knn_sec":$qs%.1f""" +
        f""","quant_knn_shuffle":$qsh"""
    }

    val ratio = vecBytes.toDouble / math.max(1L, codeBytes)
    val colRatio = vecColBytes.toDouble / math.max(1L, codeColBytes)
    val fixture = entropyN.fold(s""""$sfDir"""")(_ => "\"entropy\"")
    println(f"""{"metric":"semdedup_scan_bytes","n":$n,"nLists":$nLists""" +
      f""","nProbe":$nProbe,"vec_scan_bytes":$vecBytes""" +
      f""","code_scan_bytes":$codeBytes,"scan_ratio":$ratio%.2f""" +
      f""","vec_col_bytes":$vecColBytes,"code_col_bytes":$codeColBytes""" +
      f""","col_ratio":$colRatio%.2f""" +
      f""","vec_scan_sec":$vecSec%.1f,"code_scan_sec":$codeSec%.1f""" +
      fullStats + s""","sf":$fixture}""")
    operators.MaintenanceIo.deleteDir(work)
    spark.stop()
  }
}
