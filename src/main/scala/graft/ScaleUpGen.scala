package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.WS

/** Synthesizes a scaled-up copy of the driver fixtures by unioning
  * key-shifted copies of the sf0.1 tables — the scale-up-bench data
  * generator (round-4 verdict task 1: "measure, don't just audit").
  * Per-copy distributions, filter selectivities, and join fan-outs are
  * preserved; cross-copy keys are disjoint (copy i shifts every key by
  * i·10⁹, far beyond any base key range).
  *
  * Content-sensitive tables get per-copy transforms so the scale-up grows
  * WORK linearly instead of manufacturing quadratic artifacts the base
  * corpus doesn't have:
  *  - documents: copy i>0 suffixes every token with "·ci", so cross-copy
  *    shingle/MinHash/SimHash similarity is zero and near-dup pair counts
  *    scale linearly. Verbatim copies would turn each base near-dup pair
  *    into a (factor)-clique — pairs ×factor²/2, a generator artifact.
  *  - embeddings: copy i>0 circularly rotates each vector by i positions —
  *    norms and intra-copy geometry are preserved, cross-copy cosine is
  *    scrambled. Verbatim copies would hand every ANN query (factor-1)
  *    exact duplicates of itself.
  *
  * Fact tables are written multi-file (one row group per file) so scans
  * parallelize like a production layout — the single-row-group caveat of
  * the sf0.1 fixture (README "Fixture-layout caveat") does not apply to
  * the scaled output.
  *
  * Usage: runMain graft.ScaleUpGen <inSfDir> <outDir> <factor>
  */
object ScaleUpGen {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // the embedding transform has 2×dim distinct variants (rotation ×
    // optional negation); beyond that copies would repeat and silently
    // reintroduce cross-copy near-dups — fail fast instead
    require(factor <= 128, s"factor must be <= 128 (2x embedding dim " +
      s"distinct transforms), got $factor")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val shift = 1000000000L

    def read(t: String) = Tables.parquet(spark, s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    // Fixed-size dimension tables pass through unscaled (region is 5 rows
    // at every SF; nation 25) — scaling them would break FK semantics.
    Seq("region", "nation").foreach(t => write(read(t), t, 1))

    /** factor key-shifted copies, with an optional per-copy transform. */
    def copies(t: String, keyCols: Seq[String])
              (xform: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = read(t)
      (0 until factor).map { i =>
        val shifted = keyCols.foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(shift * i))
        }
        xform(shifted, i)
      }.reduce(_ unionAll _)
    }
    def plain(t: String, keyCols: Seq[String], parts: Int): Unit =
      write(copies(t, keyCols)((d, _) => d), t, parts)

    plain("customer", Seq("c_custkey"), 8)
    plain("supplier", Seq("s_suppkey"), 2)
    plain("part", Seq("p_partkey"), 8)
    plain("orders", Seq("o_orderkey", "o_custkey"), 16)
    plain("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32)

    // events: ts passes through verbatim per copy, whatever the fixture
    // generation stores (nanos → read as INT64 under the legacy conf and
    // re-written as INT64; micros-NTZ → re-written as NTZ) — Tables.events
    // and EventStream.readEvents branch on the scanned type either way.
    // user_id shifts WITH the customer copies so q46's as-of
    // user_id ⋈ o_custkey alignment is preserved.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    plain("events", Seq("event_id", "user_id"), 8)

    write(copies("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        concat_ws(" ", transform(split(trim(col("text")), s"[$WS]+"),
          t => concat(t, lit(s"c$i")))))
    }, "documents", 16)

    // Rotation index wraps at the vector dim; the second lap (factor > dim)
    // negates as well — negation preserves norms and intra-copy geometry,
    // and cosine −1 against the unrotated twin is never a near-dup. 2×dim
    // distinct transforms bound the generator at factor ≤ 128 for dim 64
    // (enforced above); the wrap constant below assumes dim 64, so verify
    // the actual fixture dim rather than silently corrupting the output.
    val embDim = read("embeddings")
      .select(size(col("embedding")).as("d")).head().getInt(0)
    require(embDim == 64,
      s"ScaleUpGen embedding transform assumes dim 64, fixture has $embDim")
    write(copies("embeddings", Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else {
        val dim = size(col("embedding"))
        val r = i % 64
        val rotated =
          if (r == 0) col("embedding")
          else concat(
            slice(col("embedding"), lit(r + 1), dim - r),
            slice(col("embedding"), lit(1), lit(r)))
        val out = if ((i / 64) % 2 == 1) transform(rotated, x => -x) else rotated
        d.withColumn("embedding", out)
      }
    }, "embeddings", 8)

    spark.stop()
  }
}
