package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.TextFunctions

/** Mergeable distinct-count sketches (HyperLogLog over the repo's
  * deterministic FNV-1a-64 stream) — the corpus-card primitive that makes
  * "how many distinct documents/urls/ngrams" answerable at 100 TB without
  * ever shuffling the keys themselves.
  *
  * Scale contract: a register table is AT MOST `m = 2^lgK` rows per group
  * (4 KB-ish at the default lgK = 10), computed in one narrow pass with a
  * map-side-combined `max` — so per-shard sketch extraction shuffles
  * O(m × groups) rows regardless of corpus size, and sketches from any
  * partitioning of the data merge LOSSLESSLY with a plain `max` per bucket
  * (associative + commutative + idempotent: union of HLL registers IS the
  * register-wise max). That is exactly the shape a 1000-executor corpus
  * card wants: per-shard registers written next to each shard, a
  * m-rows-per-shard merge at read time, and incremental append — a new
  * crawl generation just max-merges its registers in, no recount of
  * standing data (the same persisted-artifact pattern as the Bloom / LSH /
  * IVF index appends).
  *
  * Determinism contract (what makes q125 hash-green against DuckDB): the
  * hash is the repo's unseeded byte-level FNV-1a-64 fold (the stream the
  * fingerprint / minhash oracles already reproduce octet-for-octet)
  * passed through murmur3's fmix64 finalizer — FNV alone is not
  * avalanche-complete and its biased high bits put HLL's ρ ~2× off on
  * sequential key families ([[graft.functions.expressions.FnvMixed64]]);
  * bucket = low lgK
  * bits, w = the remaining W = 64−lgK bits, and ρ(w) = position of the
  * leftmost 1-bit of the W-bit word = W + 1 − length(bin(w)) (minimal
  * binary strings — Java `Long.toBinaryString` and DuckDB `bin()` agree),
  * all integer/string ops with one engine-neutral rounding at the very
  * end. The estimator is classic Flajolet–Fuss–Gandouet–Meunier HLL:
  * E = α_m·m²/Z with the m·ln(m/V) linear-counting correction below
  * 2.5·m; both engines evaluate α_m from the same literal expression and
  * Z is carried as an exact scaled integer (see [[hllEstimate]]), so the
  * estimate has NO summation-order dependence at all. Standard error
  * ≈ 1.04/√m ≈ 3.3 % at lgK = 10.
  *
  * Like the fingerprint/minhash kernels, the FNV hash is a CodegenFallback
  * expression (one interpreted call per row feeding an otherwise codegen'd
  * narrow plan) — the accepted trade for a byte-exact cross-engine stream.
  */
object Sketches {

  /** Default register-index bits: m = 1024 registers, ±3.3 % @ 1σ. */
  val DefaultLgK = 10

  /** α_m · m² for the HLL raw estimator, written as the same literal
    * arithmetic the DuckDB oracle interpolates so the double is identical
    * bit-for-bit in both engines (m ≥ 128 constant from the HLL paper).
    */
  private def alphaM2(m: Int): Column =
    lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble) * lit(m.toDouble)

  /** One HLL register table per `dims` group: (dims…, bucket, rho) with
    * rho = max over the group's keys. One narrow projection + one
    * map-side-combined max-aggregate; at most 2^lgK rows per group ever
    * shuffle. Rows whose key is NULL are skipped (fnv64 of NULL is NULL —
    * matching COUNT(DISTINCT)'s NULL semantics).
    */
  def hllRegisters(df: DataFrame, key: Column, dims: Seq[String],
                   lgK: Int = DefaultLgK): DataFrame = {
    require(lgK >= 4 && lgK <= 16, s"hllRegisters: lgK in [4,16], got $lgK")
    val m = 1 << lgK
    val bigW = 64 - lgK
    val h = TextFunctions.fnvMixed64(key)
    val w = shiftrightunsigned(h, lgK)
    val rho = when(w === 0L, lit(bigW + 1))
      .otherwise(lit(bigW + 1) - length(bin(w)))
    df.select(dims.map(col) :+ h.bitwiseAND(lit((m - 1).toLong)).as("bucket")
        :+ rho.as("rho"): _*)
      .filter(col("bucket").isNotNull)
      .groupBy(dims.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Lossless sketch union: drop (or keep) grouping dims and max-merge the
    * registers. `mergeRegisters(perShard, Seq())` is the global sketch;
    * merging an appended shard's registers into a standing table is the
    * same call on the union of the two register frames.
    */
  def mergeRegisters(registers: DataFrame, dims: Seq[String]): DataFrame =
    registers.groupBy(dims.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho"))

  /** Cardinality estimate per `dims` group from a register table:
    * (dims…, est_distinct). V = empty registers (buckets absent from the
    * table — never materialized), Z = V + Σ 2^−ρ over present buckets.
    *
    * Z is carried as the EXACT integer Z·2^(W+1) (each term 2^(W+1−ρ) is a
    * long in [1, 2^W], summed as DECIMAL(38,0) — the repo's double-sum
    * rule): the register max-agg plus this sum make the whole estimator
    * state integral, so the estimate is bit-identical across partition
    * orders, across runs, AND across engines — the one estRaw division
    * and the final round happen on integers both engines agree on. Only
    * the ln() in the linear-counting branch can differ by an ulp, erased
    * by rounding to a whole count.
    */
  def hllEstimate(registers: DataFrame, dims: Seq[String],
                  lgK: Int = DefaultLgK): DataFrame = {
    val m = 1 << lgK
    val bigW = 64 - lgK
    val term = expr(s"shiftleft(CAST(1 AS BIGINT), ${bigW + 1} - rho)")
      .cast(DecimalType(38, 0))
    val aggs = Seq(count(lit(1)).as("present"), sum(term).as("zs"))
    val grouped =
      if (dims.isEmpty) registers.agg(aggs.head, aggs.tail: _*)
      else registers.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val scale = math.pow(2.0, (bigW + 1).toDouble) // exact power of two
    val v = lit(m.toLong) - col("present")
    val denom = (v.cast(DecimalType(38, 0)) *
      lit(scale.toLong).cast(DecimalType(38, 0)) + col("zs")).cast("double")
    val raw = alphaM2(m) * lit(scale) / denom
    val est = when(v > 0L && raw <= lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
    grouped.select(dims.map(col) :+
      round(est).cast("long").as("est_distinct"): _*)
  }

  // ---- Persisted corpus-card artifact (the nightly-ingest shape) --------
  // The register table as a versioned on-disk artifact behind the same
  // MANIFEST-pointer machinery as the Bloom / LSH / IVF indexes: build
  // once over the standing corpus, then each arriving shard folds in with
  // ONE scan of the new rows and a ≤ 2^lgK-row max-merge — the standing
  // corpus is never rescanned, and a crash at any instant leaves the
  // previous (complete, still-correct) generation published. Because the
  // merge is idempotent, re-appending a shard after a crash-and-retry
  // cannot inflate the estimate — the card is safe under at-least-once
  // delivery, which neither a raw count nor a sum-shaped stat survives.

  /** Build the card artifact: one `registers` generation plus a `meta`
    * generation pinning lgK (the probe contract — an append at a
    * different geometry would silently corrupt every register, so
    * appends READ the geometry rather than accept it as a parameter;
    * the Bloom artifact's nfc/sizing pin, same reasoning).
    */
  def buildHllCard(corpus: DataFrame, keyCol: String, path: String,
                   lgK: Int = DefaultLgK): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = corpus.sparkSession
      import sp.implicits._
      val regGen = MaintenanceIo.nextGen(path, "registers")
      MaintenanceIo.write(hllRegisters(corpus, col(keyCol), Seq.empty, lgK)
        .coalesce(1), s"$path/$regGen")
      val metaGen = MaintenanceIo.nextGen(path, "meta")
      MaintenanceIo.write(Seq(lgK).toDF("lg_k").coalesce(1), s"$path/$metaGen")
      MaintenanceIo.publish(path, MaintenanceIo.Manifest(0L,
        Map("registers" -> regGen, "meta" -> metaGen)))
    }

  /** Fold a new shard into the card: one narrow scan of the SHARD only,
    * register-wise max against the standing generation, publish as a new
    * generation. Cost is independent of standing-corpus size.
    */
  def appendToHllCard(shard: DataFrame, keyCol: String, path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = shard.sparkSession
      val m = MaintenanceIo.requireManifest(path)
      val snap = MaintenanceIo.snapshot(path)
      val lgK = Tables.parquet(sp, snap("meta")).head().getAs[Int]("lg_k")
      val merged = mergeRegisters(
        Tables.parquet(sp, snap("registers")).unionByName(
          hllRegisters(shard, col(keyCol), Seq.empty, lgK)), Seq.empty)
      val gen = MaintenanceIo.nextGen(path, "registers")
      MaintenanceIo.write(merged.coalesce(1), s"$path/$gen")
      MaintenanceIo.publish(path, MaintenanceIo.Manifest(m.epoch + 1,
        m.tables + ("registers" -> gen)))
    }

  /** Distinct-count estimate from the persisted card (one ≤ 2^lgK-row
    * read through the manifest — a consistent snapshot even while an
    * append publishes the next generation).
    */
  def hllCardEstimate(sp: SparkSession, path: String): DataFrame = {
    val snap = MaintenanceIo.snapshot(path)
    val lgK = Tables.parquet(sp, snap("meta")).head().getAs[Int]("lg_k")
    hllEstimate(Tables.parquet(sp, snap("registers")), Seq.empty, lgK)
  }

  // ---- Mergeable quantile sketch (HDR-style log histogram) --------------
  // The quantile member of the sketch family (membership = Bloom,
  // distinct = HLL registers, quantiles = this): bucket a non-negative
  // integer value by its top b+1 significant bits — exponent e =
  // floor(log2 v) via length(bin v), mantissa slice v >> max(e−b, 0) —
  // giving ≤ (64−b)·2^(b+1) buckets total (≈ 3.8k at b = 5) with
  // RELATIVE error ≤ 2^−b at every magnitude (HdrHistogram's public
  // scheme). Counts are plain integers, so per-shard histograms merge by
  // bucket-wise SUM — associative, order-free, and (unlike the HLL max)
  // requiring exactly-once folding, which is why the streaming card uses
  // HLL and this one belongs to batch/nightly jobs. Everything —
  // bucketing, merge, CDF walk, representative value — is integer
  // arithmetic on `length(bin(…))` and shifts, so the DuckDB oracle
  // reproduces estimates bit-for-bit (q127), exactly like the HLL card.
  //
  // At 100 TB: the histogram extraction is one narrow pass with a
  // map-side-combined count; only ≤ 3.8k rows per group ever shuffle,
  // and the quantile walk is a bounded window over that bucket frame
  // (the shuffleIndex bounded class) — a global percentile without a
  // global sort.

  /** Sub-bucket precision bits: relative error ≤ 2^−5 ≈ 3.1 %. */
  val DefaultHistBits = 5

  /** One log-histogram per `dims` group: (dims…, bucket, cnt) with
    * bucket = me·2^(b+1) + (v >> me), me = max(floor(log2 v) − b, 0).
    * Values must be non-negative (callers scale/offset first — q127
    * uses deterministic cents via round(price·100)).
    */
  def logHistogram(df: DataFrame, value: Column, dims: Seq[String],
                   b: Int = DefaultHistBits): DataFrame = {
    require(b >= 1 && b <= 16, s"logHistogram: b in [1,16], got $b")
    df.select(dims.map(col) :+ value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .withColumn("__e", (length(bin(col("__v"))) - 1).cast("int"))
      .withColumn("__me", greatest(col("__e") - lit(b), lit(0)))
      .select(dims.map(col) :+
        (col("__me").cast("long") * lit((1L << (b + 1))) +
          expr("shiftrightunsigned(__v, __me)")).as("bucket"): _*)
      .groupBy(dims.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Lossless histogram union: bucket-wise sum over any partitioning. */
  def mergeHistograms(hist: DataFrame, dims: Seq[String]): DataFrame =
    hist.groupBy(dims.map(col) :+ col("bucket"): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Discrete quantile estimates from a histogram: for each q, the
    * representative (range midpoint) of the first bucket whose
    * cumulative count reaches ceil(q·N). The cumulative walk is a
    * window over the bucket order — bounded at the bucket-count frame
    * (≤ 3.8k rows at b = 5), never over row-sized data.
    */
  def histQuantiles(hist: DataFrame, dims: Seq[String], qs: Seq[Double],
                    b: Int = DefaultHistBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = hist.sparkSession
    import sp.implicits._
    val wCum = Window.partitionBy(dims.map(col): _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(dims.map(col): _*)
    val sub = 1L << (b + 1)
    hist
      .withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__n", sum(col("cnt")).over(wAll))
      .crossJoin(broadcast(qs.toDF("quantile")))
      .filter(col("__cum") >= ceil(col("quantile") * col("__n")))
      .groupBy(dims.map(col) :+ col("quantile"): _*)
      .agg(min(col("bucket")).as("__bk"))
      .withColumn("__me", expr(s"__bk DIV $sub"))
      .withColumn("__sub", col("__bk") % lit(sub))
      .withColumn("est", when(col("__me") === 0L, col("__sub"))
        .otherwise(expr(s"shiftleft(2 * __sub + 1, CAST(__me AS INT) - 1)")))
      .select(dims.map(col) :+ col("quantile") :+ col("est"): _*)
  }

  // ---- Mergeable frequency sketch (count-min) ---------------------------
  // The frequency member of the sketch family: d × w integer counters,
  // point estimate = min over the d probed cells, overestimate bounded
  // by εN (ε = e/w) with probability 1 − e^−d. The d row-hashes derive
  // from ONE fnvMixed64 evaluation via Kirsch–Mitzenmacher double
  // hashing (h1 + i·h2 — published to preserve CM guarantees), so the
  // per-row cost is a single hash kernel call, and every step is
  // integer arithmetic the DuckDB oracle reproduces bit-for-bit (q128).
  // Counters are plain sums, so per-shard sketches merge bucket-wise —
  // associative and exact, the same nightly-merge shape as the log
  // histogram (and like it, sum-merge wants exactly-once folding; the
  // idempotent streaming slot stays with the HLL card).
  //
  // At 100 TB: one narrow pass, a d× bounded fan-out, a map-side-
  // combined sum — only d·w rows (64 KB-ish) per group ever shuffle.
  // Heavy-hitter COUNTS without shuffling the keys; producing the
  // candidate keys themselves pairs it with a per-partition top-k or an
  // exact pass over a candidate slice (q128 uses the exact pass as its
  // verification yardstick).

  val DefaultCmsWidth = 4096
  val DefaultCmsDepth = 4

  private def cmsCells(h: Column, w: Int, d: Int): Column = {
    val h1 = pmod(h, lit(1L << 32))
    val h2 = shiftrightunsigned(h, 32)
    transform(sequence(lit(0), lit(d - 1)),
      i => pmod(h1 + i.cast("long") * h2, lit(w.toLong)))
  }

  /** One CM sketch per `dims` group: (dims…, row, idx, c). */
  def cmsSketch(df: DataFrame, key: Column, dims: Seq[String],
                w: Int = DefaultCmsWidth, d: Int = DefaultCmsDepth)
      : DataFrame = {
    require(w >= 2 && d >= 1, s"cmsSketch: w >= 2, d >= 1, got ($w, $d)")
    df.select(dims.map(col) :+
        TextFunctions.fnvMixed64(key).as("__h"): _*)
      .filter(col("__h").isNotNull)
      .select(dims.map(col) :+
        posexplode(cmsCells(col("__h"), w, d)): _*)
      .withColumnRenamed("pos", "row").withColumnRenamed("col", "idx")
      .groupBy(dims.map(col) :+ col("row") :+ col("idx"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Lossless sketch union: bucket-wise sum over any partitioning. */
  def mergeCms(sketch: DataFrame, dims: Seq[String]): DataFrame =
    sketch.groupBy(dims.map(col) :+ col("row") :+ col("idx"): _*)
      .agg(sum(col("c")).as("c"))

  /** Point estimates for `keys` (one column `keyCol`) against a single
    * (dims-free) sketch: min over the d probed cells; a cell absent from
    * the sketch frame counts 0. The keys side is broadcast — the probe
    * is the tiny side by design (candidate heavy hitters, a watchlist),
    * the sketch is ≤ d·w rows, and nothing row-sized shuffles.
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  w: Int = DefaultCmsWidth, d: Int = DefaultCmsDepth)
      : DataFrame = {
    val probes = keys
      .withColumn("__cells", cmsCells(
        TextFunctions.fnvMixed64(col(keyCol)), w, d))
      .select(col(keyCol), posexplode(col("__cells")))
      .withColumnRenamed("pos", "row").withColumnRenamed("col", "idx")
    broadcast(probes)
      .join(sketch, Seq("row", "idx"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_cnt"))
  }
}
