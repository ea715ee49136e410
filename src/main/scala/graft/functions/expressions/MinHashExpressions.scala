package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Compiled per-row kernels for the MinHash dedup path.
  *
  * The higher-order-function formulation (transform/aggregate lambdas)
  * interprets one expression tree PER ARRAY ELEMENT; these expressions do
  * one JVM-compiled loop PER ROW (CodegenFallback costs a single call).
  * Semantics: same affine minhash math mod 2^31-1 as
  * TextFunctions.minhashSignature; shingle hashes are FNV-1a-64 over token
  * bytes (any injective-enough 64-bit hash is equivalent downstream — only
  * hash-set intersections/minima are consumed, never the values).
  */
object HashUtil {
  val P: Long = 2147483647L
  private val FNV_OFFSET = 0xcbf29ce484222325L
  private val FNV_PRIME = 0x100000001b3L

  /** Seeded affine coefficient streams (a_i ∈ [1,P-1], b_i ∈ [0,P-1]):
    * the SINGLE source for both the MinHashSig kernel and the q22 DuckDB
    * oracle (SparkEntry interpolates these as SQL literals), so the two
    * engines' signatures cannot drift apart.
    */
  def affineCoefficients(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(k)(1L + rnd.nextInt((P - 1).toInt).toLong)
    val b = Array.fill(k)(rnd.nextInt(P.toInt).toLong)
    (a, b)
  }

  /** FNV-1a-64 over a byte array — the same fold [[shingleHashSet]],
    * [[simhash64]], and [[winnow]] inline, exposed for scalar hashing
    * (content-hash splits). The q62 DuckDB oracle re-derives this fold
    * over UTF-8 octets (QueryShared.fnvOctetsSql — byte-faithful on any
    * input since round 7).
    */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FNV_OFFSET
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * FNV_PRIME
      i += 1
    }
    h
  }

  /** MurmurHash3's 64-bit finalizer (fmix64) over the FNV fold: FNV alone
    * is NOT avalanche-complete — on structured key families (sequential
    * ids, short prefixed strings) its high bits are visibly biased, which
    * breaks estimators that read bit POSITIONS rather than bucket by
    * equality (HLL's ρ was ~2× off on `k0..k79999`; measured in
    * SketchesSpec's regime test). fmix64 is three xorshift-multiply
    * rounds, each reproducible in DuckDB as UHUGEINT mod-2^64 arithmetic —
    * see the q125 oracle's fmixSql twin.
    */
  def fnvMixed64(bytes: Array[Byte]): Long = fmix64(fnv1a64(bytes))

  /** The bare fmix64 finalizer, for kernels whose pre-mix fold is not FNV
    * (DeletionHashUtil's polynomial prefix hashes).
    */
  def fmix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Distinct, sorted 64-bit hashes of the w-token shingles. */
  def shingleHashSet(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val m = n - w + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = FNV_OFFSET
      var j = 0
      while (j < w) {
        val bytes = toks.getUTF8String(i + j).getBytes
        var k = 0
        while (k < bytes.length) {
          h = (h ^ (bytes(k) & 0xffL)) * FNV_PRIME
          k += 1
        }
        h = (h ^ 0x20L) * FNV_PRIME // token separator
        j += 1
      }
      arr(i) = h
      i += 1
    }
    java.util.Arrays.sort(arr)
    var uniq = 1
    i = 1
    while (i < m) { if (arr(i) != arr(i - 1)) uniq += 1; i += 1 }
    val out = new Array[Long](uniq)
    out(0) = arr(0)
    var o = 1
    i = 1
    while (i < m) {
      if (arr(i) != arr(i - 1)) { out(o) = arr(i); o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** k-minima affine signature: min over hashes of (a_i*pmod(h,P)+b_i) mod P. */
  def minhashSig(hashes: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = hashes.numElements()
    val k = a.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      var hm = hashes.getLong(j) % P
      if (hm < 0) hm += P
      var i = 0
      while (i < k) {
        val v = (a(i) * hm + b(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over the token array: FNV-1a-64 per token, ±1 votes
    * per bit, sign of the vote sum sets the sketch bit.
    */
  def simhash64(toks: ArrayData): Long = {
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val bytes = toks.getUTF8String(i).getBytes
      var h = FNV_OFFSET
      var k = 0
      while (k < bytes.length) {
        h = (h ^ (bytes(k) & 0xffL)) * FNV_PRIME
        k += 1
      }
      h ^= (h >>> 31) // finalize: spread entropy to low bits
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS scheme,
    * public SIGMOD'03 algorithm): hash all char k-grams, slide a window of
    * `w` hashes, keep each window's minimum (rightmost on ties), dedupe.
    * Guarantees any shared substring of length ≥ k+w-1 yields a shared
    * fingerprint.
    */
  def winnow(text: org.apache.spark.unsafe.types.UTF8String, k: Int,
             w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = FNV_OFFSET
      var j = 0
      while (j < k) {
        h = (h ^ (bytes(i + j) & 0xffL)) * FNV_PRIME
        j += 1
      }
      grams(i) = h ^ (h >>> 31)
      i += 1
    }
    val picked = new java.util.TreeSet[java.lang.Long]()
    var start = 0
    while (start < n) {
      val end = math.min(start + w, n)
      var minIdx = start
      var m = start
      while (m < end) { // rightmost minimal hash in the window
        if (grams(m) <= grams(minIdx)) minIdx = m
        m += 1
      }
      picked.add(grams(minIdx))
      start += 1
    }
    val out = new Array[Long](picked.size())
    val it = picked.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** One 64-bit key per band: mix of the band's r signature values. */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (sig.numElements() == 0) return new GenericArrayData(Array.empty[Long])
    if (sig.numElements() < bands * rowsPerBand)
      throw new IllegalArgumentException(
        s"minhash band keys need a signature of >= ${bands * rowsPerBand} " +
          s"values (bands=$bands x rowsPerBand=$rowsPerBand), got " +
          s"${sig.numElements()} — generate the signature with matching k")
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      var h = FNV_OFFSET ^ i
      var j = 0
      while (j < rowsPerBand) {
        h = (h ^ sig.getLong(i * rowsPerBand + j)) * FNV_PRIME
        h ^= (h >>> 29)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class ShingleHashSet(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(toks: Any): Any =
    HashUtil.shingleHashSet(toks.asInstanceOf[ArrayData], w)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class MinHashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val (aCoef, bCoef) =
    HashUtil.affineCoefficients(k, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(hashes: Any): Any =
    HashUtil.minhashSig(hashes.asInstanceOf[ArrayData], aCoef, bCoef)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    HashUtil.winnow(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(toks: Any): Any =
    HashUtil.simhash64(toks.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class Fnv64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    HashUtil.fnv1a64(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[HashUtil.fnvMixed64]] as an expression: the avalanche-corrected FNV
  * stream for operators that consume bit POSITIONS (HLL ρ), not equality
  * buckets. Kept separate from [[Fnv64]] so the plain-FNV consumers'
  * oracles and persisted artifacts (fingerprints, band keys) are
  * untouched.
  */
case class FnvMixed64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    HashUtil.fnvMixed64(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(sig: Any): Any =
    HashUtil.bandKeys(sig.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
