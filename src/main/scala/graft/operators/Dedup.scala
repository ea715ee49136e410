package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for large-corpus pipelines (north-star layer).
  *
  * Scale design: every variant is (narrow per-row sketch) → (shuffle on a
  * bounded LSH key) → (pairwise verify inside buckets). Nothing is quadratic
  * in corpus size; the only joins are equi-joins on band keys, which AQE can
  * re-plan for skew. No driver-side state.
  */
object Dedup {

  /** Default per-reducer bucket bound for [[boundedSelfJoinCandidates]]:
    * any LSH bucket larger than this is grid-split so no single reducer
    * ever handles more than ~cap² candidate pairs.
    */
  val defaultMaxBucket: Int = 1024

  /** Skew-bounded self-join: all co-bucket member pairs (m_a < m_b) of
    * `keyed` (one row per (bucket key, member)), with oversized buckets
    * split into a triangular grid of group-pair cells so per-reducer work
    * is bounded by ~cap² pairs REGARDLESS of key skew — a hot bucket
    * (e.g. thousands of identical documents sharing every band key) is
    * genuinely quadratic in PAIRS, but the grid distributes those pairs
    * across ceil(n/cap)·(ceil(n/cap)+1)/2 reducers instead of funneling
    * them through one.
    *
    * Grid scheme: each member gets group g = hash(member) mod ceil(n/cap)
    * (n = bucket size, known only for OVERSIZED buckets). Cell (i, j),
    * i ≤ j, joins group-i members against group-j members; a member emits
    * its row to cells (g, j≥g) on the left and (i≤g, g) on the right, so
    * every unordered pair lands in exactly the cell of its group pair
    * (twice, symmetrically, for the diagonal — downstream dropDuplicates
    * absorbs it, as it already must for pairs sharing several buckets).
    *
    * Pay-as-you-go (round 7, fully lazy): ONE explicit repartition on the
    * key is the only exchange of the (16-byte) keyed rows, and Spark's
    * ReuseExchange feeds it to three consumers — a bucket-size aggregate
    * filtered to the OVER-CAP keys only, and both grid join sides — so
    * the upstream sketch kernels evaluate ONCE however the data looks.
    * The over-cap frame (≤ n/cap rows by construction — at the default
    * cap, ≤0.1% of input; extreme-scale callers raise cap accordingly)
    * broadcasts back as the grid geometry lookup: well-behaved buckets
    * miss the lookup, take __g = 1, and their explode emits exactly the
    * one diagonal cell — the plain self-join's volume with NO window
    * sort and no per-row overhead beyond a broadcast-hash probe. Only
    * rows of genuinely hot keys fan out into grid cells. (A round-7
    * eager-precount variant — action + plain join on no-skew data — was
    * measured WORSE on kernel-heavy paths: the extra action pays a full
    * sketch pass that exchange reuse amortizes; this lazy form keeps the
    * single-kernel-pass property of the round-6 window plan while
    * dropping its sort.) The quadratic pair volume of a hot bucket —
    * the actual danger — redistributes through the grid join, keyed on
    * bucket AND cell, across ceil(n/cap)·(ceil(n/cap)+1)/2 reducers
    * instead of one.
    *
    * Output is NOT deduplicated: one row per co-bucket-cell occurrence,
    * so callers keep the cheapest order of verify vs dropDuplicates.
    * `memberCol` may be any orderable column (id, or a struct carrying
    * the id first plus per-member payload — struct comparison then orders
    * by id, so least/greatest stay id-ordered). `keyCol` must be LongType
    * (every LSH key here is a packed 64-bit hash).
    */
  private[graft] def boundedSelfJoinCandidates(
      keyed: DataFrame, keyCol: String, memberCol: String,
      cap: Int = defaultMaxBucket): DataFrame = {
    require(cap >= 2, s"boundedSelfJoinCandidates: cap >= 2, got $cap")
    require(keyed.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"boundedSelfJoinCandidates: $keyCol must be a 64-bit LSH key")
    // the single exchange of the keyed rows; ReuseExchange hands the
    // shuffled (kernel-evaluated-once) copy to the aggregate and both
    // join sides below
    val r = keyed.repartition(col(keyCol))
    // grid geometry exists ONLY for over-cap keys; everyone else takes
    // __g = 1 via the missed broadcast lookup
    val hot = r.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .select(col(keyCol),
        ceil(col("__n").cast("double") / cap).cast("int").as("__g"))
    val grouped = r.join(broadcast(hot), Seq(keyCol), "left_outer")
      .withColumn("__g", coalesce(col("__g"), lit(1)))
      .withColumn("__grp",
        pmod(xxhash64(col(memberCol)), col("__g")).cast("int"))
    val left = grouped.select(col(keyCol), col("__grp").as("__gi"),
      explode(sequence(col("__grp"), col("__g") - 1)).as("__gj"),
      col(memberCol).as("__ma"))
    val right = grouped.select(col(keyCol),
      explode(sequence(lit(0), col("__grp"))).as("__gi"),
      col("__grp").as("__gj"), col(memberCol).as("__mb"))
    // diagonal cells (gi == gj) hold both orientations of every pair —
    // keep only the ordered one, so a 1×1 cell (the no-skew case, g = 1)
    // emits exactly the volume of a plain `ma < mb` self-join;
    // off-diagonal cells hold each pair once in arbitrary orientation,
    // re-ordered via least/greatest
    left.join(right, Seq(keyCol, "__gi", "__gj"))
      .filter((col("__gi") =!= col("__gj") && col("__ma") =!= col("__mb")) ||
        col("__ma") < col("__mb"))
      .select(least(col("__ma"), col("__mb")).as("m_a"),
        greatest(col("__ma"), col("__mb")).as("m_b"))
  }

  /** Exact dedup: one hash aggregation on the dedup key, keeping the
    * smallest id per group. At 100 TB this is a single shuffle on
    * xxhash64(key) — group by the hash, not the full text, when values are
    * large (here we keep the text for exactness on the small fixtures).
    *
    * `nfc = true` canonicalizes the key (Unicode NFC, the codegen'd q83
    * expression) BEFORE hashing/grouping, so composed and decomposed
    * spellings of the same text — which differ byte-wise and would
    * otherwise dedup-miss — land in one group (q83b gates this end to
    * end).
    */
  def exact(df: DataFrame, keyCol: String, idCol: String,
            nfc: Boolean = false): DataFrame = {
    val keyed =
      if (nfc) df.withColumn(keyCol, T.nfcNormalize(col(keyCol))) else df
    keyed.groupBy(keyCol)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
  }

  /** MinHash-LSH candidate pairs: per-doc shingle-hash set + k-long
    * signature, exploded into `bands` band keys, self-joined on the key.
    * Returns (id_a, id_b, hs_a, hs_b, sig_a, sig_b) with id_a < id_b,
    * deduplicated — ready for estimated or exact verification.
    *
    * Shuffle discipline (the 100 TB concern): only (band_key, id) pairs —
    * 16 bytes/row — go through the ×bands self-join; the wide shingle/
    * signature arrays are joined back afterwards, and only for rows that
    * actually became candidates. The sketch subplan is recomputed per join
    * side, but that is narrow, linear, scan-local work — no extra shuffle
    * (callers deduplicating enormous corpora can .persist() upstream).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int = 3, bands: Int = 32,
                        rowsPerBand: Int = 4,
                        maxBucket: Int = defaultMaxBucket,
                        normalize: Boolean = false): DataFrame =
    minhashCandidatesWithSketch(df, idCol, textCol, shingleWidth, bands,
      rowsPerBand, maxBucket, normalize = normalize)._1

  /** As [[minhashCandidates]], also returning the per-doc sketch frame so
    * callers that run MULTIPLE actions over the candidates (e.g.
    * dropNearDuplicates) can persist it for the sketch subplan's 3 uses
    * instead of recomputing the shingle/signature kernels per use.
    */
  private def minhashCandidatesWithSketch(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, bands: Int, rowsPerBand: Int,
      maxBucket: Int = defaultMaxBucket,
      persistSketch: Boolean = false,
      normalize: Boolean = false): (DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    // normalize INSIDE the narrow sketch projection: NFC is the ingest
    // canonicalization (q83's codegen'd expression), so composed and
    // decomposed spellings shingle identically — still scan-local, still
    // inside WholeStageCodegen, nothing extra on the shuffle
    val textExpr =
      if (normalize) T.nfcNormalize(col(textCol)) else col(textCol)
    val sketch = df.select(
        col(idCol).as("id"),
        T.shingleHashSet(textExpr, shingleWidth).as("hs"))
      .withColumn("sig", T.minhashSignature(col("hs"), k))
    // persist BEFORE candidate construction: the caller's first action
    // over the candidates populates the cache, which the sketch subplan's
    // remaining consumers (band join sides, join-backs) then reuse
    if (persistSketch)
      sketch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandKeys = sketch.select(col("id"),
      explode(T.bandHashes(col("sig"), bands, rowsPerBand)).as("bh"))
    val pairs = boundedSelfJoinCandidates(bandKeys, "bh", "id", maxBucket)
      .select(col("m_a").as("id_a"), col("m_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val cands = pairs
      .join(sketch.select(col("id").as("id_a"), col("hs").as("hs_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(sketch.select(col("id").as("id_b"), col("hs").as("hs_b"),
        col("sig").as("sig_b")), Seq("id_b"))
    (cands, sketch)
  }

  /** MinHash near-dup pairs with signature-estimated Jaccard ≥ threshold.
    * `normalize = true` NFC-canonicalizes the text before shingling, so
    * composed-vs-decomposed twins collide (DedupSimilaritySpec pins both
    * directions).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleWidth: Int = 3,
                   bands: Int = 32, rowsPerBand: Int = 4,
                   normalize: Boolean = false): DataFrame =
    minhashCandidates(df, idCol, textCol, shingleWidth, bands, rowsPerBand,
        normalize = normalize)
      .withColumn("est_jaccard",
        T.estimatedJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")

  /** n-gram-Jaccard near-dup pairs: LSH candidates verified with the exact
    * Jaccard over the distinct shingle sets. With 32 bands × 4 rows the
    * probability of missing a pair at jaccard 0.8 is (1-0.8^4)^32 ≈ 4e-8,
    * so for thresholds ≥ 0.8 this is exhaustively-correct in practice (the
    * DuckDB oracle checks it against the full quadratic computation).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleWidth: Int = 3,
                   bands: Int = 32, rowsPerBand: Int = 4,
                   maxBucket: Int = defaultMaxBucket,
                   normalize: Boolean = false): DataFrame =
    minhashCandidates(df, idCol, textCol, shingleWidth, bands, rowsPerBand,
        maxBucket, normalize = normalize)
      .withColumn("jaccard", T.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** EXACT-recall n-gram-Jaccard similarity join: every pair (id_a < id_b)
    * with exact shingle-set Jaccard ≥ `threshold` — recall by THEOREM, not
    * by band geometry. [[jaccardPairs]]'s LSH blocking misses a
    * threshold-boundary pair with small probability (~4e-8 at its default
    * geometry); when recall must be provable (legal dedup, eval
    * decontamination), this operator's prefix-filter blocking loses no
    * pair, and q139's quadratic DuckDB oracle verifies exactly that.
    *
    * Blocking (prefix filtering, the AllPairs/PPJoin family): order every
    * doc's shingle set by GLOBAL rarity (document frequency asc, hash
    * tiebreak — one total order shared by all docs) and key each doc only
    * by its first p = |X| − ⌈t'·|X|⌉ + 1 shingles. Soundness: a pair with
    * J ≥ t' has overlap o ≥ t'·|A∪B|, so o ≥ ⌈t'·|A|⌉ =: α_A and
    * o ≥ α_B. Let a*, b* be the largest prefix elements; WLOG a* ≤ b*.
    * Common shingles beyond a* sit in A's suffix (α_A − 1 < o of them),
    * so some common x ≤ a* exists; sorted order puts x in A's prefix, and
    * x ≤ a* ≤ b* puts it in B's too — the equi-join on (rare) prefix
    * shingles finds every qualifying pair. Candidates are 16-byte
    * (hash, id) rows; the exact verify runs only on survivors.
    *
    * Threshold arithmetic is integer-exact: t' = floor(threshold·10⁶)/10⁶
    * (≤ the verify threshold, so blocking is a sound superset), prefix
    * bound via (T6·sz + 999999) div 10⁶, length filter sz_b·10⁶ ≥ T6·sz_a
    * — no float in any pruning decision, so candidate membership is
    * partition- and platform-independent.
    *
    * Scale: df-ordering is the skew defense — boilerplate shingles shared
    * by half the corpus have HIGH df and fall to suffixes, so the
    * candidate join keys on rare shingles (AQE splits residual hot keys).
    * One text-kernel pass (pinned); the per-doc rank window is bounded by
    * the doc's own shingle count (uniform doc_id key, never the gram-hash
    * skew the q94 de-skew eliminated). Degenerate regime: a corpus of
    * near-identical docs makes even rare-shingle blocks quadratic in
    * PAIRS — that cost is inherent to emitting the pairs themselves.
    */
  def exactJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleWidth: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"exactJaccardJoin: threshold in (0,1], got $threshold")
    val t6 = math.floor(threshold * 1e6).toLong
    require(t6 >= 1, s"exactJaccardJoin: threshold too small ($threshold)")

    // one text-kernel pass: (id, distinct shingle hashes, set size), pinned
    // — consumed by the df-count, the prefix stream, and both verify sides
    val sets = df.select(col(idCol).as("__id"),
        T.shingleHashSet(col(textCol), shingleWidth).as("__hs"))
      .withColumn("__sz", size(col("__hs")).cast("long"))
      .filter(col("__sz") > 0)
      .localCheckpoint()
    exactJaccardJoinFromSets(sets, t6, threshold)
  }

  /** The prefix-filter join over an ALREADY-pinned sets frame
    * (`__id`, `__hs`, `__sz`) — shared with [[SimGraphIndex.build]],
    * whose one kernel pass also feeds the artifact tables.
    */
  private[operators] def exactJaccardJoinFromSets(
      sets: DataFrame, t6: Long, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = sets.select(col("__id"), col("__sz"), explode(col("__hs")).as("__h"))
    // global rarity: document frequency per shingle (map-side combined)
    val dfreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
    // per-doc rank in (df, hash) order — the shared total order; group
    // size bounded by the doc's own shingle count
    val wDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__h"))
    val prefix = sh.join(dfreq, "__h")
      .withColumn("__rk", row_number().over(wDoc))
      // p = sz - ceil(t'*sz) + 1, all integer math
      .filter(col("__rk") <=
        col("__sz") - expr(s"(($t6 * __sz + 999999) div 1000000)") + 1)
      .select(col("__h"), col("__id"), col("__sz"))
      .localCheckpoint() // consumed twice (both sides of the self-join)

    val a = prefix.select(col("__h"), col("__id").as("id_a"), col("__sz").as("__sa"))
    val b = prefix.select(col("__h"), col("__id").as("id_b"), col("__sz").as("__sb"))
    val cands = a.join(b, Seq("__h"))
      .filter(col("id_a") < col("id_b") &&
        col("__sb") * 1000000L >= lit(t6) * col("__sa") &&
        col("__sa") * 1000000L >= lit(t6) * col("__sb"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")

    cands
      .join(sets.select(col("__id").as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__hs").as("__hb")), Seq("id_b"))
      .withColumn("jaccard", T.jaccard(col("__ha"), col("__hb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup-STRUCTURE diff between two corpus snapshots that share an
    * unchanged core — the release-audit primitive (q161): which exact-
    * Jaccard edges v2 `added`, `removed`, or `kept` relative to v1, where
    * v1 = `unchanged` ∪ `v1Changed` and v2 = `unchanged` ∪ `v2Changed`.
    *
    * The naive derivation runs the full [[exactJaccardJoin]] kernel over
    * BOTH snapshots — two quadratic-shaped passes that re-derive the
    * shared core's pairs twice (at a realistic release delta the core is
    * ~95 % of the corpus, so ~90 % of all pair work is duplicated; this
    * was q161's cost two rounds running). Decompose by the partition of
    * pairs instead: an edge between two CORE docs is identical in both
    * snapshots (same texts ⇒ same shingle sets ⇒ same jaccard) — compute
    * it ONCE and emit `kept` directly; an edge INCIDENT to a changed doc
    * is per-snapshot, but single-sided prefix blocking (the
    * [[SimGraphIndex]] append theorem: probe-prefix over the changed
    * docs, index-FULL over core ∪ changed) finds all of them with work
    * proportional to |changed| × candidates, never core². The exact
    * verify runs on full shingle sets, so the composed edge sets EQUAL
    * the two from-scratch joins pair-for-pair — q161's from-scratch
    * DuckDB replay stays the oracle, hash-green.
    *
    * Caller contract: `v1Changed`/`v2Changed` ids must be DISJOINT from
    * `unchanged` ids (a doc whose text changed belongs in both changed
    * frames, once per version); the changed frames may share ids. Text
    * kernel cost: one pass over the core + one per changed frame — vs
    * two full-corpus passes for the naive form.
    */
  def snapshotEdgeDiff(unchanged: DataFrame, v1Changed: DataFrame,
                       v2Changed: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleWidth: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"snapshotEdgeDiff: threshold in (0,1], got $threshold")
    val t6 = math.floor(threshold * 1e6).toLong
    def setsOf(df: DataFrame) = df.select(col(idCol).as("__id"),
        T.shingleHashSet(col(textCol), shingleWidth).as("__hs"))
      .withColumn("__sz", size(col("__hs")).cast("long"))
      .filter(col("__sz") > 0)
      .localCheckpoint()
    val setsU = setsOf(unchanged)
    val core = exactJaccardJoinFromSets(setsU, t6, threshold)
      .select(col("id_a"), col("id_b"), lit("kept").as("status"))
    def incident(setsC: DataFrame) =
      incidentJaccardEdges(setsU, setsC, t6, threshold)
    val e1 = incident(setsOf(v1Changed))
      .select(col("id_a"), col("id_b"), lit(1L).as("__in1"))
    val e2 = incident(setsOf(v2Changed))
      .select(col("id_a"), col("id_b"), lit(1L).as("__in2"))
    val delta = e1.join(e2, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(col("__in1").isNull, "added")
          .when(col("__in2").isNull, "removed")
          .otherwise("kept").as("status"))
    core.unionByName(delta)
  }

  /** All exact-Jaccard pairs with AT LEAST ONE endpoint in `setsC`, over
    * the corpus `setsU` ∪ `setsC` — the [[snapshotEdgeDiff]] delta join.
    * Single-sided prefix blocking ([[SimGraphIndex.appendEdgesPlan]]'s
    * theorem): only the CHANGED side ranks a probe prefix (p rarest
    * shingles under the merged (df, h) order — ordering affects only
    * candidate volume, never recall), the target side keeps FULL
    * postings, so a qualifying pair is found regardless of how the core
    * doc's shingles rank. Core↔core pairs never enter the join.
    */
  private def incidentJaccardEdges(setsU: DataFrame, setsC: DataFrame,
                                   t6: Long, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postC = setsC.select(col("__id"), col("__sz"),
      explode(col("__hs")).as("__h"))
    val allPost = setsU.select(col("__id"), col("__sz"),
        explode(col("__hs")).as("__h"))
      .unionByName(postC)
    val dfreq = allPost.groupBy("__h").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__h"))
    val probe = postC.join(dfreq, "__h")
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <=
        col("__sz") - expr(s"(($t6 * __sz + 999999) div 1000000)") + 1)
      .select(col("__h"), col("__id").as("id_p"), col("__sz").as("__sp"))
    val cands = probe
      .join(allPost.select(col("__h"), col("__id").as("id_t"),
        col("__sz").as("__st")), Seq("__h"))
      .filter(col("id_p") =!= col("id_t") &&
        col("__st") * 1000000L >= lit(t6) * col("__sp") &&
        col("__sp") * 1000000L >= lit(t6) * col("__st"))
      .select(least(col("id_p"), col("id_t")).as("id_a"),
        greatest(col("id_p"), col("id_t")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val allSets = setsU.unionByName(setsC)
    cands
      .join(allSets.select(col("__id").as("id_a"), col("__hs").as("__ha")),
        Seq("id_a"))
      .join(allSets.select(col("__id").as("id_b"), col("__hs").as("__hb")),
        Seq("id_b"))
      .withColumn("jaccard", T.jaccard(col("__ha"), col("__hb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
  }

  /** Exact-recall CONTAINMENT join: all ordered pairs (a, b) with
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold — the
    * ASYMMETRIC near-dup relation Jaccard misses: a short document
    * quoted/subsumed by a much longer one scores near-zero Jaccard (the
    * union is dominated by b's extra content) but containment ~1. The
    * quote/subsumption detector of a curation stack.
    *
    * Prefix filtering adapts to the asymmetry: only the PROBE side (a)
    * has a prefix bound — if containment ≥ t, a shares at least one of
    * its p = |a| − ceil(t·|a|) + 1 rarest shingles (global (df, hash)
    * order) with b — while the INDEX side (b) must stay FULL, because
    * containment puts no ceiling on b's extra shingles (this is the
    * standard probe-prefix/index-full result; a b-side prefix would
    * break exact recall). Consequence for scale: candidate volume is
    * Σ_prefix-shingle df(h), kept small by rare-first ordering but
    * linear in a genuinely-hot shingle's df — inherent to EXACT
    * containment, and the reason the probe prefix takes the RAREST
    * shingles rather than any fixed positional slice (the q137 blocking-
    * entropy lesson). The size filter is one-sided: |b| ≥ t·|a|.
    * Verification is the compiled set kernel on the pinned hash sets;
    * containment is one int÷int IEEE division, oracle-replayable.
    */
  def exactContainmentJoin(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double,
                           shingleWidth: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"exactContainmentJoin: threshold in (0,1], got $threshold")
    val t6 = math.floor(threshold * 1e6).toLong
    require(t6 >= 1, s"exactContainmentJoin: threshold too small ($threshold)")
    import org.apache.spark.sql.expressions.Window

    val sets = df.select(col(idCol).as("__id"),
        T.shingleHashSet(col(textCol), shingleWidth).as("__hs"))
      .withColumn("__sz", size(col("__hs")).cast("long"))
      .filter(col("__sz") > 0)
      .localCheckpoint()

    val sh = sets.select(col("__id"), col("__sz"),
      explode(col("__hs")).as("__h"))
    val dfreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__h"))
    // probe prefix: the doc's p rarest shingles; the index side is the
    // FULL shingle stream (sh), re-derived from the pinned sets — no
    // second kernel pass, no checkpoint of a corpus×shingle frame
    val prefix = sh.join(dfreq, "__h")
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <=
        col("__sz") - expr(s"(($t6 * __sz + 999999) div 1000000)") + 1)
      .select(col("__h"), col("__id").as("id_a"), col("__sz").as("__sa"))

    val idx = sh.select(col("__h"), col("__id").as("id_b"),
      col("__sz").as("__sb"))
    val cands = prefix.join(idx, Seq("__h"))
      .filter(col("id_a") =!= col("id_b") &&
        col("__sb") * 1000000L >= lit(t6) * col("__sa"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")

    cands
      .join(sets.select(col("__id").as("id_a"), col("__hs").as("__ha"),
        col("__sz").as("__sa")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__hs").as("__hb")),
        Seq("id_b"))
      .withColumn("containment",
        size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
          col("__sa"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** The end-to-end dedup semantics: drop every document that
    * near-duplicates (n-gram Jaccard ≥ threshold) a smaller-id document —
    * the standard keep-first policy of corpus pipelines. One anti-join
    * against the (small) duplicate-id set.
    *
    * NOTE: the dup-id frame (small — one id per dropped document) stays
    * cached for the SESSION lifetime so the returned plan can be executed
    * any number of times; callers running many dedups in one long-lived
    * session should use [[dropNearDuplicatesReleasable]] and invoke the
    * release hook once the result is materialized.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleWidth: Int = 3,
                         bands: Int = 32, rowsPerBand: Int = 4,
                         normalize: Boolean = false): DataFrame =
    dropNearDuplicatesReleasable(df, idCol, textCol, threshold, shingleWidth,
      bands, rowsPerBand, normalize)._1

  /** As [[dropNearDuplicates]], also returning a release hook that frees
    * the cached dup-id frame. Call it AFTER the returned DataFrame has been
    * materialized (written / collected / counted); executing the plan after
    * release recomputes the full candidate generation.
    *
    * The sketch subplan is persisted (MEMORY_AND_DISK) while the dup-id
    * set is materialized — it is consumed 3× (band self-join twice,
    * candidate join-back) and the shingle/minhash kernels are the
    * expensive narrow work — then unpersisted; only the SMALL dup-id
    * frame stays resident for the anti-join, released by the hook.
    */
  def dropNearDuplicatesReleasable(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4,
      normalize: Boolean = false): (DataFrame, () => Unit) = {
    val (cands, sketch) = minhashCandidatesWithSketch(df, idCol, textCol,
      shingleWidth, bands, rowsPerBand, persistSketch = true,
      normalize = normalize)
    try {
      val dupIds = cands
        .withColumn("jaccard", T.jaccard(col("hs_a"), col("hs_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_b").as(idCol)).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dupIds.count() // materialize the small dup-id set off the sketch
      (df.join(dupIds, Seq(idCol), "left_anti"),
        () => { dupIds.unpersist(blocking = false); () })
    } finally sketch.unpersist(blocking = false)
  }

  /** BIPARTITE MinHash near-dup pairs: corpus × eval, for FUZZY
    * decontamination — the near-dup analogue of exact n-gram
    * decontamination (q66): a benchmark document paraphrased or lightly
    * edited into the training corpus shares no exact 8-gram but sits at
    * shingle-Jaccard ≥ θ, and this finds it.
    *
    * The same bipartite shape is INCREMENTAL-INGEST dedup: call with
    * (existing-corpus, new-shard) to flag new documents near-duplicating
    * the standing corpus without re-running the corpus self-join — at
    * 100 TB the difference between an O(shard) nightly pass and an
    * O(corpus) one (swap the broadcast side if the shard is the big one).
    *
    * Shuffle discipline at 100 TB, which differs from the self-join
    * paths: the eval side is a FIXED benchmark set (small by construction
    * — the q66 premise), so its band keys AND shingle sets broadcast;
    * the corpus side is scanned once, its band keys probe the broadcast
    * map-side, and the exact-Jaccard verify runs AT the band match,
    * BEFORE pair dedup — so the only shuffle in the whole plan is the
    * final distinct over (id_a, id_b, jaccard) 24-byte rows. The corpus
    * never shuffles, and no array column crosses an exchange (the
    * Explain audit's wide-dedup smell). Trade: a true pair matching m of
    * the 32 bands computes its verify m times (E[m] ≈ 32·θ^4 ≈ 13 at
    * θ=0.8) — map-side, embarrassingly parallel, the price of zero
    * corpus shuffle. Recall: a θ-pair is missed by all bands with
    * (1−θ^r)^b ≈ 4e-8 at the 32×4 default ([[bandsFor]] sizes other
    * regimes). A hot band key degrades to |corpus_b| × |eval_b| map-side
    * work bounded by the broadcast side's bucket size — no reducer ever
    * sees it.
    *
    * GUARDED broadcast (round 9): the broadcast plan assumes the eval
    * side is a small fixed benchmark set, but nothing in the signature
    * enforced that — a corpus-sized eval frame used to die as an opaque
    * broadcast/driver OOM. `evalPlan = "auto"` (default) now runs ONE
    * small eval-side aggregate (count + total shingle count — a narrow
    * scan of the side that is supposed to be tiny) and estimates the
    * broadcast payload as bands × (48·rows + 8·shingles) bytes (per band
    * row: two 8-byte ids + band key + array headers, plus the 8-byte
    * shingle hashes); past `maxBroadcastEvalBytes` it re-routes to a
    * SHUFFLE band-join — both band frames exchange on `bh`, verify still
    * runs at the band match. The measured A/B
    * (bench/cross_decontam_ab_r8.json) locates the regime boundary near a
    * 10 % eval fraction: at 1 % the broadcast plan wins (0.90 vs 1.28 s
    * at x10), at 10 % on the x100 fixture the shuffle-side plan wins
    * (4.76 vs 6.20 s) — and its estimated eval payload sits right at the
    * 256 MiB default budget, so the route flips where the measurement
    * says it should. `evalPlan = "broadcast" | "shuffle"` pins the plan
    * (no estimate job); "broadcast" keeps the historical behavior for
    * callers that KNOW the eval side is bounded.
    */
  def crossJaccardPairs(corpus: DataFrame, eval: DataFrame,
                        idCol: String, textCol: String, threshold: Double,
                        shingleWidth: Int = 3, bands: Int = 32,
                        rowsPerBand: Int = 4,
                        normalize: Boolean = false,
                        evalPlan: String = "auto",
                        maxBroadcastEvalBytes: Long = 256L << 20): DataFrame = {
    require(Set("auto", "broadcast", "shuffle")(evalPlan),
      s"crossJaccardPairs: evalPlan must be auto|broadcast|shuffle, got $evalPlan")
    val k = bands * rowsPerBand
    def sketch(df: DataFrame) = {
      val textExpr =
        if (normalize) T.nfcNormalize(col(textCol)) else col(textCol)
      df.select(col(idCol).as("id"),
          T.shingleHashSet(textExpr, shingleWidth).as("hs"))
        .withColumn("sig", T.minhashSignature(col("hs"), k))
    }
    val evalSketch = sketch(eval)
    val useBroadcast = evalPlan match {
      case "broadcast" => true
      case "shuffle"   => false
      case _ =>
        val row = evalSketch
          .agg(count(lit(1)).as("n"), sum(size(col("hs"))).as("sh")).head()
        val n = row.getLong(0)
        val sh = if (row.isNullAt(1)) 0L else row.getLong(1)
        val est = bands.toLong * (48L * n + 8L * sh)
        est <= maxBroadcastEvalBytes
    }
    val evalBands = evalSketch.select(
      col("id").as("id_b"), col("hs").as("hs_b"),
      explode(T.bandHashes(col("sig"), bands, rowsPerBand)).as("bh"))
    val corpusBands = sketch(corpus).select(
      col("id").as("id_a"), col("hs").as("hs_a"),
      explode(T.bandHashes(col("sig"), bands, rowsPerBand)).as("bh"))
    val atBand =
      if (useBroadcast) corpusBands.join(broadcast(evalBands), Seq("bh"))
      else corpusBands.join(evalBands, Seq("bh"))
    atBand
      .withColumn("jaccard", T.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs: 64-bit sketch, blocked on CHUNK-PAIR keys,
    * verified with bit_count. Output: (id_a, id_b, hamming).
    *
    * Blocking math (the 100 TB concern): with the 64 bits split into
    * c = maxHamming + 2 chunks, any pair within hamming ≤ maxHamming
    * corrupts at most maxHamming chunks, leaving ≥ 2 intact — so by
    * pigeonhole it matches on at least one of the C(c,2) chunk-PAIR keys.
    * Each key carries ~2×64/c bits, so for the default maxHamming=3
    * (c=5, ~26-bit keys) two RANDOM sketches collide on a given key with
    * p ≈ 2^-25.6 — candidate volume ≈ 10·N²/2^26.6, ~4000× below the old
    * single-chunk scheme (4 × 16-bit chunks ⇒ 4·N²/2^17, which turns
    * quadratic-ish at 10⁹ docs). Recall guarantee is exact, not
    * probabilistic; the hamming verify keeps output semantics identical.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 12,
      s"simhashPairs: maxHamming in [1,12], got $maxHamming")
    val c = maxHamming + 2
    val sizes = Array.tabulate(c)(i => 64 / c + (if (i < 64 % c) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    def chunk(i: Int): Column =
      shiftrightunsigned(col("sh"), offsets(i))
        .bitwiseAND(lit((1L << sizes(i)) - 1))
    // key packs (pairIdx, chunk_i, chunk_j) into one long; slot width =
    // widest chunk (≤ 22 bits at c=3), pairIdx ≤ C(14,2) < 2^7 → ≤ 51 bits
    val slot = sizes.max
    val pairs = for { i <- 0 until c; j <- i + 1 until c } yield (i, j)
    val keys = array(pairs.zipWithIndex.map { case ((i, j), p) =>
      (lit(p.toLong).multiply(lit(1L << slot)).plus(chunk(i)))
        .multiply(lit(1L << slot)).plus(chunk(j))
    }: _*)
    // member struct carries the sketch through the skew-bounded self-join
    // (struct comparison orders by id first, so pair orientation is by id);
    // verify BEFORE deduplicating: hamming is a narrow bit_count per
    // candidate (identical for every chunk-pair key a pair collides on),
    // so filtering first shrinks the dedup shuffle from the full candidate
    // volume (~10·N²/2^26.6 rows) to only the true near-dup pairs
    val keyed = df.select(col(idCol).as("id"),
        T.tokens(col(textCol)).as("toks"))
      .withColumn("sh", T.simhash64("toks"))
      .select(struct(col("id"), col("sh")).as("m"), explode(keys).as("ck"))
    boundedSelfJoinCandidates(keyed, "ck", "m")
      .withColumn("hamming",
        T.hamming64(col("m_a.sh"), col("m_b.sh")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("m_a.id").as("id_a"), col("m_b.id").as("id_b"),
        col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Winnowing/MOSS containment pairs: documents sharing ≥ `threshold`
    * containment of winnowed fingerprints (shared / smaller full set).
    *
    * Scale design (the q47 plan): the self-join runs only on
    * DISCRIMINATIVE fingerprints — document frequency in [dfMin, dfMax] —
    * because singleton fingerprints cannot pair and promiscuous substrings
    * are hot join keys carrying no signal; this bounds the join output by
    * dfMax × the fingerprint count instead of df² on hot keys. The
    * containment denominator is the PRE-filter set size, so dropping
    * common fingerprints only undercounts — never inflates the ratio.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 20, w: Int = 8,
                         dfMin: Int = 2, dfMax: Int = 10,
                         threshold: Double = 0.5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
        T.winnowFingerprints(col(textCol), k, w).as("fps"))
      .withColumn("n_fp", size(col("fps")))
    val allFps = sets.select(col("id"), col("n_fp"),
      explode(col("fps")).as("fp"))
    val rare = allFps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin && col("df") <= dfMax).select("fp")
    val fps = allFps.join(rare, Seq("fp"))
    val a = fps.select(col("fp"), col("id").as("id_a"),
      col("n_fp").as("n_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"),
      col("n_fp").as("n_b"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"),
        first("n_a").as("n_a"), first("n_b").as("n_b"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "containment")
  }

  /** Connected components over a near-dup pair graph: labels every row of
    * `df` with the MINIMUM id reachable from it through `pairs` (columns
    * `id_a`/`id_b`); rows in no pair keep their own id. This is the
    * operator that turns pairwise dedup output into CLUSTERS — pair-based
    * keep-first (dropNearDuplicates) removes any doc dominated by a
    * smaller near-dup, but corpus curation (RefinedWeb/SlimPajama-style)
    * wants one canonical doc per transitive duplicate CLUSTER, and
    * A~B, B~C without A~C is exactly the case where the two differ.
    *
    * Algorithm: iterative min-label propagation with pointer jumping
    * (the two-step round of MapReduce-CC algorithms à la Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — re-expressed as
    * DataFrame joins). Each round: (1) every vertex takes the min of its
    * label and its neighbors' labels — one shuffle join + agg on the
    * bounded edge list; (2) labels chase one pointer hop (l(v) ← l(l(v))),
    * collapsing label chains so convergence is O(log diameter) rounds
    * rather than O(diameter). Near-dup graphs have tiny diameters (high
    * thresholds make clusters quasi-cliques), so rounds ≈ 2-4 in practice.
    *
    * `reliable = true` swaps each round's lineage truncation from
    * `localCheckpoint` (executor-local blocks — fast, but lost with an
    * executor) to reliable `checkpoint` against the SparkContext's
    * configured checkpoint dir — the multi-executor deployment shape,
    * where a lost executor must not kill a long label-propagation run.
    * Same plan, same labels (DedupSimilaritySpec asserts it); callers must
    * `sc.setCheckpointDir` first.
    *
    * Scale design: per-round cost is one equi-join on the edge list + one
    * self-join on the (vertex, label) frame — both shuffle-bounded by
    * |E| and |V|, nothing quadratic, no driver-side data. The ONE driver
    * scalar per round is the convergence check (a count of changed
    * labels — the same boundary-scalar pattern as the split operators).
    * Each round's label frame is `localCheckpoint`ed: the pointer-jump
    * self-join makes the round-over-round LOGICAL plan double per
    * iteration (2^k nodes by round k — analysis itself explodes long
    * before execution), so truncating lineage each round is
    * correctness-of-scale, not a cache tweak; superseded rounds'
    * checkpoint blocks are freed by the ContextCleaner as references
    * drop. A multi-executor deployment swaps in reliable
    * `checkpoint(dir)` for fault tolerance — same plan shape. `maxIter`
    * bounds the loop defensively; the require on exit makes a
    * non-converged run loud, never silently wrong.
    */
  def componentIds(df: DataFrame, idCol: String, pairs: DataFrame,
                   maxIter: Int = 20, reliable: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def truncate(d: DataFrame): DataFrame =
      if (reliable) d.checkpoint() else d.localCheckpoint()
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    var comp = truncate(df.select(col(idCol).as("id"), col(idCol).as("comp")))
    var converged = false
    var it = 0
    try {
      while (!converged && it < maxIter) {
        // (1) neighbor-min: l'(v) = min(l(v), min_{u ~ v} l(u)).
        // r20 probed and REJECTED materializing `prop` before the
        // pointer jump (the jump self-joins it, so this subtree is
        // planned twice per round): one extra node-sized checkpoint per
        // round measured WORSE on every component consumer
        // (q144 2.07→3.25 s, q119 3.49→4.05 s, q98 10.4→11.4 s isolated
        // median-of-3, bench/r20_components_{before,after}.json) — at
        // bounded edge volumes the re-planned join is cheaper than an
        // extra materialization + job round trip, the same economics as
        // the r19 q138 checkpoint-cadence probe.
        val nbrMin = edges
          .join(comp.select(col("id").as("u"), col("comp").as("cu")), Seq("u"))
          .groupBy(col("v").as("id")).agg(min("cu").as("nc"))
        val prop = comp.join(nbrMin, Seq("id"), "left_outer")
          .select(col("id"), col("comp").as("prev"),
            least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        // (2) pointer jump: l''(v) = l'(l'(v)) — labels are always vertex
        // ids, so the lookup join always hits
        val next = truncate(prop
          .join(prop.select(col("comp").as("cc"), col("id").as("comp")),
            Seq("comp"))
          .select(col("id"), col("prev"),
            least(col("comp"), col("cc")).as("comp"))) // truncate lineage — see scaladoc
        val changed = next.filter(col("comp") < col("prev")).count()
        comp = next.select("id", "comp")
        converged = changed == 0L
        it += 1
      }
      require(converged,
        s"componentIds: not converged after $maxIter rounds — diameter " +
          "pathology; raise maxIter")
      comp
    } finally edges.unpersist(blocking = false)
  }

  /** The MATERIALIZE-ONCE component-label stage: shingle-LSH candidate
    * pairs (≥ `threshold` exact n-gram Jaccard) → connected-component
    * labels, as one (idCol, component) frame.
    *
    * This is the 100 TB shape for every component consumer — keep-best
    * canonicalization, leakage-safe splits, cluster-size stats: the
    * label-propagation loop inside [[componentIds]] ends on a
    * `localCheckpoint`, so the returned frame is ALREADY materialized
    * (lineage truncated, blocks in the block manager) the moment this
    * returns — N downstream consumers built from the one returned frame
    * re-read those blocks instead of re-running the shingle-LSH +
    * label-propagation passes. Call it once per corpus and fan out
    * (bench/component_share_r8.json records the shared stage against
    * per-consumer recompute — ComponentShareNote, source at 9a451be); a
    * multi-executor deployment swaps the localCheckpoint
    * for reliable `checkpoint(dir)` — same contract.
    */
  def componentLabels(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleWidth: Int = 3,
                      bands: Int = 32, rowsPerBand: Int = 4,
                      maxBucket: Int = defaultMaxBucket,
                      normalize: Boolean = false): DataFrame = {
    val pairs = jaccardPairs(df, idCol, textCol, threshold, shingleWidth,
      bands, rowsPerBand, maxBucket, normalize = normalize)
    componentIds(df, idCol, pairs)
      .select(col("id").as(idCol), col("comp").as("component"))
  }

  /** SemDeDup-style APPLIED semantic dedup: the end-to-end corpus rewrite
    * an embedding-dedup pipeline ships, composed from this library's
    * gated stages — (1) the batch kNN graph answered from a PERSISTED IVF
    * index ([[Similarity.ivfKnnJoinFromIndex]] — the shuffle-on-cell
    * batch path, q160's scale shape); (2) `threshold` over the 6-dp
    * cosines → symmetric distinct edge set; (3) [[componentIds]] pointer-
    * jumping connected components; (4) KEEP-BEST per component — highest
    * 6-dp vector norm, id-ASC tiebreak — as ONE max_by hash-agg
    * (map-side partials; never a per-component window).
    *
    * Returns the full decision table (idCol, component, csize, action
    * kept/dropped, keep_id) — every row's fate, so a gate can check each
    * individual drop; `filter(action = 'kept')` IS the rewrite.
    *
    * Scale: with the index built at production geometry (nLists ≈ 2·√N,
    * bounded nProbe under the [[Similarity.ivfRecallAtK]] floor) every
    * stage is sub-quadratic — the kNN join probes nProbe/nLists of the
    * corpus per query, edges are ≤ |corpus|·k rows, the component loop is
    * O(log diameter) bounded shuffle rounds, and keep-best is one agg.
    * The caller owns index build/geometry (gates build at exhaustive
    * probe for exactness; bench/semdedup_x*_r17.json and
    * semdedupq_x*_r18.json record the production config, measured by
    * BenchSemDedup, source at 9a451be).
    */
  def semanticDedupApply(corpus: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, threshold: Double, k: Int,
                         nProbe: Int): DataFrame =
    semanticDedupDecisions(corpus, idCol, vecCol,
      Similarity.ivfKnnJoinFromIndex(indexPath, corpus, k = k,
        nProbe = nProbe, idCol = idCol, vecCol = vecCol), threshold)

  /** [[semanticDedupApply]] with its kNN stage answered from a QUANTIZED
    * index ([[Similarity.buildQuantizedIndex]]) through the provably-exact
    * int8 filter-refine batch join ([[Similarity.quantizedKnnJoinFromIndex]])
    * — the 100 TB dedup shape where the non-surviving majority of the
    * corpus is scanned as 64-byte codes instead of 512-byte double
    * vectors (~8× fewer scan bytes at dim 64). The refine pass is exact
    * (the Δ/2 reconstruction bound), so at a given geometry the decisions
    * EQUAL [[semanticDedupApply]]'s over a plain index — q176 gates this
    * against the very same from-scratch DuckDB replay as q170.
    */
  def semanticDedupApplyQuantized(corpus: DataFrame, idCol: String,
                                  vecCol: String, indexPath: String,
                                  threshold: Double, k: Int,
                                  nProbe: Int): DataFrame =
    semanticDedupDecisions(corpus, idCol, vecCol,
      Similarity.quantizedKnnJoinFromIndex(indexPath, corpus, k = k,
        nProbe = nProbe, idCol = idCol, vecCol = vecCol), threshold)

  /** [[semanticDedupApply]]'s decision stage over an ALREADY-AVAILABLE
    * kNN graph (q_id, n_id, sim) — the entry point when the graph is a
    * maintained artifact ([[Similarity.knnGraphFromIndex]], q172's
    * incremental path) rather than a per-run index probe: threshold →
    * symmetric edges → components → keep-best, same contract and output
    * shape as [[semanticDedupApply]].
    */
  def semanticDedupDecisions(corpus: DataFrame, idCol: String,
                             vecCol: String, knn: DataFrame,
                             threshold: Double): DataFrame = {
    val edges = knn.filter(col("sim") >= threshold)
      .select(least(col("q_id"), col("n_id")).as("id_a"),
        greatest(col("q_id"), col("n_id")).as("id_b"))
      .distinct()
    val comp = componentIds(corpus, idCol, edges)
      .select(col("id").as(idCol), col("comp").as("component"))
    val quality = corpus.select(col(idCol),
      round(V.norm(col(vecCol)), 6).as("nrm"))
    // keep-best = min over (nrm DESC, id ASC), expressed as min_by on
    // struct(−nrm, id) so the ordering never negates the ID — works for
    // ANY orderable id type (string/UUID ids failed analysis under the
    // old max_by(id, struct(nrm, −id)) form; round-17 advice), and the
    // Column API sidesteps SQL-string interpolation of names needing
    // backticks. Identical keep_id for numeric ids (same lexicographic
    // order), so the q170/q172/q173/q174 oracles are unchanged.
    val keep = quality.join(comp, Seq(idCol))
      .groupBy("component")
      .agg(min_by(col(idCol), struct((-col("nrm")).as("negnrm"),
          col(idCol).as("id"))).as("keep_id"),
        count(lit(1)).as("csize"))
    comp.join(keep, Seq("component"))
      .select(col(idCol), col("component"), col("csize"),
        when(col(idCol) === col("keep_id"), "kept")
          .otherwise("dropped").as("action"),
        col("keep_id"))
  }

  /** A stored DECISION-RECALL certificate read back ([[certifyDecisionRecall]]). */
  final case class DecisionCert(epoch: Long, threshold: Double, k: Int,
                                nProbe: Int, exactDrops: Long, caught: Long,
                                recall: Double)

  /** Measure and PERSIST the decision-recall certificate for semantic
    * dedup over this index at production geometry — the dedup-side
    * sibling of [[Similarity.certifyIvfIndex]] (round-17 verdict #1):
    * the fraction of the EXHAUSTIVE run's drops that the pruned
    * (nProbe < nLists) run still makes, over the index's own live
    * vectors, measured ONCE at certification time and stored in the
    * manifest — so the production dedup query ([[semanticDedupApply]] at
    * bounded nProbe behind [[requireCertifiedDecisionRecall]]) never
    * re-runs the corpus-linear exhaustive audit per invocation. The
    * exhaustive side here is the exact audit (right at gate-fixture
    * scale); a 100 TB deployment samples the audited vertex set — the
    * certificate schema and staleness contract are unchanged.
    *
    * The two dedup passes run LOCK-FREE (they are reads; holding the
    * writer lock through a corpus-scale audit would stall every
    * mutation — the [[Similarity.certifyIvfIndex]] discipline); the lock
    * is taken only for the publish, which refuses if the epoch moved
    * mid-audit. A QUANTIZED index certifies through the same call: the
    * int8 filter-refine channel is provably exact, so at equal geometry
    * the plain-probe decisions measured here equal
    * [[semanticDedupApplyQuantized]]'s (q176 == q170 hash-green), and
    * one certificate covers both run forms.
    */
  def certifyDecisionRecall(spark: SparkSession, indexPath: String,
                            threshold: Double, k: Int,
                            nProbe: Int): Double =
    certifyDecisionRecallHooked(spark, indexPath, threshold, k, nProbe,
      () => ())

  /** [[certifyDecisionRecall]] with the [[Similarity.certifyIvfIndexHooked]]
    * test seam and race hygiene: the cert generation is RESERVED (name
    * claimed, gc-exempt while in flight — round-18 advice: a concurrent
    * publish's gc could reap the unreferenced cert dir between the
    * lock-free audit and the publish), a refused publish deletes its own
    * orphan generation before throwing, and the marker releases in the
    * finally either way.
    */
  private[graft] def certifyDecisionRecallHooked(
      spark: SparkSession, indexPath: String, threshold: Double, k: Int,
      nProbe: Int, beforePublish: () => Unit): Double = {
    val m0 = MaintenanceIo.requireManifest(indexPath)
    val gen = MaintenanceIo.reserveGen(indexPath, "decision_cert")
    try {
      val corpus = Similarity.liveVectors(spark, indexPath)
      val nLists = Similarity.storedNLists(spark, indexPath)
      def drops(np: Int) = semanticDedupApply(corpus, "vec_id", "embedding",
          indexPath, threshold, k, np)
        .filter(col("action") === "dropped").select("vec_id")
      val exact = drops(nLists) // exhaustive probe == exact on this index
      val nExact = exact.count()
      val caught = drops(nProbe).join(exact, Seq("vec_id"), "left_semi")
        .count()
      val recall = if (nExact == 0L) 1.0 else caught.toDouble / nExact
      import spark.implicits._
      Seq((m0.epoch, threshold, k, nProbe, nExact, caught, recall))
        .toDF("epoch", "threshold", "k", "n_probe", "exact_drops",
          "caught", "recall")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/$gen")
      beforePublish()
      MaintenanceIo.withMaintenanceLock(indexPath) {
        val m = MaintenanceIo.requireManifest(indexPath)
        if (m.epoch != m0.epoch) {
          MaintenanceIo.deleteDir(s"$indexPath/$gen")
          throw new IllegalStateException(
            s"$indexPath mutated during decision certification (epoch " +
              s"${m0.epoch} -> ${m.epoch}) — re-run certifyDecisionRecall")
        }
        MaintenanceIo.publish(indexPath,
          m.copy(tables = m.tables + ("decision_cert" -> gen)))
        recall
      }
    } finally MaintenanceIo.releaseGen(indexPath, gen)
  }

  /** The stored decision certificate under the current manifest, if any. */
  def readDecisionCert(spark: SparkSession,
                       indexPath: String): Option[DecisionCert] =
    MaintenanceIo.requireManifest(indexPath).tables.get("decision_cert")
      .map { g =>
        val r = Tables.parquet(spark, s"$indexPath/$g").head()
        DecisionCert(r.getAs[Long]("epoch"), r.getAs[Double]("threshold"),
          r.getAs[Int]("k"), r.getAs[Int]("n_probe"),
          r.getAs[Long]("exact_drops"), r.getAs[Long]("caught"),
          r.getAs[Double]("recall"))
      }

  /** Enforce the STORED decision-recall certificate before a production
    * dedup run — [[Similarity.requireCertifiedRecall]]'s contract for the
    * dedup monitor: fails loudly on a missing cert, a STALE cert (index
    * epoch moved past it), a geometry/threshold mismatch, or a certified
    * recall below the floor. One 1-row parquet read — O(1) in corpus
    * size, vs the per-run exhaustive audit it replaces.
    */
  def requireCertifiedDecisionRecall(spark: SparkSession, indexPath: String,
                                     threshold: Double, k: Int, nProbe: Int,
                                     floor: Double): Double = {
    val m = MaintenanceIo.requireManifest(indexPath)
    val cert = readDecisionCert(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"$indexPath has no decision-recall certificate — " +
          "certifyDecisionRecall before running the production dedup"))
    require(cert.epoch == m.epoch,
      s"$indexPath decision certificate is STALE (cert epoch " +
        s"${cert.epoch}, index epoch ${m.epoch}) — re-certify")
    require(cert.threshold == threshold && cert.k == k &&
        cert.nProbe == nProbe,
      s"$indexPath decision certificate (θ=${cert.threshold}, k=${cert.k}, " +
        s"nProbe=${cert.nProbe}) does not match the run configuration " +
        s"(θ=$threshold, k=$k, nProbe=$nProbe) — re-certify")
    require(cert.recall >= floor,
      f"$indexPath certified decision recall = ${cert.recall}%.4f fell " +
        f"below the $floor%.2f dedup floor — recluster before running " +
        "the rewrite at this geometry")
    cert.recall
  }

  /** Number of OR-amplified hyperplane tables needed so a pair at EXACTLY
    * cosine `threshold` is missed with probability ≤ `maxMiss`.
    *
    * Sign-agreement LSH: P(one bit agrees) = 1 - acos(θ)/π, so one
    * `planes`-bit table catches the pair with p = (1 - acos(θ)/π)^planes
    * and `t` independent tables miss it with (1-p)^t. Pairs ABOVE the
    * threshold are caught with even higher probability, so this bounds the
    * miss rate for every emitted pair. The planes/tables trade-off: more
    * planes → smaller (more selective) buckets but more tables for the same
    * recall. At high thresholds (real near-dup dedup, θ ≥ 0.9) a handful of
    * 16-plane tables suffice; at θ near 0.5 recall forces few planes —
    * that regime is where the IVF path (Similarity.ivfTopK) takes over.
    */
  def lshTablesFor(threshold: Double, planes: Int,
                   maxMiss: Double = 1e-6): Int = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    val pBit = 1.0 - math.acos(threshold) / math.Pi
    val pTable = math.pow(pBit, planes)
    require(pTable > 0, "planes too high for this threshold")
    math.ceil(math.log(maxMiss) / math.log1p(-pTable)).toInt.max(1)
  }

  /** Number of MinHash BANDS needed so a pair at EXACTLY estimated
    * Jaccard `threshold` is missed with probability ≤ `maxMiss` — the
    * [[lshTablesFor]] sibling for banded MinHash (round-6 verdict task 6:
    * the 32×4 default's no-miss property at θ=0.5 is fixture-verified
    * only; this makes the recall ENGINEERED).
    *
    * A pair agreeing on fraction j of signature positions matches one
    * r-row band with probability j^r and is missed by all b bands with
    * (1 - j^r)^b; solving for b at j = threshold gives the bound. Pairs
    * above the threshold are caught with higher probability, so this
    * bounds the miss rate of every EMITTED pair, exactly like
    * lshTablesFor. The bands/rows trade-off mirrors planes/tables: more
    * rows per band → more selective buckets (fewer random candidates, ~
    * n²·b/|hash-space|^r under a uniform model) but more bands for the
    * same recall; at low thresholds (θ ≤ 0.5) recall forces small r — at
    * r = 4, θ = 0.5 the bound needs ⌈ln(1e-6)/ln(1−0.5⁴)⌉ = 215 bands,
    * so a 0.5-threshold caller should gear r down (r = 2 → 49 bands),
    * accepting coarser buckets; at dedup-realistic θ ≥ 0.8, r = 4 needs
    * only ⌈ln(1e-6)/ln(1−0.8⁴)⌉ = 27 bands — LESS than the 32-band
    * default, which is why the default is safe exactly there
    * (DedupSimilaritySpec pins both regimes).
    */
  def bandsFor(threshold: Double, rowsPerBand: Int,
               maxMiss: Double = 1e-6): Int = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(rowsPerBand >= 1, s"rowsPerBand >= 1, got $rowsPerBand")
    val pBand = math.pow(threshold, rowsPerBand)
    require(pBand > 0, "rowsPerBand too high for this threshold")
    math.ceil(math.log(maxMiss) / math.log1p(-pBand)).toInt.max(1)
  }

  /** Corpus-geared plane count for [[embeddingPairs]]: arg-min over a
    * shuffle-volume cost model of the fixed-geometry trade-off the
    * BENCH_SCALE plane sweep measures.
    *
    * A `planes`-bit / `lshTablesFor`-table geometry shuffles
    * n·tables(planes) sketch rows plus ~ n²·tables(planes)/2^planes
    * random-collision candidate rows (uniform-bucket model). More planes
    * shrink the collision term but grow the sketch term (tables must grow
    * to hold `maxMiss` recall) — the optimum therefore rises ~log₂(n):
    * measured 16 planes at 20 k vectors and 20 planes at 2 M on the x100
    * fixture (494 s → 80 s, BENCH_SCALE.md "Plane sweep").
    *
    * cost(p) = T(p) · (n·p + 7·n²/2^p): the first term is sketch bits
    * computed+shuffled (each of T tables hashes p bits per row), the
    * second the expected random-collision candidates; the 7 is the
    * candidate-to-bit cost ratio fitted from the x100 sweep (494/80/183 s
    * at p=16/20/24). Its arg-min lands within the sweep's measured flat
    * region (±2 planes) at both corpus sizes. The count `n` is the
    * caller's — a cheap `df.count()` or a catalog row estimate; the choice
    * only steers cost, never correctness (recall is re-sized per planes).
    */
  def planesFor(n: Long, threshold: Double, maxMiss: Double = 1e-6,
                minPlanes: Int = 8, maxPlanes: Int = 28): Int = {
    require(n > 0, s"planesFor: n must be positive, got $n")
    (minPlanes to maxPlanes).minBy { p =>
      val t = lshTablesFor(threshold, p, maxMiss).toDouble
      t * (n.toDouble * p + 7.0 * n.toDouble * n.toDouble / math.pow(2.0, p))
    }
  }

  /** Embedding near-dup pairs: cosine > threshold (rounded to 4 dp, exact
    * verification on every candidate). Small corpora may take the exact
    * pairwise path (`useLsh=false` — quadratic, test/oracle use only);
    * `useLsh=true` is the scale path: OR-amplified sign-agreement LSH
    * blocks candidates on `tables` independent `planes`-bit hyperplane
    * sketches, so candidate generation is a bounded equi-join — never
    * all-pairs, no constant join key, no single-reducer funnel.
    *
    * Shuffle discipline mirrors the MinHash path: only (bucket, id) rows —
    * 16 bytes — go through the ×tables self-join; vectors are joined back
    * only for DISTINCT candidate pairs. Recall is sized via
    * [[lshTablesFor]]: with its default 1e-6, a pair at the threshold is
    * practically never lost (and the q25 oracle checks this against the
    * full quadratic DuckDB computation).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, useLsh: Boolean = false,
                     dim: Int = 64, planes: Int = 16, tables: Int = 8,
                     seed: Long = 7L): DataFrame = {
    // norms are computed once per row (not once per pair) and carried
    // through the join; dot/(nrm_a*nrm_b) is float-identical to cosine()
    val base = df.select(col(idCol).as("id"),
        V.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("nrm", V.norm(col("v")))
    val aSide = base.select(col("id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"))
    val bSide = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("nrm_b"))
    val paired =
      if (!useLsh) {
        // exact all-pairs: vectors carried straight through the cross join
        aSide.crossJoin(bSide).filter(col("id_a") < col("id_b"))
      } else {
        // bucket key packs (table, sketch) into one long: t*2^planes + bits;
        // all tables computed in one compiled kernel pass per row, and only
        // these 16-byte (key, id) rows go through the ×tables self-join —
        // skew-bounded (identical vectors share every bucket) via the
        // triangular grid of boundedSelfJoinCandidates
        val keyed = base.select(col("id"), explode(
          V.hyperplaneSketches(col("v"), dim, planes, tables, seed)).as("bk"))
        boundedSelfJoinCandidates(keyed, "bk", "id")
          .select(col("m_a").as("id_a"), col("m_b").as("id_b"))
          .dropDuplicates("id_a", "id_b")
          .join(aSide, Seq("id_a"))
          .join(bSide, Seq("id_b"))
      }
    paired
      .withColumn("sim", round(
        V.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")), 4))
      .filter(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Duplicate-substring SCRUB (Lee et al. 2022 §4's dedup-by-substring at
    * token n-gram granularity): rewrite each doc removing every token
    * covered by an n-gram occurring ≥ 2 times corpus-wide. Scale shape:
    * the positional gram stream travels as (id, i, fnv64) rows; the
    * duplicated-gram set comes from a map-side-combined `groupBy(gh)
    * .count()` — partial aggregation folds a gram's occurrences INSIDE
    * each map task, so a boilerplate 8-gram appearing in millions of
    * docs (cookie banners, licence headers) crosses the exchange as one
    * pre-counted row per task, never as a single-reducer occurrence
    * list (a `count().over(Window.partitionBy(gh))` would buffer every
    * occurrence of the hot gram in one window group — the round-11
    * skew hazard this shape replaces; ScaleShapeSpec plants exactly
    * that gram and pins the plan). Flagging is a semi-join back on the
    * same gh key; the dup side carries one row per duplicated gram, so
    * AQE can broadcast it when sparse. Only flagged positions — sparse
    * in a deduplicated-enough corpus — expand to covered-position rows
    * and fold to one sorted array per affected doc; the rewrite is a
    * doc-level join plus a narrow index-aware `filter` HOF, so the
    * corpus is never token-exploded and never shuffles. Returns
    * (id, n_tok, n_kept, n_removed, clean_text); row order unspecified
    * (callers sort).
    */
  def scrubDuplicateGrams(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val docs = df.select(col(idCol), T.tokens(col(textCol)).as("t"))
    // the positional gram stream feeds TWO consumers — the duplicated-
    // gram aggregate and the semi-join probe side — so pin it
    // (localCheckpoint, the q71/q108 materialize-once pattern) and the
    // tokenize+shingle+posexplode kernel runs ONCE instead of once per
    // consumer (round-12 advice; q71's own measurement put the exact
    // re-evaluation at ~1.7x)
    val grams = docs.filter(size(col("t")) >= n)
      .select(col(idCol),
        posexplode(T.tokenShingles(col("t"), n)).as(Seq("i0", "g")))
      .select(col(idCol), (col("i0") + 1).as("i"), T.fnv64(col("g")).as("gh"))
      .localCheckpoint()
    // positional (NOT per-doc-distinct) grams: the corpus-wide occurrence
    // count >= 2 means "this span appears elsewhere (any doc, or again in
    // this one)"
    val cov = grams
      .join(duplicatedGramSet(grams), Seq("gh"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy(idCol).agg(array_sort(collect_set(col("p"))).as("cov"))
    docs.join(cov, Seq(idCol), "left_outer")
      .select(col(idCol), size(col("t")).cast("long").as("n_tok"),
        when(col("cov").isNull, col("t"))
          .otherwise(filter(col("t"),
            (tok, i0) => !array_contains(col("cov"), i0 + 1)))
          .as("kept"))
      .select(col(idCol), col("n_tok"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** The corpus-wide DUPLICATED-GRAM SET of a gram stream (`gh` column):
    * one row per gram hash occurring ≥ 2 times. The point is the shape —
    * `groupBy(gh).count()` partial-aggregates inside each map task, so a
    * gram occurring millions of times crosses the exchange as one
    * pre-counted row per task and the filter leaves ONE row per
    * duplicated gram; downstream consumers semi-join occurrences against
    * it (streamed probes, nothing buffered) instead of windowing over
    * the raw occurrence list. Shared by [[scrubDuplicateGrams]] and the
    * q108 drop-reason report; hot-gram skew pinned by ScaleShapeSpec.
    */
  def duplicatedGramSet(grams: DataFrame): DataFrame =
    grams.groupBy("gh").agg(count(lit(1)).as("__nocc"))
      .filter(col("__nocc") >= 2).select("gh")

  private def bloomKey(c: Column, nfc: Boolean): Column =
    xxhash64(if (nfc) T.nfcNormalize(c) else c)

  /** Build the standing corpus's exact-dedup Bloom filter and persist it
    * as a one-row parquet artifact (`n_keys`, `num_bits`, `bloom`) — the
    * q92-style build-once side of [[bloomAdmit]]. Two jobs over ONE
    * column: a count (sizes the filter: `bitsPerKey` bits per key, hash
    * count optimal for that load) and the [[graft.functions.AggFunctions
    * .bloomFilterAgg]] fold. At 10 bits/key the false-positive rate is
    * ~0.9%; FPs only cost verify-join work, never correctness.
    *
    * 100 TB sizing: the artifact is `n_keys × bitsPerKey / 8` bytes —
    * 1.25 GB for 10^9 docs — built once per corpus snapshot and amortized
    * over every subsequent ingest, exactly like the IVF index (q92) and
    * the BPE vocab (q97). A nightly pipeline appends new keys via
    * [[appendToExactBloom]] (OR-union of a same-geometry shard filter),
    * never rescanning the corpus.
    */
  def buildExactBloom(corpus: DataFrame, keyCol: String, path: String,
                      bitsPerKey: Int = 10, nfc: Boolean = false): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val n = math.max(1L, corpus.select(col(keyCol)).count())
      val numBits = math.max(64L, n * bitsPerKey)
      val gen = MaintenanceIo.nextGen(path, "bloom")
      exactBloomAggFrame(corpus, keyCol, n, numBits, nfc)
        .coalesce(1).write.parquet(s"$path/$gen")
      MaintenanceIo.publish(path,
        MaintenanceIo.Manifest(0L, Map("bloom" -> gen)))
    }

  /** The one-row Bloom artifact (driver-sized by construction), resolved
    * through the manifest — the ONE way to read it, so probes and
    * appends always see a complete generation even while an append is
    * publishing the next one.
    */
  private[graft] def readBloomArtifact(
      sp: org.apache.spark.sql.SparkSession, path: String): Row =
    Tables.parquet(sp, MaintenanceIo.snapshot(path)("bloom")).head()

  /** The bloom build's single aggregation frame (count pass already done,
    * sizing passed in) — exposed so the construction-time plan audits
    * alongside the returned frames (SparkEntry.auditPlans). The artifact
    * row pins the FULL probe contract — sizing AND the `nfc` key scheme —
    * mirroring the LSH band index's meta row, so a probe can never
    * silently hash different keys than were built (a build(nfc=true) +
    * probe(nfc=false) mismatch would produce false negatives: true
    * duplicates admitted without ever reaching the verify join).
    */
  def exactBloomAggFrame(corpus: DataFrame, keyCol: String, n: Long,
                         numBits: Long, nfc: Boolean = false): DataFrame =
    corpus.select(bloomKey(col(keyCol), nfc).as("k"))
      .agg(lit(n).as("n_keys"), lit(n).as("cap"),
        lit(numBits).as("num_bits"), lit(nfc).as("nfc"),
        graft.functions.AggFunctions.bloomFilterAgg(col("k"), n, numBits)
          .as("bloom"))

  /** INCREMENTAL Bloom append — the nightly path [[buildExactBloom]]'s
    * scaladoc promises, now an operator: fold a NEW shard's keys into a
    * filter of the SAME geometry and OR it into the stored blob (Bloom
    * union = bitwise OR — valid because geometry AND hash count are
    * reproduced: the shard filter is built with the artifact's original
    * `n_keys` sizing, so Spark derives the identical hash functions),
    * then rewrite the one-row artifact with the accrued key count. One
    * pass over the NEW keys only; the corpus is never rescanned. The FP
    * rate degrades gracefully as keys accrue past the built capacity
    * (bits/key shrinks) — FPs only cost verify-join work, never
    * correctness — and a capacity-doubling rebuild is the q93 economics.
    */
  def appendToExactBloom(shard: DataFrame, keyCol: String,
                         path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = shard.sparkSession
      val m = MaintenanceIo.requireManifest(path)
      val art = readBloomArtifact(sp, path)
      val n0 = art.getAs[Long]("n_keys")
      // hash-function count derives from the BUILT capacity, which the
      // artifact pins separately from the accrued key count — sizing the
      // shard filter from n_keys would change numHashFunctions on the
      // SECOND append and make the blobs unmergeable
      val cap = art.getAs[Long]("cap")
      val numBits = art.getAs[Long]("num_bits")
      val nfc = art.getAs[Boolean]("nfc")
      val nNew = shard.select(col(keyCol)).count()
      // same (expectedItems, numBits) => same numHashFunctions => OR-able
      val shardBlob = exactBloomAggFrame(shard, keyCol, cap, numBits, nfc)
        .head().getAs[Array[Byte]]("bloom")
      val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(art.getAs[Array[Byte]]("bloom")))
      merged.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(shardBlob)))
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      import sp.implicits._
      // new generation + manifest swap, never overwrite-in-place: an
      // overwrite deletes the old artifact before the new one lands, so
      // a crash mid-write would leave NO filter and break every
      // subsequent probe; here a crash at ANY step leaves the manifest
      // pointing at the old (still-correct-for-old-keys) generation
      val gen = MaintenanceIo.nextGen(path, "bloom")
      Seq((n0 + nNew, cap, numBits, nfc, bos.toByteArray))
        .toDF("n_keys", "cap", "num_bits", "nfc", "bloom")
        .coalesce(1).write.parquet(s"$path/$gen")
      MaintenanceIo.publish(path,
        MaintenanceIo.Manifest(m.epoch + 1, Map("bloom" -> gen)))
    }

  /** EXACT incremental-ingest admission via a persisted Bloom filter: the
    * fast path of [[exact]]-dedup when a shard arrives against a standing
    * corpus. Shard keys probe the stored filter inside the scan's codegen
    * span; rows the filter has never seen are admitted OUTRIGHT (Bloom
    * filters have no false negatives), and only the might-contain
    * candidates — true duplicates plus the ~1% false positives — reach
    * the verify stage, which matches on the RAW key value (collision-
    * proof) in two corpus-shuffle-free steps: candidates broadcast into a
    * semi-join against the corpus scan, and the surviving (tiny) existing-
    * key set broadcasts back into the shard anti-join. Result: admitted
    * shard rows, exactly `shard WHERE key NOT IN corpus` semantics.
    *
    * Against a plain anti-join ingest, the join input shrinks from
    * |shard| to |dups| + fp·|new|, and the corpus side is a single
    * column-pruned scan with NOTHING shuffled — the broadcast semi-join
    * prunes it further at runtime (the candidate-key filter pushes into
    * the scan as Spark's own runtime bloom would). Within-shard
    * duplicates are out of scope (admission against the standing corpus
    * only), mirroring q89's incremental-ingest contract.
    *
    * The key scheme (`nfc`) comes FROM the artifact — the build pinned it
    * (see [[exactBloomAggFrame]]), so probe keys are hashed exactly as
    * the built keys were; callers cannot diverge. NULL keys are admitted
    * OUTRIGHT, explicitly: a NULL probe yields a NULL might-contain,
    * which would otherwise fail both branch filters and silently drop
    * the row — and `left_anti` semantics (a NULL key matches nothing in
    * the corpus) say admit.
    */
  def bloomAdmit(corpus: DataFrame, shard: DataFrame, keyCol: String,
                 bloomPath: String): DataFrame = {
    val sp = corpus.sparkSession
    // one-row artifact: driver-sized by construction
    val art = readBloomArtifact(sp, bloomPath)
    val bloom = art.getAs[Array[Byte]]("bloom")
    val nfc = art.getAs[Boolean]("nfc")
    val probed = shard.withColumn("__mc",
      graft.functions.AggFunctions.bloomMightContain(bloom,
        bloomKey(col(keyCol), nfc)))
    val clean = probed.filter(!coalesce(col("__mc"), lit(false)))
    val cand = probed.filter(coalesce(col("__mc"), lit(false)))
    val candKeys = cand.select(col(keyCol).as("__k")).distinct()
    val existing = corpus.select(col(keyCol).as("__k"))
      .join(broadcast(candKeys), Seq("__k"), "left_semi").distinct()
    clean.unionByName(
        cand.join(broadcast(existing), cand(keyCol) === existing("__k"),
          "left_anti"))
      .drop("__mc")
  }

  /** Content-defined chunking (Rabin/FastCDC shape at token granularity):
    * a chunk boundary falls after token `i+w-1` wherever the FNV-64 hash
    * of the w-token window ending there is ≡ 0 (mod `modulus`) — so
    * boundaries are a pure function of LOCAL content, and an edit
    * re-chunks only its neighborhood before the stream re-synchronizes
    * (the property fixed-size chunking lacks, and the reason backup/dedup
    * systems use CDC for partial-overlap detection). Expected chunk
    * length ≈ `modulus` tokens + w; the final chunk always ends at the
    * last token, so chunks PARTITION the token stream exactly —
    * `sum(ctoks) = n_tokens` per doc, for every doc with ≥1 token.
    *
    * Returns one row per chunk: (idCol, cidx, chash, ctoks) — `cidx` the
    * 0-based chunk position, `chash` FNV-64 of the ' '-joined chunk
    * tokens. Only these 28-byte rows are ever exploded; text never is.
    *
    * EVALUATION-SHAPE WARNING (the reason this is a DataFrame operator,
    * not a Column function): every intermediate array (token list, window
    * hashes, boundary ends) is staged as a NAMED COLUMN so per-element
    * lambdas reference an O(1) attribute. Written as one nested Column
    * expression, `element_at(wh, i)` inside a lambda re-evaluates the
    * whole O(n) window-hash subtree PER ELEMENT (Catalyst HOFs evaluate
    * lambda-body subtrees per invocation, and subexpression elimination
    * does not reach inside lambdas) — measured O(n³): minutes per 100
    * 100-token docs. Staged, the same semantics are O(n) per row.
    * CollapseProject keeps the stages separate because each alias is
    * referenced more than once and is non-cheap.
    */
  def cdcChunkRows(df: DataFrame, idCol: String, textCol: String,
                   w: Int = 4, modulus: Int = 16): DataFrame =
    df.select(col(idCol), T.tokens(col(textCol)).as("__t"))
      .withColumn("__wh",
        transform(T.tokenShingles(col("__t"), w), s => T.fnv64(s)))
      .withColumn("__ends", concat(
        when(size(col("__wh")) === 0, array().cast("array<int>"))
          .otherwise(filter(
            transform(
              filter(sequence(lit(1), size(col("__wh"))),
                i => pmod(element_at(col("__wh"), i),
                  lit(modulus)) === 0),
              i => i + lit(w - 1)),
            e => e < size(col("__t")))),
        array(size(col("__t")))))
      .withColumn("__starts", concat(array(lit(1)),
        transform(slice(col("__ends"), lit(1), size(col("__ends")) - 1),
          e => e + 1)))
      .select(col(idCol), posexplode(
        zip_with(col("__starts"), col("__ends"), (s, e) =>
          struct(
            T.fnv64(concat_ws(" ", slice(col("__t"), s, e - s + 1)))
              .as("chash"),
            (e - s + 1).as("ctoks")))))
      .select(col(idCol), col("pos").as("cidx"),
        col("col.chash").as("chash"),
        col("col.ctoks").cast("long").as("ctoks"))

  /** Persisted MinHash-LSH BAND INDEX: the build-once side of near-dup
    * incremental ingest, completing the stored-artifact trio — IVF for
    * ANN (q92), Bloom for exact dedup (q101), band index for FUZZY dedup.
    * Writes `path/bands` = (bh: long, id: long) — one 16-byte row per
    * (band hash, corpus doc) — plus a one-row `path/meta` pinning the
    * sketch geometry (shingle width, bands, rows per band, NFC flag), so
    * every later probe reproduces byte-identical band keys without the
    * caller re-stating parameters.
    *
    * 100 TB sizing: the index is `32 × 16 B ≈ 0.5 KB/doc` regardless of
    * document length — ~0.5 TB for 10^9 docs, 1/200th of the corpus —
    * built with ONE corpus pass (the shingle+minhash kernels run once,
    * here, instead of on every ingest as [[crossJaccardPairs]] must) and
    * amortized over every subsequent shard. [[appendToLshBandIndex]]
    * keeps it current by appending admitted docs' band rows, never
    * rescanning the corpus.
    */
  def writeLshBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, shingleWidth: Int = 3,
                        bands: Int = 32, rowsPerBand: Int = 4,
                        normalize: Boolean = false): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val gen = MaintenanceIo.nextGen(path, "bands")
      lshBandRows(corpus, idCol, textCol, shingleWidth, bands, rowsPerBand,
          normalize)
        .withColumn("epoch", lit(0L))
        .write.parquet(s"$path/$gen")
      corpus.sparkSession.range(1)
        .select(lit(shingleWidth).as("shingle_width"), lit(bands).as("bands"),
          lit(rowsPerBand).as("rows_per_band"), lit(normalize).as("nfc"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      MaintenanceIo.publish(path,
        MaintenanceIo.Manifest(0L, Map("bands" -> gen)))
    }

  /** The band-index build's one corpus pass (sketch → band explode) —
    * factored out so the construction-time plan audits alongside the
    * returned frames (SparkEntry.auditPlans) and so append reuses it.
    */
  def lshBandRows(docs: DataFrame, idCol: String, textCol: String,
                  shingleWidth: Int, bands: Int, rowsPerBand: Int,
                  normalize: Boolean): DataFrame = {
    val textExpr =
      if (normalize) T.nfcNormalize(col(textCol)) else col(textCol)
    docs.select(col(idCol).as("id"),
        T.minhashSignature(T.shingleHashSet(textExpr, shingleWidth),
          bands * rowsPerBand).as("sig"))
      .select(explode(T.bandHashes(col("sig"), bands, rowsPerBand))
        .as("bh"), col("id"))
  }

  /** Append newly-admitted docs' band rows to a stored index — the
    * nightly-cadence maintenance step (the q93 shape for fuzzy dedup):
    * geometry comes from the stored meta, cost is one pass over the NEW
    * docs only.
    */
  def appendToLshBandIndex(newDocs: DataFrame, idCol: String,
                           textCol: String, path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val mf = MaintenanceIo.requireManifest(path)
      val e = mf.epoch + 1
      val m = Tables.parquet(newDocs.sparkSession, s"$path/meta").head()
      lshBandRows(newDocs, idCol, textCol, m.getAs[Int]("shingle_width"),
          m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"),
          m.getAs[Boolean]("nfc"))
        .withColumn("epoch", lit(e))
        .write.mode("append").parquet(s"$path/${mf.tables("bands")}")
      MaintenanceIo.publish(path, mf.copy(epoch = e))
    }

  /** Tombstone DELETE from a stored band index — the takedown path
    * completing the build/append/probe lifecycle (round-11 verdict #3),
    * the fuzzy-dedup sibling of [[graft.operators.Similarity
    * .deleteFromIvfIndex]]. Records the doc ids as tombstones
    * ([[MaintenanceIo.tombstone]] — the epoch rule in its header);
    * [[lshIndexProbe]] subtracts them from the candidate set with a
    * broadcast join until [[compactLshBandIndex]] folds them in.
    * Per-delete cost is one O(|tombstones|) write — the 16-byte band rows
    * are never touched.
    */
  def deleteFromLshBandIndex(ids: DataFrame, idCol: String,
                             path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      MaintenanceIo.publish(path, MaintenanceIo.tombstone(path,
        MaintenanceIo.requireManifest(path),
        ids.select(col(idCol).as("id")), "id"))
    }

  /** Fold tombstones into the stored band table: rewrite live rows as a
    * NEW generation, publish the manifest swap (band table + tombstone
    * retirement atomically — racing readers see old pair or new table,
    * never a mix), GC superseded generations past the reader grace copy.
    * Probe cost returns to the fresh-build baseline (no tombstone join
    * remains). Writers serialize on the maintenance lock.
    */
  def compactLshBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val m = MaintenanceIo.requireManifest(path)
      if (!m.tables.contains("tombstones")) return
      val gen = MaintenanceIo.nextGen(path, "bands")
      liveBandRows(spark, path).write.parquet(s"$path/$gen")
      MaintenanceIo.publish(path,
        MaintenanceIo.compacted(m, Map("bands" -> gen)))
    }

  /** Stored band rows minus epoch-shadowed ones ([[MaintenanceIo.live]]). */
  private def liveBandRows(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame = {
    val snap = MaintenanceIo.snapshot(path)
    MaintenanceIo.live(MaintenanceIo.read(spark, snap, "bands"), snap, "id")
  }

  /** Near-dup pairs of an ingest shard against a standing corpus, probed
    * through a stored [[writeLshBandIndex]] artifact — same output
    * contract as [[crossJaccardPairs]] (id_a = corpus, id_b = shard,
    * exact Jaccard ≥ threshold), same candidate set (identical sketch
    * geometry and seeds ⇒ identical band keys), but the per-ingest cost
    * no longer re-runs the corpus-side sketch kernels:
    *
    *   1. candidates: stored 16-byte band rows scanned once, broadcast-
    *      hash-joined against the (per-ingest small) shard's band keys —
    *      no corpus-side minhash, no corpus shuffle;
    *   2. verify: corpus text scanned once, runtime-pruned to CANDIDATE
    *      docs by a broadcast semi-join BEFORE the shingle kernel runs
    *      (the projection sits above the join), so exact-Jaccard work is
    *      |candidates|, not |corpus|.
    *
    * The dominant saved term vs [[crossJaccardPairs]] is the corpus-wide
    * minhash (k hash evaluations per shingle, every ingest); what remains
    * corpus-linear is one column-pruned text scan feeding a broadcast-
    * probe filter — IO-bound, kernel-free. The shard side is assumed
    * per-ingest bounded (broadcast both its band and sketch frames);
    * unbounded shards belong on [[crossJaccardPairs]]'s auto-reroute
    * path. Candidate pairs are materialized once (localCheckpoint —
    * band-match volume, tiny by LSH design) because both the corpus
    * prune and the verify join consume them.
    */
  def lshIndexProbe(corpus: DataFrame, shard: DataFrame, indexPath: String,
                    idCol: String, textCol: String,
                    threshold: Double): DataFrame = {
    val sp = corpus.sparkSession
    val m = Tables.parquet(sp, s"$indexPath/meta").head()
    val (w, nb, rpb) = (m.getAs[Int]("shingle_width"),
      m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
    val nfc = m.getAs[Boolean]("nfc")
    def textExpr(c: Column) = if (nfc) T.nfcNormalize(c) else c
    val shardSketch = shard.select(col(idCol).as("id_b"),
        T.shingleHashSet(textExpr(col(textCol)), w).as("hs_b"))
      .withColumn("sig", T.minhashSignature(col("hs_b"), nb * rpb))
      .localCheckpoint()
    val shardBands = shardSketch.select(
      explode(T.bandHashes(col("sig"), nb, rpb)).as("bh"), col("id_b"))
    val cands = liveBandRows(sp, indexPath)
      .join(broadcast(shardBands), Seq("bh"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
      .localCheckpoint()
    val corpusCand = corpus
      .join(broadcast(cands.select(col("id_a").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_a"),
        T.shingleHashSet(textExpr(col(textCol)), w).as("hs_a"))
    corpusCand.join(broadcast(cands), Seq("id_a"))
      .join(broadcast(shardSketch.select(col("id_b"), col("hs_b"))),
        Seq("id_b"))
      .withColumn("jaccard", T.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
