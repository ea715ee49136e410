package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.clustering.graft.DriverKMeans
import org.apache.spark.ml.functions.array_to_vector

import graft.Tables
import graft.ml.KMeansFit
import graft.functions.{AggFunctions, VectorFunctions => V}

/** Approximate-nearest-neighbor search over embedding columns (north-star
  * layer). Baseline: exact brute-force top-k with the query side broadcast —
  * one narrow pass over the corpus, no shuffle of the corpus itself, so it
  * scales to arbitrary corpus size for bounded query batches. Scale path:
  * hyperplane-LSH bucketing to keep candidate generation sublinear.
  *
  * The final reduction in every variant is the bounded-heap
  * `AggFunctions.topKByScore` partial aggregate: each corpus partition emits
  * at most k entries per query, so only `queries × k × partitions` rows ever
  * shuffle — never the scored corpus itself.
  */
object Similarity {

  /** What a PERSISTED recall certificate measures: recall@`k` of the
    * stored index probed at `nProbe`, over a deterministic query sample
    * (every vector whose id hashes to 0 mod `sampleEvery` — seedless,
    * reproducible, corpus-size-proportional). Passed to the index
    * mutations ([[buildIvfIndex]], [[appendToIvfIndex]],
    * [[reclusterIvfIndex]], [[appendToKnnGraph]], [[deleteFromKnnGraph]])
    * so the certificate lands in the SAME atomic manifest publish as the
    * mutation it certifies — see [[requireCertifiedRecall]] for why.
    */
  final case class RecallCertSpec(k: Int, nProbe: Int,
                                  sampleEvery: Long = 10L)

  /** A stored recall certificate read back: the recall measured at
    * mutation time, stamped with the manifest epoch it certifies.
    */
  final case class RecallCert(epoch: Long, k: Int, nProbe: Int,
                              sampleN: Long, recall: Double)

  /** Shared top-k reduction: scored(q_id, n_id, sim) → (q_id, n_id, sim, rn)
    * with rn = 1..k by (sim DESC, n_id ASC). A partial-merge aggregate, NOT
    * a row_number window: a window over partitionBy(q_id) would shuffle and
    * sort ALL scored rows into one reducer per query (no partial phase),
    * while this keeps a k-entry heap per input partition and merges k-sized
    * heaps — the reduction the ANN paths need at corpus scale.
    */
  private def topKReduce(scored: DataFrame, k: Int): DataFrame = {
    val idType = scored.schema("n_id").dataType
    scored.groupBy("q_id")
      .agg(AggFunctions.topKByScore(col("sim"), col("n_id").cast("long"), k)
        .as("nbrs"))
      .select(col("q_id"), posexplode(col("nbrs")))
      .select(col("q_id"), col("col.n_id").cast(idType).as("n_id"),
        col("col.sim").as("sim"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Exact cosine top-k neighbors for each query row. `queries` must be
    * small enough to broadcast (it is sent to every corpus partition); the
    * corpus is only scanned, never shuffled — the final top-k per query is
    * the bounded-heap partial aggregate above.
    * Similarity is rounded to 6 dp and tie-broken on neighbor id, so the
    * ranking is fully deterministic.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"),
        V.toDoubleArray(col(vecCol)).as("v_n"))
      .withColumn("nrm_n", V.norm(col("v_n")))
    val q = queries.select(col(idCol).as("q_id"),
        V.toDoubleArray(col(vecCol)).as("v_q"))
      .withColumn("nrm_q", V.norm(col("v_q")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(
        V.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")), 6))
    topKReduce(scored, k)
  }

  /** Bipartite exact cosine matches at a threshold: SEMANTIC
    * decontamination — the embedding-space member of the decontamination
    * trio (exact n-grams q66, fuzzy shingles q84/crossJaccardPairs, and
    * this): a benchmark document REWRITTEN into the corpus can evade both
    * token-level passes while its embedding still sits at cosine ≥ θ.
    * Same bipartite scale shape as [[bruteForceTopK]]: the eval side is a
    * fixed benchmark set, broadcast whole (vectors included); the corpus
    * is scanned once and NEVER shuffles — per-row work is |eval| dot
    * products inside one codegen'd projection, and only rows ≥ θ survive
    * to the (tiny) result. Exact by construction — no LSH recall question
    * on the decontamination path. Also the incremental-ingest shape:
    * (corpus, new-shard) flags semantic near-dups of standing data.
    * Similarity rounds to 6 dp like bruteForceTopK (determinism rule).
    * Zero-norm vectors (cosine undefined) are dropped on BOTH sides
    * before scoring: without the filter 0/0 = NaN, and Spark's NaN
    * comparison semantics (NaN greatest) would pass `sim >= threshold`
    * and emit phantom matches with sim = NaN.
    *
    * GUARDED broadcast (round 9): the plan is only sane when the eval
    * side broadcasts — there is no equi-key to shuffle on for EXACT
    * bipartite cosine, so a corpus-sized eval frame has no good plan
    * here, and before this guard it died as an opaque broadcast/driver
    * OOM. `checkEvalSize = true` (default) runs one small eval-side
    * aggregate (count + total vector elements — a narrow scan of the
    * side that is supposed to be a fixed benchmark set) and REFUSES with
    * a named error when the estimated payload (48 bytes/row + 8
    * bytes/element) exceeds `maxBroadcastEvalBytes`: swap the sides
    * (broadcast the smaller frame — the output is symmetric modulo
    * column names) or give up exactness and use the LSH path
    * (Dedup.embeddingPairs at θ, or lshTopK) for large×large semantic
    * matching. Callers that know the eval side is bounded can pass
    * `checkEvalSize = false` to skip the estimate job.
    */
  def crossCosineMatches(corpus: DataFrame, eval: DataFrame,
                         threshold: Double, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         checkEvalSize: Boolean = true,
                         maxBroadcastEvalBytes: Long = 256L << 20): DataFrame = {
    val c = corpus.select(col(idCol).as("id_a"),
        V.toDoubleArray(col(vecCol)).as("v_a"))
      .withColumn("nrm_a", V.norm(col("v_a")))
      .filter(col("nrm_a") > 0)
    val e = eval.select(col(idCol).as("id_b"),
        V.toDoubleArray(col(vecCol)).as("v_b"))
      .withColumn("nrm_b", V.norm(col("v_b")))
      .filter(col("nrm_b") > 0)
    if (checkEvalSize) {
      val row = e.agg(count(lit(1)).as("n"),
        sum(size(col("v_b"))).as("el")).head()
      val n = row.getLong(0)
      val el = if (row.isNullAt(1)) 0L else row.getLong(1)
      val est = 48L * n + 8L * el
      require(est <= maxBroadcastEvalBytes,
        s"crossCosineMatches: eval side estimates $est broadcast bytes " +
          s"($n rows), over the $maxBroadcastEvalBytes budget — this " +
          "operator broadcasts the eval side whole (exact bipartite " +
          "cosine has no shuffle key). Swap the sides so the smaller " +
          "frame is `eval`, or use the LSH path (Dedup.embeddingPairs / " +
          "Similarity.lshTopK) for large×large matching.")
    }
    c.crossJoin(broadcast(e))
      .withColumn("sim", round(
        V.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Coarse-quantizer training set: the full corpus while it fits
    * `rowBudget`, else a seeded sample targeting ≈`rowBudget` rows — so
    * quantizer training cost is bounded and independent of corpus size BY
    * DEFAULT (a 10⁹-vector corpus must not pay a full-corpus KMeans fit for
    * its quantizer). Pass an explicit `trainSample` fraction to override.
    * `c` carries the vectors as `v_n`; see [[ivfTrainShaped]].
    */
  private[graft] def ivfTrainSet(c: DataFrame, trainSample: Double,
                                 rowBudget: Long, seed: Long): DataFrame =
    ivfTrainShaped(c, trainSample, rowBudget, seed)._1

  /** [[ivfTrainSet]] plus the training set's size probe when it is the
    * whole corpus. Deciding between corpus and sample needs the row count;
    * the KMeans fit entry's probe ([[KMeansFit.probe]]) counts the rows
    * and measures the width in one job, so it is that count, and a
    * corpus-sized training set is probed once. A sample is probed by the
    * fit itself.
    */
  private def ivfTrainShaped(c: DataFrame, trainSample: Double,
                             rowBudget: Long, seed: Long)
      : (DataFrame, Option[DriverKMeans.Shape]) =
    if (!trainSample.isNaN) {
      (if (trainSample < 1.0) c.sample(trainSample, seed) else c, None)
    } else {
      val shape = KMeansFit.probe(c, "v_n")
      val n = shape.fold(c.count())(_.rows)
      if (n <= rowBudget) (c, shape) else (c.sample(rowBudget.toDouble / n, seed), None)
    }

  /** IVF (inverted-file) approximate top-k: partition the corpus into
    * `nLists` KMeans cells once; at query time score only the `nProbe`
    * nearest cells' members. Corpus side: one narrow assignment pass +
    * cell-key equi-join. The coarse quantizer is trained on a bounded
    * sample by default ([[ivfTrainSet]], `trainRowBudget` rows), so
    * training cost is independent of corpus size.
    *
    * Coarse probe (the IVF-scale concern): centroids live in a SMALL
    * DataFrame — one row per cell — never a plan-embedded literal array, so
    * the plan/codegen size is O(1) in nLists (at IVF-scale list counts,
    * nLists ≈ √N ≈ 10⁴-10⁵, a typedlit of all centroids is megabytes in
    * every plan). Queries × centroids is a broadcast cross join (the
    * centroid side is broadcast; per-row work is one dot product, sharded
    * across partitions instead of an O(nLists·dim) sort per query row),
    * ranked by the affinity 2·q·c − |c|² (equivalent to squared distance),
    * and the nProbe cell selection reuses the same bounded-heap partial
    * aggregate as the final reduction — shuffle volume is nProbe rows per
    * query per partition, never queries × nLists.
    *
    * Recall in the approximate regime (seeded, so deterministic per
    * fixture): on the sf0.001 embeddings (500×64-dim, 10 label clusters)
    * with nLists=16, recall@10 measures 0.65 at nProbe=4 and ≥0.8 at
    * nProbe=8, monotone in nProbe — gated with ~0.05 slack by
    * DedupSimilaritySpec ("approximate regime"). q52 separately proves the
    * exhaustive probe (nProbe == nLists) reproduces exact top-k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4, seed: Long = 40L,
              trainSample: Double = Double.NaN,
              trainRowBudget: Long = 100000L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (assigned, cent) = ivfFit(corpus, nLists, seed, trainSample,
      trainRowBudget, idCol, vecCol)
    ivfProbe(assigned, cent, queries, k, nProbe, idCol, vecCol)
  }

  /** The IVF index frames: corpus assigned to KMeans cells plus the
    * centroid table. Shared by the fit-per-call path ([[ivfTopK]]) and the
    * persisted-index path ([[buildIvfIndex]]).
    */
  private def ivfFit(corpus: DataFrame, nLists: Int, seed: Long,
                     trainSample: Double, trainRowBudget: Long,
                     idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("n_id"),
        V.toDoubleArray(col(vecCol)).as("v_n"))
      .withColumn("nrm_n", V.norm(col("v_n")))
      .withColumn("fv", array_to_vector(col("v_n")))
    val (train, shape) = ivfTrainShaped(c, trainSample, trainRowBudget, seed)
    val km = KMeansFit.fit(
      new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("fv"), train, shape)
    val assigned = km.transform(c).withColumnRenamed("prediction", "cell")
      .select("n_id", "v_n", "nrm_n", "cell")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = km.clusterCenters.toSeq.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toArray.toSeq) }
      .toDF("cell_id", "cen")
    (assigned, cent)
  }

  /** The IVF query path over prepared index frames: route each query to its
    * `nProbe` nearest cells, score only those cells' members, reduce with
    * the bounded heap. `assigned` = (n_id, v_n, nrm_n, cell); `cent` =
    * (cell_id, cen).
    *
    * `broadcastQueries` picks the cell-join shape. TRUE (the interactive
    * default) force-broadcasts the fanned-out query side — right for
    * bounded query batches, and the broadcast is what lets dynamic
    * partition pruning cut the cell-partitioned scan to probed cells.
    * FALSE (the batch path, [[ivfKnnJoinFromIndex]]) shuffle-equi-joins
    * on `cell` instead: a corpus-sized query side fanned out ×nProbe
    * *with full vectors* must never transit the driver (round-15 verdict
    * #2 — the forced broadcast was the scale killer in the kNN
    * self-join), and AQE still converts to broadcast at runtime when the
    * query side turns out genuinely small. Parallelism = nLists cells;
    * at production list counts (√N ≈ 10⁴-10⁵) the shuffle spreads wide.
    */
  private def ivfProbe(assigned: DataFrame, cent: DataFrame,
                       queries: DataFrame, k: Int, nProbe: Int,
                       idCol: String, vecCol: String,
                       broadcastQueries: Boolean = true): DataFrame = {
    val centC2 = cent.withColumn("c2", V.dot(col("cen"), col("cen")))
    val qBase = queries.select(col(idCol).as("q_id"),
        V.toDoubleArray(col(vecCol)).as("v_q"))
      .withColumn("nrm_q", V.norm(col("v_q")))
    // nProbe nearest cells per query: maximize 2·q·c − |c|² (ties → smaller
    // cell id, matching the heap's deterministic ordering)
    val qCells = qBase.crossJoin(broadcast(centC2))
      .withColumn("aff", V.dot(col("v_q"), col("cen")) * 2 - col("c2"))
      .groupBy("q_id")
      .agg(AggFunctions.topKByScore(col("aff"), col("cell_id"), nProbe)
        .as("cells"))
      .select(col("q_id"), explode(col("cells")).as("ce"))
      .select(col("q_id"), col("ce.n_id").cast("int").as("cell"))
    // Batch arm: pin the fanned query side's partitioning on `cell`
    // with an EXPLICIT partition count (r20, guide §2.5/§2.2 measured):
    // the fanned frame is bytes-tiny at gate scale (16k narrow rows), so
    // AQE's size-based coalescing folded it to ONE partition — and when
    // the cell join broadcast-converts, that single partition becomes
    // the scoring stage's whole parallelism (every pair scored in one
    // task: BenchIvfParts measured the nProbe=8 self-join at 4.0 s
    // coalesced vs 0.8-1.1 s with coalescing off). A user-numbered
    // repartition is never AQE-coalesced; keying it on `cell` makes it
    // the very exchange the production sort-merge join needs anyway
    // (HashPartitioning(cell, parts) satisfies the join's clustered
    // distribution — no second q-side shuffle at any scale), so the fix
    // costs nothing where the key is wide and restores |cells|-way
    // scoring where it is narrow. r19's REJECTED probe was different —
    // it replicated the STORED side ×S and salted q_id (pure overhead,
    // q160 7.0→8.1 s); this moves no extra bytes.
    val parts = queries.sparkSession.sessionState.conf.numShufflePartitions
    val q0 = qBase.join(qCells, Seq("q_id"))
    val q = if (broadcastQueries) q0 else q0.repartition(parts, col("cell"))
    val scored = assigned
      .join(if (broadcastQueries) broadcast(q) else q, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(
        V.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")), 6))
    topKReduce(scored, k)
  }

  /** Build and PERSIST the IVF index: centroids + per-vector cell
    * assignments written as parquet under `indexPath`. This is the 100 TB
    * ANN shape (round-10 verdict #2): the KMeans fit and the corpus
    * assignment pass run ONCE at build time and amortize over every later
    * query batch — [[ivfTopK]]'s fit-per-call is a fixture convenience, not
    * a production plan.
    *
    * The assignment table is `partitionBy("cell")`, so the on-disk layout
    * IS the inverted file: a query batch probing nProbe of nLists cells
    * reads only those cells' files — the broadcast cell join triggers
    * dynamic partition pruning, and scan bytes scale with nProbe/nLists,
    * not corpus size. Vectors and norms are stored WITH the assignment
    * (denormalized) so the query path never re-reads or re-joins the raw
    * corpus table.
    */
  def buildIvfIndex(corpus: DataFrame, indexPath: String,
                    nLists: Int = 16, seed: Long = 40L,
                    trainSample: Double = Double.NaN,
                    trainRowBudget: Long = 100000L,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val (assigned, cent) = ivfFit(corpus, nLists, seed, trainSample,
        trainRowBudget, idCol, vecCol)
      MaintenanceIo.write(cent.coalesce(1),
        s"$indexPath/centroids.parquet", "overwrite")
      val gen = MaintenanceIo.nextGen(indexPath, "assignments")
      MaintenanceIo.writePartitioned(assigned.withColumn("epoch", lit(0L)),
        "cell", s"$indexPath/$gen")
      MaintenanceIo.publish(indexPath, withCert(corpus.sparkSession,
        indexPath, MaintenanceIo.Manifest(0L, Map("assignments" -> gen)),
        cert))
    }

  /** Query a persisted IVF index ([[buildIvfIndex]]): same routing/scoring
    * as [[ivfTopK]], but the corpus side comes straight off the stored
    * inverted file — no KMeans fit, no assignment pass, and (with the
    * cell-partitioned layout) only the probed cells' files scanned.
    */
  def ivfTopKFromIndex(indexPath: String, queries: DataFrame, k: Int,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    // ONE snapshot resolves centroids AND assignments — a recluster swaps
    // both in one manifest publish, and reading them from two separate
    // manifest resolutions could straddle it (new routing over old cells
    // breaks the exhaustive-probe exactness property)
    val snap = MaintenanceIo.snapshot(indexPath)
    ivfProbe(liveIvfAssignmentsFrom(spark, snap),
      centroidsFrom(spark, indexPath, snap), queries, k,
      nProbe, idCol, vecCol)
  }

  /** Batch kNN join against a persisted IVF index — the entry point for
    * CORPUS-SIZED query batches (the nightly SemDeDup-style kNN-graph
    * pass, q160). Identical routing/scoring/reduction to
    * [[ivfTopKFromIndex]], but the fanned-out query side is
    * shuffle-equi-joined to the cell-partitioned stored table on `cell`
    * instead of force-broadcast: broadcasting a whole corpus ×nProbe
    * with full vectors dies at the driver long before 100 TB, while the
    * shuffle join co-locates by cell and scales with data volume. AQE
    * may still pick a broadcast at runtime when the query batch is
    * genuinely small — the point is that nothing FORCES it. For bounded
    * interactive batches prefer [[ivfTopKFromIndex]], whose broadcast
    * buys dynamic partition pruning of the stored files (irrelevant
    * here: a corpus-sized batch probes every cell anyway).
    */
  def ivfKnnJoinFromIndex(indexPath: String, queries: DataFrame, k: Int,
                          nProbe: Int = 4, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val snap = MaintenanceIo.snapshot(indexPath)
    ivfProbe(liveIvfAssignmentsFrom(spark, snap),
      centroidsFrom(spark, indexPath, snap), queries, k,
      nProbe, idCol, vecCol, broadcastQueries = false)
  }

  /** Centroids under a manifest snapshot: reclustered artifacts version
    * them through the manifest; build-time artifacts use the legacy
    * fixed path (absent manifest key).
    */
  private def centroidsFrom(spark: SparkSession, indexPath: String,
                            snap: Map[String, String]): DataFrame =
    Tables.parquet(spark,
      snap.getOrElse("centroids", s"$indexPath/centroids.parquet"))

  /** Tombstone DELETE from a persisted IVF index — the takedown /
    * licence-revocation path completing the build/append/query lifecycle
    * (round-11 verdict #3: a real corpus takes deletions, and a full
    * rebuild per delete is the wrong economics). Records the ids as
    * tombstones ([[MaintenanceIo.tombstone]] — the epoch rule in its
    * header); every query subtracts them with a BROADCAST join
    * (deletions between compactions are tiny relative to the corpus)
    * until [[compactIvfIndex]] folds them into the stored files.
    * Per-delete cost is one O(|tombstones|) write — the inverted file is
    * never touched.
    *
    * REFUSES on a kNN-graph-bearing index (round-17 advice): a plain
    * tombstone leaves stored graph rows referencing dead vectors, and a
    * later compaction would retire the tombstones while the stale graph
    * silently survives the append-only guard — use [[deleteFromKnnGraph]],
    * which repairs the graph in the same atomic publish.
    */
  def deleteFromIvfIndex(ids: DataFrame, indexPath: String,
                         idCol: String = "vec_id",
                         cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      require(!m.tables.contains("knngraph"),
        s"$indexPath carries a maintained kNN graph — a plain tombstone " +
          "would leave graph rows referencing dead vectors; delete with " +
          "deleteFromKnnGraph (tombstone + targeted graph repair, one " +
          "atomic publish)")
      MaintenanceIo.publish(indexPath, withCert(ids.sparkSession,
        indexPath, MaintenanceIo.tombstone(indexPath, m,
          ids.select(col(idCol).as("n_id")), "n_id"), cert))
    }

  /** Fold tombstones into the stored inverted file: rewrite the
    * assignments minus tombstoned rows (cell-partitioned as built, so
    * the post-compact query plan — including partition pruning — is
    * byte-identical to a fresh build's), swap the new files in, drop
    * the tombstone table. Query cost returns to the fresh-build
    * baseline: no tombstone join remains in the probe plan. The rewrite
    * lands as a NEW generation and the manifest swap publishes
    * assignments + tombstone retirement atomically — a concurrent reader
    * sees either the old (assignments + tombstones) pair or the new
    * compacted table, never a mix, and the grace generation keeps its
    * in-flight scan valid (MaintenanceIo scaladoc). Writers serialize on
    * the maintenance lock.
    */
  def compactIvfIndex(spark: SparkSession, indexPath: String): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      val hasBatchGens = m.tables.keys.exists(_.startsWith("assignments."))
      if (!m.tables.contains("tombstones") && !hasBatchGens) return
      // A maintained kNN graph must not survive a compaction that would
      // retire tombstones it still references (round-17 advice: a stale
      // graph past compaction passes appendToKnnGraph's append-only guard
      // and dead vectors count as neighbors silently). deleteFromKnnGraph
      // repairs the graph at delete time, so this check passes for every
      // sanctioned sequence — it exists to fail loudly on an artifact
      // whose graph predates an unsanctioned plain tombstone.
      if (m.tables.contains("knngraph")) {
        val live = liveIvfAssignments(spark, indexPath).select("n_id")
        val g = Tables.parquet(spark, s"$indexPath/${m.tables("knngraph")}")
        val deadRefs = g.select(col("q_id").as("n_id"))
          .unionByName(g.select("n_id")).distinct()
          .join(live, Seq("n_id"), "left_anti").count()
        require(deadRefs == 0L,
          s"$indexPath: stored kNN graph references $deadRefs dead " +
            "vector id(s) — the graph predates a plain tombstone; " +
            "rebuild it (buildKnnGraph) before compacting, or always " +
            "delete through deleteFromKnnGraph")
      }
      val gen = MaintenanceIo.nextGen(indexPath, "assignments")
      MaintenanceIo.writePartitioned(liveIvfAssignments(spark, indexPath),
        "cell", s"$indexPath/$gen")
      // Publishes under the UNCHANGED epoch, so a pre-compaction recall /
      // decision certificate stays valid past it. That is sound ONLY
      // because compaction is exactly live-set-preserving: the rewrite is
      // the liveIvfAssignments frame itself (tombstone-subtracted, every
      // micro-batch generation folded in), so every query result —
      // including the certified audits — is bit-identical before and
      // after. Any future change that lets compaction alter query results
      // (re-quantizing codes, re-assigning cells, dropping columns) MUST
      // bump the epoch and re-certify via withCert like the other
      // mutations, or stale certificates silently stay "fresh".
      MaintenanceIo.publish(indexPath,
        MaintenanceIo.compacted(m, Map("assignments" -> gen)))
    }

  /** RECLUSTER the stored index — the actuator [[ivfRecallAtK]]'s
    * monitor exists to trigger: when appended-vector drift degrades
    * recall below the application's floor, retrain the coarse quantizer
    * FROM THE INDEX'S OWN LIVE VECTORS (the original corpus table is
    * never re-read — the index is self-contained, same property the
    * recall probe relies on) and rewrite assignments under the new
    * centroids. Tombstones retire in the same pass (live-only rewrite).
    * Centroids land as a VERSIONED generation referenced from the
    * manifest, so the (centroids, assignments) pair swaps in ONE
    * publish — a reader resolving one snapshot can never route new
    * centroids over old cells; pre-recluster artifacts keep the legacy
    * fixed centroid path until their first recluster. Plain-IVF only:
    * a quantized index's codes/ranges stay valid under reclustering
    * (codes are corpus-global, not cell-relative), but its build path
    * owns range maintenance — recluster it by rebuild.
    */
  def reclusterIvfIndex(spark: SparkSession, indexPath: String,
                        nLists: Int, seed: Long = 40L,
                        trainSample: Double = Double.NaN,
                        trainRowBudget: Long = 100000L,
                        cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      require(!Tables.parquet(spark, s"$indexPath/${m.tables("assignments")}")
          .columns.contains("codes"),
        "quantized index: recluster by buildQuantizedIndex rebuild " +
          "(its build path owns the ranges table)")
      val live = liveIvfAssignments(spark, indexPath)
        .select(col("n_id").as("vec_id"), col("v_n").as("embedding"))
      val (assigned, cent) =
        ivfFit(live, nLists, seed, trainSample, trainRowBudget,
          "vec_id", "embedding")
      val cGen = MaintenanceIo.nextGen(indexPath, "centroids")
      MaintenanceIo.write(cent.coalesce(1), s"$indexPath/$cGen")
      val aGen = MaintenanceIo.nextGen(indexPath, "assignments")
      MaintenanceIo.writePartitioned(assigned.withColumn("epoch", lit(0L)),
        "cell", s"$indexPath/$aGen")
      MaintenanceIo.publish(indexPath, withCert(spark, indexPath,
        MaintenanceIo.compacted(m,
            Map("assignments" -> aGen, "centroids" -> cGen))
          .copy(epoch = m.epoch + 1), cert))
    }

  /** Live rows of the stored assignment table ([[MaintenanceIo.live]]).
    */
  private def liveIvfAssignments(spark: SparkSession,
                                 indexPath: String): DataFrame =
    liveIvfAssignmentsFrom(spark, MaintenanceIo.snapshot(indexPath))

  /** The index's own live vectors as a (vec_id, embedding) corpus frame —
    * the self-contained view the certification paths audit against.
    */
  private[operators] def liveVectors(spark: SparkSession,
                                     indexPath: String): DataFrame =
    liveIvfAssignments(spark, indexPath)
      .select(col("n_id").as("vec_id"), col("v_n").as("embedding"))

  /** The stored coarse-quantizer list count (== exhaustive nProbe). */
  private[operators] def storedNLists(spark: SparkSession,
                                      indexPath: String): Int =
    centroidsFrom(spark, indexPath, MaintenanceIo.snapshot(indexPath))
      .count().toInt

  /** [[liveIvfAssignments]] of one snapshot: the main generation plus
    * every micro-batch generation ([[appendBatchToIvfIndex]]).
    */
  private def liveIvfAssignmentsFrom(spark: SparkSession,
                                     snap: Map[String, String]): DataFrame =
    MaintenanceIo.live(MaintenanceIo.read(spark, snap, "assignments"), snap,
      "n_id")

  /** A shard's rows assigned to the nearest cell of centroid frame
    * `cent` (cell_id, cen): (n_id, v_n, nrm_n, cell) — see
    * [[appendToIvfIndex]] for the affinity and tie rule.
    */
  private def assignCells(shard: DataFrame, cent: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    shard.select(col(idCol).as("n_id"),
        V.toDoubleArray(col(vecCol)).as("v_n"))
      .withColumn("nrm_n", V.norm(col("v_n")))
      .crossJoin(broadcast(
        cent.withColumn("c2", V.dot(col("cen"), col("cen")))))
      .withColumn("aff", V.dot(col("v_n"), col("cen")) * 2 - col("c2"))
      .groupBy("n_id")
      .agg(AggFunctions.topKByScore(col("aff"), col("cell_id"), 1).as("c"),
        first("v_n").as("v_n"), first("nrm_n").as("nrm_n"))
      .select(col("n_id"), col("v_n"), col("nrm_n"),
        element_at(col("c"), 1).getField("n_id").cast("int").as("cell"))

  /** INCREMENTAL index append — the nightly-ingest path of the persisted
    * index (the ANN sibling of q89's incremental dedup): assign a NEW
    * shard against the STORED centroids (no KMeans refit, no touch of the
    * standing assignments) and append its rows into the cell-partitioned
    * inverted file. Per-ingest cost is one narrow pass over the shard —
    * |shard| × nLists broadcast dot products + an O(shard) partitioned
    * write — independent of corpus size. The quantizer is intentionally
    * NOT refreshed: IVF recall degrades only as the vector distribution
    * drifts from the trained centroids, and the production cadence is
    * many cheap appends, then a full [[buildIvfIndex]] rebuild when a
    * recall probe says so (same economics as q89's dedup-vs-re-dedup
    * crossover, bench/ingest_scale_r10.json — IngestScaleNote, source at
    * 9a451be).
    *
    * Assignment = argmax of the same affinity 2·q·c − |c|² the query-side
    * coarse probe ranks by (equivalent to nearest centroid; ties → smaller
    * cell id, matching KMeans' first-min rule), computed with the SAME
    * bounded-heap aggregate at k=1 — so appended rows land exactly where
    * a full rebuild with these centroids would put them.
    */
  def appendToIvfIndex(shard: DataFrame, indexPath: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      require(!MaintenanceIo.requireManifest(indexPath).tables
          .contains("knngraph"),
        s"$indexPath carries a maintained kNN graph — a plain append " +
          "would leave the graph missing the shard's rows (and standing " +
          "vertices' top-k stale); append with appendToKnnGraph (index " +
          "append + graph delta-merge, one atomic publish)")
      MaintenanceIo.publish(indexPath, withCert(shard.sparkSession,
        indexPath,
        appendToIvfIndexLocked(shard, indexPath, idCol, vecCol), cert))
    }

  /** [[appendToIvfIndex]]'s body WITHOUT lock or publish — returns the
    * epoch-bumped manifest for the caller to publish, so a composite
    * mutation ([[appendToKnnGraph]]) can fold the index append and its
    * own table swap into ONE atomic publish under ONE lock (same-process
    * FileLocks don't nest — they throw).
    */
  private def appendToIvfIndexLocked(
      shard: DataFrame, indexPath: String, idCol: String,
      vecCol: String): MaintenanceIo.Manifest = {
    val spark = shard.sparkSession
    val m = MaintenanceIo.requireManifest(indexPath)
    val e = m.epoch + 1
    require(!Tables.parquet(spark, s"$indexPath/${m.tables("assignments")}")
        .columns.contains("codes"),
      "this is a QUANTIZED index (stored codes would go stale/missing " +
        "on plain rows) — append with appendToQuantizedIndex")
    val assigned = assignCells(shard, centroidsFrom(spark, indexPath,
      MaintenanceIo.paths(indexPath, m)), idCol, vecCol)
    MaintenanceIo.writePartitioned(assigned.withColumn("epoch", lit(e)),
      "cell", s"$indexPath/${m.tables("assignments")}", "append")
    m.copy(epoch = e)
  }

  /** Micro-batch index append with EXACTLY-ONCE replay semantics — the
    * STREAMING-maintenance writer for the dense channel
    * ([[graft.streaming.IngestStream.selfDedupIngest]]'s IVF side effect,
    * round-18 verdict #5). foreachBatch side effects are at-least-once;
    * the plain [[appendToIvfIndex]] `mode("append")`s into the live
    * generation, so a replayed batch would land its rows TWICE (both
    * epoch-live — duplicate neighbors in every probe). This writer
    * instead lands batch `batchId`'s assignments as their OWN generation
    * dir (`assignments.b<id>.e<epoch>`, cell-partitioned like the main
    * table) written with OVERWRITE — a replayed batch recomputes the same
    * assignment against the STORED centroids (deterministic) and rewrites
    * its dir in place; readers union main + batch generations through one
    * snapshot ([[liveIvfAssignmentsFrom]]) and [[compactIvfIndex]] folds
    * them back into a single generation. The
    * [[graft.operators.InvertedIndex.appendBatchToIndex]] /
    * [[SimGraphIndex.appendBatch]] trick applied to the IVF artifact.
    *
    * With `cert` set, each batch publish re-measures the recall
    * certificate over the post-append table set in the SAME manifest swap
    * (the [[withCert]] contract), so the dense channel stays CERTIFIED
    * serve-ready at every trigger boundary — a mid-stream reader asserts
    * freshness exactly like a batch one. Same guards as the plain append:
    * refuses on quantized and kNN-graph-bearing indexes.
    */
  def appendBatchToIvfIndex(shard: DataFrame, indexPath: String,
                            batchId: Long, idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val spark = shard.sparkSession
      val m = MaintenanceIo.requireManifest(indexPath)
      require(!m.tables.contains("knngraph"),
        s"$indexPath carries a maintained kNN graph — stream-append with " +
          "appendToKnnGraph semantics is not supported; drop the graph " +
          "or maintain it batch-cadence")
      require(!Tables.parquet(spark, s"$indexPath/${m.tables("assignments")}")
          .columns.contains("codes"),
        "this is a QUANTIZED index — stream-append is plain-IVF only")
      val key = s"assignments.b$batchId"
      val e = MaintenanceIo.batchEpoch(m, key)
      val dir = s"$key.e$e"
      val assignedB = assignCells(shard, centroidsFrom(spark, indexPath,
        MaintenanceIo.paths(indexPath, m)), idCol, vecCol)
      MaintenanceIo.writePartitioned(assignedB.withColumn("epoch", lit(e)),
        "cell", s"$indexPath/$dir", "overwrite")
      MaintenanceIo.publish(indexPath, withCert(spark, indexPath,
        MaintenanceIo.Manifest(math.max(m.epoch, e),
          m.tables + (key -> dir)), cert))
    }

  /** The recall probe the append cadence needs ([[appendToIvfIndex]]
    * scaladoc: "many cheap appends, then a rebuild when a recall probe
    * says so"): measured recall@k of the stored index at `nProbe` against
    * exact brute force, over a caller-supplied query sample. One scalar
    * comes back to the driver (the boundary-scalar pattern); both rankings
    * run over the index's OWN stored vectors, so the probe needs no access
    * to the original corpus table. Sample the queries — the exact side is
    * |sample| × |corpus| dot products, the same economics as
    * [[bruteForceTopK]]. At exhaustive nProbe this returns exactly 1.0
    * (the q52/q92 property); a production cadence tracks the approximate-
    * regime number and rebuilds when quantizer drift degrades it below
    * the application's floor.
    */
  def ivfRecallAtK(indexPath: String, queries: DataFrame, k: Int,
                   nProbe: Int, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Double = {
    val spark = queries.sparkSession
    val corpus = liveIvfAssignments(spark, indexPath)
      .select(col("n_id").as(idCol), col("v_n").as(vecCol))
    val exact = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("q_id"), col("n_id"))
    val approx = ivfTopKFromIndex(indexPath, queries, k, nProbe, idCol, vecCol)
      .select(col("q_id"), col("n_id"))
    val row = exact.join(approx, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1))).head()
    val denom = exact.count()
    if (denom == 0L) 1.0 else row.getLong(0).toDouble / denom
  }

  /** The one-row recall-certificate frame for manifest `m`'s (possibly
    * not-yet-published) table set: recall@k at nProbe over the
    * deterministic id-hash query sample, measured against in-index brute
    * force — [[ivfRecallAtK]]'s math, run ONCE at mutation time instead
    * of per serving query (round-17 verdict #1: at 100 TB a per-run
    * corpus-linear audit dwarfs the probe it certifies; amortized at
    * mutation time it is one sampled audit per index epoch). The exact
    * side costs |sample| × |corpus| dot products — `sampleEvery` is the
    * knob that bounds it; the sample is hash-of-id-deterministic, so the
    * certificate is reproducible and not gameable by row order.
    */
  private def recallCertDf(spark: SparkSession, indexPath: String,
                           m: MaintenanceIo.Manifest,
                           spec: RecallCertSpec): DataFrame = {
    val snap = MaintenanceIo.paths(indexPath, m)
    val asg = liveIvfAssignmentsFrom(spark, snap)
    val cent = centroidsFrom(spark, indexPath, snap)
    val corpus = asg.select(col("n_id").as("vec_id"),
      col("v_n").as("embedding"))
    val qs = corpus.filter(
      pmod(abs(hash(col("vec_id"))), lit(spec.sampleEvery)) === 0)
    val exact = bruteForceTopK(corpus, qs, spec.k).select("q_id", "n_id")
    val approx = ivfProbe(asg, cent, qs, spec.k, spec.nProbe,
      "vec_id", "embedding").select("q_id", "n_id")
    val hits = exact.join(approx, Seq("q_id", "n_id"), "left_semi").count()
    val denom = exact.count()
    val sampleN = qs.count()
    val recall = if (denom == 0L) 1.0 else hits.toDouble / denom
    import spark.implicits._
    Seq((m.epoch, spec.k, spec.nProbe, sampleN, recall))
      .toDF("epoch", "k", "n_probe", "sample_n", "recall")
  }

  /** Fold an optional recall certificate into a manifest ABOUT TO BE
    * published: measure over `m`'s table set (files already written,
    * manifest not yet visible), land the cert as its own generation, and
    * return the manifest with the cert pointer added — so the mutation
    * and its certificate swap in ONE atomic publish and no reader can
    * ever see the new index epoch without its matching certificate.
    * Call only inside a [[MaintenanceIo.withMaintenanceLock]] body.
    */
  private def withCert(spark: SparkSession, indexPath: String,
                       m: MaintenanceIo.Manifest,
                       cert: Option[RecallCertSpec]): MaintenanceIo.Manifest =
    cert.fold(m) { spec =>
      val gen = MaintenanceIo.nextGen(indexPath, "recall_cert")
      MaintenanceIo.write(recallCertDf(spark, indexPath, m, spec).coalesce(1),
        s"$indexPath/$gen")
      m.copy(tables = m.tables + ("recall_cert" -> gen))
    }

  /** Re-certify a STORED index at geometry `spec` without mutating it —
    * the refresh path when the serving geometry changes or a mutation ran
    * without a cert. Publishes the new certificate under the unchanged
    * epoch; returns the measured recall.
    *
    * The audit runs LOCK-FREE against a manifest snapshot (readers never
    * need the maintenance lock, and at 100 TB the sampled audit is
    * minutes — holding the writer lock through it would stall every
    * mutation); the lock is taken only for the publish, which re-reads
    * the manifest and REFUSES if the epoch moved mid-audit (the measured
    * number would describe a superseded index — re-run).
    */
  def certifyIvfIndex(spark: SparkSession, indexPath: String,
                      spec: RecallCertSpec): Double =
    certifyIvfIndexHooked(spark, indexPath, spec, () => ())

  /** [[certifyIvfIndex]] with a test seam: `beforePublish` runs after the
    * lock-free audit, before the publish lock — where a concurrent
    * mutation or certification can land (CertificationSpec drives the
    * refusal branch and the concurrent-certify race through it).
    *
    * Race hygiene (round-18 advice): the cert generation is RESERVED
    * ([[MaintenanceIo.reserveGen]] — dir claims the name, marker exempts
    * it from concurrent publishes' gc) so a concurrent certify can
    * neither collide on the generation name nor reap this one mid-write;
    * a REFUSED publish (epoch moved mid-audit) deletes its own orphan
    * generation before throwing, and the marker releases in the finally
    * either way. A concurrent CERTIFY (epoch unchanged) does NOT refuse:
    * both measurements describe the live epoch, last publish wins, and
    * the loser's generation ages out through the manifest grace copy.
    */
  private[graft] def certifyIvfIndexHooked(spark: SparkSession,
                                           indexPath: String,
                                           spec: RecallCertSpec,
                                           beforePublish: () => Unit): Double = {
    val m0 = MaintenanceIo.requireManifest(indexPath)
    val gen = MaintenanceIo.reserveGen(indexPath, "recall_cert")
    try {
      MaintenanceIo.write(recallCertDf(spark, indexPath, m0, spec).coalesce(1),
        s"$indexPath/$gen", "overwrite")
      beforePublish()
      MaintenanceIo.withMaintenanceLock(indexPath) {
        val m = MaintenanceIo.requireManifest(indexPath)
        if (m.epoch != m0.epoch) {
          MaintenanceIo.deleteDir(s"$indexPath/$gen")
          throw new IllegalStateException(
            s"$indexPath mutated during certification (epoch ${m0.epoch} " +
              s"-> ${m.epoch}) — the measured recall describes a " +
              "superseded index; re-run certifyIvfIndex")
        }
        MaintenanceIo.publish(indexPath,
          m.copy(tables = m.tables + ("recall_cert" -> gen)))
        readRecallCert(spark, indexPath).get.recall
      }
    } finally MaintenanceIo.releaseGen(indexPath, gen)
  }

  /** The stored recall certificate under the current manifest, if any. */
  def readRecallCert(spark: SparkSession, indexPath: String): Option[RecallCert] =
    MaintenanceIo.requireManifest(indexPath).tables.get("recall_cert")
      .map { g =>
        val r = Tables.parquet(spark, s"$indexPath/$g").head()
        RecallCert(r.getAs[Long]("epoch"), r.getAs[Int]("k"),
          r.getAs[Int]("n_probe"), r.getAs[Long]("sample_n"),
          r.getAs[Double]("recall"))
      }

  /** The serving-path recall assertion (round-17 verdict #1): READ the
    * stored certificate and enforce floor + freshness + geometry, instead
    * of re-running a corpus-linear brute-force audit inside every serving
    * query. Fails loudly when (a) the index was never certified, (b) the
    * cert is STALE — the index epoch moved past the cert's (any mutation
    * without a fresh cert invalidates it; re-certify or mutate with a
    * `cert` spec), (c) the cert was measured at a different (k, nProbe)
    * than the serving geometry, or (d) the certified recall is below the
    * application floor (recluster, then serve). One 1-row parquet read —
    * O(1) in corpus size. Returns the certified recall.
    */
  def requireCertifiedRecall(spark: SparkSession, indexPath: String,
                             k: Int, nProbe: Int, floor: Double): Double = {
    val m = MaintenanceIo.requireManifest(indexPath)
    val cert = readRecallCert(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"$indexPath has no recall certificate — build/append/recluster " +
          "with a RecallCertSpec, or certifyIvfIndex, before serving"))
    require(cert.epoch == m.epoch,
      s"$indexPath recall certificate is STALE (cert epoch ${cert.epoch}, " +
        s"index epoch ${m.epoch}) — the index mutated since certification; " +
        "re-certify before serving")
    require(cert.k == k && cert.nProbe == nProbe,
      s"$indexPath certificate geometry (k=${cert.k}, nProbe=${cert.nProbe}) " +
        s"does not match the serving geometry (k=$k, nProbe=$nProbe) — " +
        "certifyIvfIndex at the serving geometry")
    require(cert.recall >= floor,
      f"$indexPath certified recall@$k = ${cert.recall}%.4f at " +
        f"nProbe=$nProbe fell below the $floor%.2f application floor — " +
        "recluster before serving this index")
    cert.recall
  }

  /** Build and PERSIST the kNN GRAPH over the index's own live vectors:
    * (q_id, n_id, sim, rn ≤ k) per vector — the SemDeDup candidate
    * structure (q160's output) as a MAINTAINED artifact instead of a
    * per-run recompute, stored under the index's OWN manifest so one
    * snapshot resolves inverted file + graph consistently. At exhaustive
    * nProbe (== nLists) the stored graph is EXACT regardless of cell
    * assignment — every cell is probed — which is what makes the
    * maintained-decisions gate (q172) oracle-checkable; at production
    * geometry it is the q164-monitored approximate regime.
    *
    * Geometry contract: hold `k`/`nProbe` constant across
    * [[appendToKnnGraph]] calls — the delta merge is only exact against
    * the build's own geometry.
    */
  def buildKnnGraph(spark: SparkSession, indexPath: String, k: Int,
                    nProbe: Int): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      val snap = MaintenanceIo.snapshot(indexPath)
      val corpus = liveIvfAssignmentsFrom(spark, snap)
        .select(col("n_id").as("vec_id"), col("v_n").as("embedding"))
      val graph = ivfProbe(liveIvfAssignmentsFrom(spark, snap),
        centroidsFrom(spark, indexPath, snap), corpus, k, nProbe,
        "vec_id", "embedding", broadcastQueries = false)
      val gen = MaintenanceIo.nextGen(indexPath, "knngraph")
      MaintenanceIo.write(graph, s"$indexPath/$gen")
      MaintenanceIo.publish(indexPath,
        m.copy(tables = m.tables + ("knngraph" -> gen)))
    }

  /** The stored kNN graph under the current manifest snapshot. */
  def knnGraphFromIndex(spark: SparkSession, indexPath: String): DataFrame =
    Tables.parquet(spark, MaintenanceIo.snapshot(indexPath)("knngraph"))

  /** Nightly-ingest DELTA maintenance of index + kNN graph as ONE locked
    * mutation with a SINGLE publish — a reader snapshot never sees the
    * shard in the inverted file without its graph rows. The standing
    * graph is never recomputed; only rows a new vector can change are.
    *
    * Exactness (at the build's exhaustive geometry): for an OLD vector v,
    * top-k over (old ∪ shard) ⊆ stored top-k(v) ∪ {(v, s) : s ∈ shard} —
    * a non-shard vector outside the stored top-k cannot enter. Merging
    * the stored rows with the |old|×|shard| candidate sims through the
    * SAME bounded heap reproduces the from-scratch ranking bit-for-bit
    * (identical 6-dp sims, identical (sim DESC, id ASC) order). For a
    * SHARD vector s, top-k over (old ∪ shard) = the pre-append index
    * probe (s vs old, exact at exhaustive nProbe) merged with the
    * all-pairs shard×shard sims. q172 gates the composed decisions
    * against the from-scratch DuckDB replay VERBATIM.
    *
    * Cost: one |shard|-query index probe + a broadcast-shard pass over
    * the standing vectors (|old|·|shard| candidate dots — the shard is
    * broadcast, the corpus only SCANS) + an O(N·k) graph rewrite — vs
    * the O(N²/nLists) from-scratch graph recompute. Append-only:
    * tombstoned indexes must compact first (a stored row's dead neighbor
    * would need subtree recompute, not a merge — fail loudly instead).
    */
  def appendToKnnGraph(shard: DataFrame, indexPath: String, k: Int,
                       nProbe: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val spark = shard.sparkSession
      val m0 = MaintenanceIo.requireManifest(indexPath)
      require(m0.tables.contains("knngraph"),
        s"$indexPath has no stored kNN graph — buildKnnGraph first")
      require(!m0.tables.contains("tombstones"),
        "appendToKnnGraph is append-only — compact tombstones first " +
          "(a dead stored neighbor needs recompute, not a merge)")
      val snap = MaintenanceIo.snapshot(indexPath)
      val oldGraph = Tables.parquet(spark, snap("knngraph"))
        .select("q_id", "n_id", "sim")
      // SNAPSHOT the caller's shard before any write (round-17 advice):
      // the frame is evaluated again by the graph merge AND the index
      // append — a shard derived from the index's own live view would
      // otherwise re-evaluate differently once the mutation starts.
      // Nightly-shard-sized by the regime contract, so the executor-local
      // materialization is cheap.
      val shardSnap = shard.select(col(idCol), col(vecCol)).localCheckpoint()
      val sh = shardSnap.select(col(idCol).as("s_id"),
          V.toDoubleArray(col(vecCol)).as("v_s"))
        .withColumn("nrm_s", V.norm(col("v_s")))
      // shard → old: probe the PRE-append index (the shard is not in it)
      val shardVsOld = ivfProbe(liveIvfAssignmentsFrom(spark, snap),
        centroidsFrom(spark, indexPath, snap), shardSnap, k, nProbe,
        idCol, vecCol).select("q_id", "n_id", "sim")
      // shard → shard: all pairs, broadcast (the nightly-shard regime)
      val shardVsShard = sh.crossJoin(broadcast(
          sh.select(col("s_id").as("n_id"), col("v_s").as("v_n"),
            col("nrm_s").as("nrm_n"))))
        .filter(col("s_id") =!= col("n_id"))
        .select(col("s_id").as("q_id"), col("n_id"),
          round(V.dot(col("v_s"), col("v_n")) /
            (col("nrm_s") * col("nrm_n")), 6).as("sim"))
      // old → shard: every standing vector's candidate sims to the shard
      val oldCand = liveIvfAssignmentsFrom(spark, snap)
        .select(col("n_id").as("q_id"), col("v_n").as("v_q"),
          col("nrm_n").as("nrm_q"))
        .crossJoin(broadcast(sh))
        .select(col("q_id"), col("s_id").as("n_id"),
          round(V.dot(col("v_q"), col("v_s")) /
            (col("nrm_q") * col("nrm_s")), 6).as("sim"))
      val merged = topKReduce(oldGraph.unionByName(oldCand), k)
        .unionByName(topKReduce(shardVsOld.unionByName(shardVsShard), k))
      val gen = MaintenanceIo.nextGen(indexPath, "knngraph")
      // materialize the merged graph BEFORE the index append mutates the
      // assignments dir the probe plan reads from
      MaintenanceIo.write(merged, s"$indexPath/$gen")
      val m1 = appendToIvfIndexLocked(shardSnap, indexPath, idCol, vecCol)
      MaintenanceIo.publish(indexPath, withCert(spark, indexPath,
        m1.copy(tables = m1.tables + ("knngraph" -> gen)), cert))
    }

  /** Takedown DELETE from index + kNN graph as ONE locked mutation with
    * a SINGLE publish (completing the graph's build/append/delete
    * lifecycle): tombstone the ids in the inverted file, drop their
    * graph rows, and REPAIR exactly the vertices the deletion can
    * change — a stored top-k is provably unchanged unless it CONTAINED a
    * deleted neighbor (removal of a non-top-k vector cannot promote
    * anything), and an affected vertex's new k-th candidate is not in
    * the stored graph, so those vertices (and only those) re-probe the
    * LIVE index. Cost: one |affected|-query probe (|affected| ≤
    * k·|deleted|) + an O(N·k) graph rewrite — the standing N² is never
    * recomputed. q174 gates the result against the from-scratch replay
    * over the remaining corpus VERBATIM.
    *
    * Same geometry contract as [[appendToKnnGraph]]; `ids` = one column
    * of vector ids (any name).
    */
  def deleteFromKnnGraph(ids: DataFrame, indexPath: String, k: Int,
                         nProbe: Int,
                         cert: Option[RecallCertSpec] = None): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val spark = ids.sparkSession
      val m0 = MaintenanceIo.requireManifest(indexPath)
      require(m0.tables.contains("knngraph"),
        s"$indexPath has no stored kNN graph — buildKnnGraph first")
      val snap = MaintenanceIo.snapshot(indexPath)
      val oldGraph = Tables.parquet(spark, snap("knngraph"))
      // SNAPSHOT the victim set before the tombstone write (round-17
      // advice): `del` is consumed eagerly by the tombstone write but
      // lazily again by the affected/keep joins AFTER the mutation — an
      // id set derived from the index's own live view (the natural
      // takedown pattern) would re-evaluate empty post-tombstone and the
      // repair would silently keep rows with dead neighbors. Takedown
      // sets are small; the executor-local materialization is cheap.
      val del = ids.select(col(ids.columns.head).as("del_id")).distinct()
        .localCheckpoint()
      val affected = oldGraph
        .join(del, oldGraph("n_id") === del("del_id"), "left_semi")
        .select(col("q_id").as("aff_id")).distinct()
        .join(del, col("aff_id") === col("del_id"), "left_anti")
      val m1 = MaintenanceIo.tombstone(indexPath, m0,
        del.select(col("del_id").as("n_id")), "n_id")
      val snap1 = MaintenanceIo.paths(indexPath, m1)
      val liveAsg = liveIvfAssignmentsFrom(spark, snap1)
      val affectedQ = liveAsg
        .join(affected, liveAsg("n_id") === affected("aff_id"), "left_semi")
        .select(col("n_id").as("vec_id"), col("v_n").as("embedding"))
      val reprobed = ivfProbe(liveAsg,
        centroidsFrom(spark, indexPath, snap1), affectedQ, k, nProbe,
        "vec_id", "embedding", broadcastQueries = false)
      val keepRows = oldGraph
        .join(del, oldGraph("q_id") === del("del_id"), "left_anti")
        .join(affected, col("q_id") === col("aff_id"), "left_anti")
      val gen = MaintenanceIo.nextGen(indexPath, "knngraph")
      MaintenanceIo.write(keepRows.select("q_id", "n_id", "sim", "rn")
        .unionByName(reprobed.select("q_id", "n_id", "sim", "rn")),
        s"$indexPath/$gen")
      MaintenanceIo.publish(indexPath, withCert(spark, indexPath,
        m1.copy(tables = m1.tables + ("knngraph" -> gen)), cert))
    }

  /** Build and PERSIST the QUANTIZED refine index: the [[buildIvfIndex]]
    * layout plus per-vector int8 codes ([[V.quantizeInt8]] against
    * corpus-global per-dim ranges) stored ALONGSIDE the full vectors in
    * the cell-partitioned assignment table, and the dim-row ranges table.
    * The point at 100 TB: the filter pass of [[quantizedRefineTopK]]
    * projects ONLY the 64-byte code column (parquet column pruning —
    * never the 512-byte double vectors), so the scan of the non-surviving
    * majority is ~8× fewer bytes; full vectors are read just for the
    * provably-sufficient survivor set.
    */
  def buildQuantizedIndex(corpus: DataFrame, indexPath: String,
                          nLists: Int = 8, seed: Long = 40L,
                          trainSample: Double = Double.NaN,
                          trainRowBudget: Long = 100000L,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val (assigned, cent) = ivfFit(corpus, nLists, seed, trainSample,
        trainRowBudget, idCol, vecCol)
      val ranges = assigned
        .select(posexplode(col("v_n")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      MaintenanceIo.write(ranges.coalesce(1),
        s"$indexPath/ranges.parquet", "overwrite")
      MaintenanceIo.write(cent.coalesce(1),
        s"$indexPath/centroids.parquet", "overwrite")
      val rarr = ranges.agg(transform(
        array_sort(collect_list(struct(col("pos"), col("lo"), col("hi")))),
        s => struct(s.getField("lo").as("lo"), s.getField("hi").as("hi")))
        .as("rgs"))
      val gen = MaintenanceIo.nextGen(indexPath, "assignments")
      val packed = assigned.crossJoin(broadcast(rarr))
        .withColumn("lcodes", V.quantizeInt8(col("v_n"), col("rgs")))
        .withColumn("oob", quantOob(col("v_n"), col("rgs"), col("lcodes")))
        // STORAGE form: one byte per dim (round-19 measured economics —
        // array<long> codes cost ~3 B/dim on disk, MORE scan bytes than
        // the doubles they were meant to undercut; BENCH_SCALE.md r19).
        // At build time every code is in range by construction (ranges
        // are the corpus min/max), so packing is lossless here.
        .withColumn("codes", V.packInt8(col("lcodes")))
        .select("n_id", "v_n", "nrm_n", "codes", "oob", "cell")
        .withColumn("epoch", lit(0L))
      MaintenanceIo.writePartitioned(packed, "cell", s"$indexPath/$gen")
      MaintenanceIo.publish(indexPath,
        MaintenanceIo.Manifest(0L, Map("assignments" -> gen)))
    }

  /** True when the Δ/2 reconstruction bound does NOT hold for this
    * vector under the stored ranges: only possible on a DEGENERATE
    * dimension (hi == lo, so Δ = 0 and the code is pinned to 0) whose
    * value differs from the pinned point. Everywhere else the bound
    * holds for ANY value — codes are stored as unclamped longs, and
    * `floor((x−lo)/Δ + ½)` reconstructs within Δ/2 outside [lo, hi]
    * just as well as inside. At build time this is false by
    * construction (ranges are the corpus min/max); it exists for
    * [[appendToQuantizedIndex]], whose rows arrive AFTER the ranges
    * were fit.
    */
  private def quantOutOfBounds(v: Column, ranges: Column): Column =
    exists(zip_with(v, ranges, (x, r) =>
      r.getField("hi") === r.getField("lo") &&
        x.cast("double") =!= r.getField("lo").cast("double")), b => b)

  /** The WIDENED bound-validity flag for byte-packed codes (round 19):
    * a row's code estimate is a lie when (a) a degenerate dimension
    * moved ([[quantOutOfBounds]] — Δ = 0, no code can express the
    * offset) OR (b) any code fell outside [-128, 127] — such codes were
    * CLAMPED by [[V.packInt8]] at write time, so the stored byte no
    * longer reconstructs within Δ/2. Flagged rows are excluded from the
    * prune threshold and always survive to the exact re-rank
    * ([[quantizedRefineFrames]]), so clamping never touches a pruning
    * decision and filter-refine exactness is preserved verbatim. Both
    * cases only arise on rows appended PAST the fitted ranges; build-time
    * rows are in range by construction.
    */
  private def quantOob(v: Column, ranges: Column, lcodes: Column): Column =
    quantOutOfBounds(v, ranges) ||
      exists(lcodes, c => c < -128L || c > 127L)

  /** INCREMENTAL append into the QUANTIZED refine index — the nightly
    * path completing its lifecycle (build/append/delete/compact/query,
    * matching the plain IVF side): assign the shard against the STORED
    * centroids (no refit), quantize against the STORED ranges (no
    * range refresh — refreshing would invalidate every stored code),
    * epoch-stamp, append into the current generation.
    *
    * Exactness survives the append: the int8 filter's bound
    * |q·x − q·x̂| ≤ Σ|q_i|Δ_i/2 needs no in-range assumption because
    * codes are UNCLAMPED longs — an appended value past the fitted
    * [lo, hi] just takes a code outside [−128, 127] and reconstructs
    * within Δ/2 like any other. The one genuinely unbounded case — a
    * DEGENERATE dimension (Δ = 0) whose appended value moved — is
    * flagged per row ([[quantOutOfBounds]]); flagged rows are excluded
    * from the prune threshold (their bounds are lies) and always
    * survive to the exact re-rank, so [[quantizedRefineTopK]] stays
    * provably equal to brute force while the flagged sliver merely
    * skips the code-level prune. Quantizer drift economics are the
    * [[appendToIvfIndex]] cadence: many cheap appends, rebuild when a
    * recall/compression probe says so.
    */
  def appendToQuantizedIndex(shard: DataFrame, indexPath: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val spark = shard.sparkSession
      val m = MaintenanceIo.requireManifest(indexPath)
      val e = m.epoch + 1
      // match the STORED code layout: appends into a pre-round-19
      // artifact keep writing array<long> codes (and the narrow
      // degenerate-dim oob — packing never happened there), current
      // artifacts write byte-packed codes with the widened flag
      val storedBinary = Tables.parquet(spark,
        s"$indexPath/${m.tables("assignments")}")
        .schema("codes").dataType ==
        org.apache.spark.sql.types.BinaryType
      val rarr = Tables.parquet(spark, s"$indexPath/ranges.parquet")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("lo"), col("hi")))),
          s => struct(s.getField("lo").as("lo"), s.getField("hi").as("hi")))
          .as("rgs"))
      val packedB = assignCells(shard,
          Tables.parquet(spark, s"$indexPath/centroids.parquet"),
          idCol, vecCol)
        .crossJoin(broadcast(rarr))
        .withColumn("lcodes", V.quantizeInt8(col("v_n"), col("rgs")))
        .withColumn("oob",
          if (storedBinary) quantOob(col("v_n"), col("rgs"), col("lcodes"))
          else quantOutOfBounds(col("v_n"), col("rgs")))
        .withColumn("codes",
          if (storedBinary) V.packInt8(col("lcodes")) else col("lcodes"))
        .select("n_id", "v_n", "nrm_n", "codes", "oob", "cell")
        .withColumn("epoch", lit(e))
      MaintenanceIo.writePartitioned(packedB, "cell",
        s"$indexPath/${m.tables("assignments")}", "append")
      MaintenanceIo.publish(indexPath, m.copy(epoch = e))
    }

  /** PROVABLY-EXACT quantized search (the filter-and-refine pattern with
    * a rigorous error bound): score candidates from the int8 codes, prune
    * with per-(query, vector) bounds, and re-rank only the survivors with
    * exact doubles — at exhaustive nProbe the result EQUALS brute force
    * (q99's oracle is the same exact top-k SQL as q26/q52/q92).
    *
    * The bound: codes reconstruct x̂ with |x_i − x̂_i| ≤ Δ_i/2 per dim
    * (Δ_i = (hi_i − lo_i)/255), so for query q,
    * |q·x − q·x̂| ≤ Σ|q_i|·Δ_i/2 =: ε(q) — one narrow per-query fold over
    * the broadcast ranges. With stored exact norms, per-candidate cosine
    * bounds are côs ± ε(q)/(‖q‖‖x‖); ε is inflated by 1e-9 absolute so
    * float evaluation slop (~1e-14 at dim 64) can never break soundness.
    * The per-query threshold t = k-th largest LOWER bound (the same
    * bounded-heap partial aggregate as every ANN reduction here);
    * survivors = candidates with UPPER bound ≥ t — a superset of the true
    * top-k by the standard filter-refine argument, so the exact re-rank
    * over survivors reproduces brute force exactly.
    *
    * Scale shape: the filter pass reads (cell, n_id, nrm_n, codes) only
    * — column pruning keeps the double vectors unread; the dim-row ranges
    * table collapses to plan literals (a boundary scalar, like q82's
    * sketch); thresholds are |queries| rows broadcast back; the re-rank
    * reads full vectors only for the survivor join. PropertySpec-style
    * gating: DedupSimilaritySpec asserts result == bruteForceTopK AND
    * that the prune actually bites ([[quantizedPruneStats]]).
    */
  def quantizedRefineTopK(indexPath: String, queries: DataFrame, k: Int,
                          nProbe: Int = 8, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    quantizedRefineFrames(indexPath, queries, k, nProbe, idCol, vecCol)._3

  /** Batch kNN join against a QUANTIZED index — [[ivfKnnJoinFromIndex]]'s
    * sibling for the int8 filter-refine path, and the kNN stage a 100 TB
    * semantic dedup should run ([[Dedup.semanticDedupApplyQuantized]]):
    * the corpus-sized query batch SHUFFLE-equi-joins the code table on
    * `cell` (never a forced broadcast of a corpus-sized frame — the
    * round-15 scale killer), per-query prune thresholds and the survivor
    * set join back on their keys, and only survivors ever read the full
    * double vectors. Filter-refine is provably exact (the Δ/2 bound —
    * [[quantizedRefineTopK]] scaladoc), so at exhaustive nProbe this
    * RETURNS EXACTLY the brute-force kNN graph while the non-surviving
    * majority of the corpus is scanned as 64-byte codes instead of
    * 512-byte doubles (~8× fewer scan bytes at dim 64).
    */
  def quantizedKnnJoinFromIndex(indexPath: String, queries: DataFrame,
                                k: Int, nProbe: Int = 8,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame =
    quantizedRefineFrames(indexPath, queries, k, nProbe, idCol, vecCol,
      broadcastQueries = false)._3

  /** (candidate rows scored from codes, survivor rows re-ranked exactly)
    * — the measured prune rate of [[quantizedRefineTopK]].
    */
  def quantizedPruneStats(indexPath: String, queries: DataFrame, k: Int,
                          nProbe: Int = 8, idCol: String = "vec_id",
                          vecCol: String = "embedding"): (Long, Long) = {
    val (approx, surv, _) =
      quantizedRefineFrames(indexPath, queries, k, nProbe, idCol, vecCol)
    (approx.count(), surv.count())
  }

  /** `broadcastQueries` mirrors [[ivfProbe]]'s switch: TRUE (interactive
    * default) force-broadcasts the fanned-out query side, the per-query
    * thresholds, and the survivor keys — right for bounded query batches,
    * where the broadcasts keep every pass a single corpus scan. FALSE
    * (the batch path, [[quantizedKnnJoinFromIndex]]) shuffle-equi-joins
    * each of them instead — a corpus-sized query batch must never
    * transit the driver; AQE still converts to broadcast at runtime when
    * a side turns out genuinely small.
    */
  private def quantizedRefineFrames(indexPath: String, queries: DataFrame,
                                    k: Int, nProbe: Int, idCol: String,
                                    vecCol: String,
                                    broadcastQueries: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    def side(df: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(df) else df
    val spark = queries.sparkSession
    val cent = Tables.parquet(spark, s"$indexPath/centroids.parquet")
      .withColumn("c2", V.dot(col("cen"), col("cen")))
    // tombstone-aware, like the plain IVF path: the quantized index
    // shares the assignment layout, so deleteFromIvfIndex /
    // compactIvfIndex maintain it too (codes column carried through).
    // An index built before the oob column existed has every row
    // bound-valid by construction (appends are what introduce movers,
    // and appendToQuantizedIndex always writes the column) — default it
    // rather than force a rebuild of a correct artifact
    val asgRaw = liveIvfAssignments(spark, indexPath)
    val asg =
      if (asgRaw.columns.contains("oob")) asgRaw
      else asgRaw.withColumn("oob", lit(false))
    // dim-row ranges → driver literals (boundary scalar, dim values)
    val rng = Tables.parquet(spark, s"$indexPath/ranges.parquet")
      .orderBy("pos").select("lo", "hi").collect()
    val los = rng.map(_.getDouble(0)).toSeq
    val deltas = rng.map(r => (r.getDouble(1) - r.getDouble(0)) / 255.0).toSeq
    val losL = typedlit(los)
    val delL = typedlit(deltas)
    val qBase = queries.select(col(idCol).as("q_id"),
        V.toDoubleArray(col(vecCol)).as("v_q"))
      .withColumn("nrm_q", V.norm(col("v_q")))
      .withColumn("qa", aggregate(zip_with(col("v_q"), losL,
        (x, l) => x * l), lit(0.0), _ + _))
      .withColumn("w", zip_with(col("v_q"), delL, (x, d) => x * d))
      .withColumn("qeps", aggregate(zip_with(col("v_q"), delL,
        (x, d) => abs(x) * d), lit(0.0), _ + _) / 2 + lit(1e-9))
    val qCells = qBase.crossJoin(broadcast(cent))
      .withColumn("aff", V.dot(col("v_q"), col("cen")) * 2 - col("c2"))
      .groupBy("q_id")
      .agg(AggFunctions.topKByScore(col("aff"), col("cell_id"), nProbe)
        .as("cells"))
      .select(col("q_id"), explode(col("cells")).as("ce"))
      .select(col("q_id"), col("ce.n_id").cast("int").as("cell"))
    // Batch arm: same cell-pinned user repartition as ivfProbe (r20):
    // the fanned query frame is bytes-tiny at gate scale, AQE's
    // size-based coalescing folds it to one partition, and the
    // broadcast-converted cell join then runs the code-scoring pass
    // single-task. Both passes are pinned: the second pass joins `thr`
    // onto `q` by q_id first, which replaces the cell partitioning and
    // is coalesced the same way, so it re-pins on cell after that join
    // (else its second pass, refine and reduction run as one task).
    // HashPartitioning(cell, parts) is the exchange the production
    // sort-merge join needs anyway — no extra q-side shuffle at any
    // scale.
    val parts = spark.sessionState.conf.numShufflePartitions
    val q0 = qBase.join(qCells, Seq("q_id"))
      .select("q_id", "cell", "nrm_q", "qa", "w", "qeps")
    val q = if (broadcastQueries) q0 else q0.repartition(parts, col("cell"))
    // FILTER pass: codes only — the double vectors stay unread here.
    // `oob` rows (appended values that broke a degenerate dimension's
    // bound — see quantOutOfBounds) carry lying code estimates: they are
    // EXCLUDED from the threshold and ALWAYS survive to the exact
    // re-rank, so the filter-refine equality proof never leans on them.
    // The pass is a FUNCTION because the batch regime runs it twice —
    // see `surv` below.
    def candPass(qFrame: DataFrame): DataFrame = asg
      .select("cell", "n_id", "nrm_n", "codes", "oob")
      .join(side(qFrame), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      // compiled kernel (V.shiftedDotBytes over the byte-packed storage
      // form; V.shiftedDot for pre-round-19 array<long> artifacts — both
      // bit-identical to the HOF aggregate(zip_with(...)) fold, which is
      // CodegenFallback: an interpreted lambda + a 64-element
      // intermediate array PER CANDIDATE, at batch-kNN volume it
      // dominated the whole rewrite — 1158 s at x100)
      .withColumn("dhat", col("qa") + (
        if (asg.schema("codes").dataType ==
            org.apache.spark.sql.types.BinaryType)
          V.shiftedDotBytes(col("w"), col("codes"))
        else V.shiftedDot(col("w"), col("codes"))))
      .withColumn("chat", col("dhat") / (col("nrm_q") * col("nrm_n")))
      .withColumn("err", col("qeps") / (col("nrm_q") * col("nrm_n")))
    // PROJECT the candidate frame to scalars the moment the code math
    // is done: the threshold heap needs only these six columns, and
    // letting the 64-element codes / query-weight arrays ride any
    // downstream movement multiplied bytes ~20× (measured 176 → 1206 s
    // at x100 before this projection).
    val approx = candPass(q)
      .select("q_id", "cell", "n_id", "oob", "chat", "err")
    // t = k-th largest LOWER bound among bound-valid candidates; with
    // FEWER than k of them the k-th best true similarity may sit below
    // every collected bound, so pruning is disabled outright (t = −2 <
    // any cosine) rather than pruning against a threshold the proof
    // does not cover. topKByScore partial-aggregates: per-partition
    // bounded heaps cross the q_id exchange, never candidates.
    val thr = approx.filter(!col("oob")).groupBy("q_id")
      .agg(AggFunctions.topKByScore(col("chat") - col("err"),
        col("n_id").cast("long"), k).as("h"))
      .select(col("q_id"),
        when(size(col("h")) >= k,
          element_at(col("h"), size(col("h"))).getField("sim"))
          .otherwise(lit(-2.0)).as("t"))
    // Survivor selection. POINT regime (broadcast queries): join the
    // threshold back onto the (broadcast-join-produced, never-shuffled)
    // candidate frame — one cheap pass. BATCH regime: that join would
    // push corpus×nProbe×cellsize candidate rows through a q_id
    // exchange — measured 10.7 GB of the end-to-end join's 11.8 GB
    // shuffle at entropy-200k, and at 10⁹ rows it is petabytes while
    // every scan in the plan stays in terabytes. Instead the per-query
    // threshold rides the QUERY frame (queries×nProbe rows, an exchange
    // the plan already pays) into a SECOND candidate pass that applies
    // the prune filter inline: the code column is scanned and scored
    // twice — compiled-kernel work over the 8×-smaller column set — and
    // the pair frame never crosses an exchange. Same floats both
    // passes ⇒ bit-identical decisions (the q176==q170 oracle and the
    // DedupSimilaritySpec prune laws gate it).
    val surv = (if (broadcastQueries)
        approx.join(side(thr), Seq("q_id"), "left")
      else
        candPass(q.join(thr, Seq("q_id"), "left")
          .repartition(parts, col("cell"))))
      .filter(col("oob") ||
        coalesce(col("chat") + col("err") >= col("t"), lit(false)))
      .select("q_id", "cell", "n_id")
    // REFINE pass: full vectors for survivors only
    val scored = asg.select(col("cell"), col("n_id"), col("v_n"),
        col("nrm_n"))
      .join(side(surv), Seq("cell", "n_id"))
      .join(side(qBase.select("q_id", "v_q", "nrm_q")), Seq("q_id"))
      .withColumn("sim", round(
        V.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")), 6))
    (approx, surv, topKReduce(scored, k))
  }

  /** LSH-bucketed approximate top-k with OR-amplification: `tables`
    * independent hyperplane sketches of `planes` bits each; a corpus row is
    * a candidate if it shares ANY table's bucket with the query (recall
    * 1-(1-p^planes)^tables), then exact cosine + window rank on candidates.
    * Corpus cost is `tables` narrow sketch evaluations + one equi-join on
    * (table, bucket) — never quadratic.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int = 64, planes: Int = 8, tables: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // packed (table, bucket) keys, all tables in one compiled kernel pass
    def buckets(v: Column): Column =
      V.hyperplaneSketches(v, dim, planes, tables, seed = 42L)
    val c = corpus.select(col(idCol).as("n_id"),
        V.toDoubleArray(col(vecCol)).as("v_n"))
      .withColumn("nrm_n", V.norm(col("v_n")))
      .select(col("n_id"), col("v_n"), col("nrm_n"),
        explode(buckets(col("v_n"))).as("bucket"))
    val q = queries.select(col(idCol).as("q_id"),
        V.toDoubleArray(col(vecCol)).as("v_q"))
      .withColumn("nrm_q", V.norm(col("v_q")))
      .select(col("q_id"), col("v_q"), col("nrm_q"),
        explode(buckets(col("v_q"))).as("bucket"))
    // score BEFORE deduplicating (a pair sharing b buckets is scored b
    // times — identical sim each time, narrow codegen'd work), so the
    // dedup shuffle carries 24-byte (q_id, n_id, sim) rows instead of both
    // full vectors; at corpus scale shuffle bytes, not dot products, are
    // the binding cost
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(
        V.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")), 6))
      .select("q_id", "n_id", "sim")
      .dropDuplicates("q_id", "n_id")
    topKReduce(scored, k)
  }
}
