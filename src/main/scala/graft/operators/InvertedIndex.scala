package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** Persisted inverted index (postings lists) with the same versioned-
  * artifact lifecycle as the IVF / LSH / Bloom indexes: build once,
  * append shards, query many — the search-side artifact a curation stack
  * keeps NEXT to the corpus so every ad-hoc term query stops paying the
  * full tokenize+explode scan (q69 recomputes BM25 from raw text each
  * call; reference: the per-run recompute shape of log_mining_analysis
  * .py:21-133's parse-then-aggregate pipelines).
  *
  * Layout (MANIFEST-versioned, [[MaintenanceIo]]):
  *   - `postings.gN/` — (tok, doc_id, tf, dl) PARTITIONED BY `pb` =
  *     hash(tok) mod `buckets`: a term query's `pb IN (...)` literal
  *     filter statically prunes the scan to the probed buckets, so scan
  *     bytes track |query terms| / `buckets`, not corpus size. `dl` is
  *     DENORMALIZED into the posting row (the classic impact-index
  *     trick): scoring never joins back to a corpus-sized doc-length
  *     table.
  *   - `df.gN/` — (tok, df) per build/append shard. Document frequency
  *     over disjoint doc shards is ADDITIVE, so readers merge with one
  *     tiny sum over the probed terms' rows.
  *   - `stats.gN/` — one (n_docs, tot_dl) row per build/append shard;
  *     additive the same way. A delete's negative df / stats rows land
  *     in their own generations, keyed `df.d<epoch>` / `stats.d<epoch>`.
  *
  * Scale contract: build shuffles the (doc, tok) stream once
  * (map-side-combined tf count) plus the partitionBy exchange; appends
  * touch ONLY the shard (no standing-corpus reads — the q89/q93 nightly
  * cadence); a query reads probed-bucket postings plus two
  * broadcast-sized side tables and shuffles nothing wider than
  * (doc_id, score). Writers serialize on the maintenance lock; readers
  * resolve one manifest snapshot and are grace-protected across
  * concurrent appends exactly like the IVF index.
  */
object InvertedIndex {

  /** Postings partition-bucket count. 64 keeps per-bucket files chunky at
    * fixture scale; a 100 TB corpus raises it with vocabulary size (the
    * knob trades pruning granularity against small-file count).
    */
  val DefaultBuckets = 64

  private def termBucket(tok: Column, buckets: Int): Column =
    pmod(xxhash64(tok), lit(buckets.toLong)).cast("int")

  /** (tok, doc_id, tf, dl, pb) postings of a document frame: one narrow
    * tokenize pass, one map-side-combined (doc, tok) count. Docs with
    * NULL text contribute no postings (and no stats row — matching the
    * oracle's treatment of NULL in both engines).
    */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("pb", termBucket(col("tok"), buckets))

  /** One (n_docs, tot_dl) corpus-stats row for a doc frame. */
  private def statsOf(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))

  /** Build the index from scratch: postings (bucket-partitioned,
    * epoch-stamped 0), per-shard df, per-shard stats, all published in
    * one manifest. The df table derives from the postings frame pinned
    * once (localCheckpoint) so the tokenize+count kernel runs a single
    * time.
    */
  def buildIndex(docs: DataFrame, indexPath: String,
                 buckets: Int = DefaultBuckets,
                 idCol: String = "doc_id", textCol: String = "text"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val post = postingsOf(docs, idCol, textCol, buckets).localCheckpoint()
      val pGen = MaintenanceIo.nextGen(indexPath, "postings")
      post.withColumn("epoch", lit(0L)).repartition(col("pb"))
        .write.partitionBy("pb").parquet(s"$indexPath/$pGen")
      val dGen = MaintenanceIo.nextGen(indexPath, "df")
      post.groupBy("tok").agg(count(lit(1)).as("df"))
        .write.parquet(s"$indexPath/$dGen")
      val sGen = MaintenanceIo.nextGen(indexPath, "stats")
      statsOf(docs, idCol, textCol).coalesce(1)
        .write.parquet(s"$indexPath/$sGen")
      MaintenanceIo.publish(indexPath, MaintenanceIo.Manifest(0L,
        Map("postings" -> pGen, "df" -> dGen, "stats" -> sGen)))
    }

  /** Append a NEW-docs shard (doc_ids not currently LIVE — re-appending
    * a tombstoned id is the takedown-then-recrawl path and works because
    * postings are epoch-stamped past the tombstone; re-appending a LIVE
    * id is the caller's bug, exactly as in the IVF/LSH appends). One
    * shard-sized pass: postings rows land in the live partitioned table,
    * the shard's (tok, df) and (n_docs, tot_dl) rows append to the
    * additive side tables, and the manifest epoch bumps. The standing
    * corpus is never read.
    */
  def appendToIndex(shard: DataFrame, indexPath: String,
                    buckets: Int = DefaultBuckets,
                    idCol: String = "doc_id", textCol: String = "text"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      val e = m.epoch + 1
      val post = postingsOf(shard, idCol, textCol, buckets).localCheckpoint()
      post.withColumn("epoch", lit(e)).repartition(col("pb"))
        .write.partitionBy("pb").mode("append")
        .parquet(s"$indexPath/${m.tables("postings")}")
      post.groupBy("tok").agg(count(lit(1)).as("df"))
        .write.mode("append").parquet(s"$indexPath/${m.tables("df")}")
      statsOf(shard, idCol, textCol).coalesce(1)
        .write.mode("append").parquet(s"$indexPath/${m.tables("stats")}")
      MaintenanceIo.publish(indexPath, m.copy(epoch = e))
    }

  /** Micro-batch append with EXACTLY-ONCE replay semantics — the
    * streaming-maintenance writer ([[graft.streaming.IngestStream
    * .selfDedupIngest]]'s search-index side effect). foreachBatch side
    * effects are at-least-once; the plain [[appendToIndex]] would
    * double-count tf/df/stats on a crash-replay. This writer instead
    * lands batch `batchId` as its OWN generation triple
    * (`postings.b<id>.e<epoch>` / `df.b<id>.e<epoch>` /
    * `stats.b<id>.e<epoch>`), written with OVERWRITE — a replayed batch
    * rewrites its directories byte-for-byte (the epoch is pinned in the
    * dir name and reused on replay, so even the epoch column is
    * identical) and re-publishes an identical manifest: the file-sink
    * exactly-once trick applied to index maintenance. Readers union the
    * main tables with every batch generation through one snapshot;
    * [[compactIndex]] folds batch generations back into singles.
    */
  def appendBatchToIndex(shard: DataFrame, indexPath: String, batchId: Long,
                         buckets: Int = DefaultBuckets,
                         idCol: String = "doc_id", textCol: String = "text"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      val pKey = s"postings.b$batchId"
      val e = MaintenanceIo.batchEpoch(m, pKey)
      val dKey = s"df.b$batchId"
      val sKey = s"stats.b$batchId"
      val (pDir, dDir, sDir) = (s"$pKey.e$e", s"$dKey.e$e", s"$sKey.e$e")
      val post = postingsOf(shard, idCol, textCol, buckets).localCheckpoint()
      post.withColumn("epoch", lit(e)).repartition(col("pb"))
        .write.partitionBy("pb").mode("overwrite")
        .parquet(s"$indexPath/$pDir")
      post.groupBy("tok").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$indexPath/$dDir")
      statsOf(shard, idCol, textCol).coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath/$sDir")
      MaintenanceIo.publish(indexPath,
        MaintenanceIo.Manifest(math.max(m.epoch, e),
          m.tables ++ Map(pKey -> pDir, dKey -> dDir, sKey -> sDir)))
    }

  /** Tombstone DELETE of documents — the takedown path completing the
    * lifecycle (build/append/query/delete/compact, the same contract as
    * the IVF index). Three fresh generations, published together: the
    * epoch-stamped tombstone ids, and the deleted docs' df / stats
    * contributions as NEGATIVE delta rows in `df.d<epoch>` /
    * `stats.d<epoch>` — so once published, BM25's idf and avgdl reflect
    * the shrunken live corpus with no rebuild (sums are
    * order-independent, so deletes, appends, and re-appends compose in
    * any order), and before it nothing a reader resolved has changed.
    * Deltas derive from the docs' LIVE postings: one postings scan per
    * delete batch (doc-id filters can't bucket-prune a token-partitioned
    * layout — the honest cost, amortized over rare takedown batches),
    * while the tombstone write itself is O(|tombstones|). Tombstones
    * follow the epoch rule of [[MaintenanceIo]]
    * ([[MaintenanceIo.tombstone]]).
    */
  def deleteFromIndex(ids: DataFrame, indexPath: String,
                      idCol: String = "doc_id"): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val spark = ids.sparkSession
      val m = MaintenanceIo.requireManifest(indexPath)
      val doomedIds = ids.select(col(idCol).as("doc_id")).distinct()
      val doomed = livePostings(spark, indexPath)
        .join(broadcast(doomedIds), Seq("doc_id"))
        .localCheckpoint() // two delta consumers, one scan
      val dGen = MaintenanceIo.nextGen(indexPath, "df")
      doomed.groupBy("tok")
        .agg((count(lit(1)) * lit(-1L)).as("df"))
        .write.parquet(s"$indexPath/$dGen")
      val sGen = MaintenanceIo.nextGen(indexPath, "stats")
      doomed.select("doc_id", "dl").distinct()
        .agg((count(lit(1)) * lit(-1L)).as("n_docs"),
          (coalesce(sum("dl"), lit(0L)) * lit(-1L)).as("tot_dl"))
        .coalesce(1)
        .write.parquet(s"$indexPath/$sGen")
      val t = MaintenanceIo.tombstone(indexPath, m, doomedIds, "doc_id")
      MaintenanceIo.publish(indexPath, t.copy(tables = t.tables ++
        Map(s"df.d${t.epoch}" -> dGen, s"stats.d${t.epoch}" -> sGen)))
    }

  /** Fold tombstones into the stored tables: rewrite live postings
    * (bucket-partitioned as built — the post-compact query plan is
    * byte-identical to a fresh build's), collapse df to its merged
    * positive sums and stats to one merged row, retire the tombstone
    * table. All three land as NEW generations in one manifest swap —
    * a concurrent reader sees the old consistent view or the new one,
    * never a mix (MaintenanceIo grace contract). Query cost returns to
    * the fresh-build baseline: no tombstone join, no delta rows.
    */
  def compactIndex(spark: SparkSession, indexPath: String): Unit =
    MaintenanceIo.withMaintenanceLock(indexPath) {
      val m = MaintenanceIo.requireManifest(indexPath)
      if (!m.tables.contains("tombstones") &&
        !m.tables.keys.exists(_.contains(".b"))) return
      val snap = MaintenanceIo.paths(indexPath, m)
      val pGen = MaintenanceIo.nextGen(indexPath, "postings")
      livePostings(spark, snap).repartition(col("pb"))
        .write.partitionBy("pb").parquet(s"$indexPath/$pGen")
      val dGen = MaintenanceIo.nextGen(indexPath, "df")
      MaintenanceIo.read(spark, snap, "df")
        .groupBy("tok").agg(sum("df").as("df"))
        .filter(col("df") > 0L)
        .write.parquet(s"$indexPath/$dGen")
      val sGen = MaintenanceIo.nextGen(indexPath, "stats")
      MaintenanceIo.read(spark, snap, "stats")
        .agg(sum("n_docs").as("n_docs"), sum("tot_dl").as("tot_dl"))
        .coalesce(1)
        .write.parquet(s"$indexPath/$sGen")
      MaintenanceIo.publish(indexPath, MaintenanceIo.compacted(m,
        Map("postings" -> pGen, "df" -> dGen, "stats" -> sGen)))
    }

  /** Stored postings (main + batch generations) minus tombstone-shadowed
    * rows ([[MaintenanceIo.live]]).
    */
  private def livePostings(spark: SparkSession, indexPath: String): DataFrame =
    livePostings(spark, MaintenanceIo.snapshot(indexPath))

  /** Snapshot-taking overload: callers that read other tables too must
    * pass ONE snapshot for all of them (two manifest reads could
    * straddle a compaction and mix generations).
    */
  private def livePostings(spark: SparkSession,
                           snap: Map[String, String]): DataFrame =
    MaintenanceIo.live(MaintenanceIo.read(spark, snap, "postings"), snap,
      "doc_id")

  /** BM25 (k1 = 1.2, b = 0.75) over the STORED index for a fixed term
    * set — same arithmetic, literals, op order, and 6-dp per-term
    * rounding as q69's from-scratch scorer, so a full-corpus recompute
    * oracle must hash-match. Reads: probed postings buckets only (the
    * `pb IN` literals statically prune the partitioned scan; the bucket
    * ids come from one |terms|-row local evaluation), df and stats as
    * broadcast-sized merges. Returns (doc_id, score, n_terms) unsorted —
    * callers rank.
    */
  def bm25FromIndex(spark: SparkSession, indexPath: String,
                    terms: Seq[String], buckets: Int = DefaultBuckets): DataFrame = {
    require(terms.nonEmpty, "bm25FromIndex: at least one term")
    val snap = MaintenanceIo.snapshot(indexPath)
    import spark.implicits._
    // |terms|-row local relation -> bucket literals (driver-sized by
    // construction; LocalTableScan, no cluster job)
    val pbs = terms.toDF("tok")
      .select(termBucket(col("tok"), buckets)).as[Int].collect().distinct
    val post = livePostings(spark, snap)
      .filter(col("pb").isin(pbs.map(Integer.valueOf).toIndexedSeq: _*) &&
        col("tok").isin(terms: _*))
    val dfq = MaintenanceIo.read(spark, snap, "df")
      .filter(col("tok").isin(terms: _*))
      .groupBy("tok").agg(sum("df").as("df"))
      .filter(col("df") > 0L)
    val stats = MaintenanceIo.read(spark, snap, "stats")
      .agg(sum("n_docs").as("n_docs"), sum("tot_dl").as("tot_dl"))
    post.crossJoin(broadcast(stats)).join(broadcast(dfq), Seq("tok"))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("ts", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
        6))
      .groupBy("doc_id")
      .agg(sum(col("ts").cast(DecimalType(18, 6))).cast("double")
          .as("score"),
        count(lit(1)).as("n_terms"))
  }

  /** Per-query BM25 top-k answered from the STORED index — the serving
    * twin of [[graft.operators.Retrieval.bm25TopK]] (which recomputes
    * from raw text): ONE probe of the union of all query terms reads the
    * probed-bucket postings once, the |queries|×|terms| term map fans the
    * matched rows per query via a broadcast join, and the per-query rank
    * is the same bounded-heap aggregate. Because the index's df/stats are
    * additive build+append exact (q130's gate), the scores — identical
    * literals, per-term 6 dp rounding, DECIMAL sum — reproduce the
    * from-scratch kernel bit-for-bit, so a hybrid query served from this
    * path hash-matches the recompute oracle.
    * Returns (q_id, doc_id, score, rank), rank 1-based, ≤ k rows/query.
    */
  def bm25PerQueryFromIndex(spark: SparkSession, indexPath: String,
                            queries: Seq[(Long, Seq[String])], k: Int,
                            buckets: Int = DefaultBuckets): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25PerQueryFromIndex: every query needs at least one term")
    require(k > 0, "bm25PerQueryFromIndex: k must be positive")
    val terms = queries.flatMap(_._2).distinct
    import spark.implicits._
    val termMap = queries.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
      .toDF("q_id", "tok")
    val snap = MaintenanceIo.snapshot(indexPath)
    val pbs = terms.toDF("tok")
      .select(termBucket(col("tok"), buckets)).as[Int].collect().distinct
    val post = livePostings(spark, snap)
      .filter(col("pb").isin(pbs.map(Integer.valueOf).toIndexedSeq: _*) &&
        col("tok").isin(terms: _*))
    val dfq = MaintenanceIo.read(spark, snap, "df")
      .filter(col("tok").isin(terms: _*))
      .groupBy("tok").agg(sum("df").as("df"))
      .filter(col("df") > 0L)
    val stats = MaintenanceIo.read(spark, snap, "stats")
      .agg(sum("n_docs").as("n_docs"), sum("tot_dl").as("tot_dl"))
    val scored = post.crossJoin(broadcast(stats))
      .join(broadcast(dfq), Seq("tok"))
      .join(broadcast(termMap), Seq("tok"))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("ts", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
        6))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("ts").cast(DecimalType(18, 6))).cast("double").as("score"))
    scored.groupBy("q_id")
      .agg(graft.functions.AggFunctions
        .topKByScore(col("score"), col("doc_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("doc_id"),
        col("col.sim").as("score"), (col("pos") + 1).cast("long").as("rank"))
  }
}
