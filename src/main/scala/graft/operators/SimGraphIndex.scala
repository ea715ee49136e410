package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions => T}

/** PERSISTED, incrementally-maintained exact-Jaccard similarity graph —
  * the lifecycle version of the per-snapshot simgraph cache the graph
  * family (q141/q144/q150/q152) reads. That cache rebuilds from scratch
  * per corpus snapshot; this index lets the nightly-crawl loop EXTEND the
  * edge set with a shard's new documents without touching the
  * standing-vs-standing pair space at all — the difference between
  * O(corpus²-shaped) rebuild work per night and O(shard × candidate)
  * append work (reference cadence: the re-run-everything shape of
  * nyc_collision_analytics.py; at 100 TB the rebuild is not an option).
  *
  * Layout (MANIFEST-versioned, [[MaintenanceIo]] — the IVF/LSH/inverted-
  * index contract: writers serialize on the maintenance lock, readers
  * resolve one snapshot, crash mid-append leaves the old manifest and
  * every directory it references intact):
  *   - `meta.g0/`     — one row (t6, w): the build pins the Jaccard
  *     threshold (micro-units) and shingle width; appends READ them
  *     rather than trust the caller, so probe geometry can never drift
  *     from the built artifact (the Bloom-nfc rule).
  *   - `sets.g0/`     — (doc_id, hs ARRAY<BIGINT>, sz): each doc's
  *     distinct shingle-hash set — the verify side's operand, so append
  *     verification never re-tokenizes the standing corpus.
  *   - `postings.g0/` — (h, doc_id, sz): the FULL inverted shingle
  *     postings of every indexed doc. Append probes join against ALL of
  *     a standing doc's shingles, which is what makes single-sided
  *     prefix blocking exactly sound (below). Linear in shingle volume —
  *     same cost class as the LSH band table and the BM25 postings.
  *   - `dfreq.g0/`    — (h, df) additive per shard (sum-merged on read):
  *     global shingle rarity, the probe-prefix ORDERING signal.
  *   - `edges.g0/`    — (id_a, id_b, jaccard), id_a < id_b: the graph.
  *
  * RECALL ARGUMENT for the append (probe-prefix / index-full, the
  * [[Dedup.exactContainmentJoin]] theorem applied to Jaccard): for a
  * qualifying pair (a, b) with J ≥ t and a in the shard, the overlap o
  * satisfies o ≥ ⌈t·|a|⌉ =: α, so a's p = |a| − α + 1 rarest shingles
  * (ANY total order) must contain a common shingle by pigeonhole — and
  * the index carries ALL of b's shingles, so the equi-join on a's prefix
  * finds the pair regardless of how b's shingles rank. This is the key
  * to incrementality: the symmetric two-sided prefix filter
  * ([[Dedup.exactJaccardJoin]]) needs both sides' prefixes under ONE
  * global df order, which append-time df drift would invalidate for
  * standing docs — the single-sided bound needs no such consistency, so
  * stale rarity ranks can cost only EFFICIENCY (a less-rare prefix),
  * never recall. df still orders the probe prefix because probing rare
  * shingles keeps candidate volume near Σ_prefix df(h) instead of a hot
  * shingle's full posting list (the q137 blocking-entropy lesson).
  *
  * New↔new pairs inside one shard are covered by the same argument: the
  * probe target is standing postings ∪ the shard's own postings. Both
  * size filters apply (J ≥ t bounds the ratio of set sizes both ways);
  * candidates verify with the compiled exact set kernel on the stored
  * hash sets; ownership (id_a < id_b) plus dropDuplicates make the edge
  * set a set. Disjoint-shard appends therefore reproduce the full-corpus
  * [[Dedup.exactJaccardJoin]] edge set EXACTLY — q154's oracle is the
  * full quadratic recompute, so hash-green is the no-loss proof.
  */
object SimGraphIndex {

  /** Build the index over the standing corpus. One text-kernel pass
    * (pinned) feeds sets, postings, dfreq, AND the edge join — the
    * corpus is never re-tokenized. Edges come from the same prefix-
    * filter join q139 gates (exact recall by theorem).
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
            path: String, threshold: Double, shingleWidth: Int = 3): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      require(threshold > 0.0 && threshold <= 1.0,
        s"SimGraphIndex.build: threshold in (0,1], got $threshold")
      val t6 = math.floor(threshold * 1e6).toLong
      val sp = corpus.sparkSession
      import sp.implicits._
      val sets = setsOf(corpus, idCol, textCol, shingleWidth)
        .localCheckpoint()
      val mGen = MaintenanceIo.nextGen(path, "meta")
      // `tbits` pins the EXACT build threshold (IEEE bits): the verify
      // filter in build ([[Dedup.exactJaccardJoinFromSets]]) compares
      // against the original double, so appends must too — reconstructing
      // it as t6/1e6 floor-quantizes, and a pair whose jaccard lands in
      // [t6/1e6, threshold) would be admitted by the append but rejected
      // by a from-scratch rebuild (round-15 verdict #4; boundary spec in
      // SimGraphIndexSpec). t6 stays the integer-filter operand.
      MaintenanceIo.write(
        Seq((t6, shingleWidth, java.lang.Double.doubleToLongBits(threshold)))
          .toDF("t6", "w", "tbits").coalesce(1), s"$path/$mGen")
      val sGen = MaintenanceIo.nextGen(path, "sets")
      MaintenanceIo.write(sets, s"$path/$sGen")
      val post = sets.select(col("doc_id"), col("sz"),
        explode(col("hs")).as("h"))
      val pGen = MaintenanceIo.nextGen(path, "postings")
      MaintenanceIo.write(post, s"$path/$pGen")
      val dGen = MaintenanceIo.nextGen(path, "dfreq")
      MaintenanceIo.write(post.groupBy("h").agg(count(lit(1)).as("df")),
        s"$path/$dGen")
      val eGen = MaintenanceIo.nextGen(path, "edges")
      MaintenanceIo.write(Dedup.exactJaccardJoinFromSets(
          sets.select(col("doc_id").as("__id"), col("hs").as("__hs"),
            col("sz").as("__sz")),
          t6, threshold), s"$path/$eGen")
      val tGen = MaintenanceIo.nextGen(path, "tombstones")
      MaintenanceIo.write(
        sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType))))
          .coalesce(1), s"$path/$tGen")
      MaintenanceIo.publish(path, MaintenanceIo.Manifest(0L,
        Map("meta" -> mGen, "sets" -> sGen, "postings" -> pGen,
          "dfreq" -> dGen, "edges" -> eGen, "tombstones" -> tGen)))
    }

  /** Append a shard of NEW documents (ids disjoint from the standing
    * corpus — re-appending a live id is the caller's bug, the IVF/
    * inverted-index contract, now ENFORCED against the tombstone set:
    * this index has no per-row epochs, so a dead id sneaking back in
    * before a [[compact]] would resurrect under the reader's anti-join
    * the moment tombstones reset). Work is shard-probe-sized: the
    * standing corpus contributes only the postings the shard's prefix
    * shingles actually touch (an equi-join the optimizer prunes to
    * matching keys), never a corpus-wide scan-and-rank.
    *
    * CRASH-ATOMIC (round-15 verdict #1): the shard's contribution lands
    * as its OWN generation quad (`sets.a<seq>.e<epoch>` etc.) — never
    * `mode("append")` into directories the live manifest references —
    * and becomes visible only at [[MaintenanceIo.publish]]. A crash at
    * any earlier point leaves every published directory byte-identical
    * (readers keep seeing the exact pre-append graph) and the quad dirs
    * as unreferenced orphans; a RETRY recomputes against the unchanged
    * standing state, overwrites the orphans, and publishes once — edges
    * equal a from-scratch rebuild, no double-append possible. Readers
    * union main + append + batch generations through one snapshot
    * ([[MaintenanceIo.read]]); [[compact]] folds them back into singles.
    */
  def append(shard: DataFrame, idCol: String, textCol: String,
             path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = shard.sparkSession
      val m = MaintenanceIo.requireManifest(path)
      val e = m.epoch + 1
      val meta = Tables.parquet(sp, s"$path/${m.tables("meta")}").head()
      val t6 = meta.getAs[Long]("t6")
      val w = meta.getAs[Int]("w")

      val newSets = setsOf(shard, idCol, textCol, w).localCheckpoint()
      requireNotTombstoned(sp, path, m, newSets)
      val newPost = newSets.select(col("doc_id"), col("sz"),
        explode(col("hs")).as("h")).localCheckpoint()
      val delta = newPost.groupBy("h").agg(count(lit(1)).as("df"))
      val newEdges = appendEdgesPlan(sp, path, m, newSets, newPost, delta,
        t6, exactThreshold(meta, t6))

      // a crashed attempt never published, so a retry recomputes the SAME
      // seq against the same standing state and overwrites its orphans
      val seq = nextAppendSeq(m)
      val dirOf = Seq("edges", "sets", "postings", "dfreq")
        .map(t => s"$t.a$seq" -> s"$t.a$seq.e$e").toMap
      MaintenanceIo.write(newEdges,
        s"$path/${dirOf(s"edges.a$seq")}", "overwrite")
      MaintenanceIo.write(newSets,
        s"$path/${dirOf(s"sets.a$seq")}", "overwrite")
      MaintenanceIo.write(newPost,
        s"$path/${dirOf(s"postings.a$seq")}", "overwrite")
      MaintenanceIo.write(delta, s"$path/${dirOf(s"dfreq.a$seq")}", "overwrite")
      MaintenanceIo.publish(path,
        MaintenanceIo.Manifest(e, m.tables ++ dirOf))
    }

  /** Exact verify threshold: the pinned IEEE bits when the artifact
    * carries them; the floor-quantized t6/1e6 only for pre-`tbits`
    * artifacts (superseded layouts self-invalidate via cachedBuild salts,
    * but an external artifact read must not throw).
    */
  private def exactThreshold(meta: org.apache.spark.sql.Row,
                             t6: Long): Double =
    if (meta.schema.fieldNames.contains("tbits"))
      java.lang.Double.longBitsToDouble(meta.getAs[Long]("tbits"))
    else t6 / 1e6

  /** Next append-generation sequence: one past every `sets.a<n>` key the
    * manifest carries (manifest-only — a crashed attempt's orphan dirs
    * are deliberately reclaimed by the retry's overwrite).
    */
  private def nextAppendSeq(m: MaintenanceIo.Manifest): Long = {
    val re = """^sets\.a(\d+)$""".r
    m.tables.keys.collect { case re(n) => n.toLong }
      .foldLeft(-1L)(math.max) + 1
  }

  /** The re-append contract check: shard ids must be disjoint from live
    * tombstones (broadcast semi-join — tombstones are takedown-sized).
    */
  private def requireNotTombstoned(sp: SparkSession, path: String,
                                   m: MaintenanceIo.Manifest,
                                   newSets: DataFrame): Unit = {
    val clash = newSets.select("doc_id")
      .join(broadcast(
          Tables.parquet(sp, s"$path/${m.tables("tombstones")}")),
        Seq("doc_id"), "left_semi")
      .limit(1).collect()
    require(clash.isEmpty,
      s"SimGraphIndex: doc_id ${clash.head.getLong(0)} is tombstoned — " +
        "re-appending a deleted id before compact() is unsupported " +
        "(no per-row epochs); compact first")
  }

  /** Micro-batch append with EXACTLY-ONCE replay semantics — the
    * streaming-maintenance writer ([[graft.streaming.IngestStream
    * .selfDedupIngest]]'s similarity-graph side effect). foreachBatch
    * side effects are at-least-once; the plain [[append]] would
    * duplicate a replayed batch's edge/sets/postings/df rows. This
    * writer instead lands batch `batchId` as its OWN generation quad
    * (`sets.b<id>.e<epoch>` etc.) written with OVERWRITE — a replayed
    * batch recomputes against the SAME standing state (Structured
    * Streaming replays only the last uncommitted batch, so every
    * earlier batch's generations are already committed and the edge
    * derivation is deterministic given them) and rewrites its dirs in
    * place: the [[InvertedIndex.appendBatchToIndex]] trick applied to
    * graph maintenance. Readers union the main tables with every batch
    * generation through one snapshot; [[compact]] folds batch
    * generations back into singles.
    */
  def appendBatch(shard: DataFrame, idCol: String, textCol: String,
                  path: String, batchId: Long): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = shard.sparkSession
      val m = MaintenanceIo.requireManifest(path)
      val meta = Tables.parquet(sp, s"$path/${m.tables("meta")}").head()
      val t6 = meta.getAs[Long]("t6")
      val w = meta.getAs[Int]("w")
      val sKey = s"sets.b$batchId"
      val e = MaintenanceIo.batchEpoch(m, sKey)
      val (pKey, dKey, eKey) =
        (s"postings.b$batchId", s"dfreq.b$batchId", s"edges.b$batchId")
      val dirOf = Map(sKey -> s"$sKey.e$e", pKey -> s"$pKey.e$e",
        dKey -> s"$dKey.e$e", eKey -> s"$eKey.e$e")
      val newSets = setsOf(shard, idCol, textCol, w).localCheckpoint()
      requireNotTombstoned(sp, path, m, newSets)
      val newPost = newSets.select(col("doc_id"), col("sz"),
        explode(col("hs")).as("h")).localCheckpoint()
      val delta = newPost.groupBy("h").agg(count(lit(1)).as("df"))
      MaintenanceIo.write(appendEdgesPlan(sp, path, m, newSets, newPost,
          delta, t6, exactThreshold(meta, t6)),
        s"$path/${dirOf(eKey)}", "overwrite")
      MaintenanceIo.write(newSets, s"$path/${dirOf(sKey)}", "overwrite")
      MaintenanceIo.write(newPost, s"$path/${dirOf(pKey)}", "overwrite")
      MaintenanceIo.write(delta, s"$path/${dirOf(dKey)}", "overwrite")
      MaintenanceIo.publish(path,
        MaintenanceIo.Manifest(math.max(m.epoch, e),
          m.tables ++ dirOf.map { case (k, v) => (k, v) }))
    }

  /** The append's new-edge derivation as a FRAME (exposed so the plan-
    * smell audit can scan the construction-time plan the append
    * executes — [[graft.SparkEntry.auditPlans]]).
    */
  private[graft] def appendEdgesPlan(sp: SparkSession, path: String,
                                     m: MaintenanceIo.Manifest,
                                     newSets: DataFrame, newPost: DataFrame,
                                     delta: DataFrame, t6: Long,
                                     threshold: Double): DataFrame = {
    // merged rarity = standing df (possibly several append generations
    // of rows per shingle — additive) + this shard's delta. Ordering-
    // only (recall never depends on it): a join keyed on the shard's
    // own shingles, so the standing df table is touched only at those
    // keys.
    val snap = MaintenanceIo.paths(path, m)
    val mergedDf = MaintenanceIo.read(sp, snap, "dfreq")
      .join(newPost.select("h").distinct(), Seq("h"), "left_semi")
      .unionByName(delta)
      .groupBy("h").agg(sum("df").as("df"))

    // probe prefix: p = sz - ceil(t*sz) + 1 rarest shingles per shard
    // doc under (df, h) order — single-sided, so only the SHARD ranks
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val probe = newPost
      .join(mergedDf, Seq("h"))
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <=
        col("sz") - expr(s"(($t6 * sz + 999999) div 1000000)") + 1)
      .select(col("h"), col("doc_id").as("id_p"), col("sz").as("sz_p"))

    // dead docs can neither gain nor lend edges: drop their postings
    // from the probe target (tombstones are takedown-sized — broadcast
    // anti-join) so the appended edge stream stays dead-free
    val dead = Tables.parquet(sp, s"$path/${m.tables("tombstones")}")
    val target = MaintenanceIo.read(sp, snap, "postings")
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .unionByName(newPost)
      .select(col("h"), col("doc_id").as("id_t"), col("sz").as("sz_t"))

    val cands = probe.join(target, Seq("h"))
      .filter(col("id_p") =!= col("id_t") &&
        col("sz_t") * 1000000L >= lit(t6) * col("sz_p") &&
        col("sz_p") * 1000000L >= lit(t6) * col("sz_t"))
      .select(least(col("id_p"), col("id_t")).as("id_a"),
        greatest(col("id_p"), col("id_t")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val allSets = MaintenanceIo.read(sp, snap, "sets")
      .unionByName(newSets)
    cands
      .join(allSets.select(col("doc_id").as("id_a"), col("hs").as("__ha")),
        Seq("id_a"))
      .join(allSets.select(col("doc_id").as("id_b"), col("hs").as("__hb")),
        Seq("id_b"))
      .withColumn("jaccard", T.jaccard(col("__ha"), col("__hb")))
      .filter(col("jaccard") >= threshold)
      // candidate-set-sized dedupe: on a committed-batch REPLAY the
      // batch's own generations are already in the standing tables, so
      // the sets join fans each candidate out once per copy — identical
      // jaccard, duplicate row. Cheap here, wrong everywhere downstream.
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "jaccard")
  }

  /** The composed append plan for a hypothetical shard against an
    * EXISTING artifact, derivation identical to [[append]] minus the
    * checkpoint pins and writes — what Explain --audit scans.
    */
  private[graft] def auditAppendPlan(sp: SparkSession, path: String,
                                     shard: DataFrame, idCol: String,
                                     textCol: String): DataFrame = {
    val m = MaintenanceIo.requireManifest(path)
    val meta = Tables.parquet(sp, s"$path/${m.tables("meta")}").head()
    val t6 = meta.getAs[Long]("t6")
    val newSets = setsOf(shard, idCol, textCol, meta.getAs[Int]("w"))
    val newPost = newSets.select(col("doc_id"), col("sz"),
      explode(col("hs")).as("h"))
    appendEdgesPlan(sp, path, m, newSets, newPost,
      newPost.groupBy("h").agg(count(lit(1)).as("df")), t6,
      exactThreshold(meta, t6))
  }

  /** Tombstone DELETE — the takedown path completing the lifecycle
    * (build/append/read/delete/compact, the IVF/inverted-index
    * contract). Takedown-sized: the new tombstone set (old ∪ ids) lands
    * as a FRESH generation swapped in at publish — never an in-place
    * append into the directory live readers resolved (round-15 verdict
    * #7: an in-flight reader on the old manifest must never observe a
    * partial deletion; the grace generation keeps its directory alive).
    * Every reader anti-joins both edge endpoints against the live set,
    * and subsequent appends drop dead postings from their probe target.
    * Dead stays dead until [[compact]] physically drops the rows —
    * RE-APPENDING a tombstoned id before a compact throws (enforced in
    * [[append]]/[[appendBatch]]; this index has no per-row epochs — the
    * inverted index demonstrates the epoch rule where takedown-then-
    * recrawl must compose without compaction).
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val sp = ids.sparkSession
      val m = MaintenanceIo.requireManifest(path)
      val tGen = MaintenanceIo.nextGen(path, "tombstones")
      MaintenanceIo.write(Tables.parquet(sp, s"$path/${m.tables("tombstones")}")
        .unionByName(ids.select(col(idCol).as("doc_id")))
        .distinct()
        .coalesce(1), s"$path/$tGen")
      MaintenanceIo.publish(path, MaintenanceIo.Manifest(m.epoch + 1,
        m.tables + ("tombstones" -> tGen)))
    }

  /** Physically drop tombstoned rows: every table rewrites into a fresh
    * generation minus the dead docs (dfreq recomputed from the surviving
    * postings — subtracting dead contributions and recounting agree, and
    * recounting cannot drift), tombstones reset to empty, one manifest
    * swap publishes all of it atomically. Query cost returns to the
    * fresh-build baseline; the grace generation keeps in-flight readers
    * consistent (the IVF compact contract).
    */
  def compact(sp: SparkSession, path: String): Unit =
    MaintenanceIo.withMaintenanceLock(path) {
      val m = MaintenanceIo.requireManifest(path)
      val snap = MaintenanceIo.paths(path, m)
      val dead = Tables.parquet(sp, snap("tombstones")).localCheckpoint()
      val sGen = MaintenanceIo.nextGen(path, "sets")
      MaintenanceIo.write(MaintenanceIo.read(sp, snap, "sets")
        .join(broadcast(dead), Seq("doc_id"), "left_anti"), s"$path/$sGen")
      val pGen = MaintenanceIo.nextGen(path, "postings")
      val livePost = Tables.parquet(sp, s"$path/$sGen")
        .select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      MaintenanceIo.write(livePost, s"$path/$pGen")
      val dGen = MaintenanceIo.nextGen(path, "dfreq")
      MaintenanceIo.write(Tables.parquet(sp, s"$path/$pGen").groupBy("h")
        .agg(count(lit(1)).as("df")), s"$path/$dGen")
      val eGen = MaintenanceIo.nextGen(path, "edges")
      MaintenanceIo.write(
        liveEdges(MaintenanceIo.read(sp, snap, "edges"), dead), s"$path/$eGen")
      val tGen = MaintenanceIo.nextGen(path, "tombstones")
      MaintenanceIo.write(dead.limit(0).coalesce(1), s"$path/$tGen")
      // append/batch generations are folded into the fresh singles — their
      // manifest keys drop, so the dirs GC at publish
      MaintenanceIo.publish(path, MaintenanceIo.compacted(m,
          Map("sets" -> sGen, "postings" -> pGen, "dfreq" -> dGen,
            "edges" -> eGen, "tombstones" -> tGen))
        .copy(epoch = m.epoch + 1))
    }

  /** Current LIVE edge set (id_a, id_b, jaccard), id_a < id_b, one
    * manifest snapshot — the frame every downstream graph analytic
    * consumes. Tombstoned endpoints are filtered here (broadcast
    * anti-joins against the takedown-sized dead set); after a compact
    * the filter is a no-op on an empty table.
    */
  def edges(sp: SparkSession, path: String): DataFrame = {
    val snap = MaintenanceIo.snapshot(path)
    liveEdges(MaintenanceIo.read(sp, snap, "edges"),
      Tables.parquet(sp, snap("tombstones")))
  }

  private def liveEdges(edges: DataFrame, dead: DataFrame): DataFrame =
    edges
      .join(broadcast(dead.select(col("doc_id").as("id_a"))),
        Seq("id_a"), "left_anti")
      .join(broadcast(dead.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti")
      .select("id_a", "id_b", "jaccard")

  /** (doc_id, distinct shingle-hash set, size), empty sets dropped — the
    * one text-kernel pass everything else derives from (matching
    * [[Dedup.exactJaccardJoin]]'s sets frame exactly, which is what
    * makes build-then-append equal the full-corpus join).
    */
  private def setsOf(docs: DataFrame, idCol: String, textCol: String,
                     w: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        T.shingleHashSet(col(textCol), w).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))
      .filter(col("sz") > 0)
}
