package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.cachedBuild
import graft.functions.{TextFunctions, VectorFunctions}
import graft.functions.TextFunctions.WS
import graft.operators.{Dedup, Retrieval, Similarity}
import graft.queries.QueryShared._

/** Similarity and serving queries: exact and approximate top-k (brute
  * force, IVF, quantized, LSH), index maintenance, BM25 and the inverted
  * index, hybrid fusion, MMR, SERP dedup and the RAG pipeline.
  */
object SimilarityQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- North-star: brute-force cosine top-k ANN baseline -------------
    QueryDef("q26_sim_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rn")
    }, oracle = Some(exactTopKSql),
      // crossJoin(broadcast(<=1-row stats frame)) — BroadcastNestedLoopJoin
      // of a scalar, and the SinglePartition exchanges are those frames'
      // own 1-row aggregations
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- North-star: BM25 ranked retrieval (Robertson/Spärck Jones;
    // k1=1.2, b=0.75) for a fixed term set over the corpus — the search
    // primitive of a data-curation stack. Scale shape: tf is one bounded
    // groupBy on (doc, term-in-query) rows only (the isin filter prunes
    // the explode before any shuffle); the 1-row corpus stats and the
    // |terms|-row df frame broadcast, so the scoring join adds no
    // shuffle. Per-term scores round to 6 dp then sum as DECIMAL —
    // order-independent, so the final hash cannot depend on partial-agg
    // order. Terms single-sourced into the oracle from bm25Terms -------
    QueryDef("q69_bm25_search", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val withToks = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("t"))
      val dl = withToks.select(col("doc_id"),
        size(col("t")).cast("long").as("dl"))
      val tf = withToks.select(col("doc_id"), explode(col("t")).as("tok"))
        .filter(col("tok").isin(bm25Terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats)).join(broadcast(dfq), Seq("tok"))
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
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
      // q69/q130 oracle: BM25 re-derived in DuckDB with the SAME double-op
      // order and literals (2.2 = k1+1 and 0.25 = 1-b are literals on BOTH
      // sides — recomputing them could differ in the last ulp), per-term
      // rounding to 6 dp, and the same DECIMAL sum so addition order cannot
      // matter. Always the FULL-corpus from-scratch recompute: when the
      // engine side answers from the stored index (q130), a hash-green row
      // proves build + append lost no posting, df, or stats row.
      oracle = Some(bm25OracleSqlFor(bm25Terms)),
      // crossJoin(broadcast(<=1-row stats frame)) — BroadcastNestedLoopJoin
      // of a scalar, and the SinglePartition exchanges are those frames'
      // own 1-row aggregations
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: embedding SCALAR QUANTIZATION — per-dimension
    // min/max int8 quantization, the compression pass a 100 TB vector
    // corpus runs before ANN indexing (4× smaller than float32). Scale
    // shape: the range fit is ONE bounded agg (posexplode → dim-count
    // rows — the q70 LM shape) collapsed to a single broadcast row; the
    // quantize itself is per-row array math against that broadcast, so
    // the corpus-side plan adds NO shuffle. All-integer outputs (sum /
    // min / max of the int8 codes) keep the hash exact; the float→double
    // widening and the one floor(x*255+0.5) expression are IEEE-identical
    // in DuckDB --------------------------------------------------------
    QueryDef("q73_embed_quantize", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ranges = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      val rangeArr = ranges.agg(sort_array(
        collect_list(struct(col("pos"), col("lo"), col("hi")))).as("r"))
      emb.crossJoin(broadcast(rangeArr))
        .withColumn("qs",
          VectorFunctions.quantizeInt8(col("embedding"), col("r")))
        .select(col("vec_id"), size(col("qs")).cast("long").as("dim"),
          aggregate(col("qs"), lit(0L), (a, q) => a + q).as("q_sum"),
          array_min(col("qs")).as("q_min"),
          array_max(col("qs")).as("q_max"))
        .orderBy("vec_id")
    },
      // Same float→double widening, same single floor expression, all-integer
      // outputs; SUM casts back from DuckDB's HUGEINT to BIGINT.
      oracle = Some("""WITH comps AS (
           SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS pos
           FROM embeddings),
         r AS (SELECT pos, min(x) AS lo, max(x) AS hi
               FROM comps GROUP BY pos),
         q AS (
           SELECT vec_id,
             CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((CAST(x AS DOUBLE) - CAST(lo AS DOUBLE)) /
                         (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) * 255.0
                         + 0.5) AS BIGINT) - 128
             END AS qv
           FROM comps JOIN r USING (pos))
         SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS dim,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(MIN(qv) AS BIGINT) AS q_min,
           CAST(MAX(qv) AS BIGINT) AS q_max
         FROM q GROUP BY vec_id ORDER BY vec_id"""),
      // crossJoin(broadcast(<=1-row stats frame)) — BroadcastNestedLoopJoin
      // of a scalar, and the SinglePartition exchanges are those frames'
      // own 1-row aggregations
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- IVF ANN with exhaustive probing == exact top-k ----------------
    // nProbe = nLists scores every cell, so the IVF machinery (coarse
    // quantizer routing, cell equi-join, top-k reduction) must reproduce
    // the exact brute-force ranking — same oracle as q26.
    QueryDef("q52_ivf_exhaustive", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          nLists = 8, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // identical to q26: exhaustive probing must reproduce exact top-k
      oracle = Some(exactTopKSql),
      // crossJoin(broadcast(<=1-row stats frame)) — BroadcastNestedLoopJoin
      // of a scalar, and the SinglePartition exchanges are those frames'
      // own 1-row aggregations
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- PERSISTED IVF index: build once, query many (round-10 #2) -----
    // q52 proves the IVF machinery fit-per-call; this is the production
    // shape — centroids + cell-partitioned assignments written as parquet
    // ONCE per corpus (cachedBuild: later plan constructions and repeated
    // query batches skip the KMeans fit entirely and read the stored
    // inverted file, with the cell-partitioned layout pruning unprobed
    // cells at the scan). Exhaustive probing against the SAME exact
    // brute-force oracle as q26/q52 proves the round-trip through the
    // stored index loses nothing.
    QueryDef("q92_ivf_index_query", (s, dir) => {
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q92_ivf_index", params = "ivf:nlists=8") { p =>
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), p, nLists = 8)
      }
      Similarity.ivfTopKFromIndex(idx,
          Tables.embeddings(s, dir).filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // The persisted-index round trip must reproduce the same exact top-k.
      oracle = Some(exactTopKSql),
      // same coarse-probe shape as q52, against the STORED centroid
      // table (a broadcast cross join of queries x nLists-row frame)
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- INCREMENTAL IVF index append (nightly-ingest ANN) -------------
    // q92's build-once story plus the ingest path: index built on 90% of
    // the corpus, the %10=3 shard APPENDED against the stored centroids
    // (no refit, one narrow shard pass — the ANN sibling of q89's
    // incremental dedup), then an exhaustive-probe query over the
    // combined inverted file must still reproduce the exact brute-force
    // top-k — proving append placed every shard row where the index
    // routing expects it and lost/duplicated nothing.
    QueryDef("q93_ivf_index_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q93_ivf_append", params = "ivf:nlists=8:app=m10e3") { p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 3), p,
          nLists = 8)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 === 3), p)
      }
      Similarity.ivfTopKFromIndex(idx, emb.filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // Build-on-90% + append-10% must also reproduce it (append placed
      // every shard row correctly; exhaustive probe erases routing bias).
      oracle = Some(exactTopKSql),
      // the q92_ivf_index_query coarse-probe shape
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- IVF index DELETE: the takedown path (round-11 verdict #3) -----
    // Completes the lifecycle q92 (build) and q93 (append) started:
    // index built on 90% of the corpus, the %10=3 shard appended, then
    // every vec_id %7=2 row DELETED as a tombstone table — no rebuild,
    // no touch of the cell-partitioned inverted file, one O(|ids|)
    // write. The exhaustive-probe query epoch-shadows tombstoned rows
    // (broadcast join) and must reproduce the exact brute-force
    // top-k over the LIVE corpus (recompute-from-scratch oracle):
    // deleted rows never surface as neighbors, everything else ranks
    // exactly as a fresh build would. DedupSimilaritySpec proves
    // compaction leaves the result byte-identical while retiring the
    // tombstone join; bench/index_maint_r12.json records query cost
    // returning to the fresh-build baseline post-compact
    // (IndexMaintenanceNote, source at 9a451be).
    QueryDef("q122_ivf_index_delete", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q122_ivf_delete",
          params = "ivf:nlists=8:app=m10e3:del=m7e2") { p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 3), p,
          nLists = 8)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 === 3), p)
        Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2),
          p)
      }
      Similarity.ivfTopKFromIndex(idx, emb.filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // q122 = q93's lifecycle plus tombstoned deletes: the recompute
      // oracle scores only the LIVE corpus (c.vec_id % 7 <> 2) — a
      // deleted row surfacing as a neighbor, or a live row mis-ranked,
      // breaks the hash.
      oracle = Some(exactTopKOracle("c.vec_id % 7 <> 2")),
      // q122: the same coarse-probe cross as q92/q93 — queries x the
      // nLists-row stored centroid table; the tombstone subtraction is
      // a broadcast ANTI join, not a smell.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- RECLUSTER: the recall monitor's actuator -----------------------
    // Same live set as q122 (build 90 % at a DELIBERATELY coarse
    // nLists=4, append 10 %, tombstone m7e2) — then reclusterIvfIndex
    // retrains the quantizer to 8 cells FROM THE INDEX'S OWN stored live
    // vectors (corpus never re-read), retiring the tombstones and
    // swapping (centroids, assignments) in one manifest publish. The
    // oracle is the SAME exact brute-force top-k as q122: hash-green
    // proves the re-routing lost no vector and the exhaustive-probe
    // exactness property survives the quantizer swap.
    QueryDef("q159_ivf_recluster", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q159_ivf_recluster",
          params = "ivf:nlists=4to8:app=m10e3:del=m7e2:recluster") { p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 3), p,
          nLists = 4)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 === 3), p)
        Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2),
          p)
        Similarity.reclusterIvfIndex(s, p, nLists = 8)
      }
      Similarity.ivfTopKFromIndex(idx, emb.filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // recluster preserves the live set; only the routing changed
      oracle = Some(exactTopKOracle("c.vec_id % 7 <> 2")),
      // q159: q122's probe shape over the RECLUSTERED index — the same
      // queries x nLists-row stored-centroid broadcast cross.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- BATCH kNN SELF-JOIN over the stored index ----------------------
    // The many-to-many primitive a SemDeDup-style pipeline runs nightly:
    // EVERY vector's top-5 neighbors (self excluded) answered from the
    // stored IVF index at exhaustive probe — so the result is exactly
    // the quadratic brute-force kNN graph, but the plan is the batch
    // shape that scales: queries route via one broadcast centroid cross,
    // the corpus-as-queries side SHUFFLE-equi-joins the cell-partitioned
    // stored table on cell (ivfKnnJoinFromIndex — never a forced
    // broadcast of a corpus-sized frame; round-15 verdict #2), and the
    // per-query top-k is the bounded-heap partial aggregate — no corpus
    // x corpus anything, nothing corpus-sized through the driver.
    QueryDef("q160_knn_join", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q160_knn_idx", params = "ivf:nlists=8:knn") { p =>
        Similarity.buildIvfIndex(emb, p, nLists = 8)
      }
      // localCheckpoint before the determinism sort (r20, guide §2.4):
      // the scoring join and the bounded-heap top-k collapse into ONE
      // stage (the stream side is already hash-partitioned by q_id, so
      // no exchange separates them), and a global Sort's range-sampling
      // pass re-executes its whole child stage — measured as 2× the
      // scoring cost (BenchIvfParts: join 3.5-4.2 s, join+sort 7.3-8.4 s,
      // join+checkpoint+sort 3.8-4.6 s). The checkpoint materializes the
      // |corpus|×k result once; the sort then samples result-sized
      // blocks. (A repartition boundary instead is optimized away under
      // a global Sort — measured no-op.) The full scoring plan stays
      // audited via the q160_knn_join#knnjoin auditPlans entry.
      Similarity.ivfKnnJoinFromIndex(idx, emb, k = 5, nProbe = 8)
        .localCheckpoint()
        .orderBy("q_id", "rn")
    },
      // full-spine kNN graph: every vector, brute-force quadratic truth
      oracle = Some(exactTopKOracleFull("TRUE", "TRUE")),
      auditPasses = Seq(
        // q160's scoring join + bounded-heap top-k (the plan that runs
        // BEFORE the tail localCheckpoint — the returned query's plan shows
        // only the checkpoint scan + sort, the q138 precedent): the full
        // shuffle/broadcast shape of the batch kNN self-join stays under the
        // smell scan here.
        AuditPass("knnjoin", (s, dir) => {
          val emb = Tables.embeddings(s, dir)
          val idx = cachedBuild(dir, "embeddings.parquet",
              "target/q160_knn_idx", params = "ivf:nlists=8:knn") { p =>
            operators.Similarity.buildIvfIndex(emb, p, nLists = 8)
          }
          operators.Similarity.ivfKnnJoinFromIndex(idx, emb, k = 5, nProbe = 8)
        },
          // q160: the same broadcast centroid cross — here the query side
          // is the whole corpus, but the broadcast side is still the
          // nLists-row centroid table (tiny), so the cross is linear in
          // queries, never corpus x corpus. Since r20 the returned plan is
          // the checkpoint stub (the q138 class); the #knnjoin pass
          // carries the full scoring plan and the same centroid cross.
          accepted = Set("BroadcastNestedLoopJoin")))),

    // ---- IVF at the PRODUCTION probe setting (approximate regime) ------
    // Every other IVF row gates at exhaustive probe (exactness proof);
    // this is the configuration a deployment actually runs — nProbe=8 of
    // nLists=16, so the cell-pruned scan reads ~half the stored files —
    // WITH its safety net read from the PERSISTED RECALL CERTIFICATE
    // (round-17 verdict #1): recall@10 is measured ONCE at build time on
    // the deterministic id-hash query sample, published in the same
    // atomic manifest swap as the index, and the serving query only
    // ASSERTS the stored certificate — floor + epoch freshness + geometry
    // — via one 1-row parquet read. A quantizer/fixture drift that
    // degrades recall fails the BUILD loudly; a mutation without a fresh
    // cert fails the SERVE loudly (stale epoch); and the per-query
    // corpus-linear brute-force audit the old in-line recall probe paid
    // is gone from the serving path entirely (DeterminismLintSpec pins
    // that no serving query calls it). Output is the seeded approximate
    // top-k: deterministic, rows-only for the driver (no SQL oracle can
    // express the KMeans routing; the exactness side is already
    // oracle-gated by q52/q92/q122).
    QueryDef("q164_ivf_prod_probe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q164_ivf_prod",
          params = "ivf:nlists=16:prod:cert=k10p8") { p =>
        Similarity.buildIvfIndex(emb, p, nLists = 16,
          cert = Some(Similarity.RecallCertSpec(k = 10, nProbe = 8)))
      }
      val recall = Similarity.requireCertifiedRecall(s, idx, k = 10,
        nProbe = 8, floor = 0.70)
      System.err.println(
        f"[q164] certified recall@10 at nProbe=8/nLists=16: $recall%.4f")
      Similarity.ivfTopKFromIndex(idx, emb.filter(col("vec_id") < 50),
          k = 10, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // q164: the identical coarse-probe cross (50 query rows x the
      // 16-row stored centroid table) at production nProbe; the recall
      // floor reads the build-time certificate (one 1-row parquet),
      // so no audit subplan rides the serving query anymore.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- North-star: HYBRID retrieval with reciprocal-rank fusion ------
    // The RAG-stack front door: per-query BM25 (q69's kernel, widened to
    // a per-query term map) and dense cosine top-k (q26's kernel) each
    // truncate to their channel top-50 with the bounded-heap aggregate,
    // then fuse on RANKS — rrf = Σ 1/(60+rank) — so no cross-channel
    // score calibration exists to drift. Scale shape: two corpus scans
    // (one per channel), broadcast stats/df/term-map, and a fusion join
    // over |queries|×100 rows — constant in corpus size. Oracle
    // re-derives both channels and the fusion in SQL
    // (hybridRrfOracleSql; terms/constants single-sourced).
    QueryDef("q165_hybrid_rrf", (s, dir) => {
      val sparse = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id",
          "text", hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 5), k = hybridChannelK)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK, topK = hybridTopK)
        .withColumnRenamed("a_rank", "sp_rank")
        .withColumnRenamed("b_rank", "dn_rank")
        .orderBy("q_id", "rn")
    }, oracle = Some(hybridRrfOracleSql),
      // q165/q166: the sparse channel is the q69 shape (crossJoin of
      // the broadcast 1-row corpus stats) and the dense channel the
      // q26 shape (queries × corpus broadcast cross); the
      // SinglePartition exchanges are the stats frame's own global
      // aggregate. Everything downstream of the channels (fusion,
      // MMR greedy) works on |queries|-bounded frames.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- HYBRID retrieval SERVED FROM THE STORED ARTIFACTS -------------
    // q165's production path: the sparse channel answered from the
    // persisted inverted index (one probe of the union of query terms —
    // scan bytes track |terms|/buckets, not corpus size) and the dense
    // channel from the stored IVF index at exhaustive probe, fused by
    // the same RRF. Gated against the SAME from-scratch oracle as q165:
    // hash-green proves the two index artifacts (build + additive
    // df/stats, cell-partitioned vectors) reproduce the raw-corpus
    // fusion bit-for-bit — the serving stack can answer interactive
    // hybrid queries without ever re-reading the corpus.
    QueryDef("q167_hybrid_from_indexes", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val invIdx = cachedBuild(dir, "documents.parquet",
          "target/q167_inv_idx", params = "inv:hybrid") { p =>
        operators.InvertedIndex.buildIndex(docs, p)
      }
      val ivfIdx = cachedBuild(dir, "embeddings.parquet",
          "target/q167_ivf_idx", params = "ivf:nlists=8:hybrid") { p =>
        Similarity.buildIvfIndex(emb, p, nLists = 8)
      }
      val sparse = operators.InvertedIndex.bm25PerQueryFromIndex(s, invIdx,
          hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val dense = Similarity.ivfTopKFromIndex(ivfIdx,
          emb.filter(col("vec_id") < 5), k = hybridChannelK, nProbe = 8)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK, topK = hybridTopK)
        .withColumnRenamed("a_rank", "sp_rank")
        .withColumnRenamed("b_rank", "dn_rank")
        .orderBy("q_id", "rn")
    },
      // q167 answers from the stored inverted + IVF indexes; the oracle is
      // q165's from-scratch recompute VERBATIM — hash-green proves the
      // artifacts reproduce the raw-corpus fusion exactly
      oracle = Some(hybridRrfOracleSql),
      // q167: the stored-index hybrid — q130's shape on the sparse
      // side (crossJoin of the broadcast 1-row merged index stats, its
      // own SinglePartition global aggregate) plus q92's coarse-probe
      // centroid cross on the dense side.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- HYBRID serving at the PRODUCTION probe setting ----------------
    // q167 gates the stored-artifact fusion at exhaustive probe (the
    // exactness proof); THIS row is the configuration a 100 TB deployment
    // actually serves: the dense channel probes nProbe=8 of nLists=16
    // cells — the cell-pruned scan reads ~half the stored inverted file,
    // and at production list counts (nLists ≈ 2√N) the probed fraction
    // keeps shrinking — WITH the q164 safety net enforced per query
    // batch: dense-channel recall@50 vs in-index brute force is measured
    // in-line and the 0.70 application floor required, so quantizer /
    // fixture drift can never serve a fast-but-degraded fusion silently.
    // The sparse channel and the RRF fusion are q167's exactly. Output is
    // the seeded approximate fused page: deterministic, rows-only for the
    // driver (no SQL oracle can express the KMeans routing; fusion
    // exactness is oracle-gated by q165/q167, channel exactness by
    // q52/q92/q130), frozen by the GoldenSpec pin + the RetrievalSpec
    // end-to-end overlap floor against the exact fusion.
    QueryDef("q169_hybrid_prod_probe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val invIdx = cachedBuild(dir, "documents.parquet",
          "target/q169_inv_idx", params = "inv:hybridprod") { p =>
        operators.InvertedIndex.buildIndex(docs, p)
      }
      val ivfIdx = cachedBuild(dir, "embeddings.parquet",
          "target/q169_ivf_idx",
          params = s"ivf:nlists=16:hybridprod:cert=k${hybridChannelK}p8") { p =>
        Similarity.buildIvfIndex(emb, p, nLists = 16,
          cert = Some(Similarity.RecallCertSpec(k = hybridChannelK,
            nProbe = 8)))
      }
      val denseQ = emb.filter(col("vec_id") < 5)
      // q164's discipline: the dense channel's recall floor is enforced
      // from the build-time certificate (same atomic publish as the
      // index), not an in-line corpus-linear audit per serving query
      val recall = Similarity.requireCertifiedRecall(s, ivfIdx,
        k = hybridChannelK, nProbe = 8, floor = 0.70)
      System.err.println(f"[q169] certified dense recall@$hybridChannelK " +
        f"at nProbe=8/nLists=16: $recall%.4f")
      val sparse = operators.InvertedIndex.bm25PerQueryFromIndex(s, invIdx,
          hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val dense = Similarity.ivfTopKFromIndex(ivfIdx, denseQ,
          k = hybridChannelK, nProbe = 8)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK, topK = hybridTopK)
        .withColumnRenamed("a_rank", "sp_rank")
        .withColumnRenamed("b_rank", "dn_rank")
        .orderBy("q_id", "rn")
    },
      // q169: q167's two channel shapes exactly (stored-index BM25's
      // broadcast 1-row stats cross + its global aggregate, and the
      // queries x 16-row stored-centroid coarse-probe cross), here at
      // production nProbe; the dense-channel recall floor reads the
      // build-time certificate — no audit subplan in the serving query.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- SERP DEDUP against the persisted similarity graph -------------
    // The "already seen this document" filter a retrieval page runs
    // before display: fuse the wider top-50 candidate page (q165's
    // kernels), then drop every candidate the STORED near-dup graph
    // (q154's artifact, built once by the corpus pipeline) links to a
    // better-ranked candidate of the same query — no text re-scoring at
    // query time. The drop rule is one-pass against the original
    // ranking (deterministic, SQL-replayable; chains over-drop by
    // design — serpDedup scaladoc). Oracle re-derives the candidate
    // page AND the pairwise Jaccard edges from scratch.
    QueryDef("q168_serp_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val sparse = Retrieval.bm25TopK(docs, "doc_id", "text",
          hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 5), k = hybridChannelK)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      val cand = Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK,
          topK = hybridChannelK)
        .select("q_id", "doc_id", "rn")
      val g = cachedBuild(dir, "documents.parquet", "target/q168_simgraph",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:full") { p =>
        operators.SimGraphIndex.build(docs.select("doc_id", "text"),
          "doc_id", "text", p, simGraphThreshold, simGraphShingleWidth)
      }
      Retrieval.serpDedup(cand, operators.SimGraphIndex.edges(s, g))
        .orderBy("q_id", "rn")
    },
      // q168 oracle: the fused candidate page at the wide cut through
      // [[serpDedupCtes]]'s drop rule.
      oracle = Some(s"""WITH ${hybridFusedCtes(hybridChannelK)},
         cand AS (SELECT q_id, doc_id, rn FROM hybrid),
         ${serpDedupCtes("cand")}
       SELECT c.q_id, c.doc_id, c.rn,
         CASE WHEN b.dup_of IS NULL THEN 'kept' ELSE 'dropped' END
           AS action,
         CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of
       FROM cand c LEFT JOIN bd b
         ON b.q_id = c.q_id AND b.doc_id = c.doc_id
       ORDER BY c.q_id, c.rn"""),
      // q168: the same two channel shapes feeding the candidate page;
      // the dedup itself is broadcast candidate probes into the edge
      // table (smell-free).
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: DIVERSIFIED rerank (maximal marginal relevance) ---
    // The pass after q165: greedy λ·rel − (1−λ)·max-cos-to-picked over
    // the fused top-10, so near-duplicate hits don't crowd a context
    // window. Selection is sequential only WITHIN a query over the
    // bounded fused list — one flatMapGroups task per query, corpus
    // touched only by the candidate-vector lookup join. The oracle
    // replays the greedy recursion UNROLLED into mmrK chained SQL steps
    // (argmax via ROW_NUMBER per step over the pairwise 6-dp cosine
    // table — the oracle below), constants single-sourced.
    QueryDef("q166_mmr_rerank", (s, dir) => {
      val sparse = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id",
          "text", hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 5), k = hybridChannelK)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      val fused = Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK,
          topK = hybridTopK)
        .select(col("q_id"), col("doc_id"), col("rrf").as("rel"))
      val vectors = emb.select(col("vec_id").as("doc_id"),
        VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      Retrieval.mmrRerank(fused, vectors, lambdaRel = mmrLambdaRel,
          lambdaDiv = mmrLambdaDiv, k = mmrK)
        .orderBy("q_id", "rn")
    },
      // q166 oracle: [[mmrGreedyCtes]] over the fused top-10.
      oracle = Some(s"""WITH ${hybridFusedCtes()},
         cand AS (SELECT h.q_id, h.doc_id, h.rrf AS rel
                  FROM hybrid h JOIN n ON n.vec_id = h.doc_id),
         $mmrGreedyCtes
       $mmrUnionSql"""),
      // the q165_hybrid_rrf channel shapes
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: the FULL RAG SERVING PIPELINE in one plan ---------
    // What q165/q168/q166 gate separately, a serving stack runs as one
    // chain per request: fuse the WIDE candidate page (top-50), drop
    // already-seen near-dups against the persisted similarity graph,
    // re-rank the survivors by their original fused order and cut to the
    // serving page (top-10), then MMR-diversify the final context set.
    // Every stage works on |queries|-bounded frames after the two channel
    // scans — the chain adds NO corpus-sized work over q165 alone (the
    // dedup is one broadcast probe of the stored edge table; the page
    // window and the MMR greedy see ≤ 50 rows/query). The oracle replays
    // the whole composition from the SAME single-sourced CTE blocks the
    // standalone oracles use (the oracle below), so hash-green proves
    // the stages compose exactly — not just that each works alone.
    QueryDef("q171_rag_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val sparse = Retrieval.bm25TopK(docs, "doc_id", "text",
          hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 5), k = hybridChannelK)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      val cand = Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK,
          topK = hybridChannelK)
        .select("q_id", "doc_id", "rrf", "rn")
      val g = cachedBuild(dir, "documents.parquet", "target/q171_simgraph",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:full") { p =>
        operators.SimGraphIndex.build(docs.select("doc_id", "text"),
          "doc_id", "text", p, simGraphThreshold, simGraphShingleWidth)
      }
      val deduped = Retrieval.serpDedup(cand.select("q_id", "doc_id", "rn"),
        operators.SimGraphIndex.edges(s, g))
      // survivors re-ranked by the ORIGINAL fused rank, cut to the
      // serving page; the window input is the kept subset of the bounded
      // candidate page (≤ 50 rows/query) — never corpus-sized
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy("rn")
      val page = deduped.filter(col("action") === "kept")
        .join(cand.select("q_id", "doc_id", "rrf"), Seq("q_id", "doc_id"))
        .withColumn("prn", row_number().over(w))
        .filter(col("prn") <= hybridTopK)
        .select(col("q_id"), col("doc_id"), col("rrf").as("rel"))
      val vectors = emb.select(col("vec_id").as("doc_id"),
        VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      Retrieval.mmrRerank(page, vectors, lambdaRel = mmrLambdaRel,
          lambdaDiv = mmrLambdaDiv, k = mmrK)
        .orderBy("q_id", "rn")
    },
      // q171: the composed serving chain replayed from the SAME CTE blocks
      // as q165/q168/q166's standalone oracles.
      // q171 oracle: the WHOLE serving pipeline replayed in one statement —
      // the wide fused page (cut = channel k), [[serpDedupCtes]]'s drop
      // rule, the surviving page re-ranked by the ORIGINAL fused rank and
      // cut to the serving top-10, then [[mmrGreedyCtes]]'s greedy over the
      // survivors (vector inner join — q166's exact semantics). Every stage
      // is the same single-sourced CTE block its standalone oracle uses, so
      // a hash-green row proves the composition, not a re-derivation.
      //
      // The expensive stages are pinned `MATERIALIZED`: DuckDB re-expands
      // multi-referenced CTEs inside correlated subqueries, and the mmrK
      // unrolled steps would otherwise re-derive the whole fusion + dedup
      // chain PER STEP (measured: >10 min at sf0.01 vs 4 s materialized;
      // semantics unchanged — the hint only pins evaluation count).
      oracle = Some(Seq(
        "hybrid AS (", "cand0 AS (", "bd AS (", "page AS (", "cand AS (",
        "pc AS (").foldLeft(ragPipelineOracleRaw) { (s, n) =>
          s.replace(n, n.replace("AS (", "AS MATERIALIZED ("))
        }),
      // q171: the q165/q168 channel shapes (broadcast 1-row stats
      // crosses + their global aggregates) feeding the chained
      // dedup → page → MMR pipeline; everything after the channels
      // works on |queries|-bounded frames.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- The RAG PIPELINE at the PRODUCTION serving setting ------------
    // q171 gates the composition's EXACTNESS (brute-force dense channel,
    // corpus-side BM25, full DuckDB replay); THIS row is the deployed
    // shape a serving stack actually runs per request (round-17 verdict
    // #2): q169's stored-artifact channels — the persisted inverted index
    // probed on the query terms' buckets, the persisted IVF index at
    // production nProbe=8 of nLists=16 behind its build-time recall
    // certificate — fused wide (top-50), SERP-deduped against the stored
    // similarity graph, cut to the serving page, MMR-diversified. After
    // the two index probes every stage works on |queries|-bounded frames;
    // nothing re-reads the corpus, so the warm serving path is
    // corpus-size-flat (bench/ragprod_x{1,10,100}_r18.json, measured by
    // BenchRagProd, source at 9a451be). Output is the
    // seeded approximate final page: rows-only for the driver (KMeans
    // routing), frozen by the GoldenSpec pin + RetrievalSpec's
    // end-to-end overlap floor against the exact q171 composition.
    QueryDef("q175_rag_prod_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // the q169 artifacts VERBATIM (same outBase + params → cachedBuild
      // shares the build): serving and pipeline rows must answer from one
      // artifact set, like a real deployment
      val invIdx = cachedBuild(dir, "documents.parquet",
          "target/q169_inv_idx", params = "inv:hybridprod") { p =>
        operators.InvertedIndex.buildIndex(docs, p)
      }
      val ivfIdx = cachedBuild(dir, "embeddings.parquet",
          "target/q169_ivf_idx",
          params = s"ivf:nlists=16:hybridprod:cert=k${hybridChannelK}p8") { p =>
        Similarity.buildIvfIndex(emb, p, nLists = 16,
          cert = Some(Similarity.RecallCertSpec(k = hybridChannelK,
            nProbe = 8)))
      }
      val g = cachedBuild(dir, "documents.parquet", "target/q171_simgraph",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:full") { p =>
        operators.SimGraphIndex.build(docs.select("doc_id", "text"),
          "doc_id", "text", p, simGraphThreshold, simGraphShingleWidth)
      }
      // ONE snapshot descriptor over the whole artifact SET (round-18
      // verdict #1): the three epochs are pinned here, before any channel
      // resolves a manifest, and re-asserted after the last channel is
      // built — a mutation landing on any ONE artifact between the
      // sparse channel's resolution and the serp-dedup's graph read
      // fails loudly instead of serving a mixed-snapshot page
      val servingSnap = operators.Serving.resolveServingSnapshot(
        Seq(invIdx, ivfIdx, g))
      Similarity.requireCertifiedRecall(s, ivfIdx, k = hybridChannelK,
        nProbe = 8, floor = 0.70)
      val sparse = operators.InvertedIndex.bm25PerQueryFromIndex(s, invIdx,
          hybridQueries, k = hybridChannelK)
        .select("q_id", "doc_id", "rank")
      val dense = Similarity.ivfTopKFromIndex(ivfIdx,
          emb.filter(col("vec_id") < 5), k = hybridChannelK, nProbe = 8)
        .select(col("q_id").cast("long").as("q_id"),
          col("n_id").cast("long").as("doc_id"), col("rn").as("rank"))
      val cand = Retrieval.rrfFuse(sparse, dense, kRrf = hybridRrfK,
          topK = hybridChannelK)
        .select("q_id", "doc_id", "rrf", "rn")
      val deduped = Retrieval.serpDedup(cand.select("q_id", "doc_id", "rn"),
        operators.SimGraphIndex.edges(s, g))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy("rn")
      val page = deduped.filter(col("action") === "kept")
        .join(cand.select("q_id", "doc_id", "rrf"), Seq("q_id", "doc_id"))
        .withColumn("prn", row_number().over(w))
        .filter(col("prn") <= hybridTopK)
        .select(col("q_id"), col("doc_id"), col("rrf").as("rel"))
      val vectors = emb.select(col("vec_id").as("doc_id"),
        VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      val served = Retrieval.mmrRerank(page, vectors,
          lambdaRel = mmrLambdaRel, lambdaDiv = mmrLambdaDiv, k = mmrK)
        .orderBy("q_id", "rn")
      // every channel's manifest resolution is behind us — assert no
      // artifact epoch moved across the whole construction
      operators.Serving.requireServingSnapshot(servingSnap)
      served
    },
      // q175: the q169 channel shapes feeding the q171 chained
      // dedup → page → MMR pipeline, all from stored artifacts at
      // production nProbe; everything after the two index probes works
      // on |queries|-bounded frames.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- PROVABLY-EXACT quantized ANN (filter-and-refine) --------------
    // The int8-code filter pass with a rigorous reconstruction-error
    // bound: per-query ε = Σ|q_i|Δ_i/2 gives per-candidate cosine bounds
    // côs ± ε/(‖q‖‖x‖); prune below the k-th largest lower bound, re-rank
    // ONLY the survivor superset with exact doubles. At exhaustive probe
    // the result EQUALS brute force (same oracle as q26/q52/q92) while
    // the filter scan reads the 64-byte code column instead of 512-byte
    // vectors — the memory-bandwidth shape a 100 TB ANN filter needs.
    // DedupSimilaritySpec measures that the prune actually bites.
    QueryDef("q99_quantized_refine", (s, dir) => {
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q99_pq_index", params = "pq.v2:nlists=8") { p =>
        Similarity.buildQuantizedIndex(Tables.embeddings(s, dir), p,
          nLists = 8)
      }
      Similarity.quantizedRefineTopK(idx,
          Tables.embeddings(s, dir).filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // The quantized filter-and-refine round trip must reproduce the exact
      // top-k too: the bound argument makes the survivor set a superset of
      // the true top-k, and the refine pass is the brute-force scoring.
      oracle = Some(exactTopKSql),
      // q99: the same coarse-probe cross of queries x the nLists-row
      // stored centroid table as q52/q92.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- Quantized index APPEND: the nightly path of q99's artifact ----
    // Index built on 90% of the corpus (ranges and centroids fit THERE),
    // the %10=3 shard appended against the STORED quantizer — no refit,
    // no range refresh, codes stay valid because they are unclamped
    // longs (an appended value past the fitted [lo,hi] reconstructs
    // within Δ/2 like any other; the one unbounded case — a degenerate
    // dimension that moved — is flagged per row and routed around the
    // prune). At exhaustive probe the result must equal brute force over
    // the FULL corpus (same oracle as q93's plain-IVF append), proving
    // the append landed rows exactly where a rebuild would AND the
    // filter-refine bound survived quantizing rows the ranges never saw.
    QueryDef("q124_quantized_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q124_pq_append", params = "pq.v2:nlists=8:app=m10e3") { p =>
        Similarity.buildQuantizedIndex(emb.filter(col("vec_id") % 10 =!= 3),
          p, nLists = 8)
        Similarity.appendToQuantizedIndex(emb.filter(col("vec_id") % 10 === 3),
          p)
      }
      Similarity.quantizedRefineTopK(idx, emb.filter(col("vec_id") < 5),
          k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    }, oracle = Some(exactTopKSql),
      // q124: q99's probe shape exactly — the appended index is read
      // through the same quantizedRefineTopK coarse-probe cross.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- PERSISTED INVERTED INDEX: build + append + BM25 query ---------
    // q69 recomputes BM25 from raw text every call; this is the stored-
    // artifact shape — postings (tok, doc_id, tf, dl) bucket-partitioned
    // by hash(tok) so the term probe statically prunes the scan, df and
    // corpus stats as ADDITIVE side tables. Index built on doc_id%3!=2,
    // the %3==2 shard APPENDED (shard-only pass, standing corpus never
    // re-read — the q89/q93 nightly cadence), then a 4-term BM25 query
    // answered ENTIRELY from the artifact must hash-match the
    // full-corpus from-scratch recompute oracle: every posting, df
    // increment, and stats row survived the build+append round trip.
    QueryDef("q130_inverted_index_bm25", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q130_inv_index", params = "inv:app=m3e2") { p =>
        operators.InvertedIndex.buildIndex(
          docs.filter(col("doc_id") % 3 =!= 2), p)
        operators.InvertedIndex.appendToIndex(
          docs.filter(col("doc_id") % 3 === 2), p)
      }
      operators.InvertedIndex.bm25FromIndex(s, idx, indexTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
      // q130: identical from-scratch BM25 recompute as q69's oracle, on the
      // q130 term set — the engine side must reproduce it from the stored
      // postings/df/stats artifact after a build + append.
      oracle = Some(bm25OracleSqlFor(indexTerms)),
      // q130/q131: the q69 shape from the STORED index —
      // crossJoin(broadcast(1-row merged stats)), and the
      // SinglePartition exchanges are that frame's own global
      // aggregate plus the top-20 TakeOrdered merge. The postings
      // side reads only the probed buckets (PartitionFilters pinned
      // by InvertedIndexSpec) and never crosses a SinglePartition.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- INVERTED INDEX micro-batch generations (stream maintenance) ---
    // q130's artifact maintained the way the ingest STREAM maintains it:
    // batches land as their own generation triples (exactly-once under
    // replay — the epoch-pinned overwrite), readers union main + batch
    // generations through one snapshot. The build sequence here replays
    // batch 1 deliberately: foreachBatch redelivers side effects
    // at-least-once, and the hash-green oracle (a from-scratch
    // full-corpus recompute) proves the replay changed NOTHING — tf, df,
    // and stats all exactly-once. StreamingEtlSpec drives the same path
    // from a real checkpointed stream with a mid-stream kill.
    QueryDef("q134_inverted_index_stream_gens", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q134_inv_gens", params = "inv:b=m3:replay=1") { p =>
        operators.InvertedIndex.buildIndex(
          docs.filter(col("doc_id") % 3 === 0), p)
        operators.InvertedIndex.appendBatchToIndex(
          docs.filter(col("doc_id") % 3 === 1), p, batchId = 0L)
        operators.InvertedIndex.appendBatchToIndex(
          docs.filter(col("doc_id") % 3 === 2), p, batchId = 1L)
        // deliberate replay of batch 1 — must be byte-idempotent
        operators.InvertedIndex.appendBatchToIndex(
          docs.filter(col("doc_id") % 3 === 2), p, batchId = 1L)
      }
      operators.InvertedIndex.bm25FromIndex(s, idx, indexTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
      // q134: identical full-corpus recompute as q130's oracle — the
      // engine side must reproduce it from main + batch generations,
      // WITH one batch deliberately replayed (exactly-once proof).
      oracle = Some(bm25OracleSqlFor(indexTerms)),
      // the q130_inverted_index_bm25 shape
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- INVERTED INDEX DELETE: the takedown path -----------------------
    // Completes q130's lifecycle: build on 2/3, append the last third,
    // then tombstone every doc_id%7==5 document — no rebuild; the
    // deleted docs' df and (n_docs, tot_dl) contributions land as
    // NEGATIVE delta rows in the additive side tables, so idf and avgdl
    // reflect the shrunken live corpus immediately. The query
    // epoch-shadows tombstoned postings (broadcast sliver) and must
    // hash-match the from-scratch recompute over ONLY the live docs —
    // deleted docs never surface, every surviving score uses live-corpus
    // statistics. InvertedIndexSpec proves compaction leaves the result
    // byte-identical while retiring the tombstone join and the delta
    // rows, and that re-append-after-delete resurrects a doc without
    // compacting (the epoch rule).
    QueryDef("q131_inverted_index_delete", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q131_inv_delete", params = "inv:app=m3e2:del=m7e5") { p =>
        operators.InvertedIndex.buildIndex(
          docs.filter(col("doc_id") % 3 =!= 2), p)
        operators.InvertedIndex.appendToIndex(
          docs.filter(col("doc_id") % 3 === 2), p)
        operators.InvertedIndex.deleteFromIndex(
          docs.filter(col("doc_id") % 7 === 5).select("doc_id"), p)
      }
      operators.InvertedIndex.bm25FromIndex(s, idx, indexTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
      // q131: the recompute simply never sees the tombstoned docs — df,
      // n_docs, and avgdl all derive from the live corpus, which is
      // exactly what the engine's negative-delta side tables must yield.
      oracle = Some(bm25OracleSqlFor(indexTerms, docsWhere = "doc_id % 7 <> 5")),
      // the q130_inverted_index_bm25 shape
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- LSH ANN, recall-sized to reproduce the exact top-k ------------
    // OR-amplified hyperplane LSH with `tables` sized by lshTablesFor so a
    // neighbor at the fixture's 5th-neighbor similarity FLOOR (measured:
    // 0.255 at sf0.01, 0.279 at sf0.001, 0.329 at sf0.1 — sized at 0.25)
    // is missed with p ≤ 1e-6; the oracle is the exact brute-force top-k
    // SQL (same as q26), so a hash-green row proves the bucketing lost no
    // neighbor. At production ANN similarity floors (≥0.7) the same
    // operator needs an order of magnitude fewer tables.
    QueryDef("q57_lsh_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          dim = 64, planes = 4, tables = Dedup.lshTablesFor(0.25, planes = 4))
        .orderBy("q_id", "rn")
    }, oracle = Some(exactTopKSql)),

    // ---- STREAM-maintained DENSE channel, oracle gated -----------------
    // q92's persisted IVF index maintained by the REAL ingest stream
    // (r18 verdict #5): the corpus third of the embeddings seeds the
    // index, the other two thirds arrive as staged shards through
    // selfDedupIngest(denseIndexPath=...) — each micro-batch's
    // admissions land as their own overwrite-idempotent generation
    // (appendBatchToIvfIndex: exactly-once under foreachBatch replay)
    // with the recall certificate re-measured in the SAME per-batch
    // manifest swap. Admission is pinned deterministic exactly like
    // q163 (unique texts, threshold>1 disables the probabilistic LSH
    // flag path), so the maintained index must hold the FULL corpus —
    // and the exhaustive-probe query must hash-match the same exact
    // brute-force oracle as q52/q92: the streamed dense artifact cannot
    // silently drift. The serve asserts the cert the streaming side
    // published (floor + epoch freshness), the q164/q173 discipline at
    // stream cadence.
    QueryDef("q179_ivf_stream_ingest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val docs = emb.select(col("vec_id").as("doc_id"),
        concat(lit("doc "), col("vec_id")).as("text"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
          .as("embedding"))
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val cert = Similarity.RecallCertSpec(k = 5, nProbe = 8)
      val root = cachedBuild(dir, "embeddings.parquet",
          "target/q179_ivf_stream",
          params = "ivfstream.v1:nlists=8:cert=k5p8:stream=m3b2") { p =>
        import java.nio.file.{Files, Paths}
        operators.Dedup.buildExactBloom(corpus, "text", s"$p/bloom")
        operators.Dedup.writeLshBandIndex(corpus, "doc_id", "text",
          s"$p/lsh")
        Similarity.buildIvfIndex(
          corpus.select(col("doc_id").as("vec_id"), col("embedding")),
          s"$p/ivf", nLists = 8, cert = Some(cert))
        val stageDir = s"$p/stage"
        Files.createDirectories(Paths.get(stageDir))
        def stage(n: Int, shard: org.apache.spark.sql.DataFrame): Unit = {
          val tmp = Files.createTempDirectory("q179_stage")
          shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(f => f.toString.endsWith(".parquet"))
            .findFirst().get()
          Files.move(part, Paths.get(stageDir, f"s$n%02d.parquet"))
        }
        def drain(): Unit = {
          val q = graft.streaming.IngestStream.selfDedupIngest(
            s.readStream
              .schema("doc_id LONG, text STRING, embedding ARRAY<DOUBLE>")
              .option("maxFilesPerTrigger", "1").parquet(stageDir),
            corpus, "doc_id", "text", s"$p/bloom", s"$p/lsh",
            threshold = 1.5, s"$p/out", s"$p/ckpt",
            denseIndexPath = Some(s"$p/ivf"), denseCert = Some(cert))
          q.processAllAvailable(); q.stop()
        }
        stage(0, docs.filter(col("doc_id") % 3 === 1))
        drain() // writer dies between shards — next drain resumes the ckpt
        stage(1, docs.filter(col("doc_id") % 3 === 2))
        drain()
      }
      // the streaming side's own per-batch certificate gates the serve
      Similarity.requireCertifiedRecall(s, s"$root/ivf",
        k = 5, nProbe = 8, floor = 0.99)
      Similarity.ivfTopKFromIndex(s"$root/ivf",
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 8)
        .orderBy("q_id", "rn")
    },
      // stream-maintained dense index at exhaustive probe == brute force
      // over the full corpus (every staged row deterministically admitted)
      oracle = Some(exactTopKSql),
      // q179: q92's serve shape verbatim (the STREAM-maintained index
      // — maintenance happened at build time; the query-side plan is
      // the same queries x nLists-row broadcast centroid cross)
      accepted = Set("BroadcastNestedLoopJoin")),
  )

  /** Exact brute-force top-k oracle, with a corpus-side predicate so the
    * index-maintenance queries (q122's delete) can gate against a
    * recompute-from-scratch over the LIVE corpus only.
    */
  private def exactTopKOracle(corpusWhere: String): String =
    exactTopKOracleFull("q.vec_id < 5", corpusWhere)

  /** The brute-force oracle with BOTH sides parameterized — q160's kNN
    * self-join uses the full query spine.
    */
  private def exactTopKOracleFull(queryWhere: String,
                                  corpusWhere: String): String =
    s"""WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM e),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])),
               (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS sim
           FROM n q, n c
           WHERE ($queryWhere) AND c.vec_id != q.vec_id AND ($corpusWhere))
         SELECT q_id, n_id, sim, rn FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, n_id) AS rn
           FROM scored)
         WHERE rn <= 5 ORDER BY q_id, rn"""

  /** Exact brute-force cosine top-5 for queries vec_id < 5 — the shared
    * oracle for every ANN variant (q26 brute-force, q52 IVF-exhaustive,
    * q57 recall-sized LSH): approximate paths must reproduce it exactly.
    */
  private val exactTopKSql: String = exactTopKOracle("TRUE")

  /** q69 query terms — fixture-vocabulary words with distinct document
    * frequencies so the idf term differentiates. Single source for the
    * engine's isin filter AND the oracle's IN list.
    */
  private val bm25Terms: Seq[String] = Seq("spark", "stream", "merge")

  /** q130 query terms — a DIFFERENT fixture-vocabulary set from q69's, so
    * the stored-index path is exercised on terms whose df/tf profile the
    * q69 gate never covered. Single source for the engine's index probe
    * AND the oracle's IN list.
    */
  private val indexTerms: Seq[String] = Seq("join", "scan", "vector", "window")

  /** q165/q166's hybrid queries: five (text-terms, query-embedding)
    * pairs — the dense twin of query i is the embedding of vec_id = i
    * (the fixture has no text↔embedding correspondence, so the pairing is
    * a deterministic harness; RRF semantics don't depend on it). Terms
    * are fixture-vocabulary words (q69/q130's sets) — single source for
    * the engine's term map AND the oracle's VALUES list.
    */
  private val hybridQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("stream", "scan"),
    2L -> Seq("merge", "vector"),
    3L -> Seq("spark", "window"),
    4L -> Seq("stream", "merge"))

  /** q165/q166 knobs, single-sourced into the oracles: per-channel top-k,
    * the standard RRF constant, the fused cut, and the MMR relevance /
    * diversity weights (λ and 1−λ as independent literals — recomputing
    * 1−λ could differ in the last ulp) + pick count.
    */
  private val hybridChannelK = 50
  private val hybridRrfK = 60
  private val hybridTopK = 10
  private val mmrLambdaRel = 0.7
  private val mmrLambdaDiv = 0.3
  private val mmrK = 5

  /** The shared q165/q166 oracle CTE chain: both channels re-derived from
    * scratch — BM25 with the q69 CTE chain widened per query (identical
    * literals/op order, per-term 6 dp rounding, DECIMAL sum), dense
    * cosine with the q26 chain — each ranked by
    * ROW_NUMBER(score DESC, doc_id) (== the engine's heap contract),
    * truncated to the channel k, full-outer fused with
    * rrf = 1/(60+rank) summed sparse-then-dense and rounded AFTER the
    * sum, exactly the engine's op order; `hybrid` is the fused top-`cut`
    * (q165/q166 use the default serving cut; q168 dedups the wider
    * candidate page).
    */
  private def hybridFusedCtes(cut: Int = hybridTopK): String = {
    val qtRows = hybridQueries.flatMap { case (q, ts) =>
      ts.map(t => s"(CAST($q AS BIGINT), '${t.replace("'", "''")}')")
    }.mkString(", ")
    val allTerms = hybridQueries.flatMap(_._2).distinct
      .map(t => s"'${t.replace("'", "''")}'").mkString(",")
    raw"""qt(q_id, tok) AS (SELECT * FROM (VALUES $qtRows)),
         toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
         tf AS (
           SELECT doc_id, tok, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
           WHERE tok IN ($allTerms) GROUP BY doc_id, tok),
         stats AS (
           SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl
           FROM dl),
         dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         sc AS (
           SELECT t.q_id, f.doc_id,
             CAST(SUM(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1) *
                 (f.tf * 2.2) /
                 (f.tf + 1.2 * (0.25 + 0.75 * l.dl /
                   (CAST(s.tot_dl AS DOUBLE) / s.n_docs))), 6)
               AS DECIMAL(18,6))) AS DOUBLE) AS score
           FROM tf f
           JOIN dl l USING (doc_id)
           CROSS JOIN stats s
           JOIN dfq d ON f.tok = d.tok
           JOIN qt t ON f.tok = t.tok
           GROUP BY t.q_id, f.doc_id),
         sp AS (
           SELECT q_id, doc_id, rnk FROM (
             SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY score DESC, doc_id) AS rnk
             FROM sc)
           WHERE rnk <= $hybridChannelK),
         e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM e),
         dscored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])),
               (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS sim
           FROM n q, n c
           WHERE q.vec_id < 5 AND c.vec_id != q.vec_id),
         dn AS (
           SELECT q_id, doc_id, rnk FROM (
             SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY sim DESC, doc_id) AS rnk
             FROM dscored)
           WHERE rnk <= $hybridChannelK),
         fused AS (
           SELECT COALESCE(sp.q_id, dn.q_id) AS q_id,
             COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
             round(
               COALESCE(CAST(1 AS DOUBLE) / ($hybridRrfK + sp.rnk), 0) +
               COALESCE(CAST(1 AS DOUBLE) / ($hybridRrfK + dn.rnk), 0),
               6) AS rrf,
             CAST(COALESCE(sp.rnk, -1) AS BIGINT) AS sp_rank,
             CAST(COALESCE(dn.rnk, -1) AS BIGINT) AS dn_rank
           FROM sp FULL OUTER JOIN dn
             ON sp.q_id = dn.q_id AND sp.doc_id = dn.doc_id),
         hybrid AS (
           SELECT q_id, doc_id, rrf, sp_rank, dn_rank, rn FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY rrf DESC, doc_id) AS rn
             FROM fused)
           WHERE rn <= $cut)"""
  }

  private def hybridRrfOracleSql: String =
    s"""WITH ${hybridFusedCtes()}
       SELECT q_id, doc_id, rrf, sp_rank, dn_rank, rn FROM hybrid
       ORDER BY q_id, rn"""

  /** The greedy MMR recursion UNROLLED into mmrK chained CTE steps over a
    * `cand(q_id, doc_id, rel)` CTE already in scope — step i's argmax is
    * a ROW_NUMBER over `λ·rel − (1−λ)·maxsim` with maxsim the true
    * (signed) max of the pairwise 6-dp cosines against the accumulated
    * selection, 0 for the empty first step; exactly the engine's op order
    * and tiebreak. Unrolling (vs a recursive CTE) keeps every step a
    * plain window query — no dialect-specific recursion semantics to
    * trust. SHARED by q166 (cand = the fused top-10) and q171 (cand = the
    * dedup-surviving page), so the two replays cannot drift; callers
    * append [[mmrUnionSql]] as the final select.
    *
    * `cand` must already be restricted to docs WITH embedding rows
    * (JOIN `n`) because the ENGINE's candidate-vector lookup is an INNER
    * join ([[graft.operators.Retrieval.mmrRerank]]): a candidate with no
    * embedding row is not rerankable and is dropped on both sides.
    * Scoring a vectorless candidate with maxsim=0 instead would let it
    * win picks the engine never makes (divergent at any SF where
    * |embeddings| < |documents|, e.g. sf0.1's 2000 vs 5000).
    */
  private def mmrGreedyCtes: String = {
    val steps = (1 to mmrK).map { i =>
      val notPicked =
        if (i == 1) "TRUE"
        else s"NOT EXISTS (SELECT 1 FROM sel${i - 1} s " +
          "WHERE s.q_id = c.q_id AND s.doc_id = c.doc_id)"
      val maxsim =
        if (i == 1) "CAST(0 AS DOUBLE)"
        else s"COALESCE((SELECT MAX(pc.sim) FROM pc, sel${i - 1} s " +
          "WHERE pc.q_id = c.q_id AND s.q_id = c.q_id " +
          "AND pc.id_a = c.doc_id AND pc.id_b = s.doc_id), 0)"
      val sel =
        if (i == 1) "SELECT q_id, doc_id FROM p1"
        else s"SELECT q_id, doc_id FROM sel${i - 1} " +
          s"UNION ALL SELECT q_id, doc_id FROM p$i"
      s"""p$i AS (
           SELECT q_id, doc_id, mmr, CAST($i AS BIGINT) AS rn FROM (
             SELECT x.*, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY mmr DESC, doc_id) AS r FROM (
               SELECT c.q_id, c.doc_id,
                 $mmrLambdaRel * c.rel - $mmrLambdaDiv * $maxsim AS mmr
               FROM cand c WHERE $notPicked) x)
           WHERE r = 1),
         sel$i AS ($sel)"""
    }.mkString(",\n         ")
    s"""cv AS (SELECT c.q_id, c.doc_id, n.v, n.nrm
                FROM cand c JOIN n ON n.vec_id = c.doc_id),
         pc AS (
           SELECT a.q_id, a.doc_id AS id_a, b.doc_id AS id_b,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS sim
           FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.doc_id != b.doc_id),
         $steps"""
  }

  /** The final select over [[mmrGreedyCtes]]'s step CTEs. */
  private def mmrUnionSql: String = {
    val union = (1 to mmrK).map(i => s"SELECT * FROM p$i")
      .mkString(" UNION ALL ")
    s"""SELECT q_id, doc_id, round(mmr, 6) AS mmr, rn
       FROM ($union) ORDER BY q_id, rn"""
  }

  /** The SERP-dedup drop-rule CTE block over a `candName(q_id, doc_id,
    * rn)` CTE already in scope: pairwise trigram-Jaccard edges re-derived
    * among the candidate docs only (edge membership between two docs is
    * independent of the rest of the corpus, so the restriction is exact —
    * and the quadratic stays |candidates|²), then the one-pass rule —
    * dropped iff some better-ranked candidate of the same query is a
    * graph neighbor, dup_of = (rank, doc_id)-lexicographic best such
    * neighbor (`bd`). SHARED by q168 and q171 so the two replays cannot
    * drift. Needs `toks` (from [[hybridFusedCtes]]) in scope.
    */
  private def serpDedupCtes(candName: String): String =
    s"""sh2 AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks
           WHERE doc_id IN (SELECT DISTINCT doc_id FROM $candName)),
         nz2 AS (SELECT doc_id, s FROM sh2 WHERE len(s) > 0),
         cpr AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM nz2 a, nz2 b WHERE a.doc_id < b.doc_id
             AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s)))
                 >= $simGraphThreshold),
         dup AS (
           SELECT c.q_id, c.doc_id, e.doc_id AS nb, e.rn AS nb_rn
           FROM $candName c
           JOIN $candName e ON e.q_id = c.q_id AND e.rn < c.rn
           JOIN cpr p ON p.id_a = least(c.doc_id, e.doc_id)
                     AND p.id_b = greatest(c.doc_id, e.doc_id)),
         bd AS (
           SELECT q_id, doc_id, nb AS dup_of FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id, doc_id
                      ORDER BY nb_rn, nb) AS r
             FROM dup)
           WHERE r = 1)"""

  private def ragPipelineOracleRaw: String =
    s"""WITH ${hybridFusedCtes(hybridChannelK)},
         cand0 AS (SELECT q_id, doc_id, rrf, rn FROM hybrid),
         ${serpDedupCtes("cand0")},
         keptp AS (
           SELECT c.q_id, c.doc_id, c.rrf, c.rn
           FROM cand0 c LEFT JOIN bd b
             ON b.q_id = c.q_id AND b.doc_id = c.doc_id
           WHERE b.dup_of IS NULL),
         page AS (
           SELECT q_id, doc_id, rrf FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY rn) AS prn
             FROM keptp)
           WHERE prn <= $hybridTopK),
         cand AS (SELECT p.q_id, p.doc_id, p.rrf AS rel
                  FROM page p JOIN n ON n.vec_id = p.doc_id),
         $mmrGreedyCtes
       $mmrUnionSql"""

  /** `docsWhere` restricts the oracle's corpus to the LIVE documents
    * (q131: everything the engine side tombstoned is simply absent from
    * the recompute — df, avgdl, and n_docs all shrink accordingly).
    */
  private def bm25OracleSqlFor(termSeq: Seq[String],
                               docsWhere: String = "TRUE"): String = {
    val terms = termSeq.map(t => s"'${t.replace("'", "''")}'")
      .mkString(",")
    raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents WHERE $docsWhere),
         dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
         tf AS (
           SELECT doc_id, tok, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
           WHERE tok IN ($terms) GROUP BY doc_id, tok),
         stats AS (
           SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl
           FROM dl),
         dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         scored AS (
           SELECT f.doc_id,
             round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1) *
               (f.tf * 2.2) /
               (f.tf + 1.2 * (0.25 + 0.75 * l.dl /
                 (CAST(s.tot_dl AS DOUBLE) / s.n_docs))), 6) AS ts
           FROM tf f
           JOIN dl l USING (doc_id)
           CROSS JOIN stats s
           JOIN dfq d ON f.tok = d.tok)
         SELECT doc_id,
           CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score,
           COUNT(*) AS n_terms
         FROM scored GROUP BY doc_id
         ORDER BY score DESC, doc_id LIMIT 20"""
  }
}
