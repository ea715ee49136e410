package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan for selected
  * queries so scan pushdown (PushedFilters/ReadSchema), broadcast joins,
  * and WholeStageCodegen spans can be audited per round.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  *        runMain graft.Explain --audit [sfDir]
  *
  * `--audit` runs the scale-smell scan over EVERY query instead of
  * printing plans: flags Cartesian products, non-broadcast nested loops,
  * single-partition exchanges, and parquet scans with no pushed filters
  * AND no projection pruning — then prints one verdict line per offender
  * and a summary. Known-benign shapes (global aggregates' final merge,
  * bounded scalar windows, MLlib-internal joins) still print, with the
  * query named, so each flag can be adjudicated by eye.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val audit = args.headOption.contains("--audit")
    val rest = if (audit) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, audit, sfDir, names)
    spark.stop()
  }

  /** Prints the plans (or, with `audit`, the smell scan) of the named
    * queries. A name not in `SparkEntry.queries` prints
    * `unknown query <name>` and is skipped; the rest still run.
    */
  def run(spark: SparkSession, audit: Boolean, sfDir: String,
          names: Seq[String]): Unit = {
    val known = names.flatMap { n =>
      val build = SparkEntry.queries.get(n)
      if (build.isEmpty) println(s"unknown query $n")
      build.map(n -> _)
    }
    val knownNames = known.map(_._1).toSet
    if (audit) {
      var flagged = 0
      var unexplained = 0
      // Adjudicated smells — each shape reviewed and documented as benign:
      //  - q03/q17: global-aggregate final merge (one row through one task);
      //  - q26/q52/q69/q70/q73: crossJoin(broadcast(<=1-row stats
      //    frame)) — BroadcastNestedLoopJoin of a scalar, and the
      //    SinglePartition exchanges are those frames' own 1-row
      //    aggregations (q82 used to be in this set; round 8 moved its
      //    1-row MG summary to a driver collect, so its RETURNED plan is
      //    smell-free and the adjudication is retired to keep the audit
      //    able to catch a q82 regression);
      //  - q32: Spark ML recommendForAllItems' internal blocked cross —
      //    MLlib's own plan, not ours;
      //  - q74: the |buckets|-row offset frame's prefix-sum window
      //    (documented in Relational.shuffleIndex).
      val adjudicated: Map[String, Set[String]] = Map(
        "q03_status_distribution" -> Set("SinglePartition-exchange"),
        "q17_global_stats" -> Set("SinglePartition-exchange"),
        "q26_sim_topk" -> Set("BroadcastNestedLoopJoin"),
        "q32_ml_als_recs" -> Set("CartesianProduct"),
        "q52_ivf_exhaustive" -> Set("BroadcastNestedLoopJoin"),
        // same coarse-probe shape as q52, against the STORED centroid
        // table (a broadcast cross join of queries x nLists-row frame)
        "q92_ivf_index_query" -> Set("BroadcastNestedLoopJoin"),
        "q93_ivf_index_append" -> Set("BroadcastNestedLoopJoin"),
        // q179: q92's serve shape verbatim (the STREAM-maintained index
        // — maintenance happened at build time; the query-side plan is
        // the same queries x nLists-row broadcast centroid cross)
        "q179_ivf_stream_ingest" -> Set("BroadcastNestedLoopJoin"),
        // q122: the same coarse-probe cross as q92/q93 — queries x the
        // nLists-row stored centroid table; the tombstone subtraction is
        // a broadcast ANTI join, not a smell.
        "q122_ivf_index_delete" -> Set("BroadcastNestedLoopJoin"),
        // q159: q122's probe shape over the RECLUSTERED index — the same
        // queries x nLists-row stored-centroid broadcast cross.
        "q159_ivf_recluster" -> Set("BroadcastNestedLoopJoin"),
        // q164: the identical coarse-probe cross (50 query rows x the
        // 16-row stored centroid table) at production nProbe; the recall
        // floor reads the build-time certificate (one 1-row parquet),
        // so no audit subplan rides the serving query anymore.
        "q164_ivf_prod_probe" -> Set("BroadcastNestedLoopJoin"),
        // q160: the same broadcast centroid cross — here the query side
        // is the whole corpus, but the broadcast side is still the
        // nLists-row centroid table (tiny), so the cross is linear in
        // queries, never corpus x corpus. Since r20 the returned plan is
        // the checkpoint stub (the q138 class); the #knnjoin pass
        // carries the full scoring plan and the same centroid cross.
        "q160_knn_join#knnjoin" -> Set("BroadcastNestedLoopJoin"),
        // q176's quantized batch kernel (registered r20): the identical
        // nLists-row centroid cross routes the corpus-as-queries side.
        "q176_semdedup_quantized#knnjoin" ->
          Set("BroadcastNestedLoopJoin"),
        // q99: the same coarse-probe cross of queries x the nLists-row
        // stored centroid table as q52/q92.
        "q99_quantized_refine" -> Set("BroadcastNestedLoopJoin"),
        // q124: q99's probe shape exactly — the appended index is read
        // through the same quantizedRefineTopK coarse-probe cross.
        "q124_quantized_append" -> Set("BroadcastNestedLoopJoin"),
        "q69_bm25_search" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q165/q166: the sparse channel is the q69 shape (crossJoin of
        // the broadcast 1-row corpus stats) and the dense channel the
        // q26 shape (queries × corpus broadcast cross); the
        // SinglePartition exchanges are the stats frame's own global
        // aggregate. Everything downstream of the channels (fusion,
        // MMR greedy) works on |queries|-bounded frames.
        "q165_hybrid_rrf" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q166_mmr_rerank" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q167: the stored-index hybrid — q130's shape on the sparse
        // side (crossJoin of the broadcast 1-row merged index stats, its
        // own SinglePartition global aggregate) plus q92's coarse-probe
        // centroid cross on the dense side.
        "q167_hybrid_from_indexes" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q169: q167's two channel shapes exactly (stored-index BM25's
        // broadcast 1-row stats cross + its global aggregate, and the
        // queries x 16-row stored-centroid coarse-probe cross), here at
        // production nProbe; the dense-channel recall floor reads the
        // build-time certificate — no audit subplan in the serving query.
        "q169_hybrid_prod_probe" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q175: the q169 channel shapes feeding the q171 chained
        // dedup → page → MMR pipeline, all from stored artifacts at
        // production nProbe; everything after the two index probes works
        // on |queries|-bounded frames.
        "q175_rag_prod_pipeline" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q168: the same two channel shapes feeding the candidate page;
        // the dedup itself is broadcast candidate probes into the edge
        // table (smell-free).
        "q168_serp_dedup" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q171: the q165/q168 channel shapes (broadcast 1-row stats
        // crosses + their global aggregates) feeding the chained
        // dedup → page → MMR pipeline; everything after the channels
        // works on |queries|-bounded frames.
        "q171_rag_pipeline" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q143: the q69 shape — crossJoin(broadcast(1-row n_tok/n_bg
        // stats)); the SinglePartition exchanges are those frames' own
        // global counts plus the top-50 TakeOrdered merge.
        "q143_pmi_collocations" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q145: the three per-step user counts are 1-row global
        // aggregates crossed into the 3-row report — the q17/q69 shape;
        // everything upstream is user-keyed map-side-combined mins.
        "q145_funnel" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q148: crossJoin(broadcast(1-row corpus-max-week frame)) — the
        // q17/q69 scalar-stats shape; the per-type agg map-side combines.
        "q148_decayed_activity" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q150: crossJoin(broadcast(1-row m2 edge-count frame)) — the
        // same scalar-stats shape; all community tallies are map-side-
        // combined aggs over the pinned tag join.
        "q150_modularity" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q130/q131: the q69 shape from the STORED index —
        // crossJoin(broadcast(1-row merged stats)), and the
        // SinglePartition exchanges are that frame's own global
        // aggregate plus the top-20 TakeOrdered merge. The postings
        // side reads only the probed buckets (PartitionFilters pinned
        // by InvertedIndexSpec) and never crosses a SinglePartition.
        "q130_inverted_index_bm25" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q131_inverted_index_delete" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q134_inverted_index_stream_gens" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q135: crossJoin(broadcast(1-row total-weight frame)) — the
        // q69/q126 1-row-frame shape; the SinglePartition exchange is
        // that frame's own global aggregate. The corpus side is a
        // codegen'd scalar filter, never shuffled.
        "q135_weighted_sample" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q132: three 1-row estimate frames and the 1-row exact-overlap
        // count cross-joined (the q69/q126 1-row-frame shape); the
        // SinglePartition exchanges are those frames' own global
        // aggregates over ≤ 2^10-row register tables.
        "q132_hll_overlap" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q70_unigram_surprisal" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q102: the q70 shape exactly — crossJoin(broadcast(1-row corpus
        // stats)), and the SinglePartition exchange is that frame's own
        // global aggregate.
        "q102_bigram_surprisal" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q73_embed_quantize" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        "q74_corpus_shuffle" -> Set("SinglePartition-exchange"),
        // q88: crossCosineMatches' broadcast of the FIXED eval side (the
        // q26 bruteForceTopK shape) — exact bipartite cosine with zero
        // corpus shuffle; the cross is bounded by the benchmark set size.
        "q88_semantic_decontam" -> Set("BroadcastNestedLoopJoin"),
        // q96: the q69/q70 shape exactly — crossJoin(broadcast(1-row
        // corpus count)), and the SinglePartition exchange is that count's
        // own global aggregate.
        "q96_tfidf_topterms" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q82 pass 1 (construction-time collect, exposed via
        // SparkEntry.auditPlans): a GLOBAL aggregate — its final merge of
        // the per-partition MG summaries is one row through one task, the
        // q03/q17 shape.
        "q82_heavy_hitters#pass1" -> Set("SinglePartition-exchange"),
        // q101's bloom build (construction-time, cachedBuild-amortized):
        // a GLOBAL aggregate — the final merge ORs the per-partition
        // bloom blobs through one task, the q03/q17/q82#pass1 shape.
        "q101_bloom_ingest#build" -> Set("SinglePartition-exchange"),
        // q107: the threshold subplan — a cumulative sum over the
        // |wc-domain|-row histogram (the q74-class BOUNDED partition-less
        // window) and crossJoin(broadcast(1-row threshold/total frames)),
        // whose SinglePartition exchanges are those frames' own global
        // aggregates. The corpus side never shuffles.
        "q107_percentile_gate" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q108: the SinglePartition exchange is SPARK'S OWN
        // InjectRuntimeFilter bloom build (bloom_filter_agg over the
        // flag-frame join keys — the very mechanism q101 surfaces
        // explicitly): a global aggregate merging per-partition bloom
        // blobs through one task, the q03/q17 shape, injected by the
        // optimizer rather than written by us.
        "q108_curation_report" -> Set("SinglePartition-exchange"),
        // q114: the remaining SinglePartition exchanges feed the
        // |buckets|-row offsets frame (exclusive prefix + totals — the
        // shuffleIndex bounded class) and the final 1-row max; the
        // |domain|-row cumulative itself is bucket-PARTITIONED
        // (round-11 verdict #2, pinned by RelationalSpec's 1M-distinct
        // plan probe).
        "q114_value_drift" -> Set("SinglePartition-exchange"),
        // q114's cut-point pass (construction-time 1-row collect): a
        // global approx-percentile aggregate — its final merge is one
        // row through one task, the q03/q17/q82#pass1 shape.
        "q114_value_drift#cuts" -> Set("SinglePartition-exchange"),
        // q129/q133 (r19 rank-sweep rewrite): the BNLJ is
        // crossJoin(broadcast(distinct-returnflag frame)) — a ≤|flags|-
        // row bounded side (the q26/q52 class); the probe stream, not
        // the distribution, rides it. The #cuts passes are the
        // q114#cuts shape: a 1-row approx-percentile merge.
        "q129_range_join_bands" -> Set("BroadcastNestedLoopJoin"),
        "q129_range_join_bands#cuts" -> Set("SinglePartition-exchange"),
        "q133_interval_overlap_join" -> Set("BroadcastNestedLoopJoin"),
        "q133_interval_overlap_join#cuts" ->
          Set("SinglePartition-exchange"),
        // q125: the merged-__all__ sketch is a GLOBAL aggregate over the
        // ≤ 1024-row register frame (the q03/q17 bounded class), and the
        // global exact_distinct yardstick merges through one task the
        // same way. Nothing row-sized crosses a SinglePartition.
        "q125_hll_card" -> Set("SinglePartition-exchange"),
        // q126: crossJoin(broadcast(1-row exact-count frame)) onto the
        // 1-row card estimate — the q69/q70 1-row-frame shape; the
        // SinglePartition exchanges are those frames' own global
        // aggregates (≤ 1024 register rows / 1 count row through one
        // task).
        "q126_hll_card_ingest" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q127: crossJoin(broadcast(4-row quantile frame)) onto the
        // bucket frame, and the merged-__all__ cumulative walk is the
        // q74/q107-class BOUNDED partition-less window over ≤ 3.8k
        // bucket rows. The orders scan itself shuffles only bucket
        // rows.
        "q127_quantile_sketch" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q128: the merged sketch is a global aggregate over the
        // ≤ 16k-cell counter frame, and the exact-top-20 yardstick ends
        // in a TakeOrdered + 20-row frames — all q03/q17-bounded.
        "q128_cms_heavyhitters" -> Set("SinglePartition-exchange"),
        // q116: the profiler IS one global aggregate — its final merge of
        // the per-partition partials is one row through one task, the
        // q03/q17 class; everything upstream is the map-side Expand+
        // partial-distinct the scaladoc documents.
        "q116_profile" -> Set("SinglePartition-exchange"),
        // q117: three global count-aggregates (one per FK edge) — each
        // final merge is one row through one task, the q03/q17 class;
        // the joins themselves are co-partitioned key-only equi-joins.
        "q117_fk_orphans" -> Set("SinglePartition-exchange"),
        // q118: the calendar cross (|types| x |hours| — bounded by
        // wall-clock, not data) is the BroadcastNestedLoopJoin; the
        // SinglePartition exchanges are the 1-row span aggregate and the
        // |types|-row gap windows (q74/q107 bounded class).
        "q118_hour_gaps" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"),
        // q121: three global roll-ups of per-key count frames — each
        // final merge is one row through one task, the q03/q17 class.
        "q121_key_uniqueness" -> Set("SinglePartition-exchange"),
        // q138's per-iteration pass (construction-time, between
        // checkpoints): crossJoin(broadcast(1-row dangling-mass frame)) —
        // the q69/q126 1-row-frame shape; the SinglePartition exchange is
        // that frame's own global aggregate. Rank rows themselves move
        // only through node-keyed hash exchanges.
        "q138_pagerank_centrality#iter" ->
          Set("BroadcastNestedLoopJoin", "SinglePartition-exchange"))
      // construction-time plans (driver-collected passes) audit alongside
      // the returned frames — restricted to the selected queries' passes
      val auditTargets = known ++
        SparkEntry.auditPlans.toSeq.sortBy(_._1).filter { case (k, _) =>
          knownNames.contains(k.takeWhile(_ != '#')) }
      auditTargets.foreach { case (n, build) =>
        try {
          val qe = build(spark, sfDir).queryExecution
          val plan = qe.executedPlan.toString
          // wide rows into a dedup shuffle: a dropDuplicates-shaped
          // Aggregate (grouping attrs + first()-carried payload) whose
          // input still carries array columns — shuffle bytes a pre-dedup
          // projection (score/verify first) would have dropped
          import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
          import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}
          import org.apache.spark.sql.catalyst.plans.logical.Aggregate
          val wideDedup = qe.optimizedPlan.exists {
            case a: Aggregate if a.groupingExpressions.nonEmpty =>
              val dedupShaped = a.aggregateExpressions.forall {
                case _: Attribute => true
                case Alias(ae: AggregateExpression, _) =>
                  ae.aggregateFunction.isInstanceOf[First]
                case _ => false
              }
              dedupShaped && a.child.output.exists(_.dataType
                .isInstanceOf[org.apache.spark.sql.types.ArrayType])
            case _ => false
          }
          val smells = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
            "SinglePartition-exchange" ->
              plan.contains("Exchange SinglePartition"),
            "single-partition-arg" ->
              plan.contains("Arguments: SinglePartition"),
            "array-cols-into-dedup-shuffle" -> wideDedup,
          ).collect { case (s, true) => s }
          val fresh = smells.filterNot(adjudicated.getOrElse(n, Set.empty))
          if (smells.nonEmpty) {
            flagged += 1
            val tag = if (fresh.isEmpty) "FLAG(adjudicated)" else "FLAG"
            println(s"$tag $n: ${smells.mkString(", ")}")
          }
          if (fresh.nonEmpty) unexplained += 1
        } catch {
          case e: Throwable =>
            unexplained += 1
            println(s"FLAG $n: audit failed: $e")
        }
      }
      println(s"audit: ${auditTargets.size} plans scanned " +
        s"(${known.size} queries + construction-time passes), " +
        s"$flagged flagged, " +
        s"$unexplained UNEXPLAINED (adjudicated shapes are documented at " +
        "the `adjudicated` map; a nonzero unexplained count is a " +
        "regression to triage)")
    } else {
      // a selected query's registered construction-time passes
      // (SparkEntry.auditPlans) print alongside it, so a query whose
      // RETURNED plan is a checkpoint stub (q138/q160 class) still
      // yields its full heavy plan here
      known.foreach { case target @ (n, _) =>
        val targets = target +:
          SparkEntry.auditPlans.toSeq.sortBy(_._1)
            .filter(_._1.takeWhile(_ != '#') == n)
        targets.foreach { case (k, build) =>
          println(s"\n========== $k ==========")
          try println(build(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"explain failed: $e") }
        }
      }
    }
  }
}
