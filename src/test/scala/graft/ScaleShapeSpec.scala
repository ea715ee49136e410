package graft

import org.apache.spark.sql.functions._

import graft.functions.AggFunctions
import graft.operators.{Dedup, Relational, Similarity}

/** Plan-shape regression tests for the 100×-scale fixes of round 2:
  * no TakeOrdered boundary in temporalPrefixSplit, a genuine partial
  * aggregate in the ANN top-k reduction, and no constant-key/all-pairs
  * funnel in the gated embedding-dedup path.
  */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Capture every executed plan while `body` runs. */
  private def capturingPlans[A](body: => A): (A, Seq[String]) = {
    val (result, plans) = plansDuring(body)
    (result, plans.map(_.toString))
  }

  test("temporalPrefixSplit: n=500k of 1M without TakeOrdered, exact boundary") {
    // ts = id % 1000 (1000 rows per ts); order by (ts, tb=id):
    // first 500 ts-groups = exactly 500000 rows
    val df = spark.range(1000000)
      .select((col("id") % 1000).as("ts"), col("id").as("tb"))
    val ((tr, te), plans) = capturingPlans {
      val (a, b) = Relational.temporalPrefixSplit(df, "ts", "tb", 500000L)
      (a.cache().count(), b.count()) // force the boundary jobs
      (a, b)
    }
    assert(tr.count() == 500000L)
    assert(te.count() == 500000L)
    val m = tr.agg(max(struct(col("ts"), col("tb")))).head().getStruct(0)
    assert(m.getLong(0) == 499L && m.getLong(1) == 999499L)
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains("TakeOrdered")),
      "boundary computation must not materialize n rows in one task")
    tr.unpersist()
  }

  test("temporalPrefixSplit: boundary inside a ts tie set resolves by tiebreak") {
    val df = spark.range(1000000)
      .select((col("id") % 1000).as("ts"), col("id").as("tb"))
    // 500500 = 500 full groups + the 500 smallest tiebreaks of ts=500
    val (tr, _) = Relational.temporalPrefixSplit(df, "ts", "tb", 500500L)
    assert(tr.count() == 500500L)
    val m = tr.filter(col("ts") === 500).agg(max("tb")).head().getLong(0)
    assert(m == 500L + 499L * 1000L) // 500th smallest tb in the tie set
  }

  test("temporalPrefixSplit: non-numeric tiebreak falls back to tie-set sort only") {
    // n > smallBoundaryN so the quantile path runs, with a string tiebreak
    val df = spark.range(200000)
      .select((col("id") % 100).as("ts"),
        format_string("k%07d", col("id")).as("tb"))
    val (tr, te) = Relational.temporalPrefixSplit(df, "ts", "tb", 150500L)
    assert(tr.count() == 150500L && te.count() == 200000L - 150500L)
    // boundary ts = 75 (150000 rows in 75 full groups), 500 ties beyond
    val m = tr.filter(col("ts") === 75).agg(max("tb")).head().getString(0)
    assert(m == f"k${75 + 499 * 100}%07d")
  }

  test("temporalPrefixSplit: null keys keep asc-nulls-first semantics") {
    def mk(rows: Long) = spark.range(rows).select(
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 50).as("ts"),
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id")).as("tb"))
    // small n → sort path with null-safe boundary predicates
    val df = mk(1000)
    for (n <- Seq(55L, 600L)) {
      val (tr, te) = Relational.temporalPrefixSplit(df, "ts", "tb", n)
      assert(tr.count() == n, s"n=$n")
      assert(te.count() == 1000 - n, s"n=$n")
      val key = (r: org.apache.spark.sql.Row) => (r.get(0), r.get(1))
      val expected = df.orderBy(col("ts"), col("tb")).limit(n.toInt)
        .collect().map(key).toSet
      assert(tr.collect().map(key).toSet == expected, s"n=$n")
    }
    // large n with nulls → quantile branch detects them and falls back
    val big = mk(150000)
    val (tr2, te2) = Relational.temporalPrefixSplit(big, "ts", "tb", 120000L)
    assert(tr2.count() == 120000L && te2.count() == 30000L)
  }

  test("temporalPrefixSplit: edge cases n<=0, n>=total, empty input") {
    val df = spark.range(100).select(col("id").as("ts"), col("id").as("tb"))
    val (e1, f1) = Relational.temporalPrefixSplit(df, "ts", "tb", 0L)
    assert(e1.count() == 0L && f1.count() == 100L)
    val (e2, f2) = Relational.temporalPrefixSplit(df, "ts", "tb", 100L)
    assert(e2.count() == 100L && f2.count() == 0L)
    val empty = df.filter(lit(false))
    val (e3, f3) = Relational.temporalPrefixSplit(empty, "ts", "tb", 5L)
    assert(e3.count() == 0L && f3.count() == 0L)
  }

  test("selectByRank matches a full sort on skewed data") {
    val df = spark.range(100000)
      .select((pmod(hash(col("id")), lit(997)) * pmod(hash(col("id")), lit(997)))
        .cast("long").as("__v"))
    for (rank <- Seq(1L, 37L, 50000L, 99999L, 100000L)) {
      val (v, below) = Relational.selectByRank(df, rank)
      val expected = df.orderBy("__v").limit(rank.toInt)
        .agg(max("__v")).head().getLong(0) // test-only oracle
      assert(v.asInstanceOf[Long] == expected, s"rank $rank")
      assert(below < rank)
    }
  }

  test("topKByScore aggregate matches the row_number window reduction") {
    val scored = spark.range(20000).select(
      (col("id") % 16).as("q_id"),
      col("id").as("n_id"),
      round(sin(col("id").cast("double")), 6).as("sim"))
    val viaAgg = scored.groupBy("q_id")
      .agg(AggFunctions.topKByScore(col("sim"), col("n_id"), 7).as("nbrs"))
      .select(col("q_id"), posexplode(col("nbrs")))
      .select(col("q_id"), col("col.n_id").as("n_id"), col("col.sim").as("sim"),
        (col("pos") + 1).cast("long").as("rn"))
    val viaWindow = Relational.topKPerGroup(scored, Seq("q_id"), col("sim"), 7,
        Seq(col("n_id")))
      .select(col("q_id"), col("n_id"), col("sim"), col("rn").cast("long"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("ANN top-k plans use a partial aggregate, not a window sort") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 3)
    val plan = Similarity.bruteForceTopK(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkbyscore"),
      "map-side partial phase must exist")
    assert(!plan.contains("Window"), "no row_number window in the reduction")
  }

  test("gated embedding-dedup plan: LSH keys, no constant-key funnel") {
    val q25 = SparkEntry.queries("q25_embed_neardup")(spark, sf0001)
    val plan = q25.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"))
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"))
    // the bucket keys actually spread: far more distinct keys than tables
    val emb = Tables.embeddings(spark, sf0001)
    val tables = Dedup.lshTablesFor(0.5, planes = 4)
    val keyed = emb.select(graft.functions.VectorFunctions
      .toDoubleArray(col("embedding")).as("v"))
      .select(explode(graft.functions.VectorFunctions
        .hyperplaneSketches(col("v"), 64, 4, tables, 7L)).as("bk"))
    assert(keyed.select(countDistinct("bk")).head().getLong(0) >= tables * 4L)
  }

  test("hyperplaneSketches kernel reproduces the per-table HOF sketches") {
    import graft.functions.{VectorFunctions => V}
    val df = Tables.embeddings(spark, sf0001).limit(50)
      .select(V.toDoubleArray(col("embedding")).as("v"))
    val tables = 5
    val viaKernel = df.select(V.hyperplaneSketches(col("v"), 64, 8, tables,
      seed = 42L).as("ks"))
    val viaHof = df.select(array((0 until tables).map(t =>
      lit(t.toLong * 256) + V.hyperplaneSketch(col("v"), 64, 8, 42L + t)): _*)
      .as("ks"))
    val a = viaKernel.as[Seq[Long]].collect()
    val b = viaHof.as[Seq[Long]].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("shiftedDot kernel is bit-identical to the HOF code-score form") {
    // the quantized filter-refine candidate kernel: Σ wᵢ·(cᵢ+128) — the
    // compiled loop must reproduce aggregate(zip_with(...)) EXACTLY (the
    // bound soundness argument leans on the fold order being unchanged)
    import graft.functions.{VectorFunctions => V}
    val df = Tables.embeddings(spark, sf0001).limit(50)
      .select(V.toDoubleArray(col("embedding")).as("w"),
        // synthetic int8-ish codes derived deterministically from the row
        transform(col("embedding"),
          (x, i) => (abs(hash(x, i)) % 256 - 128).cast("long")).as("codes"))
    val viaKernel = df.select(V.shiftedDot(col("w"), col("codes")))
      .as[Double].collect()
    val viaHof = df.select(aggregate(
        zip_with(col("w"), col("codes"), (wi, c) => wi * (c + 128)),
        lit(0.0), _ + _))
      .as[Double].collect()
    assert(viaKernel.length == 50 &&
      viaKernel.zip(viaHof).forall { case (k, h) => k == h },
      "compiled shiftedDot diverged from the HOF fold")
    // the BYTE-PACKED storage form (round 19): packInt8 + shiftedDotBytes
    // must reproduce the same fold bit-for-bit on in-range codes — the
    // three forms (HOF, long kernel, byte kernel) are interchangeable on
    // every stored row that enters a pruning decision
    val viaBytes = df.select(
        V.shiftedDotBytes(col("w"), V.packInt8(col("codes"))))
      .as[Double].collect()
    assert(viaBytes.zip(viaHof).forall { case (k, h) => k == h },
      "byte-packed shiftedDotBytes diverged from the HOF fold")
    // and clamping is exactly [-128,127] saturation for out-of-range longs
    val clamped = spark.sql(
      "SELECT array(-500L, -128L, 0L, 127L, 500L) AS c")
      .select(V.packInt8(col("c"))).as[Array[Byte]].head()
    assert(clamped.toSeq == Seq[Byte](-128, -128, 0, 127, 127))
  }

  test("partition pruning reaches the scan on partitioned data") {
    val dir = "target/tmp/events_by_type"
    Tables.events(spark, sf0001)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
      .select("event_id", "user_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"partition filter did not reach the scan:\n$plan")
    val all = spark.read.parquet(dir).filter(col("event_type") === "click").count()
    assert(df.count() == all)
  }

  test("column pruning: q04's scan reads only the needed columns") {
    val plan = SparkEntry.queries("q04_filter_pushdown")(spark, sf0001)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in\n$plan"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_shipdate", "l_discount"), cols.toString)
  }

  test("ivfTopK coarse probe: no literal centroids, partial cell-selection at nLists=256") {
    // synthetic 2000×8 corpus so nLists=256 is a realistic cell count
    val base = spark.range(2000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => round(sin((col("id") + 1) * i), 6)).as("embedding"))
    val df = Similarity.ivfTopK(base, base.filter(col("vec_id") < 3), k = 3,
      nLists = 256, nProbe = 4)
    // the centroid table must be a (broadcast) relation, never a
    // plan-embedded literal array-of-arrays — at IVF-scale list counts a
    // typedlit of all centroids is megabytes in every plan/codegen unit
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType => AT}
    val hasCentroidLiteral = df.queryExecution.optimizedPlan.exists(p =>
      p.expressions.exists(_.exists {
        case l: Literal => l.dataType match {
          case AT(AT(_, _), _) => true
          case _ => false
        }
        case _ => false
      }))
    assert(!hasCentroidLiteral,
      "centroids must be a DataFrame, not a plan literal")
    val exec = df.queryExecution.executedPlan.toString
    // bounded-heap partial phases: one in the cell-selection aggregate,
    // one in the final top-k reduction
    assert("partial_topkbyscore".r.findAllIn(exec).size >= 2, exec)
    assert(df.count() == 3 * 3)
  }

  test("rematerializeSplittable turns a single-row-group scan into a multi-task scan") {
    // the sf fixtures are single-row-group parquet, so every scan runs as
    // ONE task locally (documented bench caveat); prove the no-repartition
    // design pays off the moment the layout parallelizes
    val fixture = Tables.lineitem(spark, sf0001)
    assert(fixture.rdd.getNumPartitions == 1,
      "fixture premise changed: sf0.001 lineitem is no longer 1 partition")
    val dir = "target/tmp/lineitem_multirg"
    graft.sources.Sources.rematerializeSplittable(fixture, dir, 2000L)
    val multi = spark.read.parquet(dir)
    assert(multi.rdd.getNumPartitions > 1,
      s"expected a multi-task scan, got ${multi.rdd.getNumPartitions}")
    // same rows, same aggregates: the rewrite changes layout, not content
    def q1(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(28,4)")).as("qty"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect().toSeq
    assert(q1(multi) == q1(fixture))
  }

  test("ivfTopK quantizer training is sampled to the row budget by default") {
    // the coarse-quantizer KMeans fit must NOT consume the full corpus once
    // it exceeds the row budget — at 10⁹ vectors the quantizer fit, not the
    // probe, would otherwise be the bottleneck
    val big = spark.range(5000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(4)),
        i => round(sin((col("id") + 1) * i), 6)).as("v_n"))
    val sampled = Similarity.ivfTrainSet(big, Double.NaN,
      rowBudget = 500L, seed = 40L)
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    assert(sampled.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sample]),
      "train set over the budget must be a Sample of the corpus")
    val n = sampled.count()
    assert(n < 1000, s"sampled train set should be ≈500 rows, got $n")
    // under the budget the corpus trains as-is (no sample, no lost rows)
    val small = Similarity.ivfTrainSet(big, Double.NaN,
      rowBudget = 100000L, seed = 40L)
    assert(!small.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sample]))
    assert(small.count() == 5000L)
    // an explicit fraction still pins the old behavior exactly
    val frac = Similarity.ivfTrainSet(big, 0.1, rowBudget = 1L, seed = 40L)
    assert(frac.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sample]))
  }

  test("lshTopK candidate dedup shuffles (q_id, n_id, sim), not vectors") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), k = 3)
    // the (q_id, n_id) dedup aggregate must sit ABOVE the scoring
    // projection: its input rows are 24-byte (q_id, n_id, sim), never the
    // two full embedding vectors — shuffle bytes are the scale cost
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{ArrayType => AT}
    val dedupAggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.length == 2 => a
    }
    assert(dedupAggs.nonEmpty, "dedup aggregate missing from the plan")
    dedupAggs.foreach { a =>
      assert(a.child.output.forall(at => !at.dataType.isInstanceOf[AT]),
        s"vector column shuffles through the dedup: ${a.child.output}")
    }
  }

  test("lshTablesFor: recall sizing is sane and monotonic") {
    assert(Dedup.lshTablesFor(0.5, 4) == 63)
    assert(Dedup.lshTablesFor(0.9, 4) < Dedup.lshTablesFor(0.5, 4))
    assert(Dedup.lshTablesFor(0.5, 8) > Dedup.lshTablesFor(0.5, 4))
    assert(Dedup.lshTablesFor(0.5, 4, 1e-9) > Dedup.lshTablesFor(0.5, 4, 1e-3))
  }

  test("boundedSelfJoinCandidates: hot bucket grid loses no pair, bounds cells") {
    // adversarial fixture: ONE bucket holding every member — the skew case
    // where a plain band self-join funnels all n(n-1)/2 pairs through a
    // single reducer. With cap=16 the grid must split it into group-pair
    // cells whose per-cell pair volume is ~cap² while covering every pair.
    val n = 120; val cap = 16
    val keyed = (0 until n).map(i => (7777L, i.toLong)).toDF("bh", "id")
    val pairs = Dedup.boundedSelfJoinCandidates(keyed, "bh", "id", cap)
      .select("m_a", "m_b").as[(Long, Long)].collect()
    val distinctPairs = pairs.toSet
    assert(distinctPairs.size == n * (n - 1) / 2, "grid lost candidate pairs")
    assert(distinctPairs.forall { case (a, b) => a < b })
    // the bound: g = ceil(n/cap) groups via the SAME hash rule the grid
    // uses; per-cell candidate volume ≤ maxGroup², far below all-pairs
    val g = math.ceil(n.toDouble / cap).toInt
    val groupSizes = keyed
      .select(pmod(xxhash64(col("id")), lit(g)).as("grp"))
      .groupBy("grp").count().select("count").as[Long].collect()
    assert(groupSizes.length == g, "grid must populate every group")
    assert(groupSizes.max <= 3L * cap, s"hash imbalance: ${groupSizes.toSeq}")
    assert(groupSizes.max * groupSizes.max < n.toLong * (n - 1) / 2,
      "a grid cell still carries ~all pairs")
  }

  test("corpus-query plan shapes: broadcast probes, sharded windows, no cartesian") {
    // q66: the eval gram set must broadcast (the corpus side of a 100 TB
    // decontamination probe cannot shuffle); q68: the running sum must be
    // a window PARTITIONED BY bucket (a partition-less window funnels the
    // corpus through one reducer); q69/q70: the LM/df/stats lookups must
    // broadcast. None of the four may plan a CartesianProduct (the only
    // allowed cross joins are 1-row broadcast stats frames).
    val q66 = SparkEntry.queries("q66_decontamination")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q66.contains("BroadcastHashJoin"), "q66 eval side must broadcast")
    assert(!q66.contains("CartesianProduct"))
    val q68 = SparkEntry.queries("q68_sequence_packing")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q68.contains("windowspecdefinition(bucket"),
      "q68 running sum must be sharded by bucket")
    assert(!q68.contains("CartesianProduct"))
    for (name <- Seq("q69_bm25_search", "q70_unigram_surprisal")) {
      val p = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name lookups must broadcast")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("round-6 corpus-query plan shapes: q71/q73/q74 stay shuffle-bounded") {
    // q71: dup-passage detection must be hash-partitioned on the gram key —
    // never a cartesian/nested-loop pairing of documents. Round 12: the
    // gram kernel is evaluated ONCE because the gram stream is
    // localCheckpoint-pinned (zero Generates in the query's own plan —
    // the explode ran at pin time), and the frequency is the map-side-
    // combined dup-set, never a window over the gh occurrence list
    // (unbounded buffering on a boilerplate gram)
    val q71 = SparkEntry.queries("q71_dup_passages")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!q71.contains("CartesianProduct"))
    assert(!q71.contains("windowspecdefinition"),
      "q71 must not window over the gram stream (hot-gram skew)")
    assert(q71.contains("partial_count"),
      "q71 gram frequency must map-side combine")
    assert("Generate explode".r.findAllIn(q71).isEmpty,
      "q71's gram explode must run once, at the checkpoint pin")
    // q73: the fitted ranges collapse to ONE broadcast row; the vector
    // side must see a broadcast, not an exchange of the corpus
    val q73 = SparkEntry.queries("q73_embed_quantize")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q73.contains("BroadcastExchange") ||
      q73.contains("BroadcastNestedLoopJoin"),
      "q73 ranges row must broadcast")
    assert(!q73.contains("CartesianProduct"))
    // q74: the rank window must be sharded by bucket (the corpus-side
    // sort), and the bucket offsets must come back via broadcast
    val q74 = SparkEntry.queries("q74_corpus_shuffle")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q74.contains("windowspecdefinition(bucket"),
      "q74 rank must be sharded by bucket")
    assert(q74.contains("BroadcastHashJoin"),
      "q74 bucket offsets must broadcast")
    assert(!q74.contains("CartesianProduct"))
    // q75: the fixed-size sample must be a bounded partial top-k, never a
    // full global sort of the corpus
    val q75 = SparkEntry.queries("q75_priority_sample")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q75.contains("TakeOrdered"),
      "q75 must select via bounded partial top-k")
  }

  test("round-10 corpus-query plan shapes: q89 broadcast-regime ingest, q90 range-shuffled write, q91 broadcast mix") {
    // q89 (broadcast regime at fixture scale): the shard's band frame
    // must BROADCAST — the standing corpus of a 100 TB nightly ingest
    // cannot shuffle for the candidate join — and nothing may plan a
    // cartesian; the admit must be a left-anti hash join
    val q89 = SparkEntry.queries("q89_incremental_ingest")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q89.contains("BroadcastHashJoin"),
      "q89 shard bands must broadcast against the corpus scan")
    assert(q89.contains("LeftAnti"), "q89 admit must be a left-anti join")
    assert(!q89.contains("CartesianProduct"))
    // q91: the kept-count side joins a ~5-row rates frame — broadcast,
    // never an exchange of the corpus side for that join; no cartesian
    val q91 = SparkEntry.queries("q91_temperature_mix")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q91.contains("BroadcastHashJoin"),
      "q91 per-lang frame must broadcast")
    assert(!q91.contains("CartesianProduct"))
  }

  test("persisted IVF index scan is dynamically partition-pruned to probed cells") {
    // The point of the cell-partitioned layout (round 11): a query batch
    // probing nProbe of nLists cells must only READ those cells' files.
    // The broadcast cell join makes Spark insert a dynamic-pruning
    // subquery on the partition column — pin that it actually fires, so a
    // layout or join-shape change can't silently regress the scan back to
    // full-corpus reads.
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("ivf_dpp").toString
    val emb = Tables.embeddings(spark, sf0001)
    graft.operators.Similarity.buildIvfIndex(emb, idx, nLists = 8)
    val df = graft.operators.Similarity.ivfTopKFromIndex(idx,
      emb.filter(col("vec_id") < 3), k = 5, nProbe = 2)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(cell"),
      "assignments scan lost its dynamic partition pruning")
  }

  test("reads take their schema from the footer: no job while Tables.load " +
      "runs or a tombstoned IVF index's probe frame is built") {
    // the reference read infers its schema in one job; without it the
    // zero counts below would prove nothing
    assert(jobsDuring(spark.read.parquet(s"$sf0001/embeddings.parquet"))._2 === 1)
    assert(jobsDuring(Tables.load(spark, sf0001, "embeddings"))._2 === 0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_jobs").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.buildIvfIndex(emb, idx, nLists = 8)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"), idx)
    val queries = emb.filter(col("vec_id") < 3)
    val jobs = jobsDuring(
      Similarity.ivfTopKFromIndex(idx, queries, k = 5, nProbe = 2))._2
    assert(jobs === 0, s"constructing the probe frame ran $jobs jobs")
  }

  test("batch kNN join (q160) never force-broadcasts the query side; the " +
      "interactive path keeps its hint") {
    // round-15 verdict #2: q160's corpus-as-queries frame (fanned out
    // ×nProbe with full vectors) must reach the stored table via a
    // shuffle equi-join on cell, not a driver-killing broadcast. Disable
    // auto/AQE broadcast so the ONLY way a BroadcastHashJoin can appear
    // is a forced hint — then assert the batch path has none while the
    // small-batch path (whose hint buys dynamic partition pruning)
    // still does.
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("ivf_knn").toString
    val emb = Tables.embeddings(spark, sf0001)
    graft.operators.Similarity.buildIvfIndex(emb, idx, nLists = 8)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val batch = graft.operators.Similarity
        .ivfKnnJoinFromIndex(idx, emb, k = 5, nProbe = 8)
      batch.write.format("noop").mode("overwrite").save()
      val bp = batch.queryExecution.executedPlan.toString
      assert(!bp.contains("BroadcastHashJoin"),
        "batch kNN must not force-broadcast any equi-join side:\n" + bp)
      assert(bp.contains("SortMergeJoin [cell") ||
        bp.contains("ShuffledHashJoin [cell"),
        "batch kNN must shuffle-equi-join on cell:\n" + bp)

      val small = graft.operators.Similarity
        .ivfTopKFromIndex(idx, emb.filter(col("vec_id") < 3), k = 5,
          nProbe = 2)
      small.write.format("noop").mode("overwrite").save()
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "interactive path must keep its broadcast hint (DPP depends on it)")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q90 z-order write is ONE range shuffle with the sort inside partitions") {
    // the written-copy scan side is covered by the oracle; this pins the
    // WRITE plan: repartitionByRange (range exchange on the z key) +
    // sortWithinPartitions — never a global Sort (single-task funnel) and
    // never a hash exchange (which would scatter the z-ranges)
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val keyed = li.withColumn("__z",
      graft.functions.LayoutFunctions.morton(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(4, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val p = keyed.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"),
      "z-order write must range-partition on the z key")
    // Sort's toString is positional: "Sort [keys], <global>, 0"
    assert(p.contains("Sort [") && !p.contains("], true, 0"),
      "the per-file sort must be within partitions, not a global sort")
  }

  test("dedup under a hot bucket: 60 identical docs verify exactly through the grid") {
    // 60 identical documents share every band key (and every simhash
    // chunk-pair key): the classic silent-quadratic-reducer fixture. With
    // a small cap the grid path is exercised end-to-end and must still
    // emit exactly C(60,2) pairs at jaccard/hamming 1.0/0.
    val docs = (0 until 60).map(i => (i.toLong,
      "the same exact document body repeated verbatim across the corpus " +
        "with enough tokens to shingle properly and fill the minhash"))
      .toDF("doc_id", "text")
    val jp = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.8,
        maxBucket = 8)
      .as[(Long, Long, Double)].collect()
    assert(jp.length == 60 * 59 / 2, s"expected all pairs, got ${jp.length}")
    assert(jp.forall(_._3 == 1.0))
    val sp = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(sp.length == 60 * 59 / 2)
    assert(sp.forall(_._3 == 0L))
  }

  test("scrub under a planted hot gram: exact rewrite, no window buffers " +
      "the occurrence list") {
    // The round-11 hazard fixture: ONE boilerplate span planted in 30% of
    // docs (the cookie-banner / licence-header shape of real web
    // corpora). Under a count().over(Window.partitionBy(gh)) plan every
    // occurrence of each banner gram lands in a single window group on a
    // single task — at corpus scale, millions of buffered rows with no
    // partial aggregation. The de-skewed plan must flag the gram via a
    // map-side-combined groupBy count (one pre-counted row per task
    // crosses the exchange) and still rewrite every covered token out.
    val banner = "this site uses cookies by continuing you accept terms ok"
    val bannerTok = banner.split(" ").length // 10 tokens -> 3 8-grams
    assert(bannerTok == 10)
    val docs = (0 until 1000).map { i =>
      val tail = (0 until 8).map(j => s"u${i}w$j").mkString(" ")
      if (i % 10 < 3) (i.toLong, s"$banner $tail") // 300 hot-gram docs
      else (i.toLong, s"solo$i $tail")             // unique content
    }.toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateGrams(docs, "doc_id", "text", n = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      "scrub must not window over the gram stream (hot-gram skew)")
    assert(plan.contains("partial_count"),
      "the duplicated-gram count must map-side combine")
    val byId = out.as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    (0 until 1000).foreach { i =>
      val (nRemoved, clean) = byId(i.toLong)
      val tail = (0 until 8).map(j => s"u${i}w$j").mkString(" ")
      if (i % 10 < 3) {
        // every banner position is covered by a duplicated 8-gram;
        // boundary grams reach into the unique tail so the tail stays
        assert(nRemoved == bannerTok.toLong,
          s"doc $i: expected the $bannerTok banner tokens scrubbed, " +
            s"got $nRemoved")
        assert(clean == tail, s"doc $i: tail must survive intact")
      } else {
        assert(nRemoved == 0L, s"doc $i: unique doc must be untouched")
      }
    }
    assert(byId.size == 1000)
  }

  test("round-11 tokenizer/curation plan shapes: q94 map-side dup-set + " +
      "no token explode, q96/q97 broadcast lookups") {
    // q94 (round-12 de-skew): the gram frequency must be a PARTIAL
    // aggregate on gh — map-side combine folds a hot gram inside each
    // task — and NO window may appear (a count().over(partitionBy(gh))
    // would buffer every occurrence of one gram in a single window
    // group, the round-11 scale hazard). The rewrite must stay a
    // doc-level join — exactly ONE Generate may appear (the sparse
    // covered-position expansion; the gram kernel itself is
    // localCheckpoint-pinned inside the operator, so its posexplode runs
    // once at construction and never re-enters this plan), never one
    // for per-token rows
    val q94 = SparkEntry.queries("q94_dup_gram_scrub")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!q94.contains("CartesianProduct"))
    assert(!q94.contains("windowspecdefinition"),
      "q94 must not window over the gram stream (hot-gram skew)")
    assert(q94.contains("partial_count"),
      "q94 gram frequency must map-side combine (partial aggregate)")
    assert("Generate ".r.findAllIn(q94).size == 1,
      "q94 must generate only covered-position rows, never tokens " +
        "(gram kernel pinned, evaluated once)")
    // q113 (same round-12 de-skew class): copy counts must come from the
    // two-level map-side-combined aggregation, never a window over the
    // text hash — a doc duplicated millions of times would buffer its
    // occurrence list in one window group
    val q113 = SparkEntry.queries("q113_corpus_card")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!q113.contains("windowspecdefinition"),
      "q113 must not window over the text hash")
    assert(q113.contains("partial_count"),
      "q113 copy counts must map-side combine")
    // q96: df and the corpus count must come back as broadcasts — the tf
    // stream is the only shuffle
    val q96 = SparkEntry.queries("q96_tfidf_topterms")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q96.contains("BroadcastHashJoin"), "q96 df lookup must broadcast")
    assert(!q96.contains("CartesianProduct"))
    // q97: encoding against the stored vocab must be a broadcast hash
    // join (the encode pass adds no corpus shuffle before the doc agg)
    val q97 = SparkEntry.queries("q97_bpe_encode")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q97.contains("BroadcastHashJoin"),
      "q97 vocab lookup must broadcast")
    assert(!q97.contains("CartesianProduct"))
  }

  test("round-13 sketch plan shapes: HLL registers map-side combine, " +
      "no windows, nothing wider than the register table on the shuffle") {
    // The whole 100 TB claim of the corpus card rests on the register
    // aggregation being PARTIAL: each task folds its rows into ≤ 2^lgK
    // local registers and only those cross the wire. A final-only
    // aggregate (or a window over the hash stream) would shuffle the
    // corpus and the sketch would save nothing.
    val reg = operators.Sketches.hllRegisters(
      Tables.documents(spark, sf0001), col("text"), Seq("source"))
    val plan = reg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max"),
      "register max must map-side combine")
    assert(!plan.contains("windowspecdefinition"),
      "registers must never window over the hash stream")
    assert(!plan.contains("Exchange rangepartitioning"),
      "registers shuffle by hash, never by range sort")
    // the estimator adds one bounded (≤ m-row input) aggregate and no
    // extra scan of anything row-sized
    val est = operators.Sketches.hllEstimate(reg, Seq("source"))
    val eplan = est.queryExecution.executedPlan.toString
    assert(eplan.contains("partial_count") || eplan.contains("partial_sum"),
      "estimator aggregate must have a partial phase")
    assert(!eplan.contains("CartesianProduct"))
  }

  test("q129/q133 range aggregates plan as pair-free rank sweeps: no " +
      "cartesian, no pair-sized join, bounded windows only") {
    // r19: the inequality predicates Spark would execute as a nested
    // loop (O(n·m) probes) — and that the r6-r18 binned rewrites turned
    // into pair-PRODUCING equi-joins — are now pair-FREE rank sweeps
    // (Relational.rankSweepAgg): the only join is the bounded
    // cross of the ≤|returnflags|-row distinct-key frame plus the
    // broadcast bucket-offsets attach; ranks come from bucketed running
    // sums, so no operator anywhere is pair-sized.
    for (name <- Seq("q129_range_join_bands", "q133_interval_overlap_join")) {
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), name)
      // the sweep's running sums are bucket-partitioned windows
      assert(plan.contains("windowspecdefinition"),
        s"$name must rank via the sweep's running-sum windows")
      // the offsets attach must be a broadcast of the bounded frame,
      // and the final fold must map-side combine
      assert(plan.contains("BroadcastHashJoin"),
        s"$name bucket offsets must attach via broadcast")
      assert(plan.contains("partial_sum"),
        s"$name signed-rank fold must partial-aggregate")
      // no sort-merge/shuffled-hash join may appear: those were the
      // pair-producing bin joins — their presence means the pair
      // intermediate is back
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$name must not materialize a pair join")
    }
  }

  test("round-13 analytics plan shapes: q142 bounded heap, q143/q145 no " +
      "windows, LPA round single-exchange aggs") {
    // q142: the per-source cap must be the bounded-heap partial aggregate
    // (<= cap rows per source per partition on the shuffle), NEVER a
    // row_number window over the hot domain
    val q142 = SparkEntry.queries("q142_domain_cap")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q142.contains("partial_topkbyscore"),
      "q142 keep set must come from the bounded-heap partial aggregate")
    assert(!q142.contains("windowspecdefinition"),
      "q142 must not window over a domain's documents")
    // q143: gram aggregates must map-side combine; no cartesian (the only
    // cross is the broadcast 1-row totals frame); top-50 must be a
    // bounded TakeOrdered, not a global sort
    val q143 = SparkEntry.queries("q143_pmi_collocations")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q143.contains("partial_count"),
      "q143 gram counts must partial-aggregate")
    assert(q143.contains("TakeOrderedAndProject"),
      "q143 top-50 must be TakeOrdered")
    assert(!q143.contains("CartesianProduct"))
    // q145: the funnel must be min-aggregates + user-keyed joins — no
    // per-user window sort of the event stream
    val q145 = SparkEntry.queries("q145_funnel")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!q145.contains("windowspecdefinition"),
      "q145 must not window-sort per user")
    assert(q145.contains("partial_min"),
      "q145 step instants must map-side combine")
    assert(!q145.contains("CartesianProduct"))
    // the LPA round: votes repartitioned by node once, then BOTH
    // aggregates run on that layout — no exchange between the (node,lab)
    // count and the per-node argmax
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      .repartition(col("src"))
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "lab")
    val round = graft.operators.Graph.lpaRound(e, labels)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(round).size
    // one for the label gather join (node-sized), one for the vote
    // repartition (edge-sized); a third would be the fused aggregates
    // splitting apart — the regression this test exists to catch
    assert(exchanges <= 2,
      s"lpaRound must not re-exchange between its aggregates:\n$round")
    assert(round.contains("partial_count"),
      "lpa vote counts must partial-aggregate")
  }

  test("driver-sized KMeans fits run a probe and a collect: clusterEmbeddings " +
      "builds its frame in at most 3 jobs, buildIvfIndex runs at most 6") {
    // est.fit runs about 25 one-task jobs for these 500-row fits
    val emb = Tables.embeddings(spark, sf0001)
    val fitJobs = jobsDuring(graft.ml.Recommender.clusterEmbeddings(emb, k = 8))._2
    assert(fitJobs <= 3, s"clusterEmbeddings ran $fitJobs jobs")
    val idx = java.nio.file.Files.createTempDirectory("ivf_fit_jobs").toString
    val buildJobs = jobsDuring(Similarity.buildIvfIndex(emb, idx, nLists = 8))._2
    assert(buildJobs <= 6, s"buildIvfIndex ran $buildJobs jobs")
  }

  test("a KMeans fit runs on the driver up to rows × width × k = 2^23") {
    import graft.ml.KMeansFit.fitsDriver
    assert(graft.ml.KMeansFit.DriverCells == 8388608L)
    assert(fitsDriver(8192L, 64, 16))
    assert(!fitsDriver(8193L, 64, 16))
    assert(fitsDriver(500L, 64, 8), "the benchmark's fits are driver-sized")
    assert(!fitsDriver(0L, 64, 8))
    assert(!fitsDriver(Long.MaxValue, Int.MaxValue, Int.MaxValue), "no overflow")
  }
}
