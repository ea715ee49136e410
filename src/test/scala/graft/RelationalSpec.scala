package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup keeps exactly k per group with deterministic ties") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 5L), ("a", 4L, 1L),
      ("b", 1L, 7L)).toDF("g", "id", "m")
    val got = Relational.topKPerGroup(df, Seq("g"), col("m"), 2, Seq(col("id")))
      .select("g", "id", "rn").as[(String, Long, Int)].collect().sorted
    // ties on m=10 break by ascending id
    assert(got.toSeq == Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 1L, 1)))
  }

  test("distributionWithPct percentages sum to 100") {
    val df = Tables.orders(spark, sf0001)
    val pcts = Relational.distributionWithPct(df, "o_orderstatus")
      .select("pct").as[Double].collect()
    assert(math.abs(pcts.sum - 100.0) < 1e-9)
  }

  test("temporalPrefixSplit preserves multiset cardinality (no subtract dedup)") {
    // duplicate rows would vanish under except(); rank-split must keep them
    val df = Seq((1L, 1L), (1L, 1L), (2L, 2L), (3L, 3L), (3L, 3L))
      .toDF("ts", "id")
    val (train, test) = Relational.temporalPrefixSplit(df, "ts", "id", 3)
    assert(train.count() == 3 && test.count() == 2)
    assert(train.count() + test.count() == df.count())
  }

  test("stratifiedSplit is seeded-reproducible and partitions the input") {
    val df = Tables.orders(spark, sf0001)
    val (tr1, te1) = Relational.stratifiedSplit(df, "o_orderstatus", 0.7, 40,
      Seq("o_orderkey"))
    val (tr2, _) = Relational.stratifiedSplit(df, "o_orderstatus", 0.7, 40,
      Seq("o_orderkey"))
    assert(tr1.count() == tr2.count())
    assert(tr1.count() + te1.count() == df.count())
    // roughly proportional per class (binomial tolerance)
    val frac = tr1.count().toDouble / df.count()
    assert(frac > 0.6 && frac < 0.8)
  }

  test("tokenExplodeCount finds the most frequent token") {
    val df = Seq("a b", "a c", "a d").toDF("s")
    val top = Relational.tokenExplodeCount(df, "s", " ", 1)
      .as[(String, Long)].head()
    assert(top == ("a", 3L))
  }

  test("asofJoin picks latest right value at-or-before each left ts") {
    val left = Seq((1L, 5L, 100L), (1L, 12L, 101L), (2L, 3L, 102L),
      (3L, 9L, 103L)).toDF("k", "ts", "eid")
    val right = Seq((1L, 5L, "a"), (1L, 10L, "b"), (2L, 4L, "c"))
      .toDF("k", "rts", "v")
    val got = Relational.asofJoin(left, right, "k", "ts", "rts", "v")
      .select("eid", "v").as[(Long, Option[String])].collect().toMap
    assert(got(100L).contains("a"))  // tie at ts=5 is inclusive
    assert(got(101L).contains("b"))  // latest before 12 is 10
    assert(got(102L).isEmpty)        // right at 4 is after left 3 -> no match
    assert(got(103L).isEmpty)        // key with no right rows
  }

  test("saltedJoin equals plain inner join on skewed data") {
    // 90% of rows share one key — the classic hot-key shape
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("k", "v")
    val plain = big.join(small, "k").select("k", "payload", "v")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val salted = Relational.saltedJoin(big, small, "k", 8)
      .select("k", "payload", "v")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain && plain.size == 901)
  }

  test("bucketed tables join without a shuffle exchange") {
    // fresh in-memory catalog + leftover warehouse dir from a previous JVM
    // -> LOCATION_ALREADY_EXISTS; clear both before writing
    for (t <- Seq("orders_b", "customer_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"target/tmp/warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    graft.sources.Sources.writeBucketed(
      Tables.orders(spark, sf0001), "orders_b", "o_custkey", 4)
    graft.sources.Sources.writeBucketed(
      Tables.customer(spark, sf0001)
        .withColumnRenamed("c_custkey", "o_custkey"), "customer_b",
      "o_custkey", 4)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b").hint("merge"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == Tables.orders(spark, sf0001).count())
  }

  test("component-keyed split is leakage-safe where doc-keyed split is not") {
    import graft.operators.Dedup
    // five near-dup pairs (docs 2k/2k+1 share >0.8 of their 3-grams) plus
    // unique singletons — the corpus shape where per-doc hash splits leak
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (0L to 9L).map { i =>
      val twin = if (i % 2 == 0) base else base + " extra" + (i / 2)
      (i, twin)
    } ++ (10L to 19L).map(i => (i, (1 to 40).map(j => s"u${i}_$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.8)
    val comp = Dedup.componentIds(df, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("comp").as("component"))
    def sides(keyCol: String, seed: Long): Map[Long, String] =
      comp.select(col("doc_id"),
          when(Relational.fnvBucket(col(keyCol), seed) < 900000L, "train")
            .otherwise("test").as("side"))
        .as[(Long, String)].collect().toMap
    val pairIds = (0L to 9L).grouped(2).map(g => (g.head, g.last)).toSeq
    var docKeyedLeaks = 0
    for (seed <- 1L to 20L) {
      val byComp = sides("component", seed)
      // component-keyed: NO pair may ever straddle the split, any seed
      pairIds.foreach { case (a, b) =>
        assert(byComp(a) == byComp(b), s"seed=$seed leaked pair ($a,$b)")
      }
      val byDoc = sides("doc_id", seed)
      docKeyedLeaks += pairIds.count { case (a, b) => byDoc(a) != byDoc(b) }
    }
    // doc-keyed hashing splits some twin apart for some seed — the bug
    assert(docKeyedLeaks > 0, "expected doc-keyed split to leak somewhere")
  }

  test("decSum is exact and partition-order independent") {
    val vals = Seq.fill(1000)(0.1)
    val a = vals.toDF("x").repartition(1)
      .agg(Relational.decSum(col("x"))).as[Double].head()
    val b = vals.toDF("x").repartition(7)
      .agg(Relational.decSum(col("x"))).as[Double].head()
    assert(a == b && a == 100.0)
  }

  test("scaledLongSum equals decSum on in-contract values, " +
      "partition-order independent") {
    // the fast path's contract: values exact at <= 4 decimal digits
    val vals = Seq(1.0, 2.25, 49.0, 0.0001, 12.3456, 7.5, 1e9)
    val df = vals.toDF("v")
    def one(d: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      d.agg(c).head().getDouble(0)
    assert(one(df, Relational.scaledLongSum(col("v")))
      == one(df, Relational.decSum(col("v"))))
    assert(one(df.repartition(7), Relational.scaledLongSum(col("v")))
      == one(df, Relational.scaledLongSum(col("v"))))
    // and on the real fixture column the two sums agree exactly
    val li = Tables.lineitem(spark, sf0001)
    assert(one(li, Relational.scaledLongSum(col("l_quantity")))
      == one(li, Relational.decSum(col("l_quantity"))))
  }

  test("packBinsNoSplit: capacity, in-bin layout, and overlong isolation laws") {
    // synthetic weights engineered to force every transition: exact fits,
    // overflow-to-next-bin, and an overlong (w > ctx) doc
    val rows = (1L to 200L).map(i =>
      (i, if (i == 50L) 900L else 1L + (i * 37L) % 400L))
    val df = rows.toDF("doc_id", "n_tok")
    val packed = Relational.packBinsNoSplit(df, "doc_id", "n_tok",
        buckets = 4, ctx = 512, seed = 9L)
      .join(df, Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"),
        r.getAs[Long]("bin"), r.getAs[Long]("off"), r.getAs[Long]("n_tok")))
    // every doc appears exactly once, whole (no-split by construction)
    assert(packed.length == 200 && packed.map(_._1).distinct.length == 200)
    // capacity: a bin's total weight fits ctx unless it is a single
    // overlong doc's dedicated bin
    packed.groupBy(p => (p._2, p._3)).foreach { case ((bk, bin), ds) =>
      val total = ds.map(_._5).sum
      assert(total <= 512 || (ds.length == 1 && ds.head._5 > 512),
        s"bucket $bk bin $bin overfilled: $total with ${ds.length} docs")
    }
    // in-bin layout: ascending-id docs tile the bin contiguously from 0
    packed.groupBy(p => (p._2, p._3)).foreach { case (_, ds) =>
      val sorted = ds.sortBy(_._1)
      var expect = 0L
      sorted.foreach { d =>
        assert(d._4 == expect, s"doc ${d._1} off ${d._4} != $expect")
        expect += d._5
      }
    }
    // the overlong doc sits alone at off 0
    val big = packed.find(_._1 == 50L).get
    assert(big._4 == 0L &&
      packed.count(p => (p._2, p._3) == ((big._2, big._3))) == 1)
  }

  test("packBinsNoSplit: assignment is partition-independent") {
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long")
        .as("n_tok"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.packBinsNoSplit(d, "doc_id", "n_tok",
          buckets = 8, ctx = 512, seed = 17L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(run(df) == run(df.repartition(13)),
      "packing must not depend on input partitioning")
  }

  test("ksStatistic: identical, disjoint, and hand-computed shifted cohorts") {
    def ks(rows: Seq[(Int, Double)]): (Long, Long, Double) = {
      val r = Relational.ksStatistic(rows.toDF("side", "value"),
        "side", "value").head()
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("ks"))
    }
    // identical distributions: D = 0 exactly
    val same = (1 to 50).flatMap(i =>
      Seq((0, i.toDouble), (1, i.toDouble)))
    assert(ks(same) == ((50L, 50L, 0.0)))
    // disjoint supports: D = 1 exactly
    val disjoint = (1 to 30).map(i => (0, i.toDouble)) ++
      (1 to 30).map(i => (1, 100.0 + i))
    assert(ks(disjoint) == ((30L, 30L, 1.0)))
    // hand-computed: A = {1,2,3,4}, B = {3,4,5,6} -> max gap at v=2:
    // F_A(2)=0.5, F_B(2)=0 -> D = 0.5
    val shifted = Seq(1.0, 2.0, 3.0, 4.0).map((0, _)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map((1, _))
    assert(ks(shifted) == ((4L, 4L, 0.5)))
  }

  test("ksStatistic at a 1M-distinct domain: exact, and the cumulative " +
      "windows are bucket-partitioned, never one partition") {
    // round-11 verdict #2: exact KS needs a global ECDF, but the ordered
    // cumulative must never run as ONE partition-less window over the
    // distinct-value histogram — at a large domain that is a single-task
    // funnel. Continuous-ish cohorts (hash-derived doubles, ~every row
    // its own histogram value; side 1 shifted +0.1) exercise exactly the
    // regime the old shape fell over in.
    val n = 1000000L
    val rows = spark.range(n).select(
      (col("id") % 2).cast("int").as("side"),
      (pmod(xxhash64(col("id"), col("id") % 2), lit(1000000007L))
        .cast("double") / 1e9 +
        when(col("id") % 2 === 1, 0.1).otherwise(0.0)).as("value"))
    val out = Relational.ksStatistic(rows, "side", "value")
    // plan shape: any window NOT partitioned by the bucket column may
    // only run over the |buckets|-row offsets frame (all-__-prefixed /
    // internal columns) — a partition-less window whose child carries
    // the histogram columns (value/ca/cb) would be the old
    // single-task cumulative. AQE off for this probe only: its wrapper
    // hides the node tree from collect until execution.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val exec = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Relational.ksStatistic(rows, "side", "value")
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val winNodes = exec.collect { case p if p.nodeName == "Window" => p }
    assert(winNodes.nonEmpty, "expected Window nodes in the KS plan")
    winNodes.foreach { w =>
      val s = w.simpleString(10000)
      val bktPartitioned =
        "windowspecdefinition\\(__bkt#\\d+, ".r.findFirstIn(s).isDefined
      if (!bktPartitioned) {
        val cols = w.children.head.output.map(_.name)
        assert(cols.forall(c => c.startsWith("__") || c.startsWith("_we")),
          s"window not partitioned by bucket runs over a non-bounded " +
            s"frame: cols=$cols")
      }
    }
    assert(winNodes.exists(w => "windowspecdefinition\\(__bkt#\\d+, "
        .r.findFirstIn(w.simpleString(10000)).isDefined),
      "the value cumulative must be PARTITIONED by bucket")
    // exactness against a driver-computed KS over the same rows
    val data = rows.as[(Int, Double)].collect()
    val a = data.collect { case (0, v) => v }.sorted
    val b = data.collect { case (1, v) => v }.sorted
    def ecdf(xs: Array[Double], v: Double): Double = {
      var lo = 0; var hi = xs.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (xs(m) <= v) lo = m + 1 else hi = m
      }
      lo.toDouble / xs.length
    }
    val vs = (a ++ b).distinct
    val expected = vs.map(v => math.abs(ecdf(a, v) - ecdf(b, v))).max
    val r = out.head()
    assert(r.getAs[Long]("n_a") == a.length.toLong)
    assert(r.getAs[Long]("n_b") == b.length.toLong)
    assert(r.getAs[Long]("n_values") == vs.length.toLong)
    assert(math.abs(r.getAs[Double]("ks") - expected) <= 1e-6,
      s"ks ${r.getAs[Double]("ks")} vs driver-exact $expected")
  }

  test("ksBucketCount scales with the measured domain (r12 verdict #4)") {
    // never below the session's shuffle parallelism ...
    assert(Relational.ksBucketCount(100000L, 65536L, 32) == 32)
    // ... grows linearly once buckets would exceed the window budget ...
    assert(Relational.ksBucketCount(1000000L, 65536L, 4) == 16)
    assert(Relational.ksBucketCount(10000000L, 65536L, 32) == 153)
    assert(Relational.ksBucketCount(1000000000L, 65536L, 32) == 15259)
    // ... and caps where the cut array stops being a boundary scalar
    assert(Relational.ksBucketCount(Long.MaxValue / 4, 65536L, 32) == 65536)
  }

  test("binnedRangeJoin: lossless vs the nested-loop join, NULL/empty laws") {
    val points = Seq((1L, 0.5), (2L, 3.0), (3L, 7.25), (4L, 10.0),
      (5L, -2.5), (6L, 249.99), (7L, 250.0), (8L, 1e6))
      .toDF("pid", "p")
      .unionByName(Seq(Tuple1(9L)).toDF("pid")
        .withColumn("p", lit(null).cast("double")))
    val ivals = Seq(
      (10L, 0.0, 3.0),      // spans bins {0} at w=250; matches p=0.5, 3.0
      (11L, -5.0, -1.0),    // negative range: floor bins are negative
      (12L, 7.25, 7.25),    // degenerate single point, inclusive both ends
      (13L, 240.0, 260.0),  // straddles the w=250 bin boundary
      (14L, 5.0, 2.0),      // empty (hi < lo): must vanish, not throw
      (15L, 0.0, 2000.0))   // wide interval exploded across 9 bins
      .toDF("iid", "lo", "hi")
      .unionByName(Seq(Tuple1(16L)).toDF("iid")
        .withColumn("lo", lit(null).cast("double"))
        .withColumn("hi", lit(100.0)))
    val got = Relational.binnedRangeJoin(points, ivals, "p", "lo", "hi", 250.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // ground truth from the naive predicate join (cross + filter)
    val want = points.filter(col("p").isNotNull).crossJoin(
        ivals.filter(col("lo").isNotNull))
      .filter(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == want, s"binned != nested-loop: got $got want $want")
    assert(want.contains((5L, 11L)), "negative-domain bins must work")
    assert(want.contains((3L, 12L)), "degenerate interval is inclusive")
    assert(got.forall(_._2 != 14L) && got.forall(_._2 != 16L))
    // plan law: the rewrite must be an equi-join — never a nested loop
    val plan = Relational.binnedRangeJoin(points, ivals, "p", "lo", "hi", 250.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("weightedPoissonSample: exact-π laws, HT exactness at π=1, " +
      "weight edge cases, and partition independence") {
    // all-heavy fixture: every w·k ≥ W so every π = 1 — the sample IS
    // the population and the HT estimate must equal the exact total
    val heavy = (1L to 20L).map(i => (i, 100L)).toDF("id", "w")
    val allIn = Relational.weightedPoissonSample(heavy, "id", "w",
      k = 20L, seed = 7L)
    assert(allIn.count() == 20L)
    assert(allIn.select("__t").distinct().as[Long].collect().toSeq
      == Seq(1000000L), "π must cap at exactly 1")
    val ht = allIn.select(sum(col("w").cast("double") * 1000000.0
      / col("__t"))).as[Double].head()
    assert(ht == 2000.0, s"HT at π=1 must equal the exact total, got $ht")
    // zero/negative/NULL weights are never sampled
    val mixed = Seq((1L, 50L), (2L, 0L), (3L, -5L)).toDF("id", "w")
      .unionByName(Seq(Tuple1(4L)).toDF("id")
        .withColumn("w", lit(null).cast("long")))
    val keptIds = Relational.weightedPoissonSample(mixed, "id", "w",
        k = 100L, seed = 7L).select("id").as[Long].collect().toSet
    assert(keptIds == Set(1L), s"only the positive-weight row: $keptIds")
    // membership is a pure (id, seed, weights) function — layout-free
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"),
      length(col("text")).cast("long").as("w"))
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      Relational.weightedPoissonSample(d, "doc_id", "w", k = 10L, seed = 3L)
        .select("doc_id").as[Long].collect().toSeq.sorted
    val base = ids(docs)
    assert(base.nonEmpty && base == ids(docs.repartition(13)))
    // heavier rows can only RAISE inclusion: every sampled doc's bucket
    // is under its own threshold by construction; spot the monotonicity
    // by doubling all weights (π doubles pre-cap, so the set can only
    // grow — W doubles too, thresholds identical... so assert equality)
    assert(ids(docs.withColumn("w", col("w") * 2L)) == base,
      "uniform weight scaling must not change membership (t is scale-free)")
  }

  test("sequentialPoissonSample: exactly k, weight-monotone, " +
      "layout-independent, degenerate weights excluded") {
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"),
      length(col("text")).cast("long").as("w"))
    def ids(d: org.apache.spark.sql.DataFrame, k: Int, seed: Long) =
      Relational.sequentialPoissonSample(d, "doc_id", "w", k, seed)
        .select("doc_id").as[Long].collect().toSeq.sorted
    val base = ids(docs, 15, 9L)
    assert(base.size == 15, "exactly k rows")
    assert(base == ids(docs.repartition(13), 15, 9L), "layout-free")
    // weight monotone: boost one unsampled doc's weight to astronomically
    // heavy — its priority -> ~0, it MUST enter the sample
    val out = docs.filter(!col("doc_id").isin(base: _*))
      .select("doc_id").as[Long].head()
    val boosted = docs.withColumn("w",
      when(col("doc_id") === out, lit(1000000000L)).otherwise(col("w")))
    assert(ids(boosted, 15, 9L).contains(out),
      "an overwhelming weight must win a slot")
    // zero/negative/NULL weights never sampled, even at k > population
    val mixed = Seq((1L, 5L), (2L, 0L), (3L, -1L)).toDF("doc_id", "w")
      .unionByName(Seq(Tuple1(4L)).toDF("doc_id")
        .withColumn("w", lit(null).cast("long")))
    assert(ids(mixed, 10, 9L) == Seq(1L))
    // the plan is a bounded partial top-k, never a global sort
    val plan = Relational.sequentialPoissonSample(docs, "doc_id", "w",
      15, 9L).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"must select via bounded partial top-k:\n$plan")
  }

  test("binned joins fail FAST on a wide-interval fan-out, not by " +
      "exploding the shuffle") {
    // one pathological interval (span/w = 40k bins) must raise a clear
    // error naming the fix — the alternative at 100 TB is a quiet
    // billions-of-rows explode and an executor-disk blowout
    val points = Seq((1L, 5.0)).toDF("pid", "p")
    val ivals = Seq((1L, 0.0, 10000.0)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      Relational.binnedRangeJoin(points, ivals, "p", "lo", "hi",
        binWidth = 0.25, maxBinsPerInterval = 1024).collect()
    }
    def rootMsg(t: Throwable): String =
      (t.getMessage + Option(t.getCause).map(rootMsg).getOrElse(""))
    assert(rootMsg(e).contains("raise binWidth"), rootMsg(e))
    // under the cap the same join runs fine
    val ok = Relational.binnedRangeJoin(points, ivals, "p", "lo", "hi",
      binWidth = 250.0, maxBinsPerInterval = 1024)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    assert(ok == Seq((1L, 1L)))
  }

  test("binnedIntervalJoin: exactly-once pairs via bin ownership, " +
      "vs the nested-loop ground truth") {
    // wide intervals sharing MANY bins are the duplicate hazard: without
    // the owned-bin filter, (20, 30) would surface once per shared bin
    val lefts = Seq(
      (1L, 0.0, 2000.0),   // spans 9 bins at w=250
      (2L, 100.0, 120.0),
      (3L, -600.0, -100.0),
      (4L, 500.0, 400.0))  // empty: must vanish
      .toDF("lid", "l_lo", "l_hi")
    val rights = Seq(
      (20L, 900.0, 1900.0),  // overlaps lid=1 across 5 shared bins
      (21L, 110.0, 115.0),   // nested inside lid=2
      (22L, -50.0, 150.0),   // crosses zero, overlaps 2 and 3? (-50>-100)
      (23L, 3000.0, 4000.0)) // disjoint from everything
      .toDF("rid", "r_lo", "r_hi")
    val got = Relational.binnedIntervalJoin(lefts, rights,
        "l_lo", "l_hi", "r_lo", "r_hi", 250.0)
      .groupBy("lid", "rid").count()
      .as[(Long, Long, Long)].collect().toSet
    val want = lefts.filter(col("l_lo") <= col("l_hi")).crossJoin(rights)
      .filter(col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got.map { case (l, r, _) => (l, r) } == want,
      s"pair sets differ: $got vs $want")
    assert(got.forall(_._3 == 1L),
      s"a pair surfaced in more than one bin: $got")
    assert(want.contains((1L, 20L)), "the many-shared-bin case must match")
    assert(!want.exists(_._1 == 4L))
    val plan = Relational.binnedIntervalJoin(lefts, rights,
        "l_lo", "l_hi", "r_lo", "r_hi", 250.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("rankSweepAgg: pair-free range aggregate equals the pair join, " +
      "boundary-tie and zero-pair laws") {
    // adversarial fixture: duplicate values, probe endpoints EXACTLY
    // equal to point values (the le/lt boundary), negatives, a probe
    // group with zero qualifying pairs, and multiple cross-key groups
    val rnd = new scala.util.Random(7)
    val pts = (1 to 400).map { i =>
      ("RF" + (i % 3),
        math.floor(rnd.nextDouble() * 40) - 20 +
          (if (i % 5 == 0) 0.5 else 0.0),
        1L, (rnd.nextInt(100) + 1).toLong)
    }.toDF("rf", "v", "one", "q")
    val bandRows = (1 to 120).map { i =>
      val lo = math.floor(rnd.nextDouble() * 50) - 25
      ("P" + (i % 4), lo, lo + rnd.nextInt(8).toDouble)
    } :+ (("PZ", 1000.0, 1001.0)) // no point can qualify
    val bands = bandRows.toDF("pg", "lo", "hi")
    val probes = bands.select(col("pg"), col("hi").as("x"),
        lit(1L).as("sgn"), lit(true).as("le"))
      .unionByName(bands.select(col("pg"), col("lo").as("x"),
        lit(-1L).as("sgn"), lit(false).as("le")))
    val got = Relational.rankSweepAgg(pts, probes,
        crossKeys = Seq("rf"), matchKeys = Seq.empty,
        vCol = "v", measures = Seq("one", "q"),
        probeKeys = Seq("pg"), xCol = "x", signCol = "sgn", leCol = "le")
      .select(col("rf"), col("pg"), col("one").cast("long"),
        col("q").cast("long"))
      .as[(String, String, Long, Long)].collect()
      .map { case (rf, pg, n, s) => (rf, pg) -> ((n, s)) }.toMap
    val want = pts.crossJoin(bands)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("rf", "pg").agg(count(lit(1)).as("n"), sum("q").as("s"))
      .as[(String, String, Long, Long)].collect()
      .map { case (rf, pg, n, s) => (rf, pg) -> ((n, s)) }.toMap
    assert(want.nonEmpty && want.forall { case (k, v) => got.get(k)
      .contains(v) }, s"sweep != pair join:\n got=$got\nwant=$want")
    // groups absent from the pair join net to exactly zero in the sweep
    assert(got.filterNot { case (k, _) => want.contains(k) }
      .forall(_._2 == ((0L, 0L))), s"phantom non-zero group: $got")
    // every zero-pair (rf, PZ) group is present and zero (the caller's
    // n>0 filter is what reproduces pair-join group absence)
    assert(got.keySet.filter(_._2 == "PZ").nonEmpty)
  }

  test("rankSweepAgg: interval-overlap decomposition (q133 shape) " +
      "equals the pair join via the side match key") {
    val rnd = new scala.util.Random(11)
    val iv = (1 to 300).map { i =>
      val a = math.floor(rnd.nextDouble() * 60) - 30
      ("RF" + (i % 2), a, a + rnd.nextInt(6).toDouble,
        (rnd.nextInt(50) + 1).toLong)
    }.toDF("rf", "a", "b", "q")
    val dist = iv.select(lit("lo").as("side"), col("rf"),
        col("a").as("v"), lit(1L).as("one"), col("q"))
      .unionByName(iv.select(lit("hi").as("side"), col("rf"),
        col("b").as("v"), lit(1L).as("one"), col("q")))
    val bandRows = (1 to 80).map { i =>
      val lo = math.floor(rnd.nextDouble() * 70) - 35
      ("P" + (i % 3), lo, lo + rnd.nextInt(10).toDouble)
    }
    val bands = bandRows.toDF("pg", "lo", "hi")
    val probes = bands.select(lit("lo").as("side"), col("pg"),
        col("hi").as("x"), lit(1L).as("sgn"), lit(true).as("le"))
      .unionByName(bands.select(lit("hi").as("side"), col("pg"),
        col("lo").as("x"), lit(-1L).as("sgn"), lit(false).as("le")))
    val got = Relational.rankSweepAgg(dist, probes,
        crossKeys = Seq("rf"), matchKeys = Seq("side"),
        vCol = "v", measures = Seq("one", "q"),
        probeKeys = Seq("pg"), xCol = "x", signCol = "sgn", leCol = "le")
      .groupBy("rf", "pg")
      .agg(sum("one").as("one"), sum("q").as("q"))
      .filter(col("one") > 0)
      .select(col("rf"), col("pg"), col("one").cast("long"),
        col("q").cast("long"))
      .as[(String, String, Long, Long)].collect()
      .map { case (rf, pg, n, s) => (rf, pg) -> ((n, s)) }.toMap
    val want = iv.crossJoin(bands)
      .filter(col("a") <= col("hi") && col("lo") <= col("b"))
      .groupBy("rf", "pg").agg(count(lit(1)).as("n"), sum("q").as("s"))
      .as[(String, String, Long, Long)].collect()
      .map { case (rf, pg, n, s) => (rf, pg) -> ((n, s)) }.toMap
    assert(want.nonEmpty && got == want,
      s"interval sweep != pair join:\n got=$got\nwant=$want")
  }

  test("rankSweepAgg: cut source covers the probe domain (r19 skew " +
      "advice) and the per-key overflow guard fires") {
    // probes live ENTIRELY outside the value domain — with value-only
    // cuts every probe would land past max(v) in one (keys, bucket)
    // window; the combined cut source must earn the probe region its
    // own buckets (and keep cuts in the value region too)
    val pts = (0 until 200).map(i => ("k", i.toDouble, 1L))
      .toDF("k", "v", "one")
    val probes = (0 until 200)
      .map(i => ("p", 1000.0 + i, 1L, true)).toDF("pg", "x", "sgn", "le")
    val collapsed = Relational.rankSweepCollapsed(
      pts, Seq("k"), "v", Seq("one"))
    val cuts = Relational.ksCutsFrame(
        Relational.rankSweepCutSource(collapsed, "v", probes, "x"),
        "__swv", 8)
      .head().getSeq[Double](0)
    assert(cuts.exists(_ > 199.0), s"no cut in the probe region: $cuts")
    assert(cuts.exists(_ <= 199.0), s"no cut in the value region: $cuts")
    // ranks stay exact with the combined cuts (all probes past max v)
    val swept = Relational.rankSweepAgg(pts, probes,
        crossKeys = Seq("k"), matchKeys = Seq.empty,
        vCol = "v", measures = Seq("one"),
        probeKeys = Seq("pg"), xCol = "x", signCol = "sgn", leCol = "le")
      .select(col("one").cast("long")).as[Long].collect()
    assert(swept.toSeq == Seq(200L * 200L),
      s"probe-outside-domain ranks wrong: ${swept.toSeq}")
    // the caller contract "every true rank total fits a long" is now
    // ENFORCED: a per-key absolute measure total past Long range must
    // refuse at construction time instead of wrapping silently
    val big = Seq(("k", 1.0, Long.MaxValue), ("k", 2.0, Long.MaxValue))
      .toDF("k", "v", "m")
    val p2 = Seq(("p", 1.5, 1L, true)).toDF("pg", "x", "sgn", "le")
    val e = intercept[IllegalArgumentException] {
      Relational.rankSweepAgg(big, p2,
        crossKeys = Seq("k"), matchKeys = Seq.empty,
        vCol = "v", measures = Seq("m"),
        probeKeys = Seq("pg"), xCol = "x", signCol = "sgn", leCol = "le")
    }
    assert(e.getMessage.contains("exceeds Long range"), e.getMessage)
  }

  test("rankSweepAgg: a per-value measure total past Long range trips " +
      "the overflow guard") {
    // two rows at the same (keys, value) collapse to Long.MaxValue + 1:
    // the guard must see that exact total, not a wrapped long sum (which
    // passes it without ANSI) or the collapse's own overflow error (ANSI)
    val half = Long.MaxValue / 2 + 1
    val dist = Seq(("k", 1.0, half), ("k", 1.0, half)).toDF("k", "v", "m")
    val probes = Seq(("p", 1.5, 1L, true)).toDF("pg", "x", "sgn", "le")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { mode =>
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val e = intercept[IllegalArgumentException] {
        Relational.rankSweepAgg(dist, probes,
          crossKeys = Seq("k"), matchKeys = Seq.empty,
          vCol = "v", measures = Seq("m"),
          probeKeys = Seq("pg"), xCol = "x", signCol = "sgn", leCol = "le")
      }
      assert(e.getMessage.contains("exceeds Long range"), s"ansi=$mode")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("profile: null handling, exact distincts, and non-numeric slots") {
    val df = Seq(
      (Some(1L), Some("a"), Some(2.5)),
      (Some(1L), None, Some(2.5)),
      (None, Some("b"), Some(5.0)),
      (Some(3L), Some("a"), None))
      .toDF("k", "s", "v")
    val rows = Relational.profile(df, Seq("k", "s", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    assert(k.getLong(1) == 3 && k.getLong(2) == 2) // nonnull, distinct
    assert(k.getDouble(3) == 1.0 && k.getDouble(4) == 3.0)
    val s = rows("s")
    assert(s.getLong(1) == 3 && s.getLong(2) == 2)
    assert(s.isNullAt(3) && s.isNullAt(4) && s.isNullAt(5))
    val v = rows("v")
    assert(v.getLong(1) == 3 && v.getLong(2) == 2)
    assert(v.getDouble(5) == math.rint((2.5 + 2.5 + 5.0) / 3 * 1e6) / 1e6)
  }
}
