package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.cachedBuild
import graft.functions.TextFunctions
import graft.functions.TextFunctions.WS
import graft.operators.Relational
import graft.sources.Sources
import graft.queries.QueryShared._

/** Relational queries: TPC-H-shaped aggregations, joins, set operations,
  * windows, splits, layout and interchange round trips, range joins,
  * mergeable sketches and data-quality reports.
  */
object RelationalQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- Aggregations (SURVEY §2.4) ------------------------------------
    // TPC-H-Q1-shaped pricing summary: groupBy + sum/avg/count with derived
    // measures. Ref shape: claims distribution tables Claims_Prediction.py:67-77
    // and higgs metric aggregates.
    QueryDef("q01_pricing_summary", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy("l_returnflag", "l_linestatus").agg(
          Relational.decSum(col("l_quantity")).as("sum_qty"),
          Relational.decSum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("sum_disc_price"),
          Relational.decAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some("""SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    // Top-N-per-group as a window function (idiomatic upgrade of
    // log_mining_analysis.py:43-51's three filtered+sorted frames).
    QueryDef("q02_top_users_per_type", (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      Relational.topKPerGroup(counts, Seq("event_type"), col("cnt"), 3,
          Seq(col("user_id")))
        .withColumn("rn", col("rn").cast("long"))
        .select("event_type", "user_id", "cnt", "rn")
        .orderBy("event_type", "rn")
    }, oracle = Some(topUsersSql)),

    // Distribution + percentage column (Claims_Prediction.py:46-47,67-77).
    QueryDef("q03_status_distribution", (s, dir) =>
      Relational.distributionWithPct(Tables.orders(s, dir), "o_orderstatus"),
      oracle = Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
         CAST(COUNT(*) AS DOUBLE) * 100 / SUM(COUNT(*)) OVER () AS pct
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      // global-aggregate final merge (one row through one task)
      accepted = Set("SinglePartition-exchange")),

    // ---- Projection / filter / predicate pushdown (SURVEY §2.2) --------
    // Filter + narrow projection; PushedFilters + 3-column ReadSchema reach
    // the parquet scan. Ref shape: log_mining_analysis.py:32-34,113.
    QueryDef("q04_filter_pushdown", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      oracle = Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""")),

    // ---- Joins (SURVEY §2.3) -------------------------------------------
    // 4-way inner equi-join; nation/region auto-broadcast (Catalyst size
    // threshold), orders⋈customer shuffles on the key. Ref:
    // als_clustering_analysis.py:129,134-136.
    QueryDef("q05_revenue_by_nation", (s, dir) => {
      val o = Tables.orders(s, dir); val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
             Relational.decSum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    }, oracle = Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ---- split + explode + count (SURVEY §2.8 F2/F5; als:138-144) ------
    QueryDef("q06_name_token_count", (s, dir) =>
      Relational.tokenExplodeCount(Tables.part(s, dir), "p_name", " ", 10),
      oracle = Some("""SELECT token, COUNT(*) AS cnt FROM (
           SELECT unnest(string_split(p_name, ' ')) AS token FROM part
         ) t GROUP BY token
         ORDER BY cnt DESC, token LIMIT 10""")),

    // ---- Set ops (SURVEY §2.7): EXCEPT-DISTINCT (als:49 semantics) -----
    QueryDef("q08_except_users", (s, dir) => {
      val e = Tables.events(s, dir)
      e.select("user_id").distinct()
        .except(e.filter(col("event_type") === "purchase" && col("value") > 195)
          .select("user_id").distinct())
        .orderBy("user_id")
    }, oracle = Some("""SELECT DISTINCT user_id FROM events
         EXCEPT
         SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase' AND value > 195
         ORDER BY user_id""")),

    // unionAll accumulation (Claims_Prediction.py:52-53).
    QueryDef("q09_union_status", (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_totalprice") > 200000)
        .unionAll(o.filter(col("o_orderstatus") === "F"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }, oracle = Some("""SELECT o_orderstatus, COUNT(*) AS cnt FROM (
           SELECT * FROM orders WHERE o_totalprice > 200000
           UNION ALL
           SELECT * FROM orders WHERE o_orderstatus = 'F')
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // distinct after join (als_clustering_analysis.py:127).
    QueryDef("q10_distinct_nation", (s, dir) => {
      val c = Tables.customer(s, dir); val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select("n_name").distinct().orderBy("n_name")
    }, oracle = Some("""SELECT DISTINCT n_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey ORDER BY n_name""")),

    // Anti/semi joins — the scalable NOT IN / EXISTS shapes.
    QueryDef("q11_customers_no_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }, oracle = Some("""SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 450000)
         ORDER BY c_custkey""")),

    QueryDef("q12_customers_big_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }, oracle = Some("""SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""")),

    // Global aggregates incl. countDistinct (log:40,60-62; SURVEY A5-A7).
    QueryDef("q17_global_stats", (s, dir) =>
      Tables.events(s, dir).agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("users"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        Relational.decSum(col("value")).as("v_sum")),
      oracle = Some("""SELECT COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS users,
             MIN(value) AS v_min, MAX(value) AS v_max,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS v_sum
         FROM events"""),
      // global-aggregate final merge (one row through one task)
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: Z-ORDER (Morton) layout key -----------------------
    // The write-side layout primitive for 100 TB tables range-filtered on
    // TWO columns: sort by the bit-interleaved key and every parquet row
    // group's z-range covers a small aligned rectangle in (x, y) space, so
    // min/max stats prune files for 2-D predicates where a plain sort only
    // prunes its leading column (Delta/Iceberg OPTIMIZE ZORDER; measured
    // here by ZOrderScanNote). The fixture keys are small (≤ 2^11 at
    // sf0.01), so the query first SCATTERS them across the full 31-bit
    // domain with Knuth multiplicative hashes — exercising every step of
    // the spread schedule under the oracle, not just the low bits — then
    // emits the row-level z and its t=23 tile (z >> 46 = morton of the
    // top-8-bit tile coords: the locality law LayoutSpec proves for all t).
    // Pure narrow bitwise arithmetic — codegen'd built-ins, no shuffle, no
    // UDF; the DuckDB oracle re-derives the identical fold from the SAME
    // spreadSteps constants (interpolated, so the engines cannot drift).
    QueryDef("q85_zorder_key", (s, dir) => {
      import graft.functions.LayoutFunctions
      // scatter = Knuth multiplicative hash mod 2^31, with the KEY reduced
      // mod 2^31 BEFORE the multiply: congruence keeps the result identical
      // while (2^31-1) * a ≈ 5.7e18 stays inside a signed long — ANSI-safe
      // at any fixture scale (x10's shifted orderkeys overflowed the naive
      // key * a form; caught by the scale bench, fixed by reduction)
      def scatter(c: Column, a: Long): Column =
        pmod(pmod(c, lit(2147483648L)) * lit(a), lit(2147483648L))
      val li = Tables.lineitem(s, dir)
      li.select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          scatter(col("l_orderkey"), 2654435761L).as("x"),
          scatter(col("l_partkey"), 2246822519L).as("y"))
        .withColumn("z", LayoutFunctions.morton(col("x"), col("y")))
        .withColumn("tile", shiftright(col("z"), 46))
        .orderBy("z", "l_orderkey", "l_linenumber")
    },
      // q85 oracle: the Morton fold as a CTE chain — one CTE per
      // [[graft.functions.LayoutFunctions.spreadSteps]] entry, constants
      // INTERPOLATED from that single source so the two engines' z-values
      // cannot drift. Each step is the same overflow-free rewrite the Column
      // fold uses: `((v & (m>>>s)) << s) | (v & m)`, masked before shifted so
      // nothing crosses bit 62 (DuckDB BIGINT stays in-lane, like Spark's).
      oracle = Some({
        val steps = graft.functions.LayoutFunctions.spreadSteps
        val chain = steps.zipWithIndex.map { case ((sh, m), i) =>
          s"""z${i + 1} AS (
           SELECT l_orderkey, l_linenumber, x, y,
             (((zx & ${m >>> sh}) << $sh) | (zx & $m)) AS zx,
             (((zy & ${m >>> sh}) << $sh) | (zy & $m)) AS zy
           FROM z$i)"""
        }.mkString(",\n         ")
        s"""WITH sc AS (
           SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             ((l_orderkey % 2147483648) * 2654435761) % 2147483648 AS x,
             ((l_partkey % 2147483648) * 2246822519) % 2147483648 AS y
           FROM lineitem),
         z0 AS (SELECT l_orderkey, l_linenumber, x, y, x AS zx, y AS zy
                FROM sc),
         $chain
         SELECT l_orderkey, l_linenumber, x, y,
           (zx | (zy << 1)) AS z,
           (zx | (zy << 1)) >> 46 AS tile
         FROM z${steps.size}
         ORDER BY z, l_orderkey, l_linenumber"""
      })),

    // ---- North-star: Z-ORDER read-through gate -------------------------
    // q85 proves the Morton KEY; this gates the full write→read layout
    // loop: rewrite lineitem z-ordered on (l_partkey, l_suppkey) via
    // Sources.writeZOrdered, then answer a 2-D box aggregate FROM THE
    // WRITTEN COPY — the oracle runs the same predicate over the original
    // fixture, so a green row proves the layout rewrite lost/duplicated
    // nothing while ZOrderScanNote separately measures the min/max
    // pruning the layout buys. The file count is derived from the
    // fixture's byte size against a target file size (the ~128-1024 MiB
    // rule at 100 TB, scaled to 4 MiB here so every SF exercises the
    // multi-file range shuffle), never hard-coded.
    QueryDef("q90_zorder_scan", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      val out = cachedBuild(dir, "lineitem.parquet", "target/q90_zorder",
          params = "z=l_partkey,l_suppkey:tb=4194304") {
        p => Sources.writeZOrdered(li, "l_partkey", "l_suppkey", p,
          files = Sources.filesForTargetSize(s"$dir/lineitem.parquet",
            targetBytes = 4L << 20))
      }
      Tables.parquet(s, out)
        .filter(col("l_partkey").between(20, 120) &&
          col("l_suppkey").between(3, 7))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(28, 4)))
            .cast("double").as("qty"))
        .orderBy("l_suppkey")
    },
      // The read-through gate's oracle runs the box aggregate over the
      // ORIGINAL fixture — agreement proves the z-order rewrite is a pure
      // relayout (no row lost, duplicated, or mutated).
      oracle = Some("""SELECT l_suppkey, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN 20 AND 120
           AND l_suppkey BETWEEN 3 AND 7
         GROUP BY l_suppkey ORDER BY l_suppkey""")),

    // ---- Splits (SURVEY §2.9 D1/D2). q36's bucket hash is the single-
    // sourced FNV-1a stream, so its per-stratum counts are fully oracled
    // (the oracle below); only q37 (randomSplit parity) remains
    // partition-dependent rows-only. ---------------------------------------
    QueryDef("q36_stratified_split_counts", (s, dir) => {
      val o = Tables.orders(s, dir)
      val (tr, te) = Relational.stratifiedSplit(o, "o_orderstatus", 0.7, 40,
        Seq("o_orderkey"))
      tr.groupBy("o_orderstatus").agg(count(lit(1)).as("tc"))
        .join(te.groupBy("o_orderstatus").agg(count(lit(1)).as("ec")),
          Seq("o_orderstatus"), "outer")
        .select(col("o_orderstatus"),
          coalesce(col("tc"), lit(0L)).as("train_cnt"),
          coalesce(col("ec"), lit(0L)).as("test_cnt"))
        .orderBy("o_orderstatus")
    },
      // q36 oracle: stratifiedSplit rides the same single-sourced FNV stream
      // (Relational.stratifiedSplit), so per-stratum train/test counts are a
      // pure function of (o_orderkey, seed) DuckDB re-derives independently —
      // upgraded round 6 from rows-only/golden to a full oracle.
      oracle = Some(fnvBucketCtes("orders", "o_orderkey", 40) + """
         SELECT o_orderstatus,
           CAST(SUM(CASE WHEN b < 700000 THEN 1 ELSE 0 END) AS BIGINT)
             AS train_cnt,
           CAST(SUM(CASE WHEN b >= 700000 THEN 1 ELSE 0 END) AS BIGINT)
             AS test_cnt
         FROM s GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Deterministic content-hash split (D-layer completion): membership is
    // a pure function of the id, so — unlike q36/q37's partition-dependent
    // splits — the FULL train/test assignment is oracle-checkable: DuckDB
    // re-derives the FNV-1a fold per id and must reproduce every row.
    QueryDef("q62_hash_split", (s, dir) => {
      val (tr, te) = Relational.hashSplit(
        Tables.orders(s, dir), "o_orderkey", 0.7, 40L)
      tr.select(col("o_orderkey"), lit("train").as("side"))
        .unionAll(te.select(col("o_orderkey"), lit("test").as("side")))
        .orderBy("o_orderkey")
    },
      // Content-hash split: full membership re-derived from the FNV fold.
      oracle = Some(fnvBucketCtes("orders", "o_orderkey", 40) + """
         SELECT o_orderkey,
           CASE WHEN b < 700000 THEN 'train' ELSE 'test' END AS side
         FROM s ORDER BY o_orderkey""")),

    QueryDef("q37_random_split_counts", (s, dir) => {
      val Array(a, b) = Tables.orders(s, dir)
        .randomSplit(Array(0.7, 0.3), seed = 40)
      import s.implicits._
      Seq(("train", a.count()), ("test", b.count()))
        .toDF("part", "cnt").orderBy("part")
    }),

    // ---- Set ops, multiset + intersect (SURVEY §2.7 completion) --------
    QueryDef("q42_except_all", (s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select("user_id")
        .exceptAll(e.filter(col("event_type") === "error").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .orderBy("user_id")
    }, oracle = Some("""SELECT user_id, COUNT(*) AS cnt FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           EXCEPT ALL
           SELECT user_id FROM events WHERE event_type = 'error')
         GROUP BY user_id ORDER BY user_id""")),

    QueryDef("q43_intersect_users", (s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    }, oracle = Some("""SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""")),

    // ---- Approximate aggregates (HLL — the 100 TB countDistinct path) --
    // TOLERANCE-gated (round-10 verdict #4): the raw HLL estimate is
    // engine-specific (can never hash-match DuckDB), so the query emits
    // the EXACT distinct plus an in-engine flag asserting the HLL estimate
    // sits within 3× its configured rsd of that exact value; the oracle
    // recomputes the exact distinct and expects the flag true — so a
    // broken HLL (or a broken exact path) fails the hash gate instead of
    // hiding behind rows-only. HLL++ is deterministic for fixed input, so
    // the banded flag is stable, and GoldenSpec separately pins the raw
    // estimates at sf0.01.
    QueryDef("q44_approx_distinct", (s, dir) =>
      Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"),
          approx_count_distinct("user_id", 0.05).as("approx_users"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx_users") - col("n_exact")).cast("double") <=
            lit(0.15) * col("n_exact")).as("within_rsd"))
        .orderBy("event_type"),
      // Tolerance gate for the HLL path: the oracle recomputes the exact
      // distinct and expects the engine's within-3·rsd flag to hold — the
      // engine-specific estimate itself never enters the hash (GoldenSpec
      // pins it at sf0.01 instead).
      oracle = Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
           true AS within_rsd
         FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- Window analytics beyond the reference (running agg, lag) ------
    QueryDef("q39_running_total", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir).select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(28, 4))).over(w)
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle = Some("""SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""")),

    QueryDef("q40_lag_delta", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir).select(
          col("o_custkey"), col("o_orderkey"),
          (col("o_totalprice") - lag("o_totalprice", 1).over(w))
            .as("delta_prev"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle = Some("""SELECT o_custkey, o_orderkey,
           o_totalprice - lag(o_totalprice, 1)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS delta_prev
         FROM orders ORDER BY o_custkey, o_orderkey""")),

    // ---- Pivot (wide aggregation) --------------------------------------
    QueryDef("q50_pivot_status", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Relational.decSum(col("l_quantity")))
        .orderBy("l_returnflag"),
      oracle = Some("""SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(28,4)) END) AS DOUBLE) AS F,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(28,4)) END) AS DOUBLE) AS O
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- As-of join (time-series enrichment; composed union+window) ----
    QueryDef("q46_asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ets"))
      val o = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("last_order"))
        .select(col("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp_ltz")).as("ots"),
          col("last_order"))
      Relational.asofJoin(e, o, "user_id", "ets", "ots", "last_order")
        .select("event_id", "user_id", "last_order")
        .orderBy("event_id")
    }, oracle = Some("""WITH o AS (
           SELECT o_custkey AS user_id, o_orderdate,
                  MAX(o_orderkey) AS last_order
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, o.last_order
         FROM events e
         ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
         ORDER BY e.event_id""")),

    // ---- Hierarchical aggregates (ROLLUP) ------------------------------
    // Expressed via spark.sql over temp views: exercises the SQL surface,
    // and sidesteps a DetectAmbiguousSelfJoin false positive on
    // rollup-after-join in the Dataset DSL (Expand re-emits grouping attrs).
    QueryDef("q41_rollup_counts", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      s.sql("""SELECT r_name, n_name, COUNT(*) AS cnt FROM customer_v
               JOIN nation_v ON c_nationkey = n_nationkey
               JOIN region_v ON n_regionkey = r_regionkey
               GROUP BY ROLLUP (r_name, n_name)
               ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    }, oracle = Some("""SELECT r_name, n_name, COUNT(*) AS cnt
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")),

    // ---- Approximate quantiles (the 100 TB percentile path) ------------
    // Greenwald-Khanna sketch; with accuracy > group size the rank error
    // is < 1, so the result is EXACTLY the discrete quantile and the
    // DuckDB quantile_disc oracle hash-matches — gating the sketch
    // machinery itself (the same primitive temporalPrefixSplit's
    // large-n boundary refinement builds on).
    QueryDef("q54_approx_quantiles", (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.25), lit(1000000)).as("p25"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000)).as("p50"),
          percentile_approx(col("o_totalprice"), lit(0.75), lit(1000000)).as("p75"))
        .orderBy("o_orderpriority"),
      oracle = Some("""SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.75) AS p75
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- Skew-salted join, oracle-proven equal to the plain join -------
    // The skew-mitigation operator's contract is "bit-identical rows to an
    // inner equi-join"; gating it against the plain-SQL oracle proves it.
    QueryDef("q51_salted_join", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Relational.saltedJoin(o, c, "o_custkey", saltFactor = 8)
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy("o_orderkey")
    }, oracle = Some("""SELECT o_orderkey, o_custkey, c_name FROM orders
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")),

    // ---- North-star: MERGEABLE distinct-count sketch (HLL on the FNV
    // stream). The corpus-card primitive at 100 TB: per-source register
    // tables (≤ 2^10 rows each) come out of ONE narrow pass with a
    // map-side-combined max — the keys themselves never shuffle — and the
    // __all__ row is estimated from a max-MERGE of the per-source
    // sketches, NOT from the raw data, so the result itself witnesses
    // that sketch union is lossless. The exact_distinct column (a real
    // key shuffle — the cost the sketch exists to avoid) is the
    // verification yardstick: SketchesSpec bounds |est−exact| at HLL's
    // ±3σ. Registers, merge, and estimator are all integer state, so the
    // DuckDB oracle re-derives the ENTIRE sketch pipeline bit-for-bit
    // from the same FNV octet fold — hash-gated, not rows-gated, unlike
    // engine-opaque sketches (DataSketches HLL) which admit no oracle.
    QueryDef("q125_hll_card", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // registers are ≤ 1024 × |sources| rows: pin them (tiny) so the
      // doc scan + hash kernel runs once, not once per consumer.
      val perSource = operators.Sketches
        .hllRegisters(docs, col("text"), Seq("source")).localCheckpoint()
      val bySource = operators.Sketches.hllEstimate(perSource, Seq("source"))
      val global = operators.Sketches.hllEstimate(
          operators.Sketches.mergeRegisters(perSource, Seq.empty), Seq.empty)
        .withColumn("source", lit("__all__"))
      val h = docs.select(col("source"),
        TextFunctions.fnvMixed64(col("text")).as("h"))
      val exact = h.groupBy("source").agg(countDistinct(col("h")).as("exact_distinct"))
        .unionByName(h.agg(countDistinct(col("h")).as("exact_distinct"))
          .withColumn("source", lit("__all__")))
      bySource.unionByName(global)
        .join(exact, Seq("source"))
        .select("source", "est_distinct", "exact_distinct")
        .orderBy("source")
    },
      // q125: the oracle re-derives the whole HLL pipeline — registers from
      // the same FNV-1a octet fold finished with murmur3's fmix64 (three
      // xorshift-multiply rounds as UHUGEINT mod-2^64 arithmetic; `// 2^33`
      // is the unsigned 33-bit shift), bucket = low 10 bits, ρ = 55 −
      // length(bin(w)) on minimal binary strings (Java toBinaryString and
      // DuckDB bin() agree), the per-source→global max-merge, and the
      // estimator on the exact scaled-integer Z (Σ 2^(55−ρ) — no float-sum
      // order anywhere). α_m is the same literal arithmetic in both
      // engines; the only non-integral steps are one division and the ln()
      // of the linear-counting branch, erased by the whole-count round.
      // exact_distinct = COUNT(DISTINCT h) over the same hashes, so est
      // and exact measure the same population (hash collisions cancel).
      oracle = Some((s"""WITH $fnvMixedDocCtes,
         b AS (
           SELECT source, u % 1024 AS bucket, u // 1024 AS w FROM h),
         reg AS (
           SELECT source, bucket,
                  MAX(CASE WHEN w = 0 THEN 55
                           ELSE 55 - length(bin(w)) END) AS rho
           FROM b GROUP BY source, bucket),
         regall AS (SELECT bucket, MAX(rho) AS rho FROM reg GROUP BY bucket),
         est AS (
           SELECT source, 1024 - COUNT(*) AS v,
                  SUM(CAST(CAST(1 AS UBIGINT) << (55 - rho) AS HUGEINT)) AS zs
           FROM reg GROUP BY source
           UNION ALL
           SELECT '__all__', 1024 - COUNT(*),
                  SUM(CAST(CAST(1 AS UBIGINT) << (55 - rho) AS HUGEINT))
           FROM regall),
         fin AS (
           SELECT source,
             CASE WHEN v > 0 AND
                    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) <= 2560.0
                  THEN 1024.0 * ln(1024.0 / v)
                  ELSE (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) END AS e
           FROM est),
         ex AS (
           SELECT source, COUNT(DISTINCT u) AS exact_distinct FROM h
           GROUP BY source
           UNION ALL
           SELECT '__all__', COUNT(DISTINCT u) FROM h)
         SELECT f.source, CAST(round(f.e) AS BIGINT) AS est_distinct,
                ex.exact_distinct
         FROM fin f JOIN ex USING (source) ORDER BY f.source""")),
      // q125: the merged-__all__ sketch is a GLOBAL aggregate over the
      // ≤ 1024-row register frame (the q03/q17 bounded class), and the
      // global exact_distinct yardstick merges through one task the
      // same way. Nothing row-sized crosses a SinglePartition.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: INCREMENTAL corpus card (persisted HLL artifact).
    // q125's sketch as a maintained index: build the card on a third of
    // the corpus, fold the other two thirds in as arriving shards — each
    // append scans ONLY its shard and max-merges ≤ 2^10 register rows
    // through the manifest machinery (crash-safe generations, grace GC,
    // per-root writer lock — the Bloom/LSH/IVF lifecycle). The oracle
    // recomputes the estimate from the WHOLE corpus from scratch, so a
    // hash-green row proves incremental maintenance is LOSSLESS — the
    // standing corpus is never rescanned yet the card cannot drift. The
    // same merge idempotence makes the card safe under at-least-once
    // re-delivery (re-appending a shard cannot inflate it — spec'd).
    QueryDef("q126_hll_card_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = cachedBuild(dir, "documents.parquet",
          "target/q126_hll_card", params = "hll:splits=m3") { p =>
        operators.Sketches.buildHllCard(
          docs.filter(col("doc_id") % 3 === 0), "text", p)
        operators.Sketches.appendToHllCard(
          docs.filter(col("doc_id") % 3 === 1), "text", p)
        operators.Sketches.appendToHllCard(
          docs.filter(col("doc_id") % 3 === 2), "text", p)
      }
      val exact = docs
        .select(TextFunctions.fnvMixed64(col("text")).as("h"))
        .agg(countDistinct(col("h")).as("exact_distinct"))
      operators.Sketches.hllCardEstimate(s, path).crossJoin(exact)
        .select("est_distinct", "exact_distinct")
    },
      // q126: the oracle recomputes the card estimate from the WHOLE corpus
      // from scratch (same register/estimator pipeline as q125, global
      // only); equality with the engine's build-then-append-twice artifact
      // proves the incremental max-merge path is lossless.
      oracle = Some((s"""WITH $fnvMixedDocCtes,
         b AS (SELECT u % 1024 AS bucket, u // 1024 AS w FROM h),
         reg AS (
           SELECT bucket,
                  MAX(CASE WHEN w = 0 THEN 55
                           ELSE 55 - length(bin(w)) END) AS rho
           FROM b GROUP BY bucket),
         est AS (
           SELECT 1024 - COUNT(*) AS v,
                  SUM(CAST(CAST(1 AS UBIGINT) << (55 - rho) AS HUGEINT)) AS zs
           FROM reg),
         fin AS (
           SELECT CASE WHEN v > 0 AND
                    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) <= 2560.0
                  THEN 1024.0 * ln(1024.0 / v)
                  ELSE (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) END AS e
           FROM est)
         SELECT CAST(round(e) AS BIGINT) AS est_distinct,
                (SELECT COUNT(DISTINCT u) FROM h) AS exact_distinct
         FROM fin""")),
      // q126: crossJoin(broadcast(1-row exact-count frame)) onto the
      // 1-row card estimate — the q69/q70 1-row-frame shape; the
      // SinglePartition exchanges are those frames' own global
      // aggregates (≤ 1024 register rows / 1 count row through one
      // task).
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: MERGEABLE quantile sketch (HDR log histogram).
    // Completes the sketch family's quantile member (membership = Bloom,
    // distinct = q125/q126 HLL): per-priority histograms bucketed by the
    // value's top 6 significant bits (≤ 2^-5 relative error at every
    // magnitude, ≤ 3.8k buckets total), the __all__ row derived by
    // bucket-wise SUM of the per-priority sketches — never from the raw
    // rows — and every quantile read off a bounded window over the
    // bucket frame: a global p999 with NO global sort and ≤ 3.8k rows
    // per group on the shuffle. All integer arithmetic (length(bin),
    // shifts, counts), so the oracle reproduces the estimates
    // bit-for-bit. Deterministic cents via round(price·100) — cast
    // truncation of a double product is engine-dependent; round is not.
    QueryDef("q127_quantile_sketch", (s, dir) => {
      val cents = Tables.orders(s, dir).select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // the histogram is ≤ 3.8k × 5 rows: pin it (tiny) so the order
      // scan runs once for the per-priority and merged consumers
      val perPrio = operators.Sketches.logHistogram(cents, col("cents"),
        Seq("o_orderpriority")).localCheckpoint()
      val qs = Seq(0.5, 0.9, 0.99, 0.999)
      val byPrio = operators.Sketches.histQuantiles(perPrio,
        Seq("o_orderpriority"), qs)
      val global = operators.Sketches.histQuantiles(
          operators.Sketches.mergeHistograms(perPrio, Seq.empty),
          Seq.empty, qs)
        .withColumn("o_orderpriority", lit("__all__"))
      byPrio.unionByName(global)
        .select(col("o_orderpriority"), col("quantile"),
          col("est").as("est_cents"))
        .orderBy("o_orderpriority", "quantile")
    },
      // q127: the oracle re-derives the log-histogram sketch pipeline —
      // bucket = me·64 + (v >> me) with me = max(length(bin v)−1−5, 0),
      // the per-priority→__all__ bucket-wise SUM merge, the cumulative
      // walk, ceil(q·N) targets, and the range-midpoint representative —
      // all integer arithmetic, bit-for-bit. Quantile literals are cast
      // to DOUBLE (DuckDB parses bare 0.5 as DECIMAL, which would change
      // the q·N product Spark computes in double).
      oracle = Some(raw"""WITH src AS (
           SELECT o_orderpriority AS g,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         hist AS (
           SELECT g,
                  GREATEST(length(bin(v)) - 1 - 5, 0) * 64
                    + (v >> CAST(GREATEST(length(bin(v)) - 1 - 5, 0)
                                 AS INTEGER)) AS bucket,
                  COUNT(*) AS cnt
           FROM src GROUP BY 1, 2),
         hist2 AS (
           SELECT g, bucket, cnt FROM hist
           UNION ALL
           SELECT '__all__', bucket, SUM(cnt) FROM hist GROUP BY bucket),
         cum AS (
           SELECT g, bucket,
                  SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS c,
                  SUM(cnt) OVER (PARTITION BY g) AS n
           FROM hist2),
         qv AS (SELECT unnest([0.5, 0.9, 0.99, 0.999]::DOUBLE[])
                  AS quantile),
         pick AS (
           SELECT g, quantile, MIN(bucket) AS bk
           FROM cum CROSS JOIN qv
           WHERE c >= CAST(CEIL(quantile * n) AS BIGINT)
           GROUP BY g, quantile)
         SELECT g AS o_orderpriority, quantile,
                CAST(CASE WHEN bk // 64 = 0 THEN bk % 64
                     ELSE (2 * (bk % 64) + 1) << (CAST(bk // 64 AS INTEGER) - 1)
                     END AS BIGINT) AS est_cents
         FROM pick ORDER BY o_orderpriority, quantile"""),
      // q127: crossJoin(broadcast(4-row quantile frame)) onto the
      // bucket frame, and the merged-__all__ cumulative walk is the
      // q74/q107-class BOUNDED partition-less window over ≤ 3.8k
      // bucket rows. The orders scan itself shuffles only bucket
      // rows.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: MERGEABLE frequency sketch (count-min). The
    // family's last member (membership = Bloom, distinct = HLL,
    // quantiles = q127): per-source 4×4096 counter sketches over the
    // token stream, bucket-wise-SUM-merged into the probed sketch —
    // token COUNTS at any corpus size with only d·w rows per source on
    // the shuffle. The d row-hashes derive from ONE fnvMixed64 call
    // (Kirsch–Mitzenmacher double hashing), the probe side (exact
    // top-20 tokens — the verification yardstick, a real key shuffle)
    // broadcasts, and est ≥ exact always (CM overestimates only). All
    // integer state, so the oracle reproduces the ESTIMATES bit-for-bit
    // — the sketch's collision behavior itself is gated, not just its
    // inputs.
    QueryDef("q128_cms_heavyhitters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      // per-source sketches merged — the nightly shape; the merged frame
      // is ≤ d·w rows, pinned so both probe joins read one build
      val sk = operators.Sketches.mergeCms(
        operators.Sketches.cmsSketch(toks, col("tok"), Seq("source")),
        Seq.empty).localCheckpoint()
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        .localCheckpoint() // 20 rows, two consumers
      operators.Sketches.cmsEstimate(sk, top.select("tok"), "tok")
        .join(top, Seq("tok"))
        .select(col("tok"), col("est_cnt"), col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok"))
    },
      // q128: the oracle re-derives the CM sketch bit-for-bit — the token
      // stream (q96's split parity), ONE fmix64(fnv64) per distinct token
      // (weights folded by count — the same cells the per-occurrence
      // engine pass sums), Kirsch–Mitzenmacher cells (h1 + r·h2) mod w,
      // bucket-wise-summed counters, and min-over-cells estimates for the
      // exact top-20 (count DESC, token tiebreak — both engines).
      oracle = Some((raw"""WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '[$WS]+')) AS tok
           FROM documents),
         tfreq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         t0 AS (SELECT tok, cnt, """ + fnvOctetsSql("tok") + raw""" AS u
                FROM tfreq),
         """ + fmix64Ctes("t0", "tok, cnt") + raw""",
         rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
         cells AS (
           SELECT r, CAST((u % 4294967296 + r * (u // 4294967296)) % 4096
                          AS BIGINT) AS idx,
                  SUM(cnt) AS c
           FROM mx CROSS JOIN rr GROUP BY 1, 2),
         top AS (SELECT tok, cnt AS exact_cnt, u FROM mx
                 ORDER BY cnt DESC, tok LIMIT 20),
         probe AS (
           SELECT tok, exact_cnt, r,
                  CAST((u % 4294967296 + r * (u // 4294967296)) % 4096
                       AS BIGINT) AS idx
           FROM top CROSS JOIN rr),
         est AS (
           SELECT tok, exact_cnt, MIN(COALESCE(c, 0)) AS est_cnt
           FROM probe LEFT JOIN cells USING (r, idx)
           GROUP BY tok, exact_cnt)
         SELECT tok, CAST(est_cnt AS BIGINT) AS est_cnt,
                CAST(exact_cnt AS BIGINT) AS exact_cnt
         FROM est ORDER BY exact_cnt DESC, tok""")),
      // q128: the merged sketch is a global aggregate over the
      // ≤ 16k-cell counter frame, and the exact-top-20 yardstick ends
      // in a TakeOrdered + 20-row frames — all q03/q17-bounded.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: HLL SET ALGEBRA — snapshot-overlap estimate.
    // The sketch family's composition payoff: two crawl snapshots (A =
    // doc_id%3!=2, B = doc_id%2==0 — overlapping by construction, like
    // consecutive crawl generations sharing standing docs) each reduce
    // to a ≤ 2^10-row register table; union = register-wise max,
    // intersection = inclusion-exclusion est_a + est_b − est_union.
    // "How much of crawl B is already in crawl A" at 100 TB costs two
    // 4 KB sketches and LONG arithmetic — no key shuffle, and the same
    // register tables the q126 card already maintains answer it for
    // free. All components are the bit-exact q125 estimator, so the
    // DERIVED overlap (including its inclusion-exclusion noise) is
    // oracle-gated bit-for-bit; exact_overlap (a real distinct-key
    // join) is the yardstick carried alongside, q125-style.
    QueryDef("q132_hll_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tagged = docs.filter(col("doc_id") % 3 =!= 2)
        .withColumn("snap", lit("a"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .withColumn("snap", lit("b")))
      // ≤ 2 × 2^10 register rows: pin so the scan+hash kernel runs once
      val reg = operators.Sketches.hllRegisters(tagged, col("text"),
        Seq("snap")).localCheckpoint()
      val bySnap = operators.Sketches.hllEstimate(reg, Seq("snap"))
      val estA = bySnap.filter(col("snap") === "a")
        .select(col("est_distinct").as("est_a"))
      val estB = bySnap.filter(col("snap") === "b")
        .select(col("est_distinct").as("est_b"))
      val estU = operators.Sketches.hllEstimate(
          operators.Sketches.mergeRegisters(reg, Seq.empty), Seq.empty)
        .select(col("est_distinct").as("est_union"))
      val ha = docs.filter(col("doc_id") % 3 =!= 2)
        .select(TextFunctions.fnvMixed64(col("text")).as("u")).distinct()
      val hb = docs.filter(col("doc_id") % 2 === 0)
        .select(TextFunctions.fnvMixed64(col("text")).as("u")).distinct()
      val exact = ha.join(hb, Seq("u"))
        .agg(count(lit(1)).as("exact_overlap"))
      estA.crossJoin(estB).crossJoin(estU).crossJoin(exact)
        .withColumn("est_overlap",
          col("est_a") + col("est_b") - col("est_union"))
        .select("est_a", "est_b", "est_union", "est_overlap",
          "exact_overlap")
        .orderBy("est_a") // 1 row; pins order for the determinism lint
    },
      // q132: the oracle re-derives BOTH snapshot sketches and their
      // max-merged union through the q125 register/estimator pipeline
      // (bit-exact integer state), then the same long-arithmetic
      // inclusion-exclusion — so even the overlap estimate's sketch noise
      // must match bit-for-bit. exact_overlap is a plain distinct-hash
      // join, the yardstick column.
      oracle = Some((s"""WITH d0 AS (
           SELECT 'a' AS snap, text FROM documents WHERE doc_id % 3 <> 2
           UNION ALL
           SELECT 'b' AS snap, text FROM documents WHERE doc_id % 2 = 0),
         h0 AS (SELECT snap, ${fnvOctetsSql("text")} AS u FROM d0),
         ${fmix64Ctes("h0", "snap")},
         h AS (SELECT snap, u FROM mx),
         b AS (SELECT snap, u % 1024 AS bucket, u // 1024 AS w FROM h),
         reg AS (
           SELECT snap, bucket,
                  MAX(CASE WHEN w = 0 THEN 55
                           ELSE 55 - length(bin(w)) END) AS rho
           FROM b GROUP BY snap, bucket),
         regu AS (SELECT bucket, MAX(rho) AS rho FROM reg GROUP BY bucket),
         est AS (
           SELECT snap, 1024 - COUNT(*) AS v,
                  SUM(CAST(CAST(1 AS UBIGINT) << (55 - rho) AS HUGEINT)) AS zs
           FROM reg GROUP BY snap
           UNION ALL
           SELECT '__u__', 1024 - COUNT(*),
                  SUM(CAST(CAST(1 AS UBIGINT) << (55 - rho) AS HUGEINT))
           FROM regu),
         fin AS (
           SELECT snap, CAST(round(
             CASE WHEN v > 0 AND
                    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) <= 2560.0
                  THEN 1024.0 * ln(1024.0 / v)
                  ELSE (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                      * 36028797018963968.0
                      / CAST(CAST(v AS HUGEINT) * 36028797018963968 + zs
                             AS DOUBLE) END) AS BIGINT) AS e
           FROM est),
         ex AS (
           SELECT COUNT(*) AS exact_overlap FROM
             (SELECT DISTINCT u FROM h WHERE snap = 'a') x
             JOIN (SELECT DISTINCT u FROM h WHERE snap = 'b') y USING (u))
         SELECT a.e AS est_a, b2.e AS est_b, u2.e AS est_union,
                a.e + b2.e - u2.e AS est_overlap, ex.exact_overlap
         FROM (SELECT e FROM fin WHERE snap = 'a') a,
              (SELECT e FROM fin WHERE snap = 'b') b2,
              (SELECT e FROM fin WHERE snap = '__u__') u2, ex""")),
      // q132: three 1-row estimate frames and the 1-row exact-overlap
      // count cross-joined (the q69/q126 1-row-frame shape); the
      // SinglePartition exchanges are those frames' own global
      // aggregates over ≤ 2^10-row register tables.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- Pure range join, binned rewrite --------------------------------
    // Point-in-interval with NO equi key: every lineitem price probed
    // against every order's ±0.1 % price band. Spark's native plan for
    // this predicate is BroadcastNestedLoopJoin (O(n·m) comparisons —
    // dead at 100 TB); binnedRangeJoin turns it into ONE shuffled
    // equi-join on floor(price/250) with the exact BETWEEN re-filter
    // (plan-asserted: no BNLJ, no cartesian). binWidth 250 ≈ the P95
    // band width (bands span 2–1000), so the interval side replicates
    // ≤ 5× worst-case and the point side not at all. Oracle is the plain
    // inequality join — DuckDB's IEJoin computes the same pairs its way.
    QueryDef("q129_range_join_bands", (s, dir) => {
      // Pair-free rewrite (r19, guide §8/§1.2): the 19M-pair binned
      // range join fed a 15-row aggregate — but Σ over pairs needs no
      // pairs: per band, count/sum over points in [lo,hi] is
      // rank_le(hi) − rank_lt(lo) over the per-returnflag price
      // distribution, swept in ONE exchange of O(|li|+|orders|) narrow
      // rows (Relational.rankSweepAgg; exact-equivalence proof in its
      // scaladoc — all-integer arithmetic, identical per-row rounding).
      // The declarative pair-join ORACLE is unchanged and stays
      // hash-green; groups with zero pairs are filtered exactly as the
      // pair join leaves them absent. binnedRangeJoin itself stays
      // spec-gated (RelationalSpec lossless/ownership laws). Inputs are
      // built by q129SweepInputs — ONE construction shared with the
      // #cuts audit pass (r19 advice).
      val (pts, probes) = q129SweepInputs(s, dir)
      Relational.rankSweepAgg(pts, probes,
          crossKeys = Seq("l_returnflag"), matchKeys = Seq.empty,
          vCol = "v", measures = Seq("n_pairs", "sq"),
          probeKeys = Seq("o_orderpriority"), xCol = "x",
          signCol = "sgn", leCol = "le")
        .filter(col("n_pairs") > 0)
        .select(col("l_returnflag"), col("o_orderpriority"),
          col("n_pairs").cast("long").as("n_pairs"),
          (col("sq").cast("long").cast("double") / lit(10000.0))
            .as("sum_qty"))
        .orderBy("l_returnflag", "o_orderpriority")
    },
      // q129: the oracle states the range join declaratively (DuckDB plans
      // it as IEJoin); the engine's binned equi-join rewrite must produce
      // the identical pair set. Bounds are the same double products in
      // both engines (IEEE multiply is deterministic).
      oracle = Some("""SELECT l_returnflag, o_orderpriority,
                COUNT(*) AS n_pairs,
                CAST(SUM(CAST(l_quantity AS DECIMAL(28, 4))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem l
         JOIN orders o
           ON l.l_extendedprice >= o.o_totalprice * 0.999
          AND l.l_extendedprice <= o.o_totalprice * 1.001
         GROUP BY 1, 2
         ORDER BY 1, 2"""),
      auditPasses = Seq(
        // q129/q133's sweep cut-point pass (construction-time 1-row collect
        // inside Relational.rankSweepAgg): approximate percentiles over the
        // ACTUAL cut source the operator builds — the collapsed value
        // distribution ∪ distinct probe points (rankSweepCutSource over
        // rankSweepCollapsed, the exact construction rankSweepAgg calls, fed
        // by the same shared input builders as the declared queries — r19
        // advice: no inline re-approximation that could stay green while the
        // real pass drifts). Bounded boundary scalars; cut placement only
        // load-balances (any monotone bucketing yields identical ranks —
        // the q114 adjudication, same ksCutsFrame machinery).
        AuditPass("cuts", (s, dir) => {
          val (pts, probes) = q129SweepInputs(s, dir)
          operators.Relational.ksCutsFrame(
            operators.Relational.rankSweepCutSource(
              operators.Relational.rankSweepCollapsed(
                pts, Seq("l_returnflag"), "v", Seq("n_pairs", "sq")),
              "v", probes, "x"),
            "__swv", 1024)
        },
          // the q114#cuts shape (see q129_range_join_bands)
          accepted = Set("SinglePartition-exchange"))),
      // q129/q133 (r19 rank-sweep rewrite): the BNLJ is
      // crossJoin(broadcast(distinct-returnflag frame)) — a ≤|flags|-
      // row bounded side (the q26/q52 class); the probe stream, not
      // the distribution, rides it. The #cuts passes are the
      // q114#cuts shape: a 1-row approx-percentile merge.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- Weighted PPS sample + Horvitz-Thompson report ------------------
    // Probability-proportional-to-size Poisson sampling over the corpus
    // (long docs proportionally likelier; expected sample ~ k docs) with
    // the keep decision on the shared FNV ppm stream and EXACT integer
    // thresholds — no float compare, so the oracle replays membership
    // bit-for-bit. The report: per-source sampled count and the
    // Horvitz-Thompson token-total estimate Σ w/π from the SAMPLE alone,
    // against the exact total — the unbiased-estimation machinery a
    // data team uses to audit weighted subsamples. Zero corpus shuffle:
    // one 1-row W aggregate broadcast back, then a codegen'd filter.
    QueryDef("q135_weighted_sample", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("w"))
      val sampled = Relational.weightedPoissonSample(
        docs, "doc_id", "w", k = 40L, seed = 29L)
      val grouped = sampled
        .withColumn("ht", round(
          col("w").cast("double") * lit(1000000.0) / col("__t"), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("ht").cast(DecimalType(18, 6))).cast("double")
            .as("ht_tokens"))
      grouped
        .join(docs.groupBy("source").agg(sum("w").as("exact_tokens")),
          Seq("source"))
        .orderBy("source")
    },
      // q135 oracle: replays the PPS sampler exactly — the shared FNV ppm
      // bucket (seed 29), the exact integer threshold
      // t = least(10⁶, (w·k·10⁶) // W) (DuckDB `//` == Spark `div` on
      // non-negative operands), strict b < t membership, then the same
      // 6-dp-rounded DECIMAL-summed Horvitz-Thompson fold and exact
      // per-source totals.
      oracle = Some(fnvBucketCtes("documents", "doc_id", 29) + raw""",
         w0 AS (
           SELECT source, doc_id, b,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS w
           FROM s),
         tot AS (SELECT SUM(w) AS wtot FROM w0),
         t0 AS (
           SELECT source, doc_id, b, w,
             LEAST(1000000, (w * 40000000) // wtot) AS t
           FROM w0 CROSS JOIN tot),
         sel AS (SELECT * FROM t0 WHERE w > 0 AND b < t),
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(CAST(round(CAST(w AS DOUBLE) * 1000000.0 / t, 6)
                           AS DECIMAL(18, 6))) AS DOUBLE) AS ht_tokens
           FROM sel GROUP BY source),
         ex AS (
           SELECT source, CAST(SUM(w) AS BIGINT) AS exact_tokens
           FROM w0 GROUP BY source)
         SELECT g.source, g.n_sampled, g.ht_tokens, ex.exact_tokens
         FROM g JOIN ex USING (source) ORDER BY g.source"""),
      // q135: crossJoin(broadcast(1-row total-weight frame)) — the
      // q69/q126 1-row-frame shape; the SinglePartition exchange is
      // that frame's own global aggregate. The corpus side is a
      // codegen'd scalar filter, never shuffled.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- Sequential Poisson: EXACTLY-k weighted sample ------------------
    // q135's fixed-budget companion (Ohlsson's design): rank on u/w —
    // one IEEE double division of exactly-representable integers, so
    // membership AND order replay bit-for-bit in the oracle (the reason
    // this is u/w and not a -ln(u)/w exponential key: libm ln differs
    // across engines by ulps; division does not). TakeOrdered plan —
    // bottom-k per partition, no global sort, the q75 class.
    QueryDef("q136_sequential_poisson", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("w"))
      Relational.sequentialPoissonSample(docs, "doc_id", "w",
          k = 120, seed = 43L)
        .orderBy("doc_id")
    },
      // q136 oracle: replays the sequential Poisson rank — the shared ppm
      // bucket (seed 43), priority = CAST(b+1 AS DOUBLE)/w (one IEEE
      // division, bit-identical), doc_id tiebreak, bottom 120.
      oracle = Some(fnvBucketCtes("documents", "doc_id", 43) + raw""",
         w0 AS (
           SELECT doc_id, source, b,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS w
           FROM s),
         sel AS (
           SELECT doc_id, source, w FROM w0
           WHERE w > 0
           ORDER BY CAST(b + 1 AS DOUBLE) / w, doc_id LIMIT 120)
         SELECT doc_id, source, w FROM sel ORDER BY doc_id""")),

    // ---- Interval-overlap join, binned with ownership dedup -------------
    // Two interval sets (lineitem ±0.05 % price bands × order ±0.1 %
    // bands), joined on OVERLAP — also a nested loop in native Spark.
    // The binned rewrite surfaces a pair in every shared bin; instead of
    // a distinct pass (a second corpus-wide shuffle), each pair is
    // emitted only in its OWNED bin floor(max(lo_l, lo_r)/w) — provably
    // shared and unique, so the join is duplicate-free by construction
    // (the operator scaladoc carries the proof; the spec exercises
    // pairs sharing many bins).
    QueryDef("q133_interval_overlap_join", (s, dir) => {
      // Pair-free rewrite (r19, guide §8/§1.2 — see q129): for
      // intervals, overlap([a,b],[lo,hi]) = a<=hi ∧ lo<=b, and per band
      //   count = rank_le over the a-distribution at hi
      //         − rank_lt over the b-distribution at lo
      // ({b<lo} ⊆ {a<=hi} because a<=b<lo<=hi — the containment that
      // makes the two-term difference exact). Both distributions ride
      // ONE sweep via the `side` match key; the 29M-pair owned-bin join
      // (and its oracle, which is unchanged and stays hash-green) never
      // materializes. binnedIntervalJoin stays spec-gated. Inputs are
      // built by q133SweepInputs — ONE construction shared with the
      // #cuts audit pass (r19 advice).
      val (dist, probes) = q133SweepInputs(s, dir)
      Relational.rankSweepAgg(dist, probes,
          crossKeys = Seq("l_returnflag"), matchKeys = Seq("side"),
          vCol = "v", measures = Seq("n_pairs", "sq"),
          probeKeys = Seq("o_orderpriority"), xCol = "x",
          signCol = "sgn", leCol = "le")
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(sum("n_pairs").as("n_pairs"), sum("sq").as("sq"))
        .filter(col("n_pairs") > 0)
        .select(col("l_returnflag"), col("o_orderpriority"),
          col("n_pairs").cast("long").as("n_pairs"),
          (col("sq").cast("long").cast("double") / lit(10000.0))
            .as("sum_qty"))
        .orderBy("l_returnflag", "o_orderpriority")
    },
      // q133: the overlap predicate stated declaratively; the engine's
      // owned-bin rewrite must produce the identical pair multiset —
      // a double-counted pair (one emitted in two shared bins) breaks
      // n_pairs and the hash.
      oracle = Some("""SELECT l_returnflag, o_orderpriority,
                COUNT(*) AS n_pairs,
                CAST(SUM(CAST(l_quantity AS DECIMAL(28, 4))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem l
         JOIN orders o
           ON l.l_extendedprice * 0.9995 <= o.o_totalprice * 1.001
          AND o.o_totalprice * 0.999 <= l.l_extendedprice * 1.0005
         GROUP BY 1, 2
         ORDER BY 1, 2"""),
      auditPasses = Seq(
        AuditPass("cuts", (s, dir) => {
          val (dist, probes) = q133SweepInputs(s, dir)
          operators.Relational.ksCutsFrame(
            operators.Relational.rankSweepCutSource(
              operators.Relational.rankSweepCollapsed(
                dist, Seq("l_returnflag", "side"), "v", Seq("n_pairs", "sq")),
              "v", probes, "x"),
            "__swv", 1024)
        },
          // the q114#cuts shape (see q129_range_join_bands)
          accepted = Set("SinglePartition-exchange"))),
      // the q129_range_join_bands shape
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- Top-k window rewrite, gated on the REWRITTEN plan -------------
    // q02's query under GraftExtensions' RewriteTopKWindow: the isolated
    // session (private SQLConf + ExperimentalMethods — the flag and rule
    // never leak into concurrently-running queries) opts in, and the
    // require() proves the oracle-checked result came from the bounded-heap
    // topkrows aggregate, not the row_number window.
    QueryDef("q58_topk_rewrite", (s, dir) => {
      val s2 = s.newSession()
      s2.experimental.extraOptimizations = Seq(plans.RewriteTopKWindow)
      s2.conf.set("spark.graft.topkRewrite.enabled", "true")
      val counts = Tables.events(s2, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      val df = Relational.topKPerGroup(counts, Seq("event_type"), col("cnt"),
          3, Seq(col("user_id")))
        .withColumn("rn", col("rn").cast("long"))
        .select("event_type", "user_id", "cnt", "rn")
        .orderBy("event_type", "rn")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("topkrows"),
        "q58 must execute the rewritten bounded-heap plan")
      require(!plan.contains("Window"),
        "q58 must not contain a row_number window")
      df
    }, oracle = Some(topUsersSql)),

    // ---- North-star: deterministic SHARD EXPORT (write → read gate) ----
    // The pipeline's LAST step: emit the corpus as training shards in the
    // q74 deterministic-shuffle order (Sources.writeShards — contiguous
    // pos slices, one dir per shard, rows pos-sorted inside). Gated like
    // q90/q100: the report reads the WRITTEN copy and fingerprints every
    // shard with a position-weighted fold — fp = Σ (pos+1)·h(doc) mod p —
    // which is ORDER-AWARE yet commutative (a sum), so it verifies each
    // doc sits at exactly its permutation position without any ordered
    // collect; contiguity shows as last−first+1 = n_docs. The oracle
    // replays the permutation, slicing, and fold from the raw fixture —
    // a hash-green row proves the export lost, duplicated, displaced,
    // and mutated NOTHING.
    QueryDef("q120_shard_export", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val out = cachedBuild(dir, "documents.parquet",
          "target/q120_shards", params = "shards=8:buckets=32:seed=23") { p =>
        Sources.writeShards(docs, "doc_id", p, shards = 8,
          buckets = 32, seed = 23L)
      }
      val M = 1000000007L
      val mh = pmod(TextFunctions.fnv64(concat(
        col("doc_id").cast("string"), lit(":"), col("text"))), lit(M))
      Tables.parquet(s, out)
        .select(col("shard").cast("long").as("shard"), col("pos"),
          pmod((col("pos") + 1) * mh, lit(M)).as("term"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          min("pos").as("first_pos"), max("pos").as("last_pos"),
          pmod(sum("term"), lit(M)).as("fp"))
        .orderBy("shard")
    },
      // q120: the permutation (q74's replay), the ceil(n/8) slicing, and
      // the position-weighted fold re-derived from the RAW fixture — both
      // FNV streams re-signed before the mod so the arithmetic matches the
      // engine's pmod on signed longs.
      oracle = Some(("WITH " + fnvSignedFrom("documents", "doc_id", 23) + raw""",
         posed AS (
           SELECT doc_id, text,
             CAST(ROW_NUMBER() OVER (
               ORDER BY ((hs % 32) + 32) % 32, hs, doc_id) - 1 AS BIGINT)
               AS pos
           FROM sg),
         ss AS (SELECT (COUNT(*) + 7) // 8 AS ssize FROM posed),
         fh AS (
           SELECT pos, pos // (SELECT ssize FROM ss) AS shard,
             ${fnvOctetsSql("CAST(doc_id AS VARCHAR) || ':' || text")}
               AS hu2
           FROM posed),
         tm AS (
           SELECT shard, pos,
             ((CAST(CASE WHEN hu2 >= CAST(9223372036854775808 AS UBIGINT)
                    THEN CAST(hu2 AS HUGEINT) - 18446744073709551616
                    ELSE CAST(hu2 AS HUGEINT) END AS HUGEINT)
               % 1000000007 + 1000000007) % 1000000007) AS mh
           FROM fh)
         SELECT CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           MIN(pos) AS first_pos, MAX(pos) AS last_pos,
           CAST(SUM(((pos + 1) * mh) % 1000000007) % 1000000007 AS BIGINT)
             AS fp
         FROM tm GROUP BY shard ORDER BY shard"""))),

    // ---- North-star: referential-integrity report (data quality) -------
    // The profiler's sibling: orphan-FK rates across the star schema's
    // three load-bearing edges, with orphans PLANTED (a %100=3 slice of
    // orders gets shifted custkeys — the q115 never-seen-token trick) so
    // the orphan arm reports a nonzero rate, not a vacuous pass. The
    // orphan set is never materialized: one key-only left join per edge,
    // folded straight into a global count (Relational.orphanReport).
    QueryDef("q117_fk_orphans", (s, dir) => {
      val orders = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val dirty = orders.withColumn("o_custkey",
        when(col("o_orderkey") % 100 === 3, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")))
      Relational.orphanReport(dirty, "o_custkey",
          Tables.customer(s, dir), "c_custkey",
          "orders.o_custkey->customer.c_custkey")
        .unionByName(Relational.orphanReport(li, "l_orderkey",
          orders, "o_orderkey", "lineitem.l_orderkey->orders.o_orderkey"))
        .unionByName(Relational.orphanReport(li, "l_partkey",
          Tables.part(s, dir), "p_partkey",
          "lineitem.l_partkey->part.p_partkey"))
        .orderBy("relation")
    },
      // q117: each edge re-derived with a LEFT JOIN on distinct parent
      // keys — same NULL-is-not-an-orphan FK semantics, same planted
      // orphan slice, IEEE rate divide, 6-dp round.
      oracle = Some("""WITH dirty AS (
           SELECT CASE WHEN o_orderkey % 100 = 3
                       THEN o_custkey + 10000000
                       ELSE o_custkey END AS ck
           FROM orders),
         e1 AS (
           SELECT 'orders.o_custkey->customer.c_custkey' AS relation,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN d.ck IS NULL THEN 1 ELSE 0 END) AS n_null_keys,
             SUM(CASE WHEN d.ck IS NOT NULL AND p.k IS NULL
                 THEN 1 ELSE 0 END) AS n_orphans
           FROM dirty d LEFT JOIN
             (SELECT DISTINCT c_custkey AS k FROM customer) p
             ON d.ck = p.k),
         e2 AS (
           SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS relation,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN c.l_orderkey IS NULL THEN 1 ELSE 0 END)
               AS n_null_keys,
             SUM(CASE WHEN c.l_orderkey IS NOT NULL AND p.k IS NULL
                 THEN 1 ELSE 0 END) AS n_orphans
           FROM lineitem c LEFT JOIN
             (SELECT DISTINCT o_orderkey AS k FROM orders) p
             ON c.l_orderkey = p.k),
         e3 AS (
           SELECT 'lineitem.l_partkey->part.p_partkey' AS relation,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN c.l_partkey IS NULL THEN 1 ELSE 0 END)
               AS n_null_keys,
             SUM(CASE WHEN c.l_partkey IS NOT NULL AND p.k IS NULL
                 THEN 1 ELSE 0 END) AS n_orphans
           FROM lineitem c LEFT JOIN
             (SELECT DISTINCT p_partkey AS k FROM part) p
             ON c.l_partkey = p.k)
         SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null_keys AS BIGINT) AS n_null_keys,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_rate
         FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
               UNION ALL SELECT * FROM e3)
         ORDER BY relation"""),
      // q117: three global count-aggregates (one per FK edge) — each
      // final merge is one row through one task, the q03/q17 class;
      // the joins themselves are co-partitioned key-only equi-joins.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: key-UNIQUENESS report (data quality) --------------
    // The trio's third leg (profile / FK orphans / uniqueness): is the
    // claimed primary key actually unique? Three claims checked: orders'
    // PK (clean), lineitem's TPC-H composite PK — which the report
    // DISCOVERS is not enforced by the synthetic generator (43% dup
    // mass, max multiplicity 6: exactly the drop-a-claimed-PK surprise
    // this check exists to catch pre-ingest) — and a deliberate non-key
    // (o_custkey mod 1000) anchoring the saturated end. One map-side-
    // combined groupBy per claim; only key columns ever shuffle.
    QueryDef("q121_key_uniqueness", (s, dir) => {
      val orders = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      Relational.uniquenessReport(orders, Seq("o_orderkey"),
          "orders(o_orderkey)")
        .unionByName(Relational.uniquenessReport(li,
          Seq("l_orderkey", "l_linenumber"),
          "lineitem(l_orderkey,l_linenumber)"))
        .unionByName(Relational.uniquenessReport(
          orders.withColumn("ck1000", col("o_custkey") % 1000),
          Seq("ck1000"), "orders(o_custkey%1000) [non-key]"))
        .orderBy("relation")
    },
      // q121: each uniqueness row re-derived from a per-key count frame —
      // same >=2 duplication rule, same multiplicity max, IEEE rate.
      oracle = Some("""WITH u AS (
           SELECT 'orders(o_orderkey)' AS relation, COUNT(*) AS c
           FROM orders GROUP BY o_orderkey
           UNION ALL
           SELECT 'lineitem(l_orderkey,l_linenumber)', COUNT(*)
           FROM lineitem GROUP BY l_orderkey, l_linenumber
           UNION ALL
           SELECT 'orders(o_custkey%1000) [non-key]', COUNT(*)
           FROM orders GROUP BY o_custkey % 1000)
         SELECT relation,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_keys,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_rows,
           CAST(MAX(c) AS BIGINT) AS max_multiplicity,
           round(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS dup_rate
         FROM u GROUP BY relation ORDER BY relation"""),
      // q121: three global roll-ups of per-key count frames — each
      // final merge is one row through one task, the q03/q17 class.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: one-pass COLUMN PROFILER (data quality) -----------
    // The Deequ shape: per column — non-null count, exact distinct, and
    // numeric min/max/decimal-mean — in ONE aggregate pass over the
    // table (Relational.profile; the multi-distinct Expand is the
    // documented exact-count trade, HLL-swappable at 100 TB), then a
    // 1-row explode to long format. The pre-ingest sanity report every
    // pipeline runs on a new relational drop.
    QueryDef("q116_profile", (s, dir) =>
      Relational.profile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      // q116: every profile cell re-derived per column; means via the same
      // DECIMAL(28,4) sum / non-null count, 6-dp rounded; non-numeric
      // columns carry typed NULL numeric slots.
      oracle = Some("""WITH p AS (SELECT
           COUNT(o_orderkey) AS k_n, COUNT(DISTINCT o_orderkey) AS k_d,
           CAST(MIN(o_orderkey) AS DOUBLE) AS k_min,
           CAST(MAX(o_orderkey) AS DOUBLE) AS k_max,
           round(CAST(SUM(CAST(o_orderkey AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(o_orderkey), 6) AS k_avg,
           COUNT(o_custkey) AS c_n, COUNT(DISTINCT o_custkey) AS c_d,
           CAST(MIN(o_custkey) AS DOUBLE) AS c_min,
           CAST(MAX(o_custkey) AS DOUBLE) AS c_max,
           round(CAST(SUM(CAST(o_custkey AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(o_custkey), 6) AS c_avg,
           COUNT(o_totalprice) AS t_n, COUNT(DISTINCT o_totalprice) AS t_d,
           CAST(MIN(o_totalprice) AS DOUBLE) AS t_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS t_max,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(o_totalprice), 6) AS t_avg,
           COUNT(o_orderstatus) AS s_n,
           COUNT(DISTINCT o_orderstatus) AS s_d,
           COUNT(o_orderdate) AS dt_n, COUNT(DISTINCT o_orderdate) AS dt_d,
           COUNT(o_orderpriority) AS pr_n,
           COUNT(DISTINCT o_orderpriority) AS pr_d
         FROM orders)
         SELECT * FROM (
           SELECT 'o_orderkey' AS col_name, k_n AS n_nonnull,
             k_d AS n_distinct, k_min AS min_num, k_max AS max_num,
             k_avg AS avg_num FROM p
           UNION ALL SELECT 'o_custkey', c_n, c_d, c_min, c_max, c_avg
             FROM p
           UNION ALL SELECT 'o_totalprice', t_n, t_d, t_min, t_max, t_avg
             FROM p
           UNION ALL SELECT 'o_orderstatus', s_n, s_d,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             CAST(NULL AS DOUBLE) FROM p
           UNION ALL SELECT 'o_orderdate', dt_n, dt_d,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             CAST(NULL AS DOUBLE) FROM p
           UNION ALL SELECT 'o_orderpriority', pr_n, pr_d,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             CAST(NULL AS DOUBLE) FROM p)
         ORDER BY col_name"""),
      // q116: the profiler IS one global aggregate — its final merge of
      // the per-partition partials is one row through one task, the
      // q03/q17 class; everything upstream is the map-side Expand+
      // partial-distinct the scaladoc documents.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: numeric-value DRIFT (exact two-sample KS) ---------
    // q109 alarms on token-distribution drift; this is the NUMERIC twin —
    // the exact two-sample Kolmogorov-Smirnov statistic between two event
    // populations (user-parity cohorts), the gate a pipeline puts on a
    // feature column between snapshots. Exact, not sketched, at ANY
    // domain cardinality (round-11 verdict #2): one groupBy(value)
    // histogram shuffle, then the global cumsum as range-BUCKETED
    // prefix sums — approx-percentile cut points (a 1-row audited
    // collect; placement only load-balances), per-bucket subtotals +
    // broadcast exclusive offsets (the shuffleIndex trick), and
    // bucket-PARTITIONED within-bucket windows — so no partition-less
    // window ever touches the |domain|-row frame. D = max over
    // distinct v of |F_A(v) − F_B(v)|, right-continuous ECDFs.
    QueryDef("q114_value_drift", (s, dir) =>
      Relational.ksStatistic(
        Tables.events(s, dir)
          .select((col("user_id") % 2).as("side"), col("value")),
        "side", "value"),
      // q114: the exact KS replayed — same per-value histogram, same
      // right-continuous cumulative order, same IEEE exact-integer-ratio
      // divides (deterministic across engines), 6-dp round on the max.
      oracle = Some("""WITH h AS (
           SELECT value,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
           FROM events GROUP BY value),
         c AS (
           SELECT value,
             SUM(ca) OVER (ORDER BY value) AS cuma,
             SUM(cb) OVER (ORDER BY value) AS cumb,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
           FROM h)
         SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           round(MAX(ABS(CAST(cuma AS DOUBLE) / na -
             CAST(cumb AS DOUBLE) / nb)), 6) AS ks
         FROM c"""),
      auditPasses = Seq(
        // q114's cut-point pass (construction-time 1-row collect): the
        // approximate-percentile aggregate over the distinct-value histogram
        // that buckets the exact-KS cumulative — bounded boundary scalars,
        // cut placement only load-balances (any monotone bucketing yields
        // the identical statistic).
        AuditPass("cuts", (s, dir) =>
          operators.Relational.ksCutsFrame(
            Tables.events(s, dir)
              .select((col("user_id") % 2).as("side"), col("value"))
              .groupBy("value").agg(
                sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
                sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb")),
            "value", 32),
          // q114's cut-point pass (construction-time 1-row collect): a
          // global approx-percentile aggregate — its final merge is one
          // row through one task, the q03/q17/q82#pass1 shape.
          accepted = Set("SinglePartition-exchange"))),
      // q114: the remaining SinglePartition exchanges feed the
      // |buckets|-row offsets frame (exclusive prefix + totals — the
      // shuffleIndex bounded class) and the final 1-row max; the
      // |domain|-row cumulative itself is bucket-PARTITIONED
      // (round-11 verdict #2, pinned by RelationalSpec's 1M-distinct
      // plan probe).
      accepted = Set("SinglePartition-exchange")),

    // ---- JSONL round-trip gate (the corpus interchange format) ---------
    // Dolma/RedPajama-style corpora ship as gzip JSONL; this is the
    // write→read loop gated on LOSSLESSNESS: documents written via
    // Sources.writeJsonl (once — cachedBuild), read back with the source
    // table's own schema (zero inference passes), and fingerprinted
    // per doc. The oracle computes the same polynomial fingerprint over
    // the ORIGINAL parquet, so a hash-green row proves every text byte
    // and typed column survived the JSON encode/decode (the mixed-corpus
    // gate runs this same loop over CJK/emoji text). The gzip-parts
    // layout keeps the read parallel — each part is one task, unlike a
    // monolithic .gz text source (quirk Q7) ------------------------------
    QueryDef("q100_jsonl_roundtrip", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = cachedBuild(dir, "documents.parquet",
          "target/q100_jsonl") { p => Sources.writeJsonl(docs, p) }
      Sources.jsonlWithSchema(s, path, docs.schema)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      // Over the ORIGINAL parquet — equality proves the engine's JSONL/ORC
      // write→read loops lossless (same original-fixture-oracle trick as
      // q90's z-order loop). Fingerprint formula identical to q27's.
      oracle = Some(roundTripOracleSql)),

    // ---- ORC round-trip gate (the Hive-side columnar interchange) ------
    // q100's losslessness loop for ORC: documents written once via
    // Sources.writeOrc (cachedBuild), read back typed with the schema
    // from the FILE (no schema argument, no inference pass — the ORC
    // advantage over JSONL), fingerprinted per doc against the original-
    // fixture oracle. With parquet as the native store, JSONL (q100) and
    // ORC (q103) close out the interchange-format matrix a corpus
    // pipeline actually meets ------------------------------------------
    QueryDef("q103_orc_roundtrip", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = cachedBuild(dir, "documents.parquet",
          "target/q103_orc") { p => Sources.writeOrc(docs, p) }
      s.read.orc(path)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, oracle = Some(roundTripOracleSql)),

    // ---- CUBE / GROUPING(id) ----------------------------------------------
    // The last multi-dim aggregate shape (rollup q41 / pivot q50 landed
    // earlier): all four (status, priority) grouping combinations in ONE
    // pass — Spark expands the cube BEFORE the partial aggregate, so the
    // shuffle carries (groups x 4) combined rows, not the fact table four
    // times. Grouping indicators emitted as separate per-column flags
    // (bit-order-free, engine-independent); rolled-up dims surface as
    // 'ALL' (status domain is F/O/P — no collision).
    QueryDef("q147_cube_grouping", (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_priority"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(28, 4))).cast("double")
            .as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("total"))
        .orderBy("g_status", "g_priority", "status", "priority"),
      oracle = Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_priority, status, priority""")),
  )

  /** q129's sweep inputs (points, probes) — ONE construction shared by
    * the declared query and the #cuts audit pass, so the audited
    * construction-time plan is the plan that actually runs (r19 advice:
    * the old audit entry re-approximated the cut pass inline and could
    * stay green while the real pass drifted).
    */
  private def q129SweepInputs(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val pts = Tables.lineitem(s, dir).select(col("l_returnflag"),
        col("l_extendedprice").as("v"), lit(1L).as("n_pairs"),
        round(col("l_quantity") * lit(10000.0)).cast("long").as("sq"))
      .filter(col("v").isNotNull)
    val bands = Tables.orders(s, dir).select(
        (col("o_totalprice") * lit(0.999)).as("lo"),
        (col("o_totalprice") * lit(1.001)).as("hi"),
        col("o_orderpriority"))
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("lo") <= col("hi"))
    val probes = bands.select(col("o_orderpriority"), col("hi").as("x"),
        lit(1L).as("sgn"), lit(true).as("le"))
      .unionByName(bands.select(col("o_orderpriority"),
        col("lo").as("x"), lit(-1L).as("sgn"), lit(false).as("le")))
    (pts, probes)
  }

  /** q133's sweep inputs (two-sided distribution, probes) — shared by
    * the declared query and the #cuts audit pass (see [[q129SweepInputs]]).
    */
  private def q133SweepInputs(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val li = Tables.lineitem(s, dir).select(
        (col("l_extendedprice") * lit(0.9995)).as("a"),
        (col("l_extendedprice") * lit(1.0005)).as("b"),
        col("l_returnflag"),
        round(col("l_quantity") * lit(10000.0)).cast("long").as("sq"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") <= col("b"))
    val dist = li.select(lit("lo").as("side"), col("l_returnflag"),
        col("a").as("v"), lit(1L).as("n_pairs"), col("sq"))
      .unionByName(li.select(lit("hi").as("side"), col("l_returnflag"),
        col("b").as("v"), lit(1L).as("n_pairs"), col("sq")))
    val bands = Tables.orders(s, dir).select(
        (col("o_totalprice") * lit(0.999)).as("lo"),
        (col("o_totalprice") * lit(1.001)).as("hi"),
        col("o_orderpriority"))
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("lo") <= col("hi"))
    val probes = bands.select(lit("lo").as("side"),
        col("o_orderpriority"), col("hi").as("x"),
        lit(1L).as("sgn"), lit(true).as("le"))
      .unionByName(bands.select(lit("hi").as("side"),
        col("o_orderpriority"), col("lo").as("x"),
        lit(-1L).as("sgn"), lit(false).as("le")))
    (dist, probes)
  }

  /** FNV-1a-64 over the UTF-8 octets of a VARCHAR expression (unsigned
    * result; HUGEINT mod-2^64 wrap because DuckDB BIGINT arithmetic is
    * overflow-checked) — the oracle-side twin of the engine's byte-level
    * FNV kernels, byte-faithful on non-ASCII input via [[utf8OctetsSql]].
    */
  /** Shared q125/q126 oracle head: (source, u) rows over `documents` with
    * u = fmix64(fnv1a64(utf8(text))) — murmur3's finalizer spelled as
    * UHUGEINT mod-2^64 arithmetic (`// 2^33` = the unsigned 33-bit
    * shift), the octet-faithful twin of [[graft.functions.expressions.
    * FnvMixed64]].
    */
  /** murmur3 fmix64 over a CTE `base`'s column `u`, carrying `carry`
    * through: CTEs m1..m4 and `mx` (the finalized hash). UHUGEINT
    * mod-2^64 multiplies; `// 2^33` is the unsigned 33-bit shift.
    */
  private def fmix64Ctes(base: String, carry: String): String =
    s"""m1 AS (SELECT $carry, xor(u, u // 8589934592) AS u FROM $base),
         m2 AS (SELECT $carry,
                  CAST((CAST(u AS UHUGEINT) * 18397679294719823053)
                       % 18446744073709551616 AS UBIGINT) AS u FROM m1),
         m3 AS (SELECT $carry, xor(u, u // 8589934592) AS u FROM m2),
         m4 AS (SELECT $carry,
                  CAST((CAST(u AS UHUGEINT) * 14181476777654086739)
                       % 18446744073709551616 AS UBIGINT) AS u FROM m3),
         mx AS (SELECT $carry, xor(u, u // 8589934592) AS u FROM m4)"""

  private def fnvMixedDocCtes: String =
    s"""h0 AS (
           SELECT source, ${fnvOctetsSql("text")} AS u FROM documents),
         ${fmix64Ctes("h0", "source")},
         h AS (SELECT source, u FROM mx)"""

  private val roundTripOracleSql: String =
    """SELECT doc_id, lang, n_chars,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                 ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM documents ORDER BY doc_id"""

  /** Top-3 users per event type — shared by q02 (window plan) and q58 (the
    * same query under the opt-in bounded-heap rewrite).
    */
  private val topUsersSql: String =
    """SELECT event_type, user_id, cnt, rn FROM (
           SELECT event_type, user_id, COUNT(*) AS cnt,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY COUNT(*) DESC, user_id) AS rn
           FROM events GROUP BY event_type, user_id)
         WHERE rn <= 3 ORDER BY event_type, rn"""
}
