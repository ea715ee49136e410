package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.cachedBuild
import graft.functions.TextFunctions.WS
import graft.operators.{Dedup, Graph}
import graft.queries.QueryShared._

/** Graph queries over the order graph and the exact-Jaccard similarity
  * graph: PageRank, k-core, triangles, label propagation, modularity and
  * the maintained SimGraphIndex.
  */
object GraphQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- LINK-GRAPH CENTRALITY: fixed-point PageRank --------------------
    // The web-curation centrality signal as iterative graph analytics
    // over the order graph: customer -> supplier edges from fulfilled
    // lines, supplier -> customer back-edges from returns. Ranks are
    // integer fixed-point (parts-per-10^12, Graph.RankScale) so all ten
    // synchronous iterations — damping, per-edge split, uniform dangling
    // redistribution — replay bit-for-bit in the oracle's generated
    // 10-stage CTE chain. Per-iteration cost is one node-keyed join +
    // one map-side-combined sum; lineage is localCheckpoint-pinned per
    // round (the componentIds discipline).
    QueryDef("q138_pagerank_centrality", (s, dir) => {
      val ol = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      val fwd = ol.select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"))
      val ret = ol.filter(col("l_returnflag") === "R")
        .select((col("l_suppkey") + lit(10000000L)).as("src"),
          col("o_custkey").as("dst"))
      Graph.pageRankFixedPoint(fwd.unionByName(ret), "src", "dst",
          iters = 10)
        .select(col("node"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("rank_ppt"))
        .orderBy(col("rank_ppt").desc, col("node"))
        .limit(25)
    },
      // q138 oracle: the integer fixed-point recurrence unrolled into a
      // generated 10-stage MATERIALIZED CTE chain (materialization keeps
      // DuckDB's inliner from exponentially duplicating the per-iteration
      // subplans). Every op is `//` on nonneg integers — identical to
      // Spark's `div` — so the final ranks match bit-for-bit.
      oracle = Some({
        val iters = 10
        val sb = new StringBuilder
        sb.append(
          s"""WITH eraw AS (
           SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           UNION ALL
           SELECT l_suppkey + 10000000 AS src, o_custkey AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE l.l_returnflag = 'R'),
         edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw),
         nodes AS MATERIALIZED (
           SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
         nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
         spine AS MATERIALIZED (
           SELECT nd.node, COALESCE(o.d, 0) AS d
           FROM nodes nd LEFT JOIN
             (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1) o
             ON nd.node = o.node),
         r0 AS MATERIALIZED (
           SELECT node, ${Graph.RankScale} // (SELECT n FROM nn) AS rank
           FROM nodes)""")
        for (i <- 0 until iters) {
          sb.append(s""",
         m$i AS MATERIALIZED (
           SELECT s.node, s.d, (r.rank * 85) // 100 AS m
           FROM r$i r JOIN spine s ON r.node = s.node),
         g$i AS MATERIALIZED (
           SELECT COALESCE(SUM(CASE WHEN d = 0 THEN m END), 0)
                    // (SELECT n FROM nn) AS share
           FROM m$i),
         i$i AS MATERIALIZED (
           SELECT e.dst AS node, SUM(m.m // m.d) AS s
           FROM edges e JOIN m$i m ON e.src = m.node
           WHERE m.d > 0 GROUP BY 1),
         r${i + 1} AS MATERIALIZED (
           SELECT nd.node,
             CAST((SELECT ${15L * Graph.RankScale} // (100 * n) FROM nn)
                  + (SELECT share FROM g$i) + COALESCE(i.s, 0) AS BIGINT)
               AS rank
           FROM nodes nd LEFT JOIN i$i i ON nd.node = i.node)""")
        }
        sb.append(s"""
       SELECT node,
         CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END
           AS kind,
         rank AS rank_ppt
       FROM r$iters ORDER BY rank_ppt DESC, node LIMIT 25""")
        sb.toString
      }),
      auditPasses = Seq(
        // q138's per-iteration plan (construction-time: every round runs
        // between localCheckpoints, so the returned query's plan shows only
        // the final checkpoint scan): one node-keyed join + map-side-combined
        // sum; the 1-row dangling aggregate crosses back via broadcast.
        AuditPass("iter", (s, dir) => {
          val ol = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
            col("o_orderkey") === col("l_orderkey"))
          operators.Graph.iterationFrame(
            ol.select(col("o_custkey").as("src"),
              (col("l_suppkey") + lit(10000000L)).as("dst")),
            "src", "dst")
        },
          // q138's per-iteration pass (construction-time, between
          // checkpoints): crossJoin(broadcast(1-row dangling-mass frame)) —
          // the q69/q126 1-row-frame shape; the SinglePartition exchange is
          // that frame's own global aggregate. Rank rows themselves move
          // only through node-keyed hash exchanges.
          accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")))),

    // ---- EXACT-recall Jaccard similarity join ----------------------------
    // q22/q80's LSH blocking misses a boundary pair with probability
    // ~4e-8; when recall must be PROVABLE (legal dedup, decontamination
    // audits) the prefix-filter join loses no pair by theorem
    // (Dedup.exactJaccardJoin scaladoc carries the proof). The oracle IS
    // the quadratic shingle-set join, so hash-green proves exact recall
    // AND precision at this threshold.
    QueryDef("q139_exact_jaccard_join", (s, dir) =>
      Dedup.exactJaccardJoin(Tables.documents(s, dir), "doc_id", "text",
        threshold = simGraphThreshold,
        shingleWidth = simGraphShingleWidth),
      preSort = Seq("id_a", "id_b"),
      oracle = Some(exactJaccardOracleSql)),

    // ---- GRAPH K-CORE: dense-subgraph curation signal --------------------
    // Connected components chain weak links; the k-core keeps only nodes
    // with >= k surviving neighbors — the dense-cluster (template-farm /
    // hub) signal. Bounded synchronous peels over the order graph, pure
    // integer set arithmetic, so the oracle replays the same 4 rounds as
    // a generated CTE chain bit-for-bit (per-round cascade semantics are
    // spec-proven on engineered graphs; convergence at this fixture is
    // asserted in GraphSpec).
    QueryDef("q140_graph_kcore", (s, dir) => {
      val ol = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      val edges = ol.select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"))
      val core = Graph.kCore(edges, "src", "dst", k = 30, rounds = 4)
      // membership REPORT, not just the survivors: every node with its
      // in-core flag and core degree (-1 outside) — the shape a curation
      // pipeline consumes (which hosts sit in the dense cluster), and
      // non-empty at any fixture scale even when the core itself is
      // empty (sf0.001's thin graph at k=30)
      val spine = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .filter(col("node").isNotNull).dropDuplicates("node")
      spine.join(core, Seq("node"), "left_outer")
        .select(col("node"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("degree").isNotNull.as("in_core"),
          coalesce(col("degree"), lit(-1L)).as("core_degree"))
        .orderBy("node")
    },
      // q140 oracle: the same `rounds` synchronous peels as a generated CTE
      // chain — degree counts over the surviving induced subgraph, drop
      // < k, repeat; final degrees over the last survivor set. All integer
      // set arithmetic, bit-replayable.
      oracle = Some({
        val (k, rounds) = (30, 4)
        val sb = new StringBuilder
        sb.append(
          """WITH eraw AS (
           SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         e AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM eraw
             UNION ALL SELECT dst AS src, src AS dst FROM eraw)
           WHERE src <> dst),
         a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)""")
        for (i <- 0 until rounds)
          sb.append(s""",
         d$i AS MATERIALIZED (
           SELECT e.src AS node, COUNT(*) AS c FROM e
           JOIN a$i x ON e.src = x.node JOIN a$i y ON e.dst = y.node
           GROUP BY 1),
         a${i + 1} AS MATERIALIZED (SELECT node FROM d$i WHERE c >= $k)""")
        sb.append(s""",
         core AS MATERIALIZED (
           SELECT a.node AS node, COALESCE(d.c, 0) AS degree
           FROM a$rounds a LEFT JOIN (
             SELECT e.src AS node, COUNT(*) AS c FROM e
             JOIN a$rounds x ON e.src = x.node
             JOIN a$rounds y ON e.dst = y.node
             GROUP BY 1) d ON a.node = d.node),
         spine AS MATERIALIZED (
           SELECT DISTINCT node FROM (
             SELECT src AS node FROM eraw
             UNION ALL SELECT dst AS node FROM eraw)
           WHERE node IS NOT NULL)
       SELECT s.node AS node,
         CASE WHEN s.node >= 10000000 THEN 'supplier' ELSE 'customer' END
           AS kind,
         c.node IS NOT NULL AS in_core,
         COALESCE(c.degree, -1) AS core_degree
       FROM spine s LEFT JOIN core c ON s.node = c.node
       ORDER BY s.node""")
        sb.toString
      }),
      auditPasses = Seq(
        // q140's per-round peel (round-1 shape, construction-time between
        // checkpoints): two node-keyed semi-joins + one map-side-combined
        // degree count — survivor rows only, never edge-sized state.
        AuditPass("round", (s, dir) => {
          val ol = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
            col("o_orderkey") === col("l_orderkey"))
          val e0 = ol.select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(10000000L)).as("dst"))
          val e = e0.unionByName(e0.select(col("dst").as("src"),
              col("src").as("dst")))
            .filter(col("src") =!= col("dst")).dropDuplicates("src", "dst")
          val alive = e.select(col("src").as("node")).dropDuplicates("node")
          operators.Graph.kCoreRound(e, alive, 30)
        }))),

    // ---- TRIANGLE COUNTS / CLUSTERING COEFFICIENT ------------------------
    // The ring-vs-star signal over the NEAR-DUP SIMILARITY GRAPH: a
    // template farm's documents interlink pairwise (high clustering), a
    // hub that merely quotes many sources doesn't — components and
    // k-core can't tell them apart. Edges are q139's exact-recall
    // Jaccard >= 0.7 pairs, whose density tracks TRUE near-dup density
    // (linear at any corpus scale), so the exact triangle count is
    // scale-sane. The first cut of this query counted triangles on the
    // order co-occurrence graph instead — at sf0.1 that graph is a
    // near-complete K_1000 (343k of 499k possible supplier pairs pass
    // the >= 2-order threshold: 1000 suppliers x 600k lineitems saturate
    // EVERY co-occurrence relation), ~54M triangles per copy, OOM at
    // x10 — dense-substrate triangle counting is Θ(m^1.5) for ANY exact
    // algorithm; the fix is the substrate, not the operator.
    // Degree-orientation algorithm: per-key wedge fanout bounded by the
    // oriented out-degree (O(sqrt m)); hot hubs generate ZERO wedges.
    QueryDef("q141_triangle_clustering", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tri = Graph.triangleCounts(similarityGraphEdges(s, dir),
          "src", "dst")
        .withColumnRenamed("node", "doc_id")
      // per-document report over the WHOLE corpus (isolated docs score
      // 0/0/0.0) — the shape a curation filter consumes, and non-empty
      // at any fixture scale even when the similarity graph is thin
      docs.select(col("doc_id"))
        .join(tri, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(coalesce(col("degree"), lit(0L)) >= 2,
            (coalesce(col("triangles"), lit(0L)) * 2).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy("doc_id")
    }, oracle = Some(jaccardGraphCtes + raw""",
       deg AS MATERIALIZED (
         SELECT src AS node, COUNT(*) AS degree FROM und GROUP BY 1),
       orient AS MATERIALIZED (
         SELECT u.src AS lo, u.dst AS hi FROM und u
         JOIN deg ds ON u.src = ds.node JOIN deg dd ON u.dst = dd.node
         WHERE ds.degree < dd.degree
            OR (ds.degree = dd.degree AND u.src < u.dst)),
       closing AS MATERIALIZED (
         SELECT lo AS v, hi AS w FROM orient
         UNION ALL SELECT hi AS v, lo AS w FROM orient),
       tris AS MATERIALIZED (
         SELECT a.lo AS x, a.hi AS v, b.hi AS w
         FROM orient a JOIN orient b ON a.lo = b.lo AND a.hi < b.hi
         JOIN closing c ON c.v = a.hi AND c.w = b.hi),
       pn AS (
         SELECT node, COUNT(*) AS triangles FROM (
           SELECT x AS node FROM tris
           UNION ALL SELECT v AS node FROM tris
           UNION ALL SELECT w AS node FROM tris) GROUP BY 1)
     SELECT dd.doc_id AS doc_id,
       COALESCE(d.degree, 0) AS degree,
       COALESCE(p.triangles, 0) AS triangles,
       CASE WHEN COALESCE(d.degree, 0) >= 2 THEN
         CAST(COALESCE(p.triangles, 0) * 2 AS DOUBLE)
           / CAST(d.degree * (d.degree - 1) AS DOUBLE)
         ELSE 0.0 END AS clustering
     FROM documents dd LEFT JOIN deg d ON dd.doc_id = d.node
     LEFT JOIN pn p ON dd.doc_id = p.node
     ORDER BY dd.doc_id""")),

    // ---- LABEL-PROPAGATION COMMUNITIES ------------------------------------
    // The fourth graph signal: components say "connected", k-core says
    // "dense enough", triangles say "interlinked" — LPA says WHICH dense
    // region claims each node (mirror-site / template-farm clusters).
    // Substrate: the q139/q141 near-dup similarity graph — the one
    // fixture graph with REAL cluster structure (the order co-occurrence
    // graph, tried first, is one dense blob at every threshold: LPA
    // correctly collapses it to a single community, a vacuous report).
    // 4 synchronous rounds, self-vote damping, (count DESC, label ASC)
    // tie-break — fully integer, so the oracle replays the identical
    // recurrence as a generated CTE chain. Report over the full document
    // spine: docs outside the graph are their own singleton community.
    QueryDef("q144_label_propagation", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comm = Graph.labelPropagation(similarityGraphEdges(s, dir),
        "src", "dst", rounds = lpaRounds)
      val full = docs.select(col("doc_id"))
        .join(comm.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("community"), col("doc_id")).as("community"))
      val sizes = full.groupBy("community").agg(count(lit(1)).as("csize"))
      full.join(sizes, Seq("community"))
        .select(col("doc_id"), col("community"), col("csize"),
          (col("csize") > 1).as("in_cluster"))
        .orderBy("doc_id")
    }, oracle = Some(lpaChainCtes + s"""
       , lab AS (SELECT node, lab FROM r$lpaRounds),
       full_ AS (
         SELECT d.doc_id, COALESCE(l.lab, d.doc_id) AS community
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.node),
       sz AS (SELECT community, COUNT(*) AS csize FROM full_ GROUP BY 1)
       SELECT f.doc_id, f.community, s.csize, s.csize > 1 AS in_cluster
       FROM full_ f JOIN sz s ON f.community = s.community
       ORDER BY f.doc_id""")),

    // ---- MODULARITY of the LPA partition ------------------------------------
    // The quality metric for q144's communities (Newman Q): per community,
    // internal-edge fraction minus the degree-squared null expectation —
    // the number that says whether the partition found real structure or
    // noise (the order-graph experiment that moved this family onto the
    // similarity graph was decided BY this metric: one community, Q = 0).
    // All counts integer off the SAME symmetrized frame the LPA rounds
    // walk (Graph.undirected — 2 directed rows per undirected edge), one
    // edge-sized community-tag join pinned for its two consumers; the Q
    // terms are one fixed double chain rounded to 6 dp. Graph communities
    // only (singleton spine docs have no edges — zero Q contribution by
    // convention).
    QueryDef("q150_modularity", (s, dir) => {
      // the persisted edge artifact IS the pin — both consumers (the LPA
      // and the modularity tally) scan the same tiny parquet
      val raw = similarityGraphEdges(s, dir)
      val comm = Graph.labelPropagation(raw, "src", "dst",
        rounds = lpaRounds)
      val und = Graph.undirected(raw, "src", "dst")
      val j = und
        .join(comm.select(col("node").as("src"),
          col("community").as("c_src")), Seq("src"))
        .join(comm.select(col("node").as("dst"),
          col("community").as("c_dst")), Seq("dst"))
        .select("c_src", "c_dst")
        .localCheckpoint() // two consumers (degree sums, internal counts)
      val m2f = j.agg(count(lit(1)).as("m2"))
      val dsum = j.groupBy(col("c_src").as("community"))
        .agg(count(lit(1)).as("d2"))
      val inner = j.filter(col("c_src") === col("c_dst"))
        .groupBy(col("c_src").as("community")).agg(count(lit(1)).as("x2"))
      val sz = comm.groupBy("community").agg(count(lit(1)).as("csize"))
      sz.join(dsum, Seq("community"))
        .join(inner, Seq("community"), "left_outer")
        .crossJoin(broadcast(m2f))
        .select(col("community"), col("csize"),
          expr("coalesce(x2, 0) div 2").as("internal_edges"),
          col("d2").as("degree_sum"),
          round(coalesce(col("x2"), lit(0L)).cast("double") / col("m2")
            - (col("d2").cast("double") / col("m2"))
              * (col("d2").cast("double") / col("m2")), 6).as("q_term"))
        .orderBy("community")
    },
      // q150 oracle: the same LPA chain, then each community's modularity
      // contribution from DIRECTED-row counts over `und` (x_c = within-
      // community directed rows = 2·e_c, m2 = all directed rows = 2m,
      // d_c = directed rows with src in c): term = x/m2 − (d/m2)², with
      // the identical double op order and 6-dp rounding.
      oracle = Some(lpaChainCtes + s"""
       , lab AS (SELECT node, lab FROM r$lpaRounds),
       m2 AS (SELECT COUNT(*) AS m2 FROM und),
       j AS (
         SELECT ls.lab AS c_src, ld.lab AS c_dst
         FROM und e JOIN lab ls ON e.src = ls.node
         JOIN lab ld ON e.dst = ld.node),
       dsum AS (SELECT c_src AS community, COUNT(*) AS d2 FROM j GROUP BY 1),
       inner_ AS (
         SELECT c_src AS community, COUNT(*) AS x2
         FROM j WHERE c_src = c_dst GROUP BY 1),
       sz AS (SELECT lab AS community, COUNT(*) AS csize FROM lab GROUP BY 1)
       SELECT s.community, s.csize,
         COALESCE(i.x2, 0) // 2 AS internal_edges,
         d.d2 AS degree_sum,
         round(CAST(COALESCE(i.x2, 0) AS DOUBLE) / m.m2
           - (CAST(d.d2 AS DOUBLE) / m.m2) * (CAST(d.d2 AS DOUBLE) / m.m2),
           6) AS q_term
       FROM sz s JOIN dsum d ON s.community = d.community
       LEFT JOIN inner_ i ON s.community = i.community
       CROSS JOIN m2 m
       ORDER BY s.community"""),
      // q150: crossJoin(broadcast(1-row m2 edge-count frame)) — the
      // same scalar-stats shape; all community tallies are map-side-
      // combined aggs over the pinned tag join.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- DUP-CLUSTER REPORT over the persisted similarity graph -------------
    // What a data team actually publishes from the graph artifact: one
    // row per near-dup CLUSTER (connected component of the q139 edges) —
    // size, canonical id (the component label IS the min id by the
    // pointer-jumping convergence), total bytes, and how many sources it
    // spans (a cluster crossing many sources is syndication; one source
    // is a template). Pointer-jumping components over the tiny edge
    // artifact; the per-cluster aggregate map-side combines.
    QueryDef("q152_dup_cluster_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = similarityGraphEdges(s, dir)
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      val comp = Dedup.componentIds(docs.select("doc_id"), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("comp").as("cluster"))
      docs.select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long").as("blen"))
        .join(comp, Seq("doc_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("csize"),
          sum("blen").as("total_octets"),
          countDistinct("source").as("n_sources"))
        .filter(col("csize") >= 2)
        .orderBy("cluster")
    },
      // q152: the q64/q81 RECURSIVE closure at the artifact's 0.7 threshold,
      // folded to per-cluster size/bytes/source-spread (strlen = DuckDB
      // byte length, matching octet_length — the q81 parity).
      oracle = Some(
        ("WITH RECURSIVE " + componentClosureBody("documents", simGraphThreshold) + raw"""
         SELECT c.component AS cluster, COUNT(*) AS csize,
           CAST(SUM(CAST(strlen(d.text) AS BIGINT)) AS BIGINT) AS total_octets,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
         FROM comp c JOIN documents d USING (doc_id)
         GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY cluster"""))),

    // ---- INCREMENTAL SIMILARITY-GRAPH MAINTENANCE -------------------------
    // The nightly-crawl path the per-snapshot simgraph cache cannot take:
    // build the SimGraphIndex on 90 % of the corpus, then APPEND the
    // remaining docs as two disjoint shards — each append probes shard
    // prefixes against the persisted full postings (recall by the
    // probe-prefix/index-full theorem, SimGraphIndex scaladoc) instead of
    // re-running the corpus-wide join. The emitted edge set must equal
    // q139's direct full-corpus join EXACTLY — same quadratic DuckDB
    // oracle, so hash-green proves the maintenance path loses and invents
    // nothing across build + 2 appends.
    QueryDef("q154_simgraph_incremental", (s, dir) => {
      val idx = simGraphIndexArtifact(s, dir)
      operators.SimGraphIndex.edges(s, idx).orderBy("id_a", "id_b")
    },
      // the incremental index must reproduce the SAME full-corpus edge set
      oracle = Some(exactJaccardOracleSql),
      auditPasses = Seq(
        // the SimGraphIndex append's construction-time plan (probe-prefix vs
        // stored postings) — the artifact's cachedBuild runs first if needed
        AuditPass("append", (s, dir) =>
          operators.SimGraphIndex.auditAppendPlan(s, simGraphIndexArtifact(s, dir),
            Tables.documents(s, dir).filter(col("doc_id") % 20 === 16),
            "doc_id", "text")))),

    // Downstream analytics over the MAINTAINED artifact: component-size
    // histogram from the incrementally-extended edge set (vs q119's
    // direct-operator derivation at its own threshold). Green means graph
    // consumers can read the maintained index mid-lifecycle and see
    // exactly the full-rebuild graph.
    QueryDef("q155_simgraph_incr_components", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // same artifact as q154 (cachedBuild dedupes the construction)
      val idx = simGraphIndexArtifact(s, dir)
      val pairs = operators.SimGraphIndex.edges(s, idx)
        .select("id_a", "id_b")
      Dedup.componentIds(docs.select("doc_id"), "doc_id", pairs)
        .groupBy("comp").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
          (col("csize") * count(lit(1))).as("n_docs"))
        .orderBy("csize")
    }, oracle = Some(("WITH RECURSIVE " + componentClosureBody("documents",
        simGraphThreshold) + raw"""
         , cs AS (
           SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT CAST(csize AS BIGINT) AS csize,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(csize * COUNT(*) AS BIGINT) AS n_docs
         FROM cs GROUP BY csize ORDER BY csize"""))),

    // Takedown over the maintained graph: tombstone-delete a doc subset,
    // read the LIVE edge set. Oracle re-derives the full graph on the
    // surviving docs from scratch — hash-green proves delete removes
    // exactly the dead docs' incident edges and nothing else. (Physical
    // drop + re-append-after-compact are spec'd in SimGraphIndexSpec —
    // compaction output is layout, not query-observable.)
    QueryDef("q157_simgraph_delete", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q157_simgraph_del",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:split=m10e6:del=m7e2") { p =>
        operators.SimGraphIndex.build(docs.filter(col("doc_id") % 10 =!= 6),
          "doc_id", "text", p, simGraphThreshold, simGraphShingleWidth)
        operators.SimGraphIndex.append(
          docs.filter(col("doc_id") % 10 === 6), "doc_id", "text", p)
        operators.SimGraphIndex.delete(
          docs.filter(col("doc_id") % 7 === 2).select("doc_id"),
          "doc_id", p)
      }
      operators.SimGraphIndex.edges(s, idx).orderBy("id_a", "id_b")
    }, oracle = Some(exactJaccardOracleSqlOn("WHERE doc_id % 7 <> 2"))),

    // ---- SIMILARITY-GRAPH SNAPSHOT DIFF (release audit) ------------------
    // q104 diffs the DOCUMENTS between corpus versions; this diffs the
    // NEAR-DUP STRUCTURE — which edges a release added, removed, or kept
    // (a sudden burst of added edges = a syndication/boilerplate leak
    // that per-doc diffs cannot see). Same v1/v2 snapshot pair as
    // q104/q109. Derivation is Dedup.snapshotEdgeDiff (round-18 verdict
    // #6): the shared UNCHANGED core's edges are computed once and are
    // `kept` by construction (identical texts ⇒ identical jaccard), and
    // only edges incident to a CHANGED doc run per snapshot — a
    // single-sided prefix-blocked delta join sized |changed|×candidates,
    // never core². At a realistic release delta (~5 % churn) that
    // removes ~90 % of the naive two-full-joins pair work; the oracle is
    // STILL the two from-scratch derivations replayed in DuckDB —
    // hash-green proves the decomposition loses and invents nothing. The
    // PRODUCTION cadence maintains one SimGraphIndex per snapshot via
    // appendBatch/delete deltas and diffs the edge artifacts (q162).
    QueryDef("q161_simgraph_snapshot_diff", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // core: text identical in both snapshots; ch1/ch2: per-version
      // content of the churned ids (%10==4 removed by v2, %10==7 absent
      // from v1, %10==5 edited in v2)
      val core = docs.filter(col("doc_id") % 10 =!= 4 &&
        col("doc_id") % 10 =!= 5 && col("doc_id") % 10 =!= 7)
      val ch1 = docs.filter(col("doc_id") % 10 === 4 ||
        col("doc_id") % 10 === 5)
      val ch2 = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(docs.filter(col("doc_id") % 10 === 5)
          .select(col("doc_id"),
            concat(col("text"), lit(" v2edit")).as("text")))
      Dedup.snapshotEdgeDiff(core, ch1, ch2, "doc_id", "text",
        simGraphThreshold, simGraphShingleWidth)
    }, preSort = Seq("id_a", "id_b"),
      // two from-scratch pair derivations (v2 with the q104/q109 text
      // edits) full-outer'd into the per-edge status
      oracle = Some(simGraphDiffOracleSql)),

    // ---- The PRODUCTION cadence of q161: index-vs-index delta diff -------
    // q161 re-derives both snapshots from scratch (2× the quadratic q139
    // kernel — the release-audit gate); this is the nightly path it
    // documents: ONE maintained SimGraphIndex carried v1 → v2 by deltas
    // (tombstone the removed %10==4 docs and the %10==5 originals,
    // compact, land the %10==7 adds and the %10==5 edits as batch
    // generations), with v1's edge artifact exported before the
    // mutation. The gated diff is two edge-table reads + a full-outer
    // join — delta-sized, no corpus join at query time — and must
    // hash-match q161's from-scratch oracle EXACTLY: the maintained
    // artifact reproduces the full rebuild at both endpoints (round-15
    // verdict #3).
    QueryDef("q162_simgraph_incr_diff", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q162_simgraph_incr",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:incrdiff=v1tov2") { p =>
        operators.SimGraphIndex.build(v1, "doc_id", "text", p,
          simGraphThreshold, simGraphShingleWidth)
        // the release-audit export: v1's edges, snapshotted BEFORE the
        // delta lands (edge volume, not corpus volume)
        operators.SimGraphIndex.edges(s, p)
          .write.mode("overwrite").parquet(s"$p/edges_v1.parquet")
        operators.SimGraphIndex.delete(
          v1.filter(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5)
            .select("doc_id"), "doc_id", p)
        operators.SimGraphIndex.compact(s, p)
        operators.SimGraphIndex.appendBatch(
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", p,
          batchId = 0L)
        operators.SimGraphIndex.appendBatch(
          docs.filter(col("doc_id") % 10 === 5)
            .select(col("doc_id"),
              concat(col("text"), lit(" v2edit")).as("text")),
          "doc_id", "text", p, batchId = 1L)
      }
      val e1 = Tables.parquet(s, s"$idx/edges_v1.parquet")
        .select(col("id_a"), col("id_b"), lit(1L).as("__in1"))
      val e2 = operators.SimGraphIndex.edges(s, idx)
        .select(col("id_a"), col("id_b"), lit(1L).as("__in2"))
      e1.join(e2, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"),
          when(col("__in1").isNull, "added")
            .when(col("__in2").isNull, "removed")
            .otherwise("kept").as("status"))
        .orderBy("id_a", "id_b")
    },
      // the maintained-index delta path must reproduce the identical diff
      oracle = Some(simGraphDiffOracleSql)),

    // ---- STREAM-maintained similarity graph, driver-oracle gated ---------
    // q154's artifact maintained by the REAL ingest stream (a
    // checkpointed file-source through selfDedupIngest, one writer
    // lifetime per staged shard — the q134 gap closed for the simgraph;
    // StreamingEtlSpec separately proves the kill-mid-batch replay).
    // The admission gate is pinned to its DETERMINISTIC configuration:
    // ingest threshold > 1 disables the LSH near-dup flag path (whose
    // recall is probabilistic — band collisions — and therefore not
    // oracle-expressible), leaving bloomAdmit's exact-verified text
    // anti-join + the within-batch keep-smallest-id collapse, both of
    // which the DuckDB oracle reproduces row-for-row: admitted = one rep
    // per novel text in (batch, doc_id) order, NULL texts admitted
    // outright (inert in the graph). Live edges must hash-match the
    // from-scratch exact join over corpus ∪ admitted — the streamed
    // artifact cannot silently drift (round-15 verdict #6).
    QueryDef("q163_simgraph_stream_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val root = cachedBuild(dir, "documents.parquet",
          "target/q163_simgraph_stream",
          params = s"simidx.v3:jaccard=$simGraphThreshold" +
            s":w=$simGraphShingleWidth:stream=m3b2") { p =>
        import java.nio.file.{Files, Paths}
        operators.Dedup.buildExactBloom(corpus, "text", s"$p/bloom")
        operators.Dedup.writeLshBandIndex(corpus, "doc_id", "text",
          s"$p/lsh")
        operators.SimGraphIndex.build(corpus, "doc_id", "text",
          s"$p/graph", simGraphThreshold, simGraphShingleWidth)
        val stageDir = s"$p/stage"
        Files.createDirectories(Paths.get(stageDir))
        def stage(n: Int, shard: org.apache.spark.sql.DataFrame): Unit = {
          val tmp = Files.createTempDirectory("q163_stage")
          shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(f => f.toString.endsWith(".parquet"))
            .findFirst().get()
          Files.move(part, Paths.get(stageDir, f"s$n%02d.parquet"))
        }
        def drain(): Unit = {
          val q = graft.streaming.IngestStream.selfDedupIngest(
            s.readStream.schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", "1").parquet(stageDir),
            corpus, "doc_id", "text", s"$p/bloom", s"$p/lsh",
            threshold = 1.5, s"$p/out", s"$p/ckpt",
            simGraphPath = Some(s"$p/graph"))
          q.processAllAvailable(); q.stop()
        }
        stage(0, docs.filter(col("doc_id") % 3 === 1))
        drain() // writer dies between shards — next drain resumes the ckpt
        stage(1, docs.filter(col("doc_id") % 3 === 2))
        drain()
      }
      operators.SimGraphIndex.edges(s, s"$root/graph")
        .orderBy("id_a", "id_b")
    },
      // q163 oracle: replays the stream's deterministic admission in SQL —
      // corpus = doc_id%3==0; the stream delivers %3==1 (batch 0) then
      // %3==2 (batch 1); admitted = per distinct non-NULL text the first
      // stream doc in (batch, doc_id) order whose text is not in the
      // corpus (bloomAdmit exact-verifies its candidates, so Bloom FPs
      // cannot change the outcome), plus NULL-text rows (admitted
      // outright, shingle-inert). The gated edge set is then the q139
      // quadratic join over corpus ∪ admitted.
      oracle = Some(raw"""WITH corp AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       strm AS (
         SELECT doc_id, text,
           CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS b
         FROM documents WHERE doc_id % 3 <> 0),
       reps AS (
         SELECT doc_id, text FROM (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY b, doc_id) AS rk
           FROM strm WHERE text IS NOT NULL)
         WHERE rk = 1),
       adm AS (
         SELECT r.doc_id, r.text FROM reps r
         WHERE NOT EXISTS (SELECT 1 FROM corp c WHERE c.text = r.text)
         UNION ALL
         SELECT doc_id, text FROM strm WHERE text IS NULL),
       live AS (
         SELECT doc_id, text FROM corp
         UNION ALL SELECT doc_id, text FROM adm),
       toks AS (
         SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
         FROM live),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
           END AS s
         FROM toks),
       nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       prs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM nz a, nz b WHERE a.doc_id < b.doc_id)
       SELECT id_a, id_b, jaccard FROM prs
       WHERE jaccard >= $simGraphThreshold ORDER BY id_a, id_b""")),
  )

  /** q144's synchronous LPA round count — single source for the engine
    * call and the oracle's generated CTE chain.
    */
  private val lpaRounds = 4

  /** The q139 exact-Jaccard ≥ 0.7 similarity graph as a PERSISTED
    * artifact: built once per corpus (cachedBuild — cross-process
    * lock-protected, fixture-signature invalidated, the q92/q110 index
    * pattern) and read by every graph-analytics consumer (q141
    * triangles, q144 communities, q150 modularity). The 100 TB contract:
    * the similarity join is the corpus-scale kernel and runs once per
    * snapshot; graph analytics then query an edge list sized by TRUE
    * near-dup density. q139 itself stays the direct operator — it IS
    * the gate on the join's exactness.
    */
  private def similarityGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val path = cachedBuild(dir, "documents.parquet", "target/simgraph",
        params = s"jaccard=$simGraphThreshold:w=$simGraphShingleWidth") {
      p =>
        Dedup.exactJaccardJoin(Tables.documents(s, dir), "doc_id", "text",
            threshold = simGraphThreshold,
            shingleWidth = simGraphShingleWidth)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
          .write.mode("overwrite").parquet(s"$p/edges.parquet")
    }
    Tables.parquet(s, s"$path/edges.parquet")
  }

  /** The q154/q155 maintained-index artifact: SimGraphIndex built on 90 %
    * of the corpus then extended by two disjoint appends — one
    * construction per fixture (cachedBuild), parameters in the cache
    * signature.
    */
  private def simGraphIndexArtifact(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    cachedBuild(dir, "documents.parquet", "target/q154_simgraph_idx",
        params = s"simidx.v3:jaccard=$simGraphThreshold" +
          s":w=$simGraphShingleWidth:split=m10e6x2") { p =>
      operators.SimGraphIndex.build(docs.filter(col("doc_id") % 10 =!= 6),
        "doc_id", "text", p, simGraphThreshold, simGraphShingleWidth)
      operators.SimGraphIndex.append(
        docs.filter(col("doc_id") % 20 === 6), "doc_id", "text", p)
      operators.SimGraphIndex.append(
        docs.filter(col("doc_id") % 20 === 16), "doc_id", "text", p)
    }
  }

  /** Event-analytics additions (funnel + cohort retention) — appended
    * outside the literal Map to keep the single Map.apply call under
    * scalac's method-size comfort zone.
    */

  /** q141 oracle: q139's quadratic exact-Jaccard pair derivation (the
    * join the prefix filter exists to avoid) feeding the same
    * degree-orientation triangle derivation — orient small→large in
    * (degree, id) order, wedge-join on the low endpoint, close with the
    * oriented edge in either direction, count corners, report over the
    * full document spine. Pure integer arithmetic except the final
    * clustering division (identical int÷int IEEE op both engines).
    */
  /** The q141/q144/q150 shared oracle prefix: the quadratic exact-Jaccard
    * pair derivation (raw-string shingle sets — collision-freedom parity
    * with the engine's 64-bit hashes) ending in the directed pair list
    * `eraw` and the symmetrized edge list `und`.
    */
  private val jaccardGraphCtes: String =
    raw"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
         FROM documents),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
           END AS s
         FROM toks),
       nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       prs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM nz a, nz b WHERE a.doc_id < b.doc_id),
       eraw AS MATERIALIZED (
         SELECT id_a AS src, id_b AS dst FROM prs WHERE jaccard >= $simGraphThreshold),
       und AS MATERIALIZED (
         SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM eraw
           UNION ALL SELECT dst AS src, src AS dst FROM eraw)
         WHERE src <> dst)"""

  /** The shared q144/q150 LPA CTE chain: the q141 similarity-graph
    * derivation + `lpaRounds` synchronous rounds (neighbor votes +
    * self-vote, exact integer counts, (count DESC, label ASC) argmax as
    * a row_number cut), ending with labels in `r<lpaRounds>` and the
    * symmetrized edge list in `und`.
    */
  private val lpaChainCtes: String = {
    val sb = new StringBuilder
    sb.append(jaccardGraphCtes)
    sb.append(""",
         r0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, src AS lab FROM und)""")
    for (i <- 0 until lpaRounds) {
      sb.append(s""",
         v$i AS MATERIALIZED (
           SELECT e.dst AS node, l.lab FROM und e JOIN r$i l ON e.src = l.node
           UNION ALL SELECT node, lab FROM r$i),
         c$i AS MATERIALIZED (
           SELECT node, lab, COUNT(*) AS c FROM v$i GROUP BY 1, 2),
         r${i + 1} AS MATERIALIZED (
           SELECT node, lab FROM (
             SELECT node, lab, ROW_NUMBER() OVER (
               PARTITION BY node ORDER BY c DESC, lab) AS rn
             FROM c$i) WHERE rn = 1)""")
    }
    sb.toString
  }

  /** q139 oracle: THE QUADRATIC JOIN the prefix filter exists to avoid —
    * the q64 string-shingle derivation, full cross product (id_a < id_b),
    * exact ratio. Raw-string sets vs the engine's 64-bit shingle hashes:
    * parity = collision-freedom, the established q24/q66 argument. The
    * jaccard value is the same int÷int IEEE division in both engines.
    */
  private val exactJaccardOracleSql: String = exactJaccardOracleSqlOn("")

  /** The q139 oracle over an optionally-restricted document spine —
    * `where` is an empty string or a full "WHERE ..." clause (q157 uses
    * the live-docs restriction to re-derive a post-takedown graph).
    */
  private def exactJaccardOracleSqlOn(where: String): String =
    raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents $where),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks),
         nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
           FROM nz a, nz b WHERE a.doc_id < b.doc_id)
       SELECT id_a, id_b, jaccard FROM prs
       WHERE jaccard >= $simGraphThreshold ORDER BY id_a, id_b"""

  /** q161/q162 oracle: two from-scratch pair derivations (v2 with the
    * q104/q109 text edits) full-outer'd into the per-edge status. Shared
    * by the release-audit gate (q161, from-scratch both sides) and the
    * maintained-index delta path (q162) — both must produce the
    * identical diff.
    */
  private lazy val simGraphDiffOracleSql: String = {
    def pairs(alias: String, docsCte: String) =
      raw"""toks$alias AS (
         SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
         FROM $docsCte),
       sh$alias AS (
         SELECT doc_id,
           CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                ELSE list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
           END AS s
         FROM toks$alias),
       nz$alias AS (SELECT doc_id, s FROM sh$alias WHERE len(s) > 0),
       prs$alias AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM nz$alias a, nz$alias b
         WHERE a.doc_id < b.doc_id
           AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s)))
               >= $simGraphThreshold)"""
    raw"""WITH v1 AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
       v2 AS (
         SELECT doc_id,
           CASE WHEN doc_id % 10 = 5 THEN text || ' v2edit'
                ELSE text END AS text
         FROM documents WHERE doc_id % 10 <> 4),
       """ + pairs("1", "v1") + ",\n       " + pairs("2", "v2") +
      raw"""
       SELECT COALESCE(p1.id_a, p2.id_a) AS id_a,
         COALESCE(p1.id_b, p2.id_b) AS id_b,
         CASE WHEN p1.id_a IS NULL THEN 'added'
              WHEN p2.id_a IS NULL THEN 'removed'
              ELSE 'kept' END AS status
       FROM prs1 p1 FULL OUTER JOIN prs2 p2
         ON p1.id_a = p2.id_a AND p1.id_b = p2.id_b
       ORDER BY id_a, id_b"""
  }
}
