package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.cachedBuild
import graft.functions.{TextFunctions, VectorFunctions}
import graft.functions.TextFunctions.WS
import graft.operators.{Dedup, Linkage, Relational, Similarity}
import graft.queries.QueryShared._

/** Dedup queries: exact, MinHash, SimHash, n-gram and embedding near-dup
  * detection, dedup components and keep policies, persisted LSH ingest,
  * decontamination, record linkage and semantic dedup over the kNN graph.
  */
object DedupQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- North-star: exact dedup (hash-groupBy) ------------------------
    QueryDef("q19_dedup_exact", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .select("keep_id", "copies").orderBy("keep_id"),
      oracle = Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies
         FROM documents GROUP BY text ORDER BY keep_id""")),

    // ---- North-star: MinHash-LSH near-dup (estimated jaccard). Oracle =
    // full-quadratic signature comparison in DuckDB (the oracle below):
    // the banding must not miss a θ=0.5 pair ------------------------------
    QueryDef("q22_dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.5)
        .orderBy("id_a", "id_b"),
      // Full quadratic signature est-jaccard — banding must lose no pair.
      // Full-quadratic MinHash oracle for q22: recomputes the FNV-1a-64
      // shingle hashes (HUGEINT mod-2^64 folds — DuckDB BIGINT arithmetic is
      // checked, so the wrap is spelled out), the k=128 affine signature, and
      // the estimated Jaccard for EVERY doc pair — so a hash-green row proves
      // the 32×4 banding lost no pair at θ=0.5, exactly like q24's quadratic
      // exact-Jaccard gate. The affine coefficients are interpolated from
      // HashUtil.affineCoefficients — the same stream the MinHashSig kernel
      // draws — so engine and oracle cannot drift. The signed-vs-unsigned
      // CASE mirrors the kernel's Java `% P` on the signed 64-bit hash.
      //
      // BYTE-FAITHFUL (round 7, was ASCII-only): the shingle fold runs over
      // [[utf8OctetsSql]] octets — the same byte stream the ShingleHashSet
      // kernel hashes — so the oracle is exact on CJK/accented/emoji text,
      // not just ASCII (verified green on the planted mixed corpus,
      // CORRECTNESS_MIXED artifact).
      //
      // RECALL CAVEAT: this oracle demands exact equality with the full
      // quadratic est_jaccard ≥ 0.5 set, but 32×4 banding has no recall
      // GUARANTEE at est exactly 0.5 — a borderline pair whose 64/128
      // agreeing positions dodge every band survives with probability
      // ≈ (15/16)^32 ≈ 13%. The no-miss result is fixture-verified, not
      // structural (contrast q24's (1-0.8⁴)^32 ≈ 4e-8 bound at j = 0.8); a
      // future red on a new/scaled fixture is triaged as a banding-recall
      // tradeoff, NOT a kernel bug — the engine's output is a subset of the
      // oracle's by construction, so false-greens are impossible.
      oracle = Some(minhashOracleSqlFor(128))),

    // ENGINEERED-recall twin of q22 (round 7): geometry from
    // Dedup.bandsFor(0.5, r=2) — 49 bands of 2 rows, so a pair at
    // estimated Jaccard exactly 0.5 is missed with (1-0.5²)^49 ≤ 1e-6,
    // a STRUCTURAL bound where q22's 32×4 no-miss at θ=0.5 is
    // fixture-verified only (a borderline pair dodges its banding with
    // ≈13% probability). Same full-quadratic oracle shape, re-derived at
    // k = 2·bandsFor = 98 signature positions — a hash-green row proves
    // the engineered banding lost no pair, closing the round-6 RECALL
    // CAVEAT with a gated query instead of a scaladoc disclaimer. ------
    QueryDef("q80_dedup_minhash_geared", (s, dir) => {
      val rows = 2
      val bands = Dedup.bandsFor(0.5, rows) // 49: (1-0.25)^49 <= 1e-6
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.5, shingleWidth = 3, bands = bands,
          rowsPerBand = rows)
        .orderBy("id_a", "id_b")
    },
      // engineered-recall geometry, same quadratic oracle at the kernel's
      // own k = 2·bandsFor(0.5, 2) — never hardcoded, so a bandsFor change
      // cannot silently desynchronize engine and oracle
      oracle = Some(minhashOracleSqlFor(2 * graft.operators.Dedup.bandsFor(0.5, 2)))),

    // ---- North-star: SimHash near-dup. Oracle = full-quadratic hamming
    // (the oracle below) — exact-recall blocking must lose no pair -------
    QueryDef("q23_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b"),
      // Full quadratic hamming — pigeonhole blocking must lose no pair.
      // q23 SimHash oracle: full-quadratic hamming over independently
      // re-derived 64-bit sketches — valid as an oracle because the engine's
      // chunk-pair pigeonhole blocking has an EXACT recall guarantee (any
      // pair at hamming ≤ 3 must share a chunk-pair key), so engine output
      // must equal the quadratic computation (byte-faithful per-token fold
      // via [[fnvOctetsSql]], round 7 — exact on non-ASCII tokens). Per-token FNV-1a-64 +
      // `h ^= h >>> 31` finalizer, ±1 votes per bit row-ified over a 64-row
      // bits table (every token OCCURRENCE votes, matching the kernel), sign
      // of the vote sum packs the bit via precomputed powers (DuckDB's `<<`
      // is overflow-checked at bit 63, so the powers are literals).
      oracle = Some({
        val pows = (0 until 64).map(b => (BigInt(1) << b).toString)
          .mkString("[", ",", "]")
        raw"""WITH tok_rows AS (
           SELECT doc_id,
             unnest(string_split_regex(trim(text), '[$WS]+')) AS tok
           FROM documents),
         hashed AS (
           SELECT doc_id, ${fnvOctetsSql("tok")} AS h0
           FROM tok_rows),
         finalized AS (
           SELECT doc_id, xor(h0, h0 >> 31) AS h FROM hashed),
         bits AS (
           SELECT unnest(range(0, 64)) AS b, unnest($pows::UBIGINT[]) AS p),
         votes AS (
           SELECT doc_id, b, p,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM finalized, bits GROUP BY doc_id, b, p),
         sketches AS (
           SELECT doc_id,
             CAST(COALESCE(SUM(CASE WHEN v > 0 THEN CAST(p AS HUGEINT) END), 0)
               AS UBIGINT) AS sh
           FROM votes GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM sketches a, sketches b
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
         ORDER BY id_a, id_b"""
      })),

    // ---- North-star: n-gram-Jaccard dedup, LSH-accelerated; the oracle
    // computes the full quadratic jaccard — the LSH must not miss a pair --
    QueryDef("q24_dedup_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8)
        .orderBy("id_a", "id_b"),
      // Full quadratic n-gram jaccard — checks that the LSH path loses no pair.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
         ORDER BY id_a, id_b""")),

    // ---- North-star: dedup APPLIED — the kept corpus (keep-first) ------
    QueryDef("q45_dedup_apply", (s, dir) =>
      Dedup.dropNearDuplicates(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8)
        .select("doc_id", "lang").orderBy("doc_id"),
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks),
         dups AS (
           SELECT DISTINCT b.doc_id
           FROM sh a, sh b
           WHERE a.doc_id < b.doc_id
             AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dups)
         ORDER BY doc_id""")),

    // ---- North-star: dedup CLUSTERS — connected components over the
    // near-dup pair graph (RefinedWeb/SlimPajama-style curation unit).
    // Pair-based keep-first (q45) and cluster-canonical differ exactly on
    // transitive chains (A~B, B~C, no A~C); componentIds resolves them by
    // min-label propagation + pointer jumping (O(log diameter) rounds of
    // bounded shuffle joins). The oracle re-derives the same pairs
    // quadratically in DuckDB and closes them with a RECURSIVE reachability
    // CTE — the engine's iterative labels must equal the true transitive
    // closure's per-component minima, doc for doc -----------------------
    QueryDef("q64_dedup_components", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.componentLabels(docs, "doc_id", "text", threshold = 0.8)
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("csize"))
      comp.join(sizes, Seq("component"))
        .select("doc_id", "component", "csize")
        .orderBy("doc_id")
    },
      // Transitive closure of the q24 pair graph via a RECURSIVE reachability
      // CTE: component = MIN reachable doc_id (singletons = own id). The
      // engine's O(log d)-round iterative labels must reproduce the true
      // closure exactly — this checks transitivity cases (A~B~C, no A~C)
      // that the pairwise oracles structurally cannot.
      oracle = Some((componentClosureCtes + raw""",
         sizes AS (
           SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT c.doc_id, c.component, z.csize
         FROM comp c JOIN sizes z USING (component)
         ORDER BY c.doc_id"""))),

    // ---- North-star: dup-cluster SIZE HISTOGRAM (dedup observability) --
    // How much of the corpus sits in near-dup clusters of size k — the
    // number that tells a team whether dedup will shrink the corpus 2%
    // or 40% BEFORE running the rewrite, and whether a giant cluster
    // (boilerplate/spam) dominates. Rides the shared componentLabels
    // stage (one LSH + label-propagation pass); the histogram itself is
    // two count aggregates over (component) then (csize) — label-sized
    // rows, nothing text-sized. Oracle: the q64 recursive closure, then
    // the same double group.
    QueryDef("q119_cluster_sizes", (s, dir) => {
      val comp = Dedup.componentLabels(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.8)
      comp.groupBy("component").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
          (col("csize") * count(lit(1))).as("n_docs"))
        .orderBy("csize")
    },
      // q119: the q64 closure, then the same double group — cluster sizes,
      // clusters per size, docs per size.
      oracle = Some((componentClosureCtes + raw""",
         cs AS (
           SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT CAST(csize AS BIGINT) AS csize,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(csize * COUNT(*) AS BIGINT) AS n_docs
         FROM cs GROUP BY csize ORDER BY csize"""))),

    // ---- North-star: dedup canonical KEEP-BEST — per near-dup component,
    // keep the best copy rather than the first (what a curation pipeline
    // actually ships: among near-identical crawls, keep the longest
    // capture; ranking = UTF-8 octet length desc, doc_id asc tiebreak —
    // byte-based so the mixed-corpus gate exercises it on multi-byte
    // text). One hash-agg over the q64 component labels — max_by on a
    // (blen, -doc_id) struct, NOT a per-component window: partial
    // aggregation runs map-side, so the component shuffle carries one row
    // per component, the shape that survives a corpus where most
    // components are singletons. Oracle = q64's RECURSIVE closure + a
    // ranked window re-deriving the same argmax in DuckDB (strlen = byte
    // length there). ------------------------------------------------------
    QueryDef("q81_dedup_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.componentLabels(docs, "doc_id", "text", threshold = 0.8)
      docs.select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .join(comp, Seq("doc_id"))
        .groupBy("component")
        .agg(expr("max_by(doc_id, struct(blen, -doc_id))").as("keep_id"),
             count(lit(1)).as("csize"),
             max("blen").as("keep_octets"))
        .orderBy("component")
    },
      // Same RECURSIVE closure as q64, then the keep-best argmax re-derived
      // as a ranked window (strlen = DuckDB byte length, matching the
      // engine's octet_length ranking; doc_id tiebreak).
      oracle = Some((componentClosureCtes + raw""",
         scored AS (
           SELECT c.component, c.doc_id,
                  CAST(strlen(d.text) AS BIGINT) AS blen
           FROM comp c JOIN documents d USING (doc_id)),
         ranked AS (
           SELECT component, doc_id, blen,
                  row_number() OVER (PARTITION BY component
                    ORDER BY blen DESC, doc_id ASC) AS rn,
                  COUNT(*) OVER (PARTITION BY component) AS csize
           FROM scored)
         SELECT component, doc_id AS keep_id, CAST(csize AS BIGINT) AS csize,
                blen AS keep_octets
         FROM ranked WHERE rn = 1 ORDER BY component"""))),

    // ---- North-star: NORMALIZED-KEY exact dedup (q83 closing the loop).
    // The ingest normalizer wired into the dedup path it was built for
    // (Dedup.exact(nfc = true); the minhash family takes the same
    // `normalize` flag). The fixture is ASCII, so the query PLANTS the
    // failure: a composed twin (every 'a' \u2192 U+00E1 '\u00e1') and a decomposed
    // twin (every 'a' \u2192 'a'+U+0301) of each document \u2014 canonically equal,
    // byte-different. Un-normalized exact dedup keeps them apart; the
    // NFC key collapses each twin pair to one group (copies = 2 for every
    // 'a'-bearing doc), keep-first lands on the composed id. The oracle
    // re-derives the same corpus and key with DuckDB's nfc_normalize \u2014
    // Unicode freezes canonical composition for assigned code points, so
    // the grouping must agree exactly.
    QueryDef("q83b_dedup_normalized", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val composed = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "a", "\u00e1").as("text"))
      val decomposed = docs.select((col("doc_id") + 2000000L).as("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("text"))
      val corpus = docs.unionByName(composed).unionByName(decomposed)
      Dedup.exact(corpus, "text", "doc_id", nfc = true)
        .select(col("keep_id"), col("copies"),
          octet_length(col("text")).cast("long").as("key_octets"))
        .orderBy("keep_id")
    },
      // Same planted composed/decomposed twins (chr(225) = U+00E1,
      // chr(769) = U+0301), same NFC key: the grouping — WHICH spellings
      // collapse, which keep_id wins, the byte length of the canonical key —
      // must agree exactly with the engine's normalized-key dedup.
      oracle = Some(raw"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
                  regexp_replace(text, 'a', chr(225), 'g') FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
                  regexp_replace(text, 'a', 'a' || chr(769), 'g')
           FROM documents),
         n AS (SELECT doc_id, nfc_normalize(text) AS k FROM corpus)
         SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies,
                CAST(strlen(k) AS BIGINT) AS key_octets
         FROM n GROUP BY k ORDER BY keep_id""")),

    // ---- North-star: LEAKAGE-SAFE grouped split ------------------------
    // The classic eval-contamination bug: q62-style per-document hash
    // splits put near-duplicate twins on OPPOSITE sides of train/test, so
    // the held-out set is silently memorized. The fix a curation pipeline
    // ships: hash the CANONICAL COMPONENT label (q64's connected-component
    // id over the ≥0.8 Jaccard pair graph), so every near-dup cluster
    // moves as a unit — by construction no edge can straddle the boundary.
    // Cost over q62 is exactly the component labeling (already a suite
    // operator); the split itself stays a narrow map on the fnvBucket
    // stream, partition-independent and re-derivable in DuckDB (closure +
    // octet-FNV on the component id). 90/10 at seed 71.
    QueryDef("q86_leakage_safe_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.componentLabels(docs, "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"), col("component"),
          when(Relational.fnvBucket(col("component"), 71L) < 900000L, "train")
            .otherwise("test").as("side"))
        .orderBy("doc_id")
    },
      // Same closure, then the q62 bucket fold applied to the COMPONENT id:
      // octet-FNV of "<component>:71" -> signed fold -> bucket < 900000.
      // Proves group-atomicity independently: every doc in a component gets
      // the identical side because the hash input is the component, not the
      // doc.
      oracle = Some((componentClosureCtes + ",\n         " +
        fnvSignedFrom("comp", "component", 71) + raw"""
         SELECT doc_id, component,
           CASE WHEN ((hs % 1000000) + 1000000) % 1000000 < 900000
                THEN 'train' ELSE 'test' END AS side
         FROM sg ORDER BY doc_id"""))),

    // ---- North-star: FUZZY decontamination (bipartite near-dup) --------
    // q66 catches verbatim benchmark leakage (exact 8-gram overlap); a
    // PARAPHRASED eval document shares no exact 8-gram but sits at
    // shingle-Jaccard ≥ 0.8 — this is the near-dup analogue every
    // curation pipeline runs beside the exact pass. Corpus = the q66
    // corpus slice (doc_id % 10 <> 7); eval set = PARAPHRASES of the
    // corpus's % 10 = 3 docs (one-token tail appended, id+3e6), so every
    // flagged doc has its paraphrase IN the corpus: jaccard (n-2)/(n-1)
    // for an n-token doc exercises the 0.8 threshold from both sides
    // (docs under 6 tokens fall below), on top of whatever natural
    // near-dups straddle the slices. Plan shape (crossJaccardPairs): eval
    // bands+shingles BROADCAST, corpus scanned once, verify-at-band-match
    // map-side — the only shuffle is the 24-byte pair distinct, then the
    // per-doc agg. Oracle = the full quadratic corpus × eval Jaccard.
    QueryDef("q84_fuzzy_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val evalSet = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" zzevaltail")).as("text"))
      // evalPlan pinned: the eval side is 10% of documents BY CONSTRUCTION
      // (bounded relative to the corpus at every SF we run — ≤112 MiB of
      // band payload even on the x100 fixture), so the auto-guard's
      // estimate job would be pure overhead here; the guard stays the
      // default for library callers (DedupSimilaritySpec pins its refusal).
      Dedup.crossJaccardPairs(corpus, evalSet, "doc_id", "text",
          threshold = 0.8, evalPlan = "broadcast")
        .groupBy(col("id_a").as("doc_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
             max("jaccard").as("max_jaccard"))
        .orderBy("doc_id")
    },
      // Full quadratic corpus × eval shingle-Jaccard — proves the broadcast
      // band blocking lost no pair at θ=0.8 (miss bound 4e-8 structural).
      oracle = Some(raw"""WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
         ev AS (
           SELECT doc_id + 3000000 AS doc_id, text || ' zzevaltail' AS text
           FROM documents WHERE doc_id % 10 = 3),
         shc AS (
           SELECT doc_id, t,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '[$WS]+') AS t
                 FROM corpus)),
         she AS (
           SELECT doc_id, t,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '[$WS]+') AS t
                 FROM ev)),
         pairs AS (
           -- empty-set guard: two sub-3-token docs give 0/0 = NaN, which
           -- DuckDB orders ABOVE all values (j >= 0.8 would keep it) while
           -- Spark's division yields NULL and drops it — match Spark's
           -- NULL-drop semantics by excluding empty shingle sets up front
           SELECT c.doc_id AS id_a, e.doc_id AS id_b,
             CAST(len(list_intersect(c.s, e.s)) AS DOUBLE)
               / len(list_distinct(list_concat(c.s, e.s))) AS j
           FROM shc c, she e
           WHERE len(c.s) > 0 AND len(e.s) > 0)
         SELECT id_a AS doc_id, COUNT(*) AS n_eval_matches,
                MAX(j) AS max_jaccard
         FROM pairs WHERE j >= 0.8
         GROUP BY id_a ORDER BY doc_id""")),

    // ---- North-star: SEMANTIC decontamination (embedding cosine) -------
    // Completes the decontamination trio: q66 catches verbatim n-gram
    // leakage, q84 catches light paraphrase at shingle-Jaccard ≥ 0.8, and
    // this catches full REWRITES — token-disjoint text whose embedding
    // still sits at cosine ≥ 0.9. Corpus = embeddings with vec_id%10 ≠ 7;
    // eval = derived twins of the %10 = 3 vectors (q61's blend toward the
    // circular rotation, alpha = vec_id%8/20, id+3e6) so twin similarity
    // spreads ~0.88-1.0 and the θ = 0.9 boundary is exercised from both
    // sides. Plan (crossCosineMatches): eval broadcast with its vectors,
    // corpus scanned once — |eval| codegen'd dot products per corpus row,
    // zero corpus shuffle, exact by construction. The oracle reproduces
    // the twin blend element-for-element (same IEEE ops in the same
    // order) and the full quadratic corpus × eval cosine.
    QueryDef("q88_semantic_decontam", (s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"),
        VectorFunctions.toDoubleArray(col("embedding")).as("embedding"))
      val corpus = base.filter(col("vec_id") % 10 =!= 7)
      val evalSet = base.filter(col("vec_id") % 10 === 3)
        .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (lit(1.0) - col("a")) * x + col("a") *
              element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
            .as("embedding"))
      // checkEvalSize pinned off: eval = 10% of embeddings by construction
      // (~112 MB of vectors even at x100 — under the broadcast budget at
      // every scale we run), and the guard's estimate aggregate measured
      // ~half this query's time at sf0.1 (round-10 verdict). The guard
      // stays the default for unknown callers; DedupSimilaritySpec asserts
      // it still refuses an oversized eval frame.
      Similarity.crossCosineMatches(corpus, evalSet, threshold = 0.9,
          checkEvalSize = false)
        .orderBy("id_a", "id_b")
    },
      // Full quadratic corpus × eval cosine with the twin blend reproduced
      // element-for-element (the q61 derivation on the %10=3 slice).
      oracle = Some("""WITH b AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         corpus AS (SELECT vec_id, v FROM b WHERE vec_id % 10 <> 7),
         ev AS (
           SELECT vec_id + 3000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (1 - a) * v[i] + a * v[1 + (i % 64)]) AS v
           FROM (SELECT vec_id, v, CAST(vec_id % 8 AS DOUBLE) / 20 AS a
                 FROM b WHERE vec_id % 10 = 3)),
         nc AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM corpus),
         ne AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM ev)
         SELECT id_a, id_b, sim FROM (
           SELECT a.vec_id AS id_a, e.vec_id AS id_b,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.v)+1), i -> a.v[i] * e.v[i])),
               (acc, x) -> acc + x) / (a.nrm * e.nrm), 6) AS sim
           FROM nc a, ne e)
         WHERE sim >= 0.9 ORDER BY id_a, id_b"""),
      // q88: crossCosineMatches' broadcast of the FIXED eval side (the
      // q26 bruteForceTopK shape) — exact bipartite cosine with zero
      // corpus shuffle; the cross is bounded by the benchmark set size.
      accepted = Set("BroadcastNestedLoopJoin")),

    // ---- North-star: fused curation pipeline on SHARED component labels.
    // What q64/q81/q86 compute separately, a production corpus run does
    // ONCE: one shingle-LSH + label-propagation pass (componentLabels —
    // already materialized via its closing localCheckpoint) fans out to
    // every component consumer. Here both decisions a curation pipeline
    // ships — the canonical keep-best copy AND the leakage-safe split
    // side — come off one label frame in one result: one hash-agg (one
    // row per component on the shuffle) + a narrow FNV map on the
    // component key. bench/component_share_r8.json records the shared
    // stage against the 3× per-consumer recompute (ComponentShareNote,
    // source at 9a451be); the oracle fuses the q81 and q86 CTE chains
    // over the same RECURSIVE closure.
    QueryDef("q87_curation_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.componentLabels(docs, "doc_id", "text", threshold = 0.8)
      docs.select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .join(comp, Seq("doc_id"))
        .groupBy("component")
        .agg(expr("max_by(doc_id, struct(blen, -doc_id))").as("keep_id"),
             count(lit(1)).as("csize"),
             max("blen").as("keep_octets"))
        .withColumn("side",
          when(Relational.fnvBucket(col("component"), 71L) < 900000L, "train")
            .otherwise("test"))
        .orderBy("component")
    },
      // q81's keep-best chain and q86's component-keyed FNV fold fused over
      // ONE closure — the oracle of the shared-label pipeline.
      oracle = Some((componentClosureCtes + raw""",
         scored AS (
           SELECT c.component, c.doc_id,
                  CAST(strlen(d.text) AS BIGINT) AS blen
           FROM comp c JOIN documents d USING (doc_id)),
         ranked AS (
           SELECT component, doc_id, blen,
                  row_number() OVER (PARTITION BY component
                    ORDER BY blen DESC, doc_id ASC) AS rn,
                  COUNT(*) OVER (PARTITION BY component) AS csize
           FROM scored),
         best AS (
           SELECT component, doc_id AS keep_id, CAST(csize AS BIGINT) AS csize,
                  blen AS keep_octets
           FROM ranked WHERE rn = 1),
         """ + fnvSignedFrom("best", "component", 71) + raw"""
         SELECT component, keep_id, csize, keep_octets,
           CASE WHEN ((hs % 1000000) + 1000000) % 1000000 < 900000
                THEN 'train' ELSE 'test' END AS side
         FROM sg ORDER BY component"""))),

    // ---- North-star: INCREMENTAL-INGEST dedup (corpus ⋈ new shard) -----
    // The nightly-admission pass a standing 100 TB corpus runs: flag the
    // NEW shard's near-duplicates of the existing corpus and admit the
    // rest — without re-running the corpus self-join (the
    // crossJaccardPairs scaladoc's incremental-ingest contract,
    // Dedup.scala). Shard = paraphrases of the corpus's %10=5 docs (one
    // appended token, id+5e6 — Jaccard (n-2)/(n-1) exercises θ=0.8 from
    // both sides by length) unioned with genuinely-new docs (the %10=7
    // slice the corpus excludes, id+7e6). Plan shape: the SHARD side
    // broadcasts (bands + shingle sets), the corpus is scanned once with
    // verify-at-band-match map-side — per-ingest cost tracks |shard|
    // work against a single corpus scan, never the self-join's band
    // blow-up; the final left-anti admits against the 8-byte flagged-id
    // set. Oracle = full quadratic corpus × shard Jaccard + NOT IN.
    QueryDef("q89_incremental_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val shard = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" zzingest")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      // evalPlan stays "auto" HERE deliberately (unlike q84/q88): the shard
      // is 20% of documents and GROWS with the fixture — on the x100 corpus
      // its estimated band payload crosses the measured 256 MiB broadcast/
      // shuffle boundary (bench/cross_decontam_ab_r8.json), so the guard's
      // reroute is load-bearing, not overhead.
      val flagged = Dedup.crossJaccardPairs(corpus, shard, "doc_id", "text",
          threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      shard.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .orderBy("doc_id")
    },
      // Full quadratic corpus × shard Jaccard, then NOT IN — proves the
      // broadcast band blocking + left-anti admitted exactly the non-dup
      // shard (miss bound 4e-8 structural, same as q84).
      oracle = Some(incrementalIngestOracleSql)),

    // ---- North-star: incremental ingest via a PERSISTED LSH index ------
    // q89 re-sketches the standing corpus on EVERY ingest; production
    // amortizes that: Dedup.writeLshBandIndex compiles the corpus into a
    // stored band table once (cachedBuild, the q92/q101 artifact shape),
    // and each shard probes it — candidates from a broadcast-hash join
    // against 16-byte stored rows, exact-Jaccard verify with the shingle
    // kernel runtime-pruned to candidate docs only. Identical sketch
    // geometry ⇒ identical candidate set ⇒ the SAME admission as q89,
    // pinned by sharing q89's full quadratic oracle verbatim.
    QueryDef("q110_lsh_index_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val shard = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" zzingest")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q110_lsh_index", params = "lsh:w=3:b=32:r=4") { p =>
        Dedup.writeLshBandIndex(corpus, "doc_id", "text", p)
      }
      val flagged = Dedup.lshIndexProbe(corpus, shard, idx,
          "doc_id", "text", threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      shard.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .orderBy("doc_id")
    },
      // q110 probes the PERSISTED band index instead of re-sketching the
      // corpus — identical geometry, identical admission, so the oracle is
      // q89's quadratic ground truth verbatim.
      oracle = Some(incrementalIngestOracleSql),
      auditPasses = Seq(
        // q110's band-index build (cachedBuild pass): the ONE corpus
        // sketch+explode pass every later ingest amortizes — narrow kernels,
        // no shuffle at all (the write is partition-local).
        AuditPass("build", (s, dir) =>
          operators.Dedup.lshBandRows(
            Tables.documents(s, dir).select("doc_id", "text")
              .filter(col("doc_id") % 10 =!= 7),
            "doc_id", "text", shingleWidth = 3, bands = 32, rowsPerBand = 4,
            normalize = false)))),

    // ---- LSH band-index DELETE: the fuzzy-dedup takedown path ----------
    // q110's stored band index with every OTHER %10=5 corpus doc
    // (doc_id %20=5) tombstoned, completing build/append/probe with
    // delete (round-11 verdict #3). The probe epoch-shadows tombstoned
    // ids out of the candidate set (broadcast join), so shard twins
    // of DELETED docs now admit (their near-dup left the corpus) while
    // twins of kept docs still reject — the oracle replays the full
    // quadratic near-dup admission against the reduced corpus.
    // DedupSimilaritySpec proves compaction folds the tombstones into
    // the stored 16-byte rows with identical admission.
    QueryDef("q123_lsh_index_delete", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val live = corpus.filter(pmod(col("doc_id"), lit(20)) =!= 5)
      val shard = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" zzingest")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      val idx = cachedBuild(dir, "documents.parquet",
          "target/q123_lsh_delete", params = "lsh:w=3:b=32:r=4:del=m20e5") { p =>
        Dedup.writeLshBandIndex(corpus, "doc_id", "text", p)
        Dedup.deleteFromLshBandIndex(
          corpus.filter(pmod(col("doc_id"), lit(20)) === 5), "doc_id", p)
      }
      val flagged = Dedup.lshIndexProbe(live, shard, idx,
          "doc_id", "text", threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      shard.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .orderBy("doc_id")
    },
      // q123: the same quadratic ground truth over the REDUCED corpus —
      // the deleted %20=5 docs must behave as if never indexed, so their
      // shard twins admit while kept docs' twins still reject.
      oracle = Some(ingestOracleSql("doc_id % 10 <> 7 AND doc_id % 20 <> 5"))),

    // ---- North-star: embedding-cosine near-dup -------------------------
    // Gated on the LSH plan (the scale path): OR-amplified hyperplane
    // blocking, recall sized by Dedup.lshTablesFor so a pair at θ=0.5 is
    // missed with p ≤ 1e-6 — the oracle computes the full quadratic cosine
    // in DuckDB, so a hash-green row proves the blocking lost no pair.
    // θ=0.5 (60°) forces few planes per table; at production dedup
    // thresholds (θ ≥ 0.9) the same operator runs 16-plane tables.
    QueryDef("q25_embed_neardup", (s, dir) =>
      Dedup.embeddingPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.5, useLsh = true, dim = 64, planes = 4,
          tables = Dedup.lshTablesFor(0.5, planes = 4))
        .orderBy("id_a", "id_b"),
      oracle = Some("""WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM e)
         SELECT id_a, id_b, sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm), 4) AS sim
           FROM n a, n b WHERE a.vec_id < b.vec_id)
         WHERE sim > 0.5 ORDER BY id_a, id_b""")),

    // ---- North-star: embedding near-dup, PRODUCTION regime (θ=0.9) -----
    // The configuration a real 100 TB dedup runs: 16-plane tables sized by
    // lshTablesFor(0.9) (miss ≤ 1e-6) — selective buckets, sub-linear
    // candidate growth (vs q25's deliberately-quadratic θ=0.5 recall
    // proof). The fixture has no natural pairs above cosine 0.85, so the
    // query derives deterministic near-dup twins for vec_id < 50 — each a
    // blend of the vector toward its circular rotation, alpha stepping
    // 0→0.35 by vec_id%8/20, spreading twin similarity across ~0.88-1.0 so
    // the θ=0.9 threshold boundary is exercised from both sides. The
    // oracle reproduces the twin derivation element-for-element (same IEEE
    // double ops in the same order) and the full quadratic cosine, so a
    // hash-green row proves the production-regime blocking lost no pair.
    QueryDef("q61_embed_neardup_prod", (s, dir) =>
      Dedup.embeddingPairs(neardupCorpus(s, dir), "vec_id", "embedding",
          threshold = 0.9, useLsh = true, dim = 64, planes = 16,
          tables = Dedup.lshTablesFor(0.9, planes = 16))
        .orderBy("id_a", "id_b"),
      // Production-regime embedding near-dup vs full quadratic cosine.
      oracle = Some(embedProdOracleSql)),

    // Corpus-GEARED variant of q61 (round-6 verdict task 2): identical
    // semantics and oracle, but `planes` comes from Dedup.planesFor(n) —
    // the shuffle-volume arg-min the BENCH_SCALE plane sweep measured
    // (494 s → 101 s at x100) — instead of the pinned 16-plane geometry
    // q61 keeps for cross-scale comparability. The corpus count is one
    // cheap boundary-scalar action (and doubles as the materializer of
    // the persisted corpus); recall is re-sized per planes
    // (lshTablesFor), so the pair set is the same and the q61 oracle
    // gates this row unchanged. At sf0.1 (~20 k vectors) planesFor lands
    // on the same 16 planes — the row exists so the SCALE bench shows the
    // geared factor in artifact JSON, not a test-side note.
    QueryDef("q61b_embed_neardup_geared", (s, dir) => {
      // persist BEFORE the gearing count: the count is the boundary-scalar
      // action planesFor needs anyway, so it doubles as the materializer —
      // the three consumers inside embeddingPairs then read the derived
      // corpus from cache instead of recomputing union+transform per pass
      // (310→259 s at x100; see neardupCorpus scaladoc for why q61 differs).
      // Cache lifecycle: a lazily-built query can't unpersist after its own
      // action, so the suite runners own it — Bench clears the cache between
      // queries (Bench.scala clearCache) and Verify's single session holds
      // at most this one corpus-sized cache (MEMORY_AND_DISK, spills clean).
      val corpus = neardupCorpus(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val planes = Dedup.planesFor(corpus.count(), threshold = 0.9)
      Dedup.embeddingPairs(corpus, "vec_id", "embedding",
          threshold = 0.9, useLsh = true, dim = 64, planes = planes,
          tables = Dedup.lshTablesFor(0.9, planes))
        .orderBy("id_a", "id_b")
    },
      // geared variant: same pair-set semantics, same oracle — planes only
      // steers cost, recall is re-sized by lshTablesFor per geometry
      oracle = Some(embedProdOracleSql)),

    // ---- North-star: rolling-hash document fingerprint -----------------
    QueryDef("q27_fingerprint", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      oracle = Some("""SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""")),

    // ---- North-star: winnowing fingerprint overlap — doc pairs sharing
    // enough MOSS fingerprints (containment detection; oracle re-derives
    // the winnow fingerprint sets independently — the oracle below) -------
    // k=20 chars spans ~3-4 tokens: long enough that fingerprints are
    // discriminative even in a small-vocabulary corpus.
    QueryDef("q47_winnow_overlap", (s, dir) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 20, w = 8)
        .select("id_a", "id_b", "shared")
        .orderBy("id_a", "id_b"),
      // Independent winnow re-derivation incl. signed window-min semantics.
      // q47 winnowing oracle: re-derives the MOSS fingerprint sets in DuckDB —
      // FNV-1a-64 over every 20-char gram (HUGEINT mod-2^64 fold), the
      // `h ^= h >>> 31` finalizer, and the w=8 sliding-window minimum as a
      // SIGNED-comparison window MIN (the kernel compares Java longs, so the
      // unsigned hash is re-signed BEFORE the MIN — an unsigned MIN would pick
      // different fingerprints). Tail windows shrink exactly like the kernel's
      // `end = min(start+w, n)`. Then the same df∈[2,10] rarity bound, shared
      // counts, and containment ≥ 0.5 gate as Dedup.winnowOverlapPairs.
      // BYTE-FAITHFUL (round 7, was ASCII-only): grams are 20-BYTE windows
      // at every BYTE offset of the [[utf8OctetsSql]] expansion — exactly
      // the kernel's byte-offset gram geometry, exact on non-ASCII text
      // (a multi-byte character simply spans several gram offsets, as it
      // does in the kernel).
      oracle = Some(raw"""WITH bytes AS (
           SELECT doc_id, ${utf8OctetsSql("text")} AS bs FROM documents),
         grams AS (
           SELECT doc_id, pos, bs[CAST(pos AS INT):CAST(pos + 19 AS INT)] AS g
           FROM bytes, unnest(range(1, len(bs) - 18)) AS u(pos)),
         hashed AS (
           SELECT doc_id, pos,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS UBIGINT), g),
               (acc, c) -> CAST((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                                % 18446744073709551616 AS UBIGINT)) AS h0
           FROM grams),
         finalized AS (
           SELECT doc_id, pos,
             CAST(CASE WHEN xor(h0, h0 >> 31) >= CAST(9223372036854775808 AS UBIGINT)
                       THEN CAST(xor(h0, h0 >> 31) AS HUGEINT) - 18446744073709551616
                       ELSE CAST(xor(h0, h0 >> 31) AS HUGEINT) END AS BIGINT) AS h
           FROM hashed),
         winmins AS (
           SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
           FROM finalized),
         sets AS (
           SELECT doc_id, COUNT(*) AS n_fp FROM winmins GROUP BY doc_id),
         rare AS (
           SELECT fp FROM winmins GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 10),
         fps AS (
           SELECT w.doc_id, w.fp, s.n_fp
           FROM winmins w JOIN rare USING (fp) JOIN sets s USING (doc_id)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  COUNT(*) AS shared, MIN(a.n_fp) AS n_a, MIN(b.n_fp) AS n_b
           FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, shared
         FROM pairs
         WHERE CAST(shared AS DOUBLE) / least(n_a, n_b) >= 0.5
         ORDER BY id_a, id_b""")),

    // ---- North-star: benchmark DECONTAMINATION — the GPT-3-style n-gram
    // overlap check (Brown et al. 2020 §C): flag training documents
    // sharing any token 8-gram with the held-out eval slice (doc_id ≡ 7
    // mod 10 stands in for the benchmark set). Scale shape: grams are
    // FNV-64 hashed (8-byte join keys, not 50-char strings); the eval
    // side — small by construction, benchmarks are ~1e5 docs while the
    // train corpus is the 100 TB side — broadcasts, so the probe is a
    // map-side hash lookup with ZERO shuffle on the big side; the only
    // shuffles are the two bounded per-doc count aggs. The oracle joins
    // raw gram STRINGS — hash-join parity rests on 64-bit
    // collision-freedom, the same argument the q24 jaccard oracle rests
    // on (hashed shingle sets vs string sets) ---------------------------
    QueryDef("q66_decontamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val grams = docs.select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokenShingles(
            TextFunctions.tokens(col("text")), 8))).as("g"))
        .select(col("doc_id"), TextFunctions.fnv64(col("g")).as("gh"))
      val isEval = pmod(col("doc_id"), lit(10)) === 7
      val evalGrams = grams.filter(isEval).select("gh").distinct()
        .withColumn("__hit", lit(1L))
      // ONE corpus-side kernel pass (round 11; was two — a totals agg AND
      // an overlap join each re-ran the explode): the left-outer probe of
      // the broadcast eval set marks each train gram in place, and totals
      // + overlap fold into a single per-doc agg. The corpus still never
      // shuffles its gram stream — only (doc_id, flag) rows reach the
      // partial-agged doc_id exchange, which is the scale property this
      // query exists to demonstrate.
      grams.filter(!isEval)
        .join(broadcast(evalGrams), Seq("gh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .filter(col("n_overlap") >= 1)
        .select(col("doc_id"), col("n_overlap"), col("n_grams"),
          round(col("n_overlap").cast("double") / col("n_grams"), 4)
            .as("overlap_frac"))
        .orderBy("doc_id")
    },
      // Raw-string gram join (the engine joins FNV-64 hashes; parity =
      // 64-bit collision-freedom, the q24 argument).
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7])))) AS g
           FROM toks WHERE len(t) >= 8),
         ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
         tr AS (SELECT * FROM grams WHERE doc_id % 10 != 7),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
         hit AS (SELECT doc_id, COUNT(*) AS n_overlap
                 FROM tr JOIN ev USING (g) GROUP BY doc_id)
         SELECT h.doc_id, h.n_overlap, t2.n_grams,
           round(CAST(h.n_overlap AS DOUBLE) / t2.n_grams, 4) AS overlap_frac
         FROM hit h JOIN tot t2 USING (doc_id)
         ORDER BY h.doc_id""")),

    // ---- North-star: cross-document DUPLICATE PASSAGE detection (Lee et
    // al. 2022 "Deduplicating Training Data Makes LMs Better", at token-
    // 8-gram span granularity): per doc, the fraction of its distinct
    // 8-grams shared with at least one OTHER document. Complements q66
    // (train-vs-eval) with the within-corpus self-overlap a passage-level
    // dedup pass removes. Scale shape: grams travel as FNV-64 hashes
    // (8-byte keys); the gram-frequency agg and the flag join both
    // partition on the gram hash — nothing pairwise, nothing collected.
    // Round-12 de-skew (the q94/q113 class): the round-11 count WINDOW
    // on gh kept the kernel single-evaluation but buffered every
    // occurrence of one gram in a single window group — unbounded on a
    // boilerplate gram. Now the gram stream is localCheckpoint-pinned
    // (16-byte rows, the q108/q111 materialize-once pattern — measured
    // equal to the window's cost: 3.76 s vs 3.68 sf0.1, 30.6 vs 27.4
    // x100) so the kernel still runs ONCE while the frequency comes
    // from the map-side-combined dup-set (a hot gram crosses the
    // exchange pre-counted) and the flag folds into one per-doc agg.
    // An un-pinned agg+join-back re-evaluates the kernel per branch
    // (measured 6.5 s — column pruning gives the branches different
    // projections and quietly defeats exchange reuse).
    // The oracle joins raw gram STRINGS (64-bit collision-freedom
    // argument, as q66/q24) ---------------------------------------------
    QueryDef("q71_dup_passages", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val grams = docs.select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokenShingles(
            TextFunctions.tokens(col("text")), 8))).as("g"))
        .select(col("doc_id"), TextFunctions.fnv64(col("g")).as("gh"))
        .localCheckpoint()
      // grams are distinct per doc, so the map-side-combined count per
      // gh == distinct-doc frequency; the dup flag joins back and ONE
      // per-doc aggregate folds both counters (round-12 de-skew, the
      // q94/q113 class — the count window here buffered every
      // occurrence of a boilerplate gram in one group)
      val dup = Dedup.duplicatedGramSet(grams).withColumn("d", lit(1L))
      grams.join(dup, Seq("gh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          coalesce(sum("d"), lit(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_dup"), col("n_grams"),
          round(col("n_dup").cast("double") / col("n_grams"), 4)
            .as("dup_frac"))
        .orderBy("doc_id")
    },
      // Raw-string self-join re-derivation of the hashed-gram pipeline; docs
      // with zero shared grams must still appear (LEFT JOIN + coalesce,
      // matching the engine's left_outer).
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7])))) AS g
           FROM toks WHERE len(t) >= 8),
         dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
         hit AS (SELECT doc_id, COUNT(*) AS n_dup
                 FROM grams JOIN dup USING (g) GROUP BY doc_id)
         SELECT t2.doc_id, CAST(coalesce(h.n_dup, 0) AS BIGINT) AS n_dup,
           t2.n_grams,
           round(CAST(coalesce(h.n_dup, 0) AS DOUBLE) / t2.n_grams, 4)
             AS dup_frac
         FROM tot t2 LEFT JOIN hit h USING (doc_id)
         ORDER BY t2.doc_id""")),

    // ---- North-star: APPLIED SEMANTIC DEDUP (SemDeDup-style rewrite) ---
    // The end-to-end rewrite an embedding-dedup pipeline actually ships
    // (the SemDeDup shape — drop semantic near-duplicates discovered
    // through a kNN graph, keep one representative per cluster), composed
    // from stages this engine already gates separately: (1) the batch kNN
    // self-join from the STORED IVF index — q160's scale path,
    // shuffle-equi-joined on cell; (2) θ=0.9 threshold over the 6-dp
    // cosines → symmetric distinct edge set; (3) connected components by
    // pointer jumping (Dedup.componentIds — O(log diameter) bounded
    // shuffle rounds, lineage-truncated); (4) KEEP-BEST per component —
    // highest 6-dp vector norm, vec_id ASC tiebreak — as ONE max_by
    // hash-agg (map-side partials; never a per-component window). Output
    // is the full decision table (every vector's component, size, fate,
    // and kept representative), so the gate checks each individual drop,
    // not just survivor counts. Corpus = the q61 near-dup twin corpus
    // (raw fixture embeddings top out at 0.52 pairwise cosine — no
    // semantic dups to find). Gated at exhaustive probe so the kNN graph
    // is exact and the DuckDB oracle replays the WHOLE chain: twins →
    // quadratic top-5 → θ-filter → RECURSIVE closure → per-component
    // argmax. At scale the same composition runs with nLists ≈ 2√N and
    // bounded nProbe under the q164/q169 recall-floor monitor.
    QueryDef("q170_semantic_dedup_apply", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q170_semdedup_idx", params = "ivf:nlists=8:semdedup") { p =>
        Similarity.buildIvfIndex(corpus, p, nLists = 8)
      }
      Dedup.semanticDedupApply(corpus, "vec_id", "embedding", idx,
          threshold = 0.9, k = 5, nProbe = 8)
        .orderBy("vec_id")
    },
      // q170: the full SemDeDup chain re-derived from scratch — a
      // hash-green row proves the stored-index kNN graph + pointer-jumping
      // components + keep-best argmax equal the quadratic top-5 +
      // RECURSIVE closure + ranked window, decision for decision.
      oracle = Some(semDedupOracleSql)),

    // ---- North-star: INCREMENTALLY MAINTAINED semantic dedup -----------
    // q170's nightly-ingest economics (the q162-vs-q161 pattern for the
    // kNN graph): the index is built on the BASE corpus only, the kNN
    // graph persisted beside it under the same manifest, and the recrawl
    // shard (the 50 twins) arrives through appendToKnnGraph — ONE locked
    // mutation that appends the inverted file AND delta-merges the graph
    // (stored rows ∪ |old|×|shard| candidates through the same bounded
    // heap; the standing N² is never recomputed), publishing both
    // atomically. Decisions are then read from the STORED graph, no
    // index probe at decision time. Gated against the SAME from-scratch
    // DuckDB replay as q170 VERBATIM — hash-green proves the delta
    // maintenance reproduces the full-corpus graph decision-for-decision.
    QueryDef("q172_semdedup_incremental", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val base = corpus.filter(col("vec_id") < 1000000L)
      val shard = corpus.filter(col("vec_id") >= 1000000L)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q172_semdedup_incr",
          params = "ivf:nlists=8:knngraph:k=5:incr") { p =>
        Similarity.buildIvfIndex(base, p, nLists = 8)
        Similarity.buildKnnGraph(s, p, k = 5, nProbe = 8)
        Similarity.appendToKnnGraph(shard, p, k = 5, nProbe = 8)
      }
      Dedup.semanticDedupDecisions(corpus, "vec_id", "embedding",
          Similarity.knnGraphFromIndex(s, idx), threshold = 0.9)
        .orderBy("vec_id")
    },
      // q172: the SAME from-scratch replay — hash-green proves the
      // build-on-base + delta-append maintained graph reproduces the
      // full-corpus decisions bit-for-bit (the q162-vs-q161 pattern).
      oracle = Some(semDedupOracleSql)),

    // ---- North-star: kNN-graph TAKEDOWN (delete + targeted repair) -----
    // The licence-revocation path completing the maintained graph's
    // build/append/delete lifecycle: victims tombstone out of the
    // inverted file AND their graph rows drop in ONE atomic publish,
    // with exactly the affected vertices repaired — a stored top-k only
    // changes if it CONTAINED a deleted neighbor (losing one promotes
    // the (k+1)th candidate, which the stored graph doesn't have), so
    // those vertices (≤ k·|deleted|) re-probe the live index and
    // everyone else's rows are provably untouched. Decisions over the
    // remaining corpus then read the repaired graph; gated against the
    // from-scratch replay ON THE REMAINING CORPUS (same predicate both
    // sides) — hash-green proves the targeted repair equals a rebuild.
    QueryDef("q174_semdedup_delete", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val victims = corpus.filter(pmod(col("vec_id"), lit(10)) === 3)
      val live = corpus.filter(pmod(col("vec_id"), lit(10)) =!= 3)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q174_semdedup_del",
          params = "ivf:nlists=8:knngraph:k=5:del") { p =>
        Similarity.buildIvfIndex(corpus, p, nLists = 8)
        Similarity.buildKnnGraph(s, p, k = 5, nProbe = 8)
        Similarity.deleteFromKnnGraph(victims.select("vec_id"), p,
          k = 5, nProbe = 8)
      }
      Dedup.semanticDedupDecisions(live, "vec_id", "embedding",
          Similarity.knnGraphFromIndex(s, idx), threshold = 0.9)
        .orderBy("vec_id")
    },
      // q174: the same replay restricted to the post-takedown corpus —
      // hash-green proves the targeted graph repair equals a full rebuild
      // over the remaining vectors.
      oracle = Some(semDedupOracleSqlOn("NOT (vec_id % 10 = 3)"))),

    // ---- SEMANTIC DEDUP at the PRODUCTION probe setting ----------------
    // q170/q172 gate the exhaustive configuration (exact graph → the
    // DuckDB replay); THIS row is the geometry a 100 TB dedup run uses —
    // nLists=16 probed at nProbe=8 — with the monitor that matters for
    // DEDUP read from the PERSISTED DECISION CERTIFICATE (round-17
    // verdict #1): not channel recall (q164/q169's serving proxy) but
    // DECISION recall — the pruned run must still make ≥ 90 % of the
    // drops the exhaustive run makes over the SAME index. The exhaustive
    // audit runs ONCE at certification time (Dedup.certifyDecisionRecall,
    // in the cachedBuild alongside the index; its published cert rides
    // the manifest), and the production run only ASSERTS the stored
    // number — floor + epoch freshness + (θ, k, nProbe) — via one 1-row
    // read; a mutation without re-certification fails loudly on the
    // stale epoch before a degraded dedup ships a duplicate-ridden
    // corpus. At 100 TB the certification audit is SAMPLED; the gate
    // fixture is small enough to audit exactly. Output is the production
    // decisions: rows-only for the driver (seeded KMeans routing),
    // frozen by the GoldenSpec pin.
    QueryDef("q173_semdedup_prod_probe", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q173_semdedup_prod",
          params = "ivf:nlists=16:semdedup-prod:dcert=t0.9k5p8") { p =>
        Similarity.buildIvfIndex(corpus, p, nLists = 16)
        Dedup.certifyDecisionRecall(s, p, threshold = 0.9, k = 5,
          nProbe = 8)
      }
      val dropRecall = Dedup.requireCertifiedDecisionRecall(s, idx,
        threshold = 0.9, k = 5, nProbe = 8, floor = 0.90)
      System.err.println(f"[q173] certified decision recall at " +
        f"nProbe=8/nLists=16: $dropRecall%.4f")
      Dedup.semanticDedupApply(corpus, "vec_id", "embedding", idx,
          threshold = 0.9, k = 5, nProbe = 8)
        .orderBy("vec_id")
    }),

    // ---- kNN-graph LIFECYCLE CLOSURE (delete → compact → append) -------
    // The SANCTIONED maintained-graph mutation sequence end-to-end as one
    // oracle-gated row (round-17 verdict #4): takedown through
    // deleteFromKnnGraph (tombstones pending + targeted repair, one
    // atomic publish), compactIvfIndex (retires the tombstones — its
    // stale-graph check passes because the repair already ran), then
    // appendToKnnGraph for the recrawl shard (reopened by the
    // compaction). Decisions over the final corpus read the maintained
    // graph; the oracle replays the WHOLE chain from scratch over
    // exactly (base ∖ victims) ∪ shard — hash-green proves three
    // composed delta mutations reproduce the full rebuild
    // decision-for-decision. At exhaustive geometry every step's
    // exactness argument is airtight (delete repair re-probes all
    // cells; append merges through the same bounded heap).
    QueryDef("q177_semdedup_lifecycle", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val base = corpus.filter(col("vec_id") < 1000000L)
      val victims = base.filter(pmod(col("vec_id"), lit(10)) === 3)
      val shard = corpus.filter(col("vec_id") >= 1000000L)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q177_semdedup_lifecycle",
          params = "ivf:nlists=8:knngraph:k=5:del+compact+append") { p =>
        Similarity.buildIvfIndex(base, p, nLists = 8)
        Similarity.buildKnnGraph(s, p, k = 5, nProbe = 8)
        Similarity.deleteFromKnnGraph(victims.select("vec_id"), p,
          k = 5, nProbe = 8)
        Similarity.compactIvfIndex(s, p)
        Similarity.appendToKnnGraph(shard, p, k = 5, nProbe = 8)
      }
      val live = base.filter(pmod(col("vec_id"), lit(10)) =!= 3)
        .unionByName(shard)
      Dedup.semanticDedupDecisions(live, "vec_id", "embedding",
          Similarity.knnGraphFromIndex(s, idx), threshold = 0.9)
        .orderBy("vec_id")
    },
      // the delete→compact→append lifecycle: base minus victims, shard
      // (the twins) re-appended — the from-scratch replay over exactly
      // that corpus gates the three composed delta mutations
      oracle = Some(semDedupOracleSqlOn("NOT (vec_id < 1000000 AND vec_id % 10 = 3)"))),

    // ---- SEMANTIC DEDUP over the QUANTIZED index ------------------------
    // q170's rewrite with its kNN stage answered from the int8
    // filter-refine index (round-17 verdict #5): the candidate pass scans
    // 64-byte code columns instead of 512-byte double vectors (~8× fewer
    // scan bytes for the non-surviving majority at dim 64 — parquet
    // column pruning keeps the doubles unread), survivors re-rank
    // exactly, and the batch join shuffles on cell — never a broadcast
    // of the corpus-sized query side (quantizedKnnJoinFromIndex). The
    // refine pass is PROVABLY exact (the Δ/2 reconstruction bound,
    // q99/q124's gated property), so at exhaustive probe the kNN graph —
    // and every decision — equals q170's, and the oracle is the SAME
    // from-scratch DuckDB replay VERBATIM: hash-green proves the int8
    // path changes the economics, not one decision.
    QueryDef("q176_semdedup_quantized", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q176_semdedup_quant",
          params = "quant.v2:nlists=8:semdedup") { p =>
        Similarity.buildQuantizedIndex(corpus, p, nLists = 8)
      }
      Dedup.semanticDedupApplyQuantized(corpus, "vec_id", "embedding",
          idx, threshold = 0.9, k = 5, nProbe = 8)
        .orderBy("vec_id")
    },
      // the int8 filter-refine path is provably exact, so the quantized
      // rewrite replays against the IDENTICAL from-scratch oracle
      oracle = Some(semDedupOracleSql),
      auditPasses = Seq(
        // q176's quantized batch kNN kernel (two-pass int8 filter + exact
        // refine): consumed inside semanticDedupApplyQuantized before the
        // component loop's checkpoints, so the RETURNED q176 plan never
        // shows it — registered here so the code-scan passes (incl. the r20
        // cell-pinned repartition) stay under the smell scan.
        AuditPass("knnjoin", (s, dir) => {
          val corpus = neardupCorpus(s, dir)
          val idx = cachedBuild(dir, "embeddings.parquet",
              "target/q176_semdedup_quant",
              params = "quant.v2:nlists=8:semdedup") { p =>
            operators.Similarity.buildQuantizedIndex(corpus, p, nLists = 8)
          }
          operators.Similarity.quantizedKnnJoinFromIndex(idx, corpus, k = 5,
            nProbe = 8)
        },
          // q176's quantized batch kernel (registered r20): the identical
          // nLists-row centroid cross routes the corpus-as-queries side.
          accepted = Set("BroadcastNestedLoopJoin")))),

    // ---- QUANTIZED semantic dedup at PRODUCTION geometry ---------------
    // q176 gates the int8 path at exhaustive probe (the exactness proof);
    // THIS row is the geometry a 100 TB quantized dedup run uses —
    // nLists=16 probed at nProbe=8 — behind the PERSISTED DECISION
    // CERTIFICATE (round-18 verdict #3, q173's discipline widened to the
    // quantized artifact): the exhaustive-vs-pruned decision audit runs
    // ONCE at certification time over the index's own vectors and its
    // cert rides the manifest; the serve ASSERTS floor + epoch freshness
    // + (θ, k, nProbe) via one 1-row read. One certificate covers the
    // plain-probe AND int8 filter-refine run forms: at equal geometry the
    // refine pass is provably exact (the Δ/2 bound), so the decisions
    // measured on the plain probe equal the quantized run's — q176==q170
    // hash-green is the standing witness. Output is the production
    // decisions: rows-only for the driver (seeded KMeans routing), frozen
    // by the GoldenSpec pin.
    QueryDef("q178_semdedup_quant_prod", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val idx = cachedBuild(dir, "embeddings.parquet",
          "target/q178_semdedup_quant_prod",
          params = "quant.v2:nlists=16:semdedup-prod:dcert=t0.9k5p8") { p =>
        Similarity.buildQuantizedIndex(corpus, p, nLists = 16)
        Dedup.certifyDecisionRecall(s, p, threshold = 0.9, k = 5,
          nProbe = 8)
      }
      val dropRecall = Dedup.requireCertifiedDecisionRecall(s, idx,
        threshold = 0.9, k = 5, nProbe = 8, floor = 0.90)
      System.err.println(f"[q178] certified decision recall (quantized) " +
        f"at nProbe=8/nLists=16: $dropRecall%.4f")
      Dedup.semanticDedupApplyQuantized(corpus, "vec_id", "embedding",
          idx, threshold = 0.9, k = 5, nProbe = 8)
        .orderBy("vec_id")
    }),

    // ---- End-to-end corpus pipeline: quality filter → near-dedup -------
    // The C4-style composition (length/alpha gates, then keep-first
    // near-dup removal), oracle-checked against the full quadratic
    // jaccard over the filtered corpus.
    QueryDef("q53_corpus_filter", (s, dir) => {
      val filtered = Tables.documents(s, dir)
        .filter(size(TextFunctions.tokens(col("text"))) >= 30 &&
          (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            length(col("text"))) >= 0.8)
      Dedup.dropNearDuplicates(filtered, "doc_id", "text", threshold = 0.8)
        .select("doc_id", "lang").orderBy("doc_id")
    }, oracle = Some(raw"""WITH q AS (
           SELECT * FROM documents
           WHERE len(string_split_regex(trim(text), '[$WS]+')) >= 30
             AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / length(text) >= 0.8),
         toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM q),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks),
         dups AS (
           SELECT DISTINCT b.doc_id
           FROM sh a, sh b
           WHERE a.doc_id < b.doc_id
             AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
         SELECT doc_id, lang FROM q
         WHERE doc_id NOT IN (SELECT doc_id FROM dups)
         ORDER BY doc_id""")),

    // ---- North-star: content-defined chunking dup report ---------------
    // CDC at token granularity (TextFunctions.cdcChunks — Rabin-style
    // local boundaries, so edits re-chunk only their neighborhood): per
    // doc, how much of its token stream lives in chunks shared VERBATIM
    // with other docs — the partial-overlap detector between q19's
    // whole-doc exact dedup and q71's per-gram accounting, at chunk
    // (not gram) shuffle volume: ~1/modulus the rows of the gram stream,
    // 24 bytes each, text never exploded. Shared = chunk content hash in
    // ≥2 distinct docs; one (chash, doc_id) distinct + count, and the
    // shared set semi-folds back as a join on the same chash exchange.
    QueryDef("q111_cdc_chunks", (s, dir) => {
      // the chunk stream fans out to TWO consumers (the shared-set
      // aggregate and the final classification join) — materialize the
      // 28-byte rows once or the tokenize+window kernel runs per consumer
      val rows = Dedup.cdcChunkRows(Tables.documents(s, dir),
        "doc_id", "text").localCheckpoint()
      val shared = rows.select("chash", "doc_id").distinct()
        .groupBy("chash").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select("chash")
      rows.join(shared.withColumn("sh", lit(1)), Seq("chash"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum("ctoks").as("n_tok"),
          coalesce(sum(when(col("sh") === 1, col("ctoks"))), lit(0L))
            .as("dup_tok"))
        .withColumn("dup_frac",
          round(col("dup_tok").cast("double") / col("n_tok"), 6))
        .orderBy("doc_id")
    },
      // q111: the CDC chunker replayed end-to-end — same 4-token windows,
      // same FNV-1a-64 (byte-faithful via utf8OctetsSql), same mod-16
      // boundary rule (unsigned % 16 == Spark's pmod on the signed image
      // since 2^64 ≡ 0 mod 16), same filter-then-append end construction,
      // chunk hashes compared WITHIN the engine only (signedness never
      // crosses), sharing = count(distinct doc) >= 2 on chunk content.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id,
             string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         win AS (
           SELECT doc_id, t,
             unnest(range(1, CASE WHEN len(t) >= 4
                                  THEN len(t) - 2 ELSE 1 END)) AS i
           FROM toks),
         winh AS (
           SELECT doc_id, i,
             ${fnvOctetsSql("array_to_string(t[i:i+3], ' ')")} AS wh
           FROM win),
         bnd AS (
           SELECT doc_id, list(i + 3 ORDER BY i) AS bends
           FROM winh WHERE wh % 16 = 0 GROUP BY doc_id),
         ends AS (
           SELECT tk.doc_id, tk.t,
             list_concat(
               list_filter(COALESCE(b.bends, []::BIGINT[]),
                 e -> e < len(tk.t)),
               [CAST(len(tk.t) AS BIGINT)]) AS ee
           FROM toks tk LEFT JOIN bnd b ON tk.doc_id = b.doc_id),
         chunk AS (
           SELECT doc_id, t, ee,
             unnest(range(1, len(ee) + 1)) AS k
           FROM ends),
         cstrs AS (
           SELECT doc_id,
             array_to_string(
               t[(CASE WHEN k = 1 THEN 1 ELSE ee[k-1] + 1 END):(ee[k])],
               ' ') AS cstr,
             ee[k] - (CASE WHEN k = 1 THEN 1 ELSE ee[k-1] + 1 END) + 1
               AS ctoks
           FROM chunk),
         ch AS (
           SELECT doc_id, ${fnvOctetsSql("cstr")} AS chash, ctoks
           FROM cstrs),
         shared AS (
           SELECT chash FROM ch
           GROUP BY chash HAVING COUNT(DISTINCT doc_id) >= 2)
         SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(ctoks) AS BIGINT) AS n_tok,
           CAST(COALESCE(SUM(CASE WHEN chash IN (SELECT chash FROM shared)
                                  THEN ctoks END), 0) AS BIGINT) AS dup_tok,
           round(CAST(COALESCE(SUM(CASE WHEN chash IN
                     (SELECT chash FROM shared) THEN ctoks END), 0)
                   AS DOUBLE) / SUM(ctoks), 6) AS dup_frac
         FROM ch GROUP BY doc_id ORDER BY doc_id""")),

    // ---- North-star: BLOOM-gated exact-dedup ingest admission ----------
    // q89's incremental-ingest shape for EXACT dedup, with the standing
    // corpus compiled into a persisted Bloom filter (cachedBuild — the
    // q92/q97 build-once artifact pattern): shard keys probe the stored
    // filter inside the scan's codegen span, never-seen rows are admitted
    // outright (no false negatives), and only might-contain candidates
    // (true dups + ~0.9% FPs at 10 bits/key) reach the raw-text verify —
    // candidates broadcast into a corpus semi-join, the surviving key set
    // broadcasts back into the shard anti-join, so the corpus never
    // shuffles and the per-ingest join input is |dups| + fp·|new| instead
    // of |shard|. Shard = exact copies of the %10=5 slice (must ALL be
    // dropped), near-miss variants of %10=3 (one appended token — hash
    // differs, must ALL be admitted), and the genuinely-new %10=7 slice.
    // Oracle = plain NOT IN on raw text: bloom FPs are verified away, so
    // the admission is EXACT, not approximate --------------------------
    QueryDef("q101_bloom_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val shard = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" zznew")).as("text")))
        .unionAll(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      val bloomPath = cachedBuild(dir, "documents.parquet",
          "target/q101_bloom2", params = "bloom:nfc") { p => // v2: artifact now pins nfc
        operators.Dedup.buildExactBloom(corpus, "text", p)
      }
      operators.Dedup.bloomAdmit(corpus, shard, "text", bloomPath)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .orderBy("doc_id")
    },
      // Plain NOT IN on raw text — the bloom-probe + verify pipeline must
      // reproduce exact set-membership admission (FPs verified away, no
      // FNs by the Bloom guarantee).
      oracle = Some("""WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
         shard AS (
           SELECT doc_id + 5000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 5
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text || ' zznew' AS text
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT doc_id + 7000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 7)
         SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blen
         FROM shard
         WHERE text NOT IN (SELECT text FROM corpus)
         ORDER BY doc_id"""),
      auditPasses = Seq(
        // q101's bloom build (cachedBuild pass): one key-column aggregate
        // folding the corpus into the persisted filter — sizing literals are
        // stand-ins here (the real build derives them from the count pass).
        AuditPass("build", (s, dir) =>
          operators.Dedup.exactBloomAggFrame(
            Tables.documents(s, dir).select("doc_id", "text")
              .filter(col("doc_id") % 10 =!= 7),
            "text", n = 1000L, numBits = 10000L),
          // q101's bloom build (construction-time, cachedBuild-amortized):
          // a GLOBAL aggregate — the final merge ORs the per-partition
          // bloom blobs through one task, the q03/q17/q82#pass1 shape.
          accepted = Set("SinglePartition-exchange")))),

    // ---- RECORD LINKAGE: edit-distance similarity join ------------------
    // Entity resolution: a dirty catalog (deterministically corrupted
    // part labels — delete / substitute / two-edit, keyed by partkey)
    // matched against the canonical catalog at levenshtein <= 2. The
    // operator never forms the probe x catalog product: candidates come
    // from an equi-join on PassJoin segment-hash keys (recall-exact by
    // pigeonhole — Linkage.editDistanceJoin scaladoc carries the proof)
    // and only survivors pay the banded O(k·len) verify. The oracle IS
    // the quadratic join (length-filtered brute levenshtein in DuckDB),
    // so a hash-green row proves the blocking lost no pair.
    QueryDef("q137_editdist_linkage", (s, dir) => {
      val cat = Tables.part(s, dir).select(
        col("p_partkey").as("cat_id"),
        concat(col("p_brand"), lit(" "), col("p_name"), lit(" #"),
          col("p_partkey").cast("string")).as("s"))
      val lab = cat.select(col("cat_id").as("dirty_id"), col("s"),
        (col("cat_id") % (length(col("s")) - 6) + 2).cast("int").as("p"))
      val dirty = lab.select(col("dirty_id"),
        expr("""CASE dirty_id % 4
          WHEN 0 THEN s
          WHEN 1 THEN concat(substring(s, 1, p-1), substring(s, p+1))
          WHEN 2 THEN concat(substring(s, 1, p-1), 'x', substring(s, p+1))
          ELSE concat(substring(s, 1, p-1), 'x', substring(s, p+1, 1),
                      substring(s, p+3))
          END""").as("d"))
      Linkage.editDistanceJoin(dirty, "dirty_id", "d", cat, "cat_id", "s",
          k = 2)
        .select(col("dirty_id"), col("cat_id"),
          col("dist").cast("long").as("dist"))
        .orderBy("dirty_id", "cat_id")
    },
      // q137 oracle: THE QUADRATIC JOIN the operator exists to avoid — same
      // label + corruption derivation (pure substring/concat ops, exact in
      // both engines), then brute levenshtein over the length-filtered
      // probe x catalog product. Hash-green proves the segment blocking
      // recall-exact.
      oracle = Some("""WITH cat AS (
         SELECT p_partkey AS cat_id,
           concat(p_brand, ' ', p_name, ' #', CAST(p_partkey AS VARCHAR))
             AS s
         FROM part),
       lab AS (
         SELECT cat_id AS dirty_id, s,
           CAST(cat_id % (length(s) - 6) + 2 AS INT) AS p
         FROM cat),
       dirty AS (
         SELECT dirty_id,
           CASE dirty_id % 4
             WHEN 0 THEN s
             WHEN 1 THEN concat(substring(s, 1, p-1), substring(s, p+1))
             WHEN 2 THEN concat(substring(s, 1, p-1), 'x',
                                substring(s, p+1))
             ELSE concat(substring(s, 1, p-1), 'x', substring(s, p+1, 1),
                         substring(s, p+3))
           END AS d
         FROM lab)
       SELECT d.dirty_id, c.cat_id,
         CAST(levenshtein(d.d, c.s) AS BIGINT) AS dist
       FROM dirty d, cat c
       WHERE abs(length(d.d) - length(c.s)) <= 2
         AND levenshtein(d.d, c.s) <= 2
       ORDER BY dirty_id, cat_id""")),

    // ---- CONTAINMENT JOIN: quote / subsumption detection -------------------
    // The asymmetric near-dup relation Jaccard misses: a short doc quoted
    // inside a much longer one scores near-zero Jaccard (the union is
    // dominated by the container) but containment ~1. Exact recall via
    // probe-side-only prefix filtering (the index side must stay full —
    // containment puts no ceiling on the container's extra content).
    QueryDef("q149_containment_join", (s, dir) =>
      Dedup.exactContainmentJoin(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8)
        .orderBy("id_a", "id_b"),
      // q149 oracle: the quadratic containment join — all ORDERED pairs
      // (containment is asymmetric), raw-string shingle sets vs the
      // engine's 64-bit hashes (parity = collision-freedom, the q24/q66
      // argument), identical int÷int IEEE division.
      oracle = Some(raw"""WITH toks AS (
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
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
               AS containment
           FROM nz a, nz b WHERE a.doc_id != b.doc_id)
       SELECT id_a, id_b, containment FROM prs
       WHERE containment >= 0.8 ORDER BY id_a, id_b""")),

    // ---- SUBSUMPTION DEDUP POLICY -------------------------------------------
    // The end-to-end composition over q149 (the dropNearDuplicates of
    // containment): drop every document >= 80 % contained in a STRICTLY
    // LARGER document (shingle-set size, id tiebreak) — keep the
    // container, drop the quote. The strict order makes the policy
    // coherent (mutual containment — near-identical docs — keeps the
    // larger/smaller-id one; no drop cycles). Report: per-source kept /
    // dropped counts. One anti-join against the small dropped-id set.
    QueryDef("q151_subsumption_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.exactContainmentJoin(docs, "doc_id", "text",
        threshold = 0.8)
      val sizes = docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.shingleHashSet(col("text"), 3))
          .cast("long").as("__sz"))
      val dropped = pairs
        .join(sizes.select(col("doc_id").as("id_a"), col("__sz").as("sa")),
          Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("__sz").as("sb")),
          Seq("id_b"))
        .filter(col("sb") > col("sa") ||
          (col("sb") === col("sa") && col("id_b") < col("id_a")))
        .select(col("id_a").as("doc_id")).distinct()
      // no forced broadcast: the dropped-id set sizes with true quote
      // density — AQE broadcasts it when it is actually small
      docs.join(dropped.withColumn("__drop", lit(true)),
          Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("__drop"), 0L).otherwise(1L)).as("n_kept"))
        .orderBy("source")
    },
      // q151 oracle: the quadratic containment pairs with the same strict
      // (size, id) drop order, folded to per-source kept/dropped counts.
      // Set sizes are raw-string shingle-set cardinalities == the engine's
      // hash-set sizes (collision-freedom parity).
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM toks),
         nz AS (SELECT doc_id, s, len(s) AS sz FROM sh WHERE len(s) > 0),
         dropped AS (
           SELECT DISTINCT a.doc_id
           FROM nz a, nz b
           WHERE a.doc_id != b.doc_id
             AND (b.sz > a.sz OR (b.sz = a.sz AND b.doc_id < a.doc_id))
             AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / a.sz
                 >= 0.8)
         SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END)
             AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept
         FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
         GROUP BY d.source ORDER BY d.source""")),
  )

  /** The q61/q61b near-dup corpus: embeddings as double arrays plus the
    * deterministic θ-boundary twins for vec_id < 50 (blend of each vector
    * toward its circular rotation, alpha = vec_id%8/20 — the oracle
    * reproduces the same IEEE ops in the same order).
    *
    * NOT persisted here: [[Dedup.embeddingPairs]] consumes its input
    * three times (sketch side + both vector join-backs), and this corpus
    * is DERIVED (union + per-element transform + float→double widening),
    * so whether to materialize it is a measured trade-off, not a rule.
    * q61b persists — its planesFor `count()` already pays the
    * materialization pass, so the cache is free and cut its x100 time
    * 310→259 s. q61 does NOT — with no count to piggyback on, the extra
    * cache-build pass plus GC pressure measured SLOWER at x100 (744 s
    * persisted vs 476 s recomputing at the same suite position, and vs
    * 621 s clean-isolated; BENCH_SCALE.md round-7 isolation),
    * and q61 stays the round-over-round comparability row besides.
    */
  private def neardupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"),
      VectorFunctions.toDoubleArray(col("embedding")).as("embedding"))
    val twins = base.filter(col("vec_id") < 50)
      .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (lit(1.0) - col("a")) * x + col("a") *
            element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
          .as("embedding"))
    base.unionByName(twins)
  }

  /** The q22/q80 oracle body at `k` signature positions: the oracle
    * interpolates `HashUtil.affineCoefficients(k, 42)` — the literal
    * call the MinHashSig kernel makes at the same k — so engine and
    * oracle coefficients are identical by construction at EVERY
    * geometry (q80: bandsFor(0.5, 2) → 49×2 = 98 positions). The pair
    * gate is agreements ≥ k/2 ⇔ est_jaccard ≥ 0.5 exactly (k is even).
    */
  private def minhashOracleSqlFor(k: Int): String = {
    require(k % 2 == 0, s"oracle threshold k/2 must be exact, got k=$k")
    val (a, b) = graft.functions.expressions.HashUtil.affineCoefficients(k, 42L)
    val aLit = a.mkString("[", ",", "]")
    val bLit = b.mkString("[", ",", "]")
    raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         shingle_rows AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]) || ' '))) AS s
           FROM toks WHERE len(t) >= 3),
         hash_rows AS (
           SELECT doc_id, ${fnvOctetsSql("s")} AS h
           FROM shingle_rows),
         hm_rows AS (
           SELECT DISTINCT doc_id,
             CAST((((CASE WHEN h >= CAST(9223372036854775808 AS UBIGINT)
                          THEN CAST(h AS HUGEINT) - 18446744073709551616
                          ELSE CAST(h AS HUGEINT) END) % 2147483647) + 2147483647)
                   % 2147483647 AS BIGINT) AS m
           FROM hash_rows),
         coef AS (
           SELECT unnest(range(1, ${k + 1})) AS i,
                  unnest($aLit) AS a, unnest($bLit) AS b),
         sig_rows AS (
           SELECT doc_id, i, MIN((a * m + b) % 2147483647) AS v
           FROM hm_rows, coef GROUP BY doc_id, i),
         sig AS (
           SELECT doc_id, list(v ORDER BY i) AS s FROM sig_rows GROUP BY doc_id)
         SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(len(list_filter(range(1, ${k + 1}), i -> x.s[i] = y.s[i])) AS DOUBLE)
             / $k AS est_jaccard
         FROM sig x, sig y
         WHERE x.doc_id < y.doc_id
           AND len(list_filter(range(1, ${k + 1}), i -> x.s[i] = y.s[i])) >= ${k / 2}
         ORDER BY id_a, id_b"""
  }

  /** q61 oracle: re-derives the deterministic near-dup twins (same blend
    * arithmetic, element-for-element — `(1-a)*v[i] + a*v[rot]` is the
    * identical IEEE double expression in both engines, and the float→double
    * widening of the base embedding is exact), then computes the FULL
    * quadratic cosine over base ∪ twins — so a hash-green row proves the
    * production-regime (θ=0.9, 16-plane, lshTablesFor-sized) LSH blocking
    * lost no pair. Indexing note: DuckDB's 1-based `v[1 + (i % 64)]` equals
    * Spark's 0-based `element_at(v, ((i0+1) mod 64) + 1)` under i = i0+1.
    */
  private val embedProdOracleSql: String =
    """WITH b AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         tw AS (
           SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (1 - a) * v[i] + a * v[1 + (i % 64)]) AS v
           FROM (SELECT vec_id, v, CAST(vec_id % 8 AS DOUBLE) / 20 AS a
                 FROM b WHERE vec_id < 50)),
         allv AS (SELECT * FROM b UNION ALL SELECT * FROM tw),
         n AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM allv)
         SELECT id_a, id_b, sim FROM (
           SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.v)+1), i -> a.v[i] * c.v[i])),
               (acc, x) -> acc + x) / (a.nrm * c.nrm), 4) AS sim
           FROM n a, n c WHERE a.vec_id < c.vec_id)
         WHERE sim > 0.9 ORDER BY id_a, id_b"""

  /** q170 oracle: the SemDeDup decision table replayed start-to-finish in
    * SQL — the q61 twin corpus re-derived (identical IEEE blend, see
    * [[embedProdOracleSql]]), the exact kNN graph as a quadratic top-5
    * (ROW_NUMBER on the 6-dp cosine, n_id tiebreak — the engine's heap
    * contract), the θ=0.9 filter ON THE ROUNDED sim (both engines compare
    * identical 6-dp values), symmetric distinct edges, RECURSIVE
    * reachability closure (component = MIN reachable id — the q64
    * pattern), and the keep-best argmax re-derived as a ranked window
    * over (round(nrm,6) DESC, vec_id) — exactly the engine's
    * min_by(vec_id, struct(-nrm, vec_id)) keep-best ordering.
    */
  private val semDedupOracleSql: String = semDedupOracleSqlOn("TRUE")

  /** The q170/q172/q174 replay with the corpus restricted to `where`
    * (q174: the post-takedown remaining corpus — twins and bases filter
    * by the same predicate on BOTH sides).
    */
  private def semDedupOracleSqlOn(where: String): String =
    s"""WITH RECURSIVE b AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         tw AS (
           SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (1 - a) * v[i] + a * v[1 + (i % 64)]) AS v
           FROM (SELECT vec_id, v, CAST(vec_id % 8 AS DOUBLE) / 20 AS a
                 FROM b WHERE vec_id < 50)),
         allv AS (SELECT * FROM b UNION ALL SELECT * FROM tw),
         liv AS (SELECT * FROM allv WHERE $where),
         n AS (
           SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(v)+1), i -> v[i] * v[i])),
               (acc, x) -> acc + x)) AS nrm
           FROM liv),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])),
               (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS sim
           FROM n q, n c WHERE c.vec_id != q.vec_id),
         knn AS (
           SELECT q_id, n_id, sim FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim DESC, n_id) AS rn
             FROM scored)
           WHERE rn <= 5),
         eg AS (
           SELECT DISTINCT least(q_id, n_id) AS u, greatest(q_id, n_id) AS v
           FROM knn WHERE sim >= 0.9),
         und AS (SELECT u, v FROM eg UNION SELECT v AS u, u AS v FROM eg),
         reach AS (
           SELECT vec_id AS src, vec_id AS dst FROM liv
           UNION
           SELECT r.src, e.v FROM reach r JOIN und e ON r.dst = e.u),
         comp AS (
           SELECT src AS vec_id, MIN(dst) AS component
           FROM reach GROUP BY src),
         qual AS (SELECT vec_id, round(nrm, 6) AS nrm FROM n),
         keep AS (
           SELECT component, vec_id AS keep_id, csize FROM (
             SELECT c.component, q.vec_id,
               COUNT(*) OVER (PARTITION BY c.component) AS csize,
               ROW_NUMBER() OVER (PARTITION BY c.component
                 ORDER BY q.nrm DESC, q.vec_id) AS r
             FROM comp c JOIN qual q USING (vec_id))
           WHERE r = 1)
         SELECT c.vec_id, c.component, CAST(k.csize AS BIGINT) AS csize,
           CASE WHEN c.vec_id = k.keep_id THEN 'kept' ELSE 'dropped' END
             AS action,
           k.keep_id
         FROM comp c JOIN keep k USING (component)
         ORDER BY c.vec_id"""

  /** Shared q100/q103 round-trip oracle: per-doc polynomial fingerprint
    * (q27's formula) plus the typed columns, over the ORIGINAL parquet —
    * a hash-green row proves the interchange write→read loop preserved
    * every text byte and typed value.
    */
  /** q89/q110 shared oracle: full quadratic corpus × shard Jaccard, then
    * NOT IN — proves the band blocking (fresh sketch in q89, persisted
    * index in q110) + left-anti admitted exactly the non-dup shard
    * (miss bound 4e-8 structural, same as q84).
    */
  private val incrementalIngestOracleSql: String =
    ingestOracleSql("doc_id % 10 <> 7")

  /** The quadratic near-dup admission oracle (q89/q110/q123), with the
    * corpus CTE's predicate parameterized so the band-index DELETE query
    * gates against the reduced (post-takedown) corpus.
    */
  private def ingestOracleSql(corpusWhere: String): String =
    raw"""WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE $corpusWhere),
         shard AS (
           SELECT doc_id + 5000000 AS doc_id, text || ' zzingest' AS text
           FROM documents WHERE doc_id % 10 = 5
           UNION ALL
           SELECT doc_id + 7000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 7),
         shc AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '[$WS]+') AS t
                 FROM corpus)),
         shs AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
             END AS s
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '[$WS]+') AS t
                 FROM shard)),
         flagged AS (
           SELECT DISTINCT e.doc_id
           FROM shc c, shs e
           WHERE len(c.s) > 0 AND len(e.s) > 0
             AND CAST(len(list_intersect(c.s, e.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(c.s, e.s))) >= 0.8)
         SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blen
         FROM shard
         WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
         ORDER BY doc_id"""

  private val componentClosureCtes: String =
    "WITH RECURSIVE " + componentClosureBody("documents")
}
