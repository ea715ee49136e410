package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.cachedBuild
import graft.functions.TextFunctions
import graft.functions.TextFunctions.WS
import graft.operators.{Dedup, Relational}
import graft.queries.QueryShared._

/** Text and curation queries: quality signals and gates, language and
  * script ID, tokenizers (BPE train and encode), LM surprisal, sampling
  * and mixing, packing, chunking, scrubbing, snapshots and corpus reports.
  */
object TextQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- SCRIPT-MIX PROFILE (multilingual curation signal) --------------
    // Per-document Unicode-script composition: codepoint counts per
    // script class (Latin / CJK / Cyrillic / Greek / digit / whitespace /
    // other), Shannon entropy of the distribution, dominant script, and
    // a mixed-script flag (second-largest letter script >= 5 chars AND
    // >= 5 % of the doc) — the signal that catches boilerplate-wrapped
    // translations, spam stitching, and mojibake before a language-pure
    // corpus trains on them. Counts come from length-difference over
    // codegen'd regexp_replace (Java script classes are codepoint-aware,
    // so supplementary-plane chars count once — verified equal to
    // DuckDB's RE2 classes on CJK/emoji; the mixed-corpus gate exercises
    // exactly that). Entropy is ONE fixed left-assoc expression both
    // engines evaluate in the same term order, 6 dp. Pure per-row map —
    // no shuffle but the final sort; at 100 TB this is a free rider on
    // any corpus scan.
    QueryDef("q158_script_mix", (s, dir) => {
      val counted = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .withColumn("n", length(col("text")).cast("long"))
        .withColumn("n_latin", (col("n") - length(regexp_replace(
          col("text"), lit("[\\p{IsLatin}]"), lit("")))).cast("long"))
        .withColumn("n_cjk", (col("n") - length(regexp_replace(col("text"),
          lit("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}]"),
          lit("")))).cast("long"))
        .withColumn("n_cyrillic", (col("n") - length(regexp_replace(
          col("text"), lit("[\\p{IsCyrillic}]"), lit("")))).cast("long"))
        .withColumn("n_greek", (col("n") - length(regexp_replace(
          col("text"), lit("[\\p{IsGreek}]"), lit("")))).cast("long"))
        .withColumn("n_digit", (col("n") - length(regexp_replace(
          col("text"), lit("[0-9]"), lit("")))).cast("long"))
        .withColumn("n_space", (col("n") - length(regexp_replace(
          col("text"), lit("[\\s]"), lit("")))).cast("long"))
        .withColumn("n_other", col("n") - col("n_latin") - col("n_cjk") -
          col("n_cyrillic") - col("n_greek") - col("n_digit") -
          col("n_space"))
      counted.select(col("doc_id"), col("n").as("n_chars"),
          col("n_latin"), col("n_cjk"), col("n_cyrillic"), col("n_greek"),
          col("n_digit"), col("n_space"), col("n_other"),
          expr(scriptEntropyExpr).as("script_entropy"),
          expr(dominantScriptExpr).as("dominant_script"),
          expr(mixedScriptExpr).as("is_mixed"))
        .orderBy("doc_id")
    }, oracle = Some({
      val duckMixed = mixedScriptExpr
        .replace("element_at(array_sort(array(", "list_sort([")
        .replace(")), 3)", "])[3]")
        .replace("(n + 19) div 20", "(n + 19) // 20")
      raw"""WITH counted AS (
           SELECT doc_id, length(text) AS n,
             length(text) - length(regexp_replace(text,
               '[\p{Latin}]', '', 'g')) AS n_latin,
             length(text) - length(regexp_replace(text,
               '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]', '', 'g'))
               AS n_cjk,
             length(text) - length(regexp_replace(text,
               '[\p{Cyrillic}]', '', 'g')) AS n_cyrillic,
             length(text) - length(regexp_replace(text,
               '[\p{Greek}]', '', 'g')) AS n_greek,
             length(text) - length(regexp_replace(text,
               '[0-9]', '', 'g')) AS n_digit,
             length(text) - length(regexp_replace(text,
               '[\s]', '', 'g')) AS n_space
           FROM documents WHERE length(text) > 0),
         fullc AS (
           SELECT *, n - n_latin - n_cjk - n_cyrillic - n_greek
             - n_digit - n_space AS n_other
           FROM counted)
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(n_latin AS BIGINT) AS n_latin,
           CAST(n_cjk AS BIGINT) AS n_cjk,
           CAST(n_cyrillic AS BIGINT) AS n_cyrillic,
           CAST(n_greek AS BIGINT) AS n_greek,
           CAST(n_digit AS BIGINT) AS n_digit,
           CAST(n_space AS BIGINT) AS n_space,
           CAST(n_other AS BIGINT) AS n_other,
           $scriptEntropyExpr AS script_entropy,
           $dominantScriptExpr AS dominant_script,
           $duckMixed AS is_mixed
         FROM fullc ORDER BY doc_id"""
    })),

    // ---- North-star: text quality scoring ------------------------------
    QueryDef("q20_text_quality", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(split(trim(col("text")), " ")).cast("long").as("n_words"),
        ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
          .cast("long").as("n_the"))
        .orderBy("doc_id"),
      oracle = Some("""SELECT doc_id, length(text) AS n_chars_m,
             len(string_split(trim(text), ' ')) AS n_words,
             (length(text) - length(replace(text, 'the', ''))) // 3 AS n_the
         FROM documents ORDER BY doc_id""")),

    // ---- North-star: token counting per language -----------------------
    QueryDef("q21_token_stats", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(trim(col("text")), " ")).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
             sum(col("n_tok")).as("tot_tokens"),
             (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy("lang"),
      oracle = Some(
        """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_tok) AS BIGINT) AS tot_tokens,
             CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens
         FROM (SELECT lang, len(string_split(trim(text), ' ')) AS n_tok
               FROM documents)
         GROUP BY lang ORDER BY lang""")),

    // ---- North-star: exact φ-heavy hitters via a Misra-Gries sketch ----
    // The two-pass sketch-then-verify shape: pass 1 is ONE aggregate job
    // computing N and a k=2048-counter MG candidate summary (shuffle ≤
    // partitions × k entries, vs one row per distinct token per partition
    // for a plain GROUP BY — the difference between 64k rows and a
    // web-scale vocabulary); pass 2 exact-counts ONLY candidate tokens via
    // a broadcast semi-join. Output is EXACT for every N by arithmetic:
    // decrements require distinct > k, so N ≥ 2049, and for N ≥ 1954
    // max(1, N div 1000) > N/2049 ≥ the MG undercount — no qualifying
    // token can be missed. Oracle = the plain exact GROUP BY in DuckDB.
    QueryDef("q82_heavy_hitters", (s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      // pass 1 is ONE aggregate job whose result is DRIVER-SIZED by
      // construction (a count and ≤ k strings), so it is collected — not
      // persisted (a lazily-built persist can never be unpersisted from
      // inside a query builder and would leak cache across an 85-query
      // suite run). At 100 TB this is the same shape: the MG summary is
      // the whole point — it fits on the driver no matter the corpus.
      // The collect means the RETURNED frame never carries this subplan,
      // so the pass-1 plan is exposed separately via [[auditPlans]] —
      // without that, Explain --audit would only ever see pass 2 and a
      // pass-1 regression would be invisible to the smell scan.
      val row = q82Pass1(s, dir).head()
      val n = row.getLong(0)
      val cand = row.getSeq[String](1)
      toks.join(broadcast(cand.toDF("tok")), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= lit(math.max(1L, n / 1000L)))
        .select(col("tok"), col("cnt"))
        .orderBy(desc("cnt"), asc("tok"))
    },
      // The sketch is an implementation detail with a proven no-miss bound at
      // this (k, φ) geometry, so the oracle is simply the exact heavy-hitter
      // query: tokens with count ≥ max(1, N div 1000).
      oracle = Some(raw"""WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '[$WS]+')) AS tok
           FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM toks),
         cnt AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
         SELECT c.tok, CAST(c.cnt AS BIGINT) AS cnt
         FROM cnt c, tot t
         WHERE c.cnt >= greatest(1, t.n // 1000)
         ORDER BY cnt DESC, tok ASC"""),
      auditPasses = Seq(
        AuditPass("pass1", (s, dir) => q82Pass1(s, dir),
          // q82 pass 1 (construction-time collect, exposed via
          // SparkEntry.auditPlans): a GLOBAL aggregate — its final merge of
          // the per-partition MG summaries is one row through one task, the
          // q03/q17 shape.
          // (q82 itself used to be in the crossJoin(broadcast(1-row)) set;
          // round 8 moved its 1-row MG summary to a driver collect, so its
          // RETURNED plan is smell-free and carries no adjudication, which
          // keeps the audit able to catch a q82 regression)
          accepted = Set("SinglePartition-exchange")))),

    // ---- North-star: Unicode NFC canonicalization (ingest-time) --------
    // Canonically-equivalent byte sequences (composed `á` vs `a`+U+0301)
    // defeat every byte-keyed operator downstream — exact dedup, MinHash
    // shingles, content-hash splits. This is the ingest normalizer as a
    // native codegen'd expression (Spark has no built-in; a UDF would
    // break WholeStageCodegen). The fixture is ASCII (= already NFC), so
    // the query PLANTS decomposed sequences both engines derive
    // identically — every 'a' becomes 'a'+combining-acute — then proves
    // real composition happened: norm_chars < decomp_chars by exactly the
    // number of planted pairs, and the prefix carries the composed bytes
    // through the driver's value hash. The mixed-corpus gate re-runs this
    // on CJK/emoji text. Pure narrow map over the scan; no shuffle.
    QueryDef("q83_nfc_normalize", (s, dir) => {
      val decomp = regexp_replace(col("text"), "a", "a\u0301")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(decomp).cast("long").as("decomp_chars"),
          TextFunctions.nfcNormalize(decomp).as("norm"))
        .select(col("doc_id"), col("decomp_chars"),
          length(col("norm")).cast("long").as("norm_chars"),
          octet_length(col("norm")).cast("long").as("norm_octets"),
          substring(col("norm"), 1, 40).as("prefix"))
        .orderBy("doc_id")
    },
      // Same planted decomposition (chr(769) = U+0301 combining acute),
      // then DuckDB's own nfc_normalize — both engines implement Unicode
      // canonical composition, which the standard freezes for assigned code
      // points, so lengths AND the composed prefix bytes must agree.
      oracle = Some(raw"""WITH d AS (
           SELECT doc_id,
                  regexp_replace(text, 'a', 'a' || chr(769), 'g') AS dec
           FROM documents),
         n AS (
           SELECT doc_id, length(dec) AS decomp_chars,
                  nfc_normalize(dec) AS norm
           FROM d)
         SELECT doc_id, CAST(decomp_chars AS BIGINT) AS decomp_chars,
                CAST(length(norm) AS BIGINT) AS norm_chars,
                CAST(strlen(norm) AS BIGINT) AS norm_octets,
                substr(norm, 1, 40) AS prefix
         FROM n ORDER BY doc_id""")),

    // ---- North-star: TEMPERATURE-balanced domain mixing (α = 0.5) ------
    // q67 mixes at FIXED per-domain rates; production multilingual /
    // multi-domain pretraining derives the rates FROM the corpus with
    // temperature sampling (p_s ∝ n_s^α, α < 1 — XLM-R / mT5 style):
    // keep_rate_s = √(n_min / n_s) at α = 0.5, so effective sizes become
    // √(n_min · n_s) — the geometric interpolation between proportional
    // and uniform. The fixture's lang column is naturally skewed (en is
    // 2-3× the others), so every arm gets a distinct rate. Plan: one
    // tiny per-lang count agg (collected — one row per language, driver-
    // sized by construction, same class as q82's MG summary), rates
    // computed in exact ppm, then the same codegen'd FNV when-chain
    // filter as q67 — the corpus side stays one narrow scan, no shuffle
    // beyond the two bounded per-lang aggs. The oracle re-derives the
    // rates from counts with the same IEEE sqrt and the same FNV stream,
    // and the emitted rate_ppm column pins the derivation itself.
    QueryDef("q91_temperature_mix", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val nMin = counts.map(_._2).min
      val ppm = counts.map { case (l, n) =>
        (l, n, Relational.temperatureRatePpm(nMin, n)) }
      val kept = Relational.mixtureSample(docs, "doc_id", "lang",
          ppm.map { case (l, _, c) => l -> c / 1000000.0 }.toMap,
          defaultRate = 0.0, seed = 43L)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
      ppm.toDF("lang", "total", "rate_ppm")
        .join(kept, Seq("lang"), "left_outer")
        .select(col("lang"), col("total"),
          coalesce(col("kept"), lit(0L)).as("kept"), col("rate_ppm"))
        .orderBy("lang")
    },
      // Temperature rates re-derived from per-lang counts (same IEEE sqrt,
      // same ppm rounding), kept counts replayed on the same FNV stream.
      oracle = Some((fnvBucketCtes("documents", "doc_id", 43) + """,
         counts AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS total
           FROM documents GROUP BY lang),
         mn AS (SELECT MIN(total) AS n_min FROM counts),
         r AS (
           SELECT lang, total,
             CAST(round(1000000 * sqrt(CAST(n_min AS DOUBLE) / total))
               AS BIGINT) AS rate_ppm
           FROM counts, mn)
         SELECT r.lang, r.total,
           CAST(SUM(CASE WHEN s.b < r.rate_ppm THEN 1 ELSE 0 END)
             AS BIGINT) AS kept,
           r.rate_ppm
         FROM r JOIN s ON s.lang = r.lang
         GROUP BY r.lang, r.total, r.rate_ppm ORDER BY r.lang"""))),

    // ---- North-star: language-ID heuristic. Oracle re-derives the
    // marker-hit argmax with matching struct-max ties (the oracle below) --
    QueryDef("q28_langid", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang").as("labeled"),
          TextFunctions.langId(TextFunctions.tokens(col("text"))).as("predicted"))
        .groupBy("labeled", "predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("labeled", "predicted"),
      // Marker-argmax re-derivation; markers single-sourced from the engine.
      // q28 language-ID oracle: marker-hit argmax re-derived in DuckDB. The
      // marker lists interpolate from TextFunctions.langMarkers (the single
      // source the engine broadcasts as literals), and the tie semantics
      // match by construction: Spark's array_max and DuckDB's list_max both
      // compare (score, lang) structs field-by-field, so ties break toward
      // the lexicographically larger language in both engines.
      oracle = Some({
        val arms = TextFunctions.langMarkers.toSeq.sortBy(_._1).map {
          case (lang, ms) =>
            // SQL-escape apostrophes (plausible markers for French: l', d')
            // so interpolated literals can never break the generated SQL
            val lst = ms.map(m => s"'${m.replace("'", "''")}'").mkString(",")
            s"{'score': len(list_filter(t, x -> x IN ($lst))), 'lang': '$lang'}"
        }.mkString(", ")
        raw"""WITH toks AS (
           SELECT lang AS labeled,
             string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         scored AS (
           SELECT labeled, list_max([$arms]) AS best FROM toks)
         SELECT labeled,
           CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted,
           COUNT(*) AS cnt
         FROM scored GROUP BY labeled, predicted
         ORDER BY labeled, predicted"""
      })),

    // ---- North-star: deterministic CORPUS SHUFFLE — contiguous global
    // pseudo-random positions (the shuffle-then-shard step before
    // pre-training), as the rank in (bucket, h, id) order on the
    // hashSplit FNV stream. The scale-correct zipWithIndex: one bucket-
    // partitioned sort + a |buckets|-row prefix sum broadcast back — no
    // global-window funnel, no partition-dependent RDD index. Pure
    // function of (doc_id, seed) → the FULL permutation is
    // oracle-checkable --------------------------------------------------
    QueryDef("q74_corpus_shuffle", (s, dir) => {
      Relational.shuffleIndex(Tables.documents(s, dir).select("doc_id"),
          "doc_id", buckets = 32, seed = 23L)
        .select(col("doc_id"), col("bucket"), col("pos"))
        .orderBy("pos")
    },
      // q74 oracle: re-derive the signed FNV hash per id and replay the
      // total (bucket, hs, id) order with ROW_NUMBER — the full permutation,
      // not just counts, must match. The engine's pmod on a signed long
      // equals the ((hs % n) + n) % n fold here.
      oracle = Some(fnvSignedCtes("documents", "doc_id", 23) + """
         SELECT doc_id,
           ((hs % 32) + 32) % 32 AS bucket,
           CAST(ROW_NUMBER() OVER (
             ORDER BY ((hs % 32) + 32) % 32, hs, doc_id) - 1 AS BIGINT)
             AS pos
         FROM sg ORDER BY pos"""),
      // the |buckets|-row offset frame's prefix-sum window (documented
      // in Relational.shuffleIndex)
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: deterministic FIXED-SIZE sample — exactly k rows,
    // partition-independent (hash-priority bottom-k on the FNV stream;
    // sample() is rate-based and partition-dependent, limit() arbitrary).
    // Plan is a bounded partial top-k, never a global sort. The oracle
    // re-derives every selected id ----------------------------------------
    QueryDef("q75_priority_sample", (s, dir) => {
      Relational.prioritySample(Tables.documents(s, dir)
          .select("doc_id", "source"), "doc_id", k = 100, seed = 29L)
        .orderBy("doc_id")
    },
      // q75 oracle: bottom-k by the re-derived signed FNV priority (ties by
      // id), then the outer ORDER BY restores the engine's doc_id order.
      oracle = Some(fnvSignedCtes("documents", "doc_id", 29) + """
         SELECT doc_id, source FROM (
           SELECT doc_id, source FROM sg
           ORDER BY hs, doc_id LIMIT 100)
         ORDER BY doc_id""")),

    // ---- North-star: exact-k-PER-GROUP deterministic sample — the
    // balanced-subset primitive (k docs per language for evals/ablations):
    // q75's hash-priority bottom-k applied per group through the
    // topKByScore PARTIAL aggregate, so each input partition contributes
    // at most groups×k entries to the shuffle — never the per-group
    // row_number window, which funnels every row of a group through one
    // reducer. Priority is the same FNV stream as q75 (pure function of
    // (doc_id, seed), partition-independent); ranking is on the DOUBLE
    // image of the hash with id tiebreak, and the oracle replays the
    // identical cast so the two engines order identically -----------------
    QueryDef("q105_grouped_sample", (s, dir) => {
      val k = 20
      val pr = Tables.documents(s, dir).select(col("lang"), col("doc_id"),
        negate(TextFunctions.fnv64(
            concat(col("doc_id").cast("string"), lit(":31")))
          .cast("double")).as("score"))
      pr.groupBy("lang")
        .agg(graft.functions.AggFunctions
          .topKByScore(col("score"), col("doc_id"), k).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("lang"), (col("i") + 1).cast("long").as("rank"),
          col("e.n_id").as("doc_id"))
        .orderBy("lang", "rank")
    },
      // q105 oracle: per-lang bottom-k on the same FNV stream, ranked on the
      // DOUBLE image of the signed hash exactly as the engine's topKByScore
      // compares (score = −CAST(hs AS DOUBLE), ties by doc_id ASC).
      oracle = Some(fnvSignedCtes("documents", "doc_id", 31) + """,
         r AS (
           SELECT lang, doc_id, ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST(hs AS DOUBLE) ASC, doc_id) AS rank
           FROM sg)
         SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
         FROM r WHERE rank <= 20
         ORDER BY lang, rank""")),

    // ---- North-star: data-derived PERCENTILE quality gate — the CCNet
    // pattern: the keep threshold is not a constant (q65's Gopher rules)
    // but a percentile OF THE CORPUS (drop the shortest 20% by word
    // count), recomputed per snapshot. Computed EXACTLY without a global
    // sort or approx_percentile drift: word count lives on a bounded
    // domain, so one map-side-combined histogram groupBy + a cumulative
    // sum over the |domain|-row frame (the q74-class bounded partition-
    // less window) yields the exact threshold, broadcast back into the
    // corpus filter — two corpus scans total, zero corpus shuffles ------
    QueryDef("q107_percentile_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val wc = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("wc"))
      val hist = wc.groupBy("wc").agg(count(lit(1)).as("c"))
      val thresh = hist
        .withColumn("cum", sum("c").over(Window.orderBy("wc")))
        .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
        .filter(col("cum") >= ceil(col("n") * lit(0.2)))
        .agg(min("wc").as("t"))
      wc.crossJoin(broadcast(thresh))
        .filter(col("wc") >= col("t"))
        .select(col("doc_id"), col("wc"), col("t"))
        .orderBy("doc_id")
    },
      // Exact percentile replay: same histogram + running sum + ceil(n*0.2)
      // threshold, same IEEE ceil on the double product.
      oracle = Some(raw"""WITH wc AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS wc
           FROM documents),
         hist AS (SELECT wc, COUNT(*) AS c FROM wc GROUP BY wc),
         n AS (SELECT SUM(c) AS n FROM hist),
         cum AS (SELECT wc, SUM(c) OVER (ORDER BY wc) AS cum FROM hist),
         t AS (SELECT MIN(wc) AS t FROM cum CROSS JOIN n
               WHERE cum >= CEIL(n * 0.2))
         SELECT w.doc_id, w.wc, t.t
         FROM wc w CROSS JOIN t WHERE w.wc >= t.t
         ORDER BY doc_id"""),
      // q107: the threshold subplan — a cumulative sum over the
      // |wc-domain|-row histogram (the q74-class BOUNDED partition-less
      // window) and crossJoin(broadcast(1-row threshold/total frames)),
      // whose SinglePartition exchanges are those frames' own global
      // aggregates. The corpus side never shuffles.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: JSON metadata extraction — the semi-structured
    // side-channel every corpus carries (events.props is a JSON string).
    // get_json_object is Spark's codegen'd path-extraction primitive — a
    // narrow scan-side projection, no UDF, no shuffle until the bounded
    // per-type agg; nulls from unparsable rows are counted out by
    // count(col). DuckDB re-derives with json_extract_string ------------
    QueryDef("q78_json_props", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_parsed"),
          sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
        .orderBy("event_type"),
      oracle = Some("""WITH p AS (
           SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT event_type, COUNT(k) AS n_parsed,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           MIN(k) AS k_min, MAX(k) AS k_max
         FROM p GROUP BY event_type ORDER BY event_type""")),

    // ---- North-star: overlapping DOCUMENT CHUNKING — the RAG/pretraining
    // chunker: 200-char windows every 150 chars (50-char overlap), the
    // final chunk truncating at the text end, short docs yielding one
    // chunk. Per-chunk polynomial fingerprints (the q27 fold on the
    // substring) prove the CONTENT of every chunk, not just its offsets.
    // Pure per-row array math — no shuffle until the final sort ----------
    QueryDef("q77_doc_chunks", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.chunks(col("text"),
            chunkSize, chunkStride)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.start").as("start"),
          length(col("c.chunk")).cast("long").as("chunk_len"),
          TextFunctions.fingerprint(col("c.chunk")).as("fp"))
        .orderBy("doc_id", "chunk_id"),
      // q77 oracle: the identical chunk-count ceiling, offsets, substr
      // truncation, and per-chunk polynomial fold (the q27 fingerprint)
      // replayed in DuckDB with the geometry interpolated from the same
      // constants the engine uses.
      oracle = Some({
        val overlap = chunkSize - chunkStride
        raw"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         nc AS (
           SELECT doc_id, text,
             greatest(1, CAST(floor((n - $overlap + ${chunkStride - 1})
               / $chunkStride.0) AS BIGINT)) AS k
           FROM d),
         c AS (
           SELECT doc_id, unnest(range(0, k)) AS chunk_id, text
           FROM nc),
         ch AS (
           SELECT doc_id, chunk_id, chunk_id * $chunkStride + 1 AS start,
             substr(text, CAST(chunk_id * $chunkStride + 1 AS INTEGER),
               $chunkSize) AS chunk
           FROM c)
         SELECT doc_id, chunk_id, start,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(chunk, ''),
                 ch2 -> CAST(ascii(ch2) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM ch ORDER BY doc_id, chunk_id"""
      })),

    // ---- North-star: Gopher-style repetition quality signals. Per-doc
    // duplicated word-2/3-gram fractions (narrow per-row array math) and
    // the top-token fraction (explode → two bounded aggs keyed by
    // (doc_id, tok) then doc_id — shuffle volume is token counts, never
    // pairwise). Oracle re-derives all three in DuckDB ------------------
    QueryDef("q63_repetition_signals", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = TextFunctions.tokens(col("text"))
      val perRow = docs.select(col("doc_id"),
        TextFunctions.dupGramFrac(col("text"), 2).as("dup_2gram_frac"),
        TextFunctions.dupGramFrac(col("text"), 3).as("dup_3gram_frac"))
      val top = docs.select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg((max("c").cast("double") / sum("c")).as("top_token_frac"))
      perRow.join(top, Seq("doc_id"))
        .orderBy("doc_id")
    },
      // Repetition signals re-derived: grams via 1-indexed range+concat
      // (DuckDB) vs sequence+slice (engine) — same ' '-joined strings, so
      // dup fractions agree exactly; top-token via the same two-level agg.
      oracle = Some(raw"""WITH base AS (
             SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
             FROM documents),
           grams AS (
             SELECT doc_id,
               list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1]) AS g2,
               list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
             FROM base),
           rep AS (
             SELECT doc_id,
               CASE WHEN len(g2) = 0 THEN 0.0 ELSE
                 CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
               END AS dup_2gram_frac,
               CASE WHEN len(g3) = 0 THEN 0.0 ELSE
                 CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
               END AS dup_3gram_frac
             FROM grams),
           cnt AS (
             SELECT doc_id, tok, COUNT(*) AS c
             FROM (SELECT doc_id, unnest(t) AS tok FROM base)
             GROUP BY doc_id, tok),
           top AS (
             SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
             FROM cnt GROUP BY doc_id)
         SELECT r.doc_id, r.dup_2gram_frac, r.dup_3gram_frac,
                t.top_token_frac
         FROM rep r JOIN top t USING (doc_id) ORDER BY doc_id""")),

    // ---- North-star: unigram LM surprisal scoring — the CCNet-style
    // model-based quality signal: train a unigram LM on the corpus
    // itself (token relative frequencies; +1-smoothed over the observed
    // vocab) and score each doc by mean token surprisal −log p(tok).
    // Scale shape: the LM is ONE bounded groupBy (vocab-sized, tiny vs
    // corpus) broadcast back to the token stream; per-doc mean comes
    // from a 6-dp-rounded per-token surprisal summed as DECIMAL, so the
    // hash cannot depend on aggregation order. High scores = improbable
    // token streams (gibberish); low = repetitive boilerplate ----------
    QueryDef("q70_unigram_surprisal", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val stats = toks.agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("vocab"))
      val lm = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      toks.join(broadcast(lm), Seq("tok"))
        .crossJoin(broadcast(stats))
        .withColumn("surprisal", round(
          -log((col("cnt") + 1.0) / (col("n_tokens") + col("vocab"))), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(sum(col("surprisal").cast(DecimalType(18, 6)))
              .cast("double") / count(lit(1)), 4)
            .as("mean_surprisal"))
        .orderBy("doc_id")
    },
      // q70 oracle: unigram LM re-derived in DuckDB — same +1 smoothing over
      // the observed vocab, same double-op order, 6-dp per-token rounding and
      // DECIMAL sum so aggregation order cannot enter the hash.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         tr AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         stats AS (
           SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS vocab
           FROM tr),
         lm AS (SELECT tok, COUNT(*) AS cnt FROM tr GROUP BY tok),
         sc AS (
           SELECT r.doc_id,
             round(-ln((l.cnt + 1.0) / (s.n_tokens + s.vocab)), 6)
               AS surprisal
           FROM tr r JOIN lm l USING (tok) CROSS JOIN stats s)
         SELECT doc_id, COUNT(*) AS n_tok,
           round(CAST(SUM(CAST(surprisal AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_surprisal
         FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      // crossJoin(broadcast(<=1-row stats frame)) — BroadcastNestedLoopJoin
      // of a scalar, and the SinglePartition exchanges are those frames'
      // own 1-row aggregations
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: BIGRAM LM surprisal — q70's model-based quality
    // signal upgraded to first-order context: train an interpolated
    // bigram LM on the corpus itself (Jelinek-Mercer: λ·c(v,w)/c(v·) +
    // (1−λ)·unigram, λ=0.7, unigram +1-smoothed over the observed vocab
    // exactly as q70) and score each doc by mean bigram surprisal
    // −ln p(w|v). Catches what a unigram can't: common words in
    // improbable ORDER (shuffled/templated text) score high while the
    // same bag of words in fluent order scores low. Scale shape: the
    // bigram stream is linear in corpus tokens; c(v,w) is one map-side-
    // combined groupBy and its join back is the stream's only wide join
    // (hot bigrams partial-aggregate map-side, AQE splits skewed join
    // partitions); context counts c(v·) and unigram counts are vocab-
    // sized and broadcast; the corpus stats frame is one row. Per-bigram
    // surprisal rounds to 6 dp and sums as DECIMAL so the hash cannot
    // depend on aggregation order ---------------------------------------
    QueryDef("q102_bigram_surprisal", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val withToks = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("t"))
      val toks = withToks.select(col("doc_id"), explode(col("t")).as("tok"))
      val stats = toks.agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("vocab"))
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("cw"))
      val bg = withToks.filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
            slice(col("t"), lit(1), size(col("t")) - 1).as("v"),
            slice(col("t"), lit(2), size(col("t")) - 1).as("w"))).as("p"))
        .select(col("doc_id"), col("p.v").as("v"), col("p.w").as("w"))
      val cb = bg.groupBy("v", "w").agg(count(lit(1)).as("cvw"))
      val cv = bg.groupBy("v").agg(count(lit(1)).as("cv"))
      bg.join(cb, Seq("v", "w"))
        .join(broadcast(cv), Seq("v"))
        .join(broadcast(uni.withColumnRenamed("tok", "w")), Seq("w"))
        .crossJoin(broadcast(stats))
        .withColumn("surprisal", round(-log(
          lit(0.7) * (col("cvw").cast("double") / col("cv")) +
            lit(0.3) * ((col("cw") + 1.0) /
              (col("n_tokens") + col("vocab")))), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("surprisal").cast(DecimalType(18, 6)))
              .cast("double") / count(lit(1)), 4)
            .as("mean_surprisal"))
        .orderBy("doc_id")
    },
      // q102 oracle: the interpolated bigram LM re-derived in DuckDB — same
      // λ=0.7 Jelinek-Mercer mix, same +1-smoothed unigram backoff, same
      // double-op order (cast-to-double numerators, long denominators), 6-dp
      // per-bigram rounding and DECIMAL sum exactly as q70.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         tr AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         stats AS (
           SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS vocab
           FROM tr),
         uni AS (SELECT tok, COUNT(*) AS cw FROM tr GROUP BY tok),
         bgl AS (
           SELECT doc_id, list_transform(range(1, len(t)),
               i -> struct_pack(v := t[i], w := t[i+1])) AS ps
           FROM toks WHERE len(t) >= 2),
         bg AS (
           SELECT doc_id, p.v AS v, p.w AS w
           FROM (SELECT doc_id, unnest(ps) AS p FROM bgl)),
         cb AS (SELECT v, w, COUNT(*) AS cvw FROM bg GROUP BY v, w),
         cv AS (SELECT v, COUNT(*) AS cv FROM bg GROUP BY v),
         sc AS (
           SELECT g.doc_id,
             round(-ln(0.7 * (CAST(b.cvw AS DOUBLE) / c.cv)
                     + 0.3 * ((u.cw + 1.0) / (s.n_tokens + s.vocab))), 6)
               AS surprisal
           FROM bg g JOIN cb b USING (v, w) JOIN cv c USING (v)
           JOIN uni u ON g.w = u.tok CROSS JOIN stats s)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           round(CAST(SUM(CAST(surprisal AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_surprisal
         FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      // q102: the q70 shape exactly — crossJoin(broadcast(1-row corpus
      // stats)), and the SinglePartition exchange is that frame's own
      // global aggregate.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star: SEQUENCE PACKING span assignment — the
    // concatenate-and-cut packing LLM pretraining uses. Docs shard to 8
    // deterministic FNV buckets and pack within shard in doc_id order;
    // `off` is the running token offset (window sum PARTITIONED BY
    // bucket — the scale-correct form: a partition-less running sum
    // funnels the corpus through one reducer), pack_first/pack_last are
    // the ctx=512 windows holding the doc's first/last token, n_cuts how
    // many pack boundaries split the doc. Pure function of (doc_id,
    // n_tok, seed) → fully oracle-checkable ----------------------------
    QueryDef("q68_sequence_packing", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      Relational.packedSpans(docs, "doc_id", "n_tok",
          buckets = 8, ctx = 512, seed = 17L)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("n_tok"), col("off"), col("pack_first"), col("pack_last"),
          (col("pack_last") - col("pack_first")).as("n_cuts"))
        .orderBy("doc_id")
    },
      // q68 oracle: re-derives the packing spans — FNV bucket (the q62
      // stream, mod 8), within-bucket running token offset as the same
      // 1-PRECEDING window sum, and the ctx-window ids via integer division.
      oracle = Some(fnvBucketCtes("documents", "doc_id", 17) + raw""",
         p AS (
           SELECT doc_id, CAST(b % 8 AS BIGINT) AS bucket,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS n_tok
           FROM s),
         o AS (
           SELECT doc_id, bucket, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY bucket
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM p)
         SELECT doc_id, bucket, n_tok, off,
           bucket * 4294967296 + (off // 512) AS pack_first,
           bucket * 4294967296 + ((off + greatest(n_tok - 1, 0)) // 512)
             AS pack_last,
           ((off + greatest(n_tok - 1, 0)) // 512) - (off // 512) AS n_cuts
         FROM o ORDER BY doc_id""")),

    // ---- North-star: NO-SPLIT sequence packing (next-fit bins) ---------
    // q68 concat-and-cuts (docs may straddle windows); this is the other
    // production regime — docs stay WHOLE (instruction tuning, long-
    // context curricula), greedily next-fit into 512-token bins per FNV
    // bucket. The library's one deliberate mapPartitions operator: the
    // fold is inherently sequential per bucket, so the plan is one hash
    // exchange + in-partition sort + O(1)-state streaming fold (see
    // Relational.packBinsNoSplit). Oracle: the identical fold replayed as
    // a DuckDB recursive CTE stepping rn -> rn+1 per bucket.
    QueryDef("q112_pack_bins", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      Relational.packBinsNoSplit(docs, "doc_id", "n_tok",
          buckets = 8, ctx = 512, seed = 17L)
        .select(col("doc_id"), col("bucket"),
          (col("bucket") * lit(1L << 32) + col("bin")).as("pack_id"),
          col("off"))
        .orderBy("doc_id")
    },
      // q112 oracle: the next-fit fold replayed exactly — same FNV bucket
      // stream (q68's seed), same ascending-id visit order, same state
      // transition (fits → same bin, else next bin; overlong doc overflows
      // its own bin) — as a recursive CTE stepping rn → rn+1 per bucket.
      // Recursion depth = max docs per bucket (fixture-scale; the oracle
      // needn't be scale-shaped).
      oracle = Some("WITH RECURSIVE " + fnvSignedFrom("documents", "doc_id", 17) + raw""",
         s AS (
           SELECT *, ((hs % 1000000) + 1000000) % 1000000 AS b
           FROM sg),
         p AS (
           SELECT doc_id, CAST(b % 8 AS BIGINT) AS bucket,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS w
           FROM s),
         o AS (
           SELECT doc_id, bucket, w,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
           FROM p),
         pack AS (
           SELECT bucket, rn, doc_id, w,
             CAST(0 AS BIGINT) AS bin,
             CAST(0 AS BIGINT) AS off,
             CAST(greatest(512 - w, 0) AS BIGINT) AS rem
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.bucket, o.rn, o.doc_id, o.w,
             CASE WHEN o.w <= pk.rem THEN pk.bin ELSE pk.bin + 1 END,
             CASE WHEN o.w <= pk.rem THEN 512 - pk.rem
                  ELSE CAST(0 AS BIGINT) END,
             CAST(CASE WHEN o.w <= pk.rem THEN greatest(pk.rem - o.w, 0)
                       ELSE greatest(512 - o.w, 0) END AS BIGINT)
           FROM pack pk JOIN o
             ON o.bucket = pk.bucket AND o.rn = pk.rn + 1)
         SELECT doc_id, bucket,
           bucket * 4294967296 + bin AS pack_id, off
         FROM pack ORDER BY doc_id""")),

    // ---- North-star: deterministic domain MIXING — Pile/LLaMA-style
    // per-source sampling rates applied via the hashSplit FNV stream
    // (pure function of (doc_id, seed): partition-independent,
    // re-run-stable — the properties corpus mixing needs and sample()
    // lacks). Rates single-sourced into the oracle from mixRates. The
    // codegen'd when-chain keeps the 100 TB scan shuffle-free; only the
    // per-source count agg shuffles (bounded by |domains|) --------------
    QueryDef("q67_domain_mixing", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = Relational.mixtureSample(docs, "doc_id", "source",
          mixRates, mixDefaultRate, seed = 41L)
        .groupBy("source").agg(count(lit(1)).as("kept"))
      docs.groupBy("source").agg(count(lit(1)).as("total"))
        .join(kept, Seq("source"), "left_outer")
        .select(col("source"), col("total"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("source")
    },
      // q67 oracle: re-derives the per-source kept counts from the same FNV
      // bucket stream as q62; the CASE arms interpolate from [[mixRates]]
      // (sorted, quotes escaped) so the two sides cannot drift.
      oracle = Some({
        val arms = mixRates.toSeq.sortBy(_._1).map { case (dom, r) =>
          s"WHEN '${dom.replace("'", "''")}' THEN ${math.round(r * 1000000L)}"
        }.mkString(" ")
        fnvBucketCtes("documents", "doc_id", 41) + s"""
         SELECT source, CAST(COUNT(*) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN b < (CASE source $arms
                    ELSE ${math.round(mixDefaultRate * 1000000L)} END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept
         FROM s GROUP BY source ORDER BY source"""
      })),

    // ---- North-star: PII REDACTION — scrub emails / IPv4 / phone-shaped
    // tokens before training (the C4/Dolma-style scrub pass). The fixture
    // corpus carries no PII, so both engines append the SAME deterministic
    // contact tail (a pure function of doc_id — the q61 twin-construction
    // trick) and the oracle must reproduce counts AND the exact redacted
    // string. Patterns single-sourced from TextFunctions.piiPatterns;
    // narrow projection, no shuffle until the final sort ----------------
    QueryDef("q72_pii_redaction", (s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" cc admin@test.org"))
          .otherwise(lit("")),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
        lit(" call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val counts = TextFunctions.piiPatterns.map { case (kind, pat) =>
        regexp_count(col("aug"), lit(pat)).cast("long").as(s"n_$kind")
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id") +: counts :+
          TextFunctions.redactPii(col("aug")).as("redacted"): _*)
        .orderBy("doc_id")
    },
      // q72 oracle: the SAME deterministic contact tail appended (pure
      // function of doc_id, `%` == pmod on the non-negative ids), then counts
      // and the sequential redaction replayed with the patterns interpolated
      // from TextFunctions.piiPatterns — single-sourced, so engine and oracle
      // regexes cannot drift. The patterns are RE2-safe by construction (see
      // the piiPatterns scaladoc); 'g' makes DuckDB replace-all like Java.
      oracle = Some({
        val counts = TextFunctions.piiPatterns.map { case (kind, pat) =>
          s"CAST(len(regexp_extract_all(a, '$pat')) AS BIGINT) AS n_$kind"
        }.mkString(",\n           ")
        val redacted = TextFunctions.piiPatterns.foldLeft("a") {
          case (acc, (kind, pat)) =>
            s"regexp_replace($acc, '$pat', '<${kind.toUpperCase}>', 'g')"
        }
        raw"""WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com'
               || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@test.org'
                       ELSE '' END
               || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST(doc_id * 7 % 256 AS VARCHAR)
               || ' call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
           FROM documents)
         SELECT doc_id,
           $counts,
           $redacted AS redacted
         FROM aug ORDER BY doc_id"""
      })),

    // ---- North-star: Gopher-style quality FILTER GATE (Rae et al. 2021
    // §A1.1 rules with fixture-calibrated thresholds): word count, mean
    // word length, alphabetic-word fraction, distinct-stopword presence,
    // and the conjunction `keep`. Complements q38 (raw quality measures)
    // and q63 (repetition signals) with the actual verdict a corpus
    // pipeline filters on. Pure narrow projection — no shuffle until the
    // final sort; every signal re-derived independently in DuckDB -------
    QueryDef("q65_quality_filter", (s, dir) => {
      val t = col("t")
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(t).cast("long").as("wc"),
          round(aggregate(t, lit(0L), (acc, x) => acc + length(x))
            .cast("double") / size(t), 4).as("mean_wlen"),
          round(size(filter(t, x => x.rlike("[A-Za-z]")))
            .cast("double") / size(t), 4).as("alpha_frac"),
          size(array_intersect(
            array_distinct(transform(t, x => lower(x))),
            typedlit(TextFunctions.gopherStops))).cast("long").as("stop_cnt"))
        .withColumn("keep",
          col("wc").between(50, 100000) &&
            col("mean_wlen").between(3.0, 10.0) &&
            col("alpha_frac") >= 0.8 && col("stop_cnt") >= 2)
        .orderBy("doc_id")
    },
      // Every filter signal re-derived in DuckDB; stop list single-sourced
      // from TextFunctions.gopherStops (apostrophes escaped like q28's).
      oracle = Some({
      val stops = TextFunctions.gopherStops
        .map(s0 => s"'${s0.replace("'", "''")}'").mkString(",")
      raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
               / len(t), 4) AS mean_wlen,
             round(CAST(len(list_filter(t,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / len(t), 4) AS alpha_frac,
             CAST(len(list_filter([$stops],
                 s -> list_contains(list_transform(t, x -> lower(x)), s)))
               AS BIGINT) AS stop_cnt
           FROM toks)
         SELECT doc_id, wc, mean_wlen, alpha_frac, stop_cnt,
           (wc BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3.0 AND 10.0)
             AND alpha_frac >= 0.8 AND stop_cnt >= 2 AS keep
         FROM m ORDER BY doc_id"""
    })),

    // ---- North-star: quality scoring (full stats; oracle-checked) ------
    QueryDef("q38_quality_stats", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id") +: TextFunctions.qualityStats(col("text")): _*)
        .orderBy("doc_id"),
      oracle = Some(raw"""SELECT doc_id,
           length(text) AS n_chars_m,
           len(string_split_regex(trim(text), '[$WS]+')) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / length(text) AS alpha_ratio,
           CAST(len(list_filter(string_split_regex(trim(text), '[$WS]+'),
                t -> t IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
             / len(string_split_regex(trim(text), '[$WS]+')) AS stopword_ratio
         FROM documents ORDER BY doc_id""")),

    // ---- Multimodal plumbing, oracle-gated --------------------------------
    // Binary-column ingest + batched feature extraction over fixture bytes
    // (documents.text cast to binary): schema, metadata struct, magic
    // sniff, and the per-partition batch path all execute; the stub
    // checksum/brightness are portable folds the DuckDB oracle reproduces.
    // (The seeded fake embedding is JVM-specific → excluded here,
    // spec-pinned instead.)
    QueryDef("q55_media_features", (s, dir) => {
      val media = operators.Multimodal.ingest(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("bytes")),
        "doc_id", "bytes")
      operators.Multimodal.extractFeatures(media, embeddingDim = 8)
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("checksum"), round(col("brightness"), 6).as("brightness"))
        .orderBy("media_id")
    },
      // byte-faithful (round 7): the engine folds the UNSIGNED UTF-8 bytes
      // of text.cast(binary), so the oracle folds the same octet stream —
      // n_bytes/checksum/brightness all octet-based, exact on non-ASCII
      oracle = Some(s"""
         WITH b AS (SELECT doc_id, ${utf8OctetsSql("text")} AS bs
                    FROM documents)
         SELECT doc_id AS media_id, 'unknown' AS media_type,
           CAST(len(bs) AS BIGINT) AS n_bytes,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(bs, x -> CAST(x AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
           CASE WHEN len(bs) = 0 THEN 0.0 ELSE
             round(CAST(list_sum(list_transform(bs, x -> CAST(x AS BIGINT)))
                 AS DOUBLE) / len(bs) / 256, 6) END AS brightness
         FROM b ORDER BY media_id""")),

    // ---- Multimodal frame-sample + resize, oracle-gated ----------------
    // Completes the multimodal quartet (decode/extract are q55): sampled
    // 64-byte "frames" every 2 chunks via columnar binary substring, each
    // batch-checksummed; plus a stride-resize thumbnail checksum per
    // media. All integer folds the DuckDB oracle reproduces exactly.
    QueryDef("q60_media_frames", (s, dir) => {
      val media = operators.Multimodal.ingest(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("bytes")),
        "doc_id", "bytes")
      val frames = operators.Multimodal.frameChecksums(
        operators.Multimodal.sampleFrames(media, chunkBytes = 64, everyK = 2))
      val thumbs = operators.Multimodal.thumbnailChecksums(media,
        targetBytes = 256)
      frames.groupBy("media_id").agg(
          count(lit(1)).as("n_frames"),
          sum("frame_checksum").as("sum_frame_checksum"))
        .join(thumbs, Seq("media_id"))
        .select(col("media_id"), col("n_frames"),
          col("sum_frame_checksum"), col("thumb_checksum"))
        .orderBy("media_id")
    },
      // byte-faithful (round 7): frames = every-2nd 64-BYTE chunk of the
      // UTF-8 octet list (1-based inclusive list slice mirrors the binary
      // substr); thumbnail = every stride-th byte, stride = max(1,
      // n_bytes/256); checksums are the q55 polynomial fold. An off-end
      // slice is empty and folds to the bare seed 7, exactly like
      // StubDecoder on an empty payload.
      oracle = Some(s"""
         WITH b AS (SELECT doc_id AS media_id, ${utf8OctetsSql("text")} AS bs
                    FROM documents),
         f AS (
           SELECT media_id, bs,
             unnest(range(0, greatest(len(bs) // 64 - 1, 0) + 1, 2)) AS off
           FROM b),
         ck AS (
           SELECT media_id,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
               list_transform(
                 bs[CAST(off * 64 + 1 AS INT):CAST(off * 64 + 64 AS INT)],
                 x -> CAST(x AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS c
           FROM f),
         th AS (
           SELECT media_id,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
               list_transform(
                 range(1, len(bs) + 1, greatest(len(bs) // 256, 1)),
                 i -> CAST(bs[CAST(i AS INT)] AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS thumb_checksum
           FROM b)
         SELECT ck.media_id AS media_id, COUNT(*) AS n_frames,
             CAST(SUM(ck.c) AS BIGINT) AS sum_frame_checksum,
             th.thumb_checksum
         FROM ck JOIN th ON ck.media_id = th.media_id
         GROUP BY ck.media_id, th.thumb_checksum
         ORDER BY media_id""")),

    // ---- Multimodal REAL downsample path (round-7): box-filter area
    // averaging — every byte contributes to exactly one output cell,
    // O(target) memory however large the payload — vs q60's stride-drop
    // stub. The oracle re-derives cell geometry, per-cell integer means,
    // checksum, and downsampled brightness from the UTF-8 octet list, so
    // the kernel math is proven byte-for-byte. target=64 < most doc
    // lengths, so real averaging happens; short docs take the n<=target
    // pass-through branch (both branches fixture-exercised) -------------
    QueryDef("q79_media_downsample", (s, dir) => {
      val media = operators.Multimodal.ingest(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("bytes")),
        "doc_id", "bytes")
      operators.Multimodal.downsampleChecksums(media, targetBytes = 64)
        .select(col("media_id"), col("n_bytes"), col("ds_len"),
          col("ds_checksum"), round(col("ds_brightness"), 6).as("ds_brightness"))
        .orderBy("media_id")
    },
      // box-filter downsample re-derived over the octet list: cell i covers
      // bytes [i*n/T, (i+1)*n/T), holds floor(mean) of its unsigned bytes;
      // n <= T passes through; checksum is the shared polynomial fold
      oracle = Some(s"""
         WITH b AS (SELECT doc_id, ${utf8OctetsSql("text")} AS bs
                    FROM documents),
         p AS (SELECT doc_id, bs, len(bs) AS n FROM b),
         d AS (
           SELECT doc_id, n,
             CASE WHEN n <= 64 THEN bs
                  ELSE list_transform(range(0, 64), i ->
                    CAST(list_sum(bs[CAST(i * n // 64 + 1 AS INT)
                                     :CAST((i + 1) * n // 64 AS INT)])
                      // ((i + 1) * n // 64 - i * n // 64) AS UBIGINT))
             END AS ds
           FROM p)
         SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(len(ds) AS BIGINT) AS ds_len,
           list_reduce(list_prepend(CAST(7 AS BIGINT),
             list_transform(ds, x -> CAST(x AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS ds_checksum,
           CASE WHEN len(ds) = 0 THEN 0.0 ELSE
             round(CAST(list_sum(list_transform(ds, x -> CAST(x AS BIGINT)))
                 AS DOUBLE) / len(ds) / 256, 6) END AS ds_brightness
         FROM d ORDER BY media_id""")),

    // ---- North-star: BPE-ish pre-token counting + fertility ------------
    // Pre-tokenizer budget metric for training pipelines: BPE-style token
    // counts next to whitespace-word counts, and their ratio (fertility).
    // The regex is RE2-compatible so DuckDB evaluates the identical
    // pattern — the counts hash-match, gating the tokenizer itself.
    QueryDef("q59_bpe_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_bpe",
          size(TextFunctions.bpeTokens(col("text"))).cast("long"))
        .withColumn("n_ws",
          size(TextFunctions.tokens(col("text"))).cast("long"))
        .groupBy("lang").agg(
          count(lit(1)).as("docs"),
          sum("n_bpe").as("bpe_tokens"),
          sum("n_ws").as("ws_tokens"),
          (sum("n_bpe").cast("double") / sum("n_ws")).as("fertility"))
        .orderBy("lang"),
      // same RE2-safe pattern on both engines; '' is the SQL-escaped quote
      oracle = Some(raw"""SELECT lang, COUNT(*) AS docs,
           CAST(SUM(len(regexp_extract_all(text,
             '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9$WS]+|[$WS]+')))
             AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(string_split_regex(trim(text), '[$WS]+')))
             AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
             '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9$WS]+|[$WS]+')))
             AS DOUBLE)
             / SUM(len(string_split_regex(trim(text), '[$WS]+'))) AS fertility
         FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- North-star: duplicate-substring SCRUB (Lee et al. 2022 §4's
    // dedup-by-substring, at token-8-gram granularity): REWRITE each doc
    // removing every token covered by an 8-gram that occurs ≥ 2 times
    // corpus-wide — the ACTION complementing q71's signal. Scale shape:
    // the positional gram stream is materialized ONCE (localCheckpoint
    // inside the operator) as (doc_id, i, fnv64) 20-byte rows; the
    // duplicated-gram set comes from a map-side-combined groupBy(gh)
    // count (hot grams fold inside each task — the r12 de-skew) and
    // flags occurrences via a semi-join on the same gh key; only the
    // flagged positions — the duplicated spans, sparse by construction
    // in a deduplicated-enough corpus — expand to covered-position rows
    // and shuffle again, folding to ONE array per affected doc. The rewrite itself is a doc-level
    // join (AQE broadcasts the cover side when sparse) plus a narrow
    // index-aware filter — the corpus is never exploded to token rows and
    // never shuffles. Per-row cost of the filter is O(n_tok · log n_cov)
    // via the sorted cover array... (array_contains is linear but n_cov ≤
    // n_tok ≤ doc length, so worst case is a fully-duplicated doc at
    // O(n_tok²) on docs of ~1e3 tokens — bounded, spill-free). The
    // oracle replays the semantics over exploded token positions ---------
    QueryDef("q94_dup_gram_scrub", (s, dir) =>
      Dedup.scrubDuplicateGrams(Tables.documents(s, dir), "doc_id", "text",
          n = 8)
        .orderBy("doc_id"),
      // Same duplicated-span semantics replayed over exploded token
      // positions (the oracle needn't be scale-shaped): positional 8-grams,
      // corpus-wide occurrence count >= 2, covered positions anti-joined
      // out, text rebuilt with an ORDER BY string_agg. Joins raw gram
      // STRINGS vs the engine's FNV-64 hashes — the standard 64-bit
      // collision-freedom argument (q24/q66/q71).
      oracle = Some(("WITH " + scrubCtesBody("documents") +
      scrubFinalSelect))),

    // ---- North-star: BPE vocabulary TRAINING (Sennrich et al. 2016) ----
    // 10 exact merge rounds learned from the corpus — see operators.Bpe
    // for the scale design (ONE corpus pass builds the word-frequency
    // table; every round runs on the compact vocab table with
    // lineage-truncating checkpoints; the per-round argmax is a 1-row
    // boundary scalar, audited via auditPlans). FULL SQL oracle: the
    // DuckDB twin replays the identical 10 rounds with a bracket-encoded
    // symbol string (chr(1)‖sym‖chr(2) — adjacent symbols share no
    // characters, so plain left-to-right replace() IS BPE's leftmost
    // non-overlapping merge application), materialized stage by stage ----
    QueryDef("q95_bpe_merges", (s, dir) => {
      val merges = operators.Bpe.trainMerges(
        operators.Bpe.wordFreq(Tables.documents(s, dir), "text"),
        nMerges = 10)
      operators.Bpe.mergesDf(s, merges)
    }, oracle = Some(bpeOracleSql(10)),
      auditPasses = Seq(
        // q95's per-round construction-time passes: the vocab-bounded
        // pair-count aggregate every round argmaxes (1-row driver collect),
        // scanned here in its round-1 shape — later rounds differ only in the
        // narrow merge projections layered on the checkpointed vocab.
        AuditPass("pairs", (s, dir) =>
          operators.Bpe.pairCounts(operators.Bpe.initialVocab(
            operators.Bpe.wordFreq(Tables.documents(s, dir), "text")))))),

    // ---- North-star: TF-IDF top terms per document ---------------------
    // The classic sparse-retrieval/curation feature (complement of q69's
    // query-side BM25: this is the corpus-side per-doc signature). Scale
    // shape: tf is one (doc, term) hash-shuffled agg over the token
    // stream; df derives from tf rows (vocab-bounded) and BROADCASTS back
    // with the 1-row corpus count, so scoring adds no shuffle; the top-3
    // window partitions by doc_id — group size = per-doc distinct terms,
    // bounded by doc length. Ranking uses the 6-dp-ROUNDED score with a
    // term tiebreak, so cross-engine order is deterministic even at
    // rounding boundaries (idf = smoothed ln((1+N)/(1+df)) + 1,
    // sklearn's formulation) ---------------------------------------------
    QueryDef("q96_tfidf_topterms", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfT), Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf") *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0),
          6))
      Relational.topKPerGroup(scored, Seq("doc_id"), col("tfidf"), 3,
          Seq(col("tok")))
        .select(col("doc_id"), col("rn").cast("long").as("trank"),
          col("tok"), col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "trank")
    },
      // Same smoothed-idf formulation; ranking on the ROUNDED score with
      // the term tiebreak in both engines.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                GROUP BY doc_id, tok),
         dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, tok, tf.tf, dft.df,
             round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
           FROM tf JOIN dft USING (tok) CROSS JOIN n),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS trank
           FROM scored)
         SELECT doc_id, CAST(trank AS BIGINT) AS trank, tok,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
         FROM ranked WHERE trank <= 3 ORDER BY doc_id, trank"""),
      // q96: the q69/q70 shape exactly — crossJoin(broadcast(1-row
      // corpus count)), and the SinglePartition exchange is that count's
      // own global aggregate.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- North-star CAPSTONE: the full corpus-curation chain -----------
    // The Dolma/C4/RefinedWeb shape end-to-end as ONE DataFrame program,
    // every stage an operator this suite gates individually: quality gate
    // (q53's token-count + alpha-ratio rules) → benchmark DECONTAMINATION
    // (q66's 8-gram broadcast probe against the %10=7 eval slice, doc
    // dropped on any overlap) → near-dedup KEEP-BEST (q81's shared
    // component labels, max_by(blen, -id) per component) → duplicate-
    // substring SCRUB over the survivors (q94). Scale shape: the corpus
    // flows through the chain as doc-level rows — eval grams and the
    // keep-id set broadcast, the only corpus-scale exchanges are the LSH
    // band shuffle inside componentLabels and the scrub's gram-hash
    // window. The oracle replays all four stages in one WITH RECURSIVE
    // chain (quality CTEs + the q81 closure seeded from the decontaminated
    // set + the scrub CTEs over the survivor relation), so a hash-green
    // row pins every inter-stage boundary, not just each stage alone -----
    QueryDef("q98_corpus_curation", (s, dir) => {
      val all = Tables.documents(s, dir)
      val grams8 = (d: DataFrame) => d.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokenShingles(
          TextFunctions.tokens(col("text")), 8))).as("g"))
        .select(col("doc_id"), TextFunctions.fnv64(col("g")).as("gh"))
      val quality = all.filter(
        size(TextFunctions.tokens(col("text"))) >= 30 &&
          (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text"))) >= 0.8)
      val evalGrams = grams8(all.filter(pmod(col("doc_id"), lit(10)) === 7))
        .select("gh").distinct()
      val cand = quality.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val contaminated = grams8(cand)
        .join(broadcast(evalGrams), Seq("gh"))
        .select("doc_id").distinct()
      // decon fans out to FOUR consumers (componentLabels' internal
      // passes, the keep-best agg, the survivor semi-join, the scrub) —
      // materialize it once or the quality+decontam subtree re-executes
      // per consumer (measured: 19.8 s unchecked vs ~8 s checkpointed at
      // sf0.1). Same for survivors (three scrub-internal consumers).
      val decon = cand.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val comp = Dedup.componentLabels(decon, "doc_id", "text",
        threshold = 0.8)
      val keep = decon.select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .join(comp, Seq("doc_id"))
        .groupBy("component")
        .agg(expr("max_by(doc_id, struct(blen, -doc_id))").as("doc_id"))
        .select("doc_id")
      val survivors = decon.join(keep, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      Dedup.scrubDuplicateGrams(survivors, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      // The four-stage chain in one WITH RECURSIVE: q53's quality CTEs,
      // q66's decontam semantics (eval slice's distinct grams, NOT IN on
      // any-overlap docs), the q81 closure seeded from the DECONTAMINATED
      // relation, keep-best per component, then the q94 scrub CTEs over the
      // survivor relation. Every stage boundary is inside the hash.
      oracle = Some((curationChainCtes + ",\n         " + scrubCtesBody("surv") +
        scrubFinalSelect))),

    // ---- North-star: token-distribution DRIFT between snapshots --------
    // The monitoring scalar a managed corpus publishes per release:
    // per-source KL divergence KL(p_v1 ‖ p_v2) of the +1-smoothed
    // unigram distributions over the union vocab (q104's v1/v2 pair), so
    // an ingest that shifts a source's language silently shows up as a
    // number before any model trains on it. Scale shape: two token-count
    // aggs (map-side combined) meet in ONE full-outer join co-partitioned
    // on (source, token); the per-source totals frame is |sources| rows
    // and broadcasts; per-term contributions round to 12 dp and sum as
    // DECIMAL so the hash cannot depend on aggregation order ------------
    QueryDef("q109_token_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def counts(d: DataFrame, c: String) = d
        .select(col("source"), explode(TextFunctions.tokens(col("text")))
          .as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as(c))
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      val v2 = docs.filter(col("doc_id") % 10 =!= 4)
        .select(col("source"),
          when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" v2edit")))
            .otherwise(col("text")).as("text"))
      val joined = counts(v1, "c1")
        .join(counts(v2, "c2"), Seq("source", "tok"), "full_outer")
        .select(col("source"), col("tok"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      val stats = joined.groupBy("source").agg(
        sum("c1").as("n1"), sum("c2").as("n2"), count(lit(1)).as("v"))
      joined.join(broadcast(stats), Seq("source"))
        .withColumn("p1", (col("c1") + 1.0) / (col("n1") + col("v")))
        .withColumn("p2", (col("c2") + 1.0) / (col("n2") + col("v")))
        .withColumn("term",
          round(col("p1") * log(col("p1") / col("p2")), 12))
        .groupBy("source")
        .agg(max("n1").as("n1"), max("n2").as("n2"), max("v").as("v"),
          round(sum(col("term").cast(DecimalType(28, 12))).cast("double"),
            6).as("kl"))
        .orderBy("source")
    },
      // q109 oracle: the per-source KL drift re-derived in DuckDB — same v1
      // / v2 definitions as q104, same +1 smoothing over the union vocab,
      // same double-op order, 12-dp per-term rounding and DECIMAL sum.
      oracle = Some(raw"""WITH v1 AS (
           SELECT source, text FROM documents WHERE doc_id % 10 <> 7),
         v2 AS (
           SELECT source,
             CASE WHEN doc_id % 10 = 5 THEN text || ' v2edit'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 4),
         t1 AS (
           SELECT source, tok, COUNT(*) AS c1
           FROM (SELECT source, unnest(string_split_regex(trim(text),
                   '[$WS]+')) AS tok FROM v1)
           GROUP BY source, tok),
         t2 AS (
           SELECT source, tok, COUNT(*) AS c2
           FROM (SELECT source, unnest(string_split_regex(trim(text),
                   '[$WS]+')) AS tok FROM v2)
           GROUP BY source, tok),
         j AS (
           SELECT COALESCE(t1.source, t2.source) AS source,
                  COALESCE(t1.tok, t2.tok) AS tok,
                  COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
           FROM t1 FULL OUTER JOIN t2
             ON t1.source = t2.source AND t1.tok = t2.tok),
         stats AS (
           SELECT source, SUM(c1) AS n1, SUM(c2) AS n2, COUNT(*) AS v
           FROM j GROUP BY source),
         terms AS (
           SELECT j.source,
             round(((c1 + 1.0) / (n1 + v)) *
               ln(((c1 + 1.0) / (n1 + v)) / ((c2 + 1.0) / (n2 + v))), 12)
               AS term
           FROM j JOIN stats USING (source))
         SELECT s.source, CAST(s.n1 AS BIGINT) AS n1,
           CAST(s.n2 AS BIGINT) AS n2, CAST(s.v AS BIGINT) AS v,
           round(CAST(SUM(CAST(t.term AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS kl
         FROM terms t JOIN stats s USING (source)
         GROUP BY s.source, s.n1, s.n2, s.v
         ORDER BY s.source""")),

    // ---- North-star: per-source DATASET CARD (observability) -----------
    // The one-pass summary a data team publishes with a snapshot (the
    // "dataset card" numbers): per source — docs, tokens, mean length,
    // language spread, exact-dup fraction (corpus-WIDE copies, so a
    // source holding the duplicate of another source's doc counts), and
    // the q53/q98/q108 quality-gate pass rate. Plan: ONE kernel pass per
    // doc to a narrow (source, lang, wc, q, th) row, then TWO-LEVEL
    // aggregation instead of a count window over the text hash
    // (round-12 de-skew, the q94 class: a boilerplate doc duplicated
    // millions of times would buffer its whole occurrence list in one
    // window group). Level 1 collapses copies per (source, lang, th)
    // with map-side combine — a hot hash crosses the exchange
    // pre-counted per task; level 2 sums per-hash counts globally
    // (identical text ⇒ identical wc/alpha/q, the collision-freedom
    // argument the oracle witnesses by grouping raw text); the dup flag
    // joins back onto the collapsed one-row-per-(source,lang,th) frame.
    QueryDef("q113_corpus_card", (s, dir) => {
      val d0 = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("wc"),
          (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text"))).as("alpha"),
          xxhash64(col("text")).as("th"))
        .select(col("source"), col("lang"), col("wc"), col("th"),
          when(col("wc") >= 30 && col("alpha") >= 0.8, 1L)
            .otherwise(0L).as("q"))
      val lvl1 = d0.groupBy("source", "lang", "th")
        .agg(count(lit(1)).as("grp_cnt"),
          first("wc").as("wc"), first("q").as("q"))
      val copies = lvl1.groupBy("th").agg(sum("grp_cnt").as("n_copies"))
      lvl1.join(copies, Seq("th"))
        .groupBy("source").agg(
          sum("grp_cnt").as("n_docs"),
          sum(col("wc") * col("grp_cnt")).as("n_tok"),
          round(sum(col("wc") * col("grp_cnt")).cast("double") /
            sum("grp_cnt"), 6).as("mean_wc"),
          countDistinct("lang").as("n_langs"),
          sum(when(col("n_copies") >= 2, col("grp_cnt")).otherwise(0L))
            .as("dup_docs"),
          round(sum(when(col("n_copies") >= 2, col("grp_cnt"))
            .otherwise(0L)).cast("double") / sum("grp_cnt"), 6)
            .as("pct_dup"),
          sum(col("q") * col("grp_cnt")).as("q_docs"),
          round(sum(col("q") * col("grp_cnt")).cast("double") /
            sum("grp_cnt"), 6).as("pct_quality"))
        .orderBy("source")
    },
      // q113: every card number re-derived — raw-text copy counts (the
      // engine's xxhash64 grouping must agree, witnessing zero collisions),
      // the same quality rule as the q98/q108 chain, IEEE divides of exact
      // integer sums, 6-dp rounding.
      oracle = Some(raw"""WITH d AS (
           SELECT source, lang,
             CAST(len(string_split_regex(trim(text), '[$WS]+')) AS BIGINT)
               AS wc,
             COUNT(*) OVER (PARTITION BY text) AS n_copies,
             CASE WHEN len(string_split_regex(trim(text), '[$WS]+')) >= 30
                   AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '',
                         'g')) AS DOUBLE) / length(text) >= 0.8
                  THEN 1 ELSE 0 END AS q
           FROM documents)
         SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(wc) AS BIGINT) AS n_tok,
           round(CAST(SUM(wc) AS DOUBLE) / COUNT(*), 6) AS mean_wc,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_docs,
           round(CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 6) AS pct_dup,
           CAST(SUM(q) AS BIGINT) AS q_docs,
           round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) AS pct_quality
         FROM d GROUP BY source ORDER BY source""")),

    // ---- North-star: curation DROP-REASON report (observability) -------
    // The companion every q98-style pipeline ships with: per doc, WHICH
    // stage decided its fate — dropped_quality / dropped_decontam /
    // dropped_dup / kept_scrubbed / kept_clean — the report a data team
    // reads before shipping a snapshot (and the debugging surface when a
    // gate misfires). Same stage operators and precedence as q98; the
    // classification is left-join flag frames folded by one when-chain,
    // so the corpus is scanned once and each stage's id set joins
    // co-partitioned on doc_id. "Scrubbed" = any position covered by a
    // corpus-wide duplicated 8-gram (the q94 map-side-combined dup-set
    // kernel, stopped at the coverage test — no rewrite work for a
    // report). The candidate docs' 8-gram stream is tokenized ONCE
    // (localCheckpoint) and feeds BOTH gram stages — the contamination
    // probe and the scrub count (round-11 verdict #7: the kernel used
    // to run twice). The oracle replays all stages in one WITH
    // RECURSIVE chain ending in the same CASE precedence ----------------
    QueryDef("q108_curation_report", (s, dir) => {
      val all = Tables.documents(s, dir)
      val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .select("doc_id", "text")
      // positional (non-distinct) grams: the scrub count needs repeats
      // within a doc; the contamination probe distincts on doc_id anyway
      val grams8 = (d: DataFrame) => d.select(col("doc_id"),
        explode(TextFunctions.tokenShingles(
          TextFunctions.tokens(col("text")), 8)).as("g"))
        .select(col("doc_id"), TextFunctions.fnv64(col("g")).as("gh"))
      val quality = all.filter(
        size(TextFunctions.tokens(col("text"))) >= 30 &&
          (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text"))) >= 0.8)
      val evalGrams = grams8(all.filter(pmod(col("doc_id"), lit(10)) === 7))
        .select("gh").distinct()
      val cand = quality.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      // the ONE tokenize+shingle kernel pass over candidate docs, shared
      // by the contamination probe and (filtered to survivors) the scrub
      val candGrams = grams8(cand).localCheckpoint()
      // contaminated fans out to TWO consumers (decon's anti-join and the
      // final classification join) — materialize the id set once
      val contaminated = candGrams
        .join(broadcast(evalGrams), Seq("gh"))
        .select("doc_id").distinct()
        .localCheckpoint()
      val decon = cand.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val comp = Dedup.componentLabels(decon, "doc_id", "text",
        threshold = 0.8)
      // keep likewise feeds the survivor semi-join AND the final join —
      // id-only rows, cheap to pin
      val keep = decon.select(col("doc_id"),
          octet_length(col("text")).cast("long").as("blen"))
        .join(comp, Seq("doc_id"))
        .groupBy("component")
        .agg(expr("max_by(doc_id, struct(blen, -doc_id))").as("doc_id"))
        .select("doc_id")
        .localCheckpoint()
      // survivor grams = the shared candidate gram frame filtered by the
      // survivor id set — no second tokenize pass; the duplicated-gram
      // set is map-side combined (Dedup.duplicatedGramSet), never a
      // window over a hot gram's occurrence list
      val survGrams = candGrams.join(keep, Seq("doc_id"), "left_semi")
      val scrubbed = survGrams
        .join(Dedup.duplicatedGramSet(survGrams), Seq("gh"), "left_semi")
        .select("doc_id").distinct()
      corpus
        .join(quality.select(col("doc_id"), lit(1).as("q")),
          Seq("doc_id"), "left_outer")
        .join(contaminated.withColumn("ct", lit(1)), Seq("doc_id"),
          "left_outer")
        .join(keep.withColumn("kb", lit(1)), Seq("doc_id"), "left_outer")
        .join(scrubbed.withColumn("sc", lit(1)), Seq("doc_id"),
          "left_outer")
        .select(col("doc_id"),
          when(col("q").isNull, "dropped_quality")
            .when(col("ct") === 1, "dropped_decontam")
            .when(col("kb").isNull, "dropped_dup")
            .when(col("sc") === 1, "kept_scrubbed")
            .otherwise("kept_clean").as("status"))
        .orderBy("doc_id")
    },
      // Same four-stage chain, ending in the CASE classification instead of
      // the rewrite — the precedence (quality → decontam → dup → scrub) is
      // pinned per doc, so a green row proves the report attributes every
      // drop to the same stage the pipeline's own chain would.
      oracle = Some((curationChainCtes + raw""",
         sctoks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM surv),
         scgrams AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7]))) AS g
           FROM sctoks WHERE len(t) >= 8),
         scdup AS (SELECT g FROM scgrams GROUP BY g HAVING COUNT(*) >= 2),
         scrubbed AS (SELECT DISTINCT doc_id
                      FROM scgrams JOIN scdup USING (g))
         SELECT d.doc_id,
           CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM q)
                  THEN 'dropped_quality'
                WHEN d.doc_id IN (SELECT doc_id FROM contam)
                  THEN 'dropped_decontam'
                WHEN d.doc_id NOT IN (SELECT doc_id FROM ranked
                                      WHERE rn = 1)
                  THEN 'dropped_dup'
                WHEN d.doc_id IN (SELECT doc_id FROM scrubbed)
                  THEN 'kept_scrubbed'
                ELSE 'kept_clean' END AS status
         FROM documents d WHERE d.doc_id % 10 <> 7
         ORDER BY d.doc_id""")),
      // q108: the SinglePartition exchange is SPARK'S OWN
      // InjectRuntimeFilter bloom build (bloom_filter_agg over the
      // flag-frame join keys — the very mechanism q101 surfaces
      // explicitly): a global aggregate merging per-partition bloom
      // blobs through one task, the q03/q17 shape, injected by the
      // optimizer rather than written by us.
      accepted = Set("SinglePartition-exchange")),

    // ---- North-star: BPE ENCODE against a PERSISTED vocabulary ---------
    // The q92 build-once/query-many shape applied to tokenization: the
    // trained symbolized vocab is written as parquet ONCE per corpus
    // (cachedBuild — repeated constructions and bench passes skip the 10
    // training rounds entirely), and encoding is a broadcast join of the
    // corpus token stream against the stored vocab folding to one per-doc
    // agg — the amortized cost a 100 TB pipeline actually pays per encode
    // pass. OOV words (unseen shards) fall back to character symbols
    // (spec-pinned); here the corpus trains the vocab so every word hits.
    // The oracle re-trains the identical 10 rounds in DuckDB and encodes
    // against the final stage — a hash-green row proves the STORED
    // artifact reproduces the freshly-trained tokenizer exactly ----------
    QueryDef("q97_bpe_encode", (s, dir) => {
      val vocabPath = cachedBuild(dir, "documents.parquet",
          "target/q97_bpe_vocab", params = "bpe:nmerges=10") { p =>
        operators.Bpe.trainAndWriteVocab(
          operators.Bpe.wordFreq(Tables.documents(s, dir), "text"),
          nMerges = 10, path = p)
      }
      operators.Bpe.encodeCounts(Tables.documents(s, dir), "doc_id",
          "text", vocabPath)
        .select(col("doc_id"), col("n_ws"), col("n_bpe"),
          round(col("n_bpe").cast("double") / col("n_ws"), 6)
            .as("fertility"))
        .orderBy("doc_id")
    }, oracle = Some(bpeEncodeOracleSql(10))),

    // ---- North-star: TOKENIZER-FIT report (fertility + OOV) ------------
    // The number a team checks before committing to a tokenizer: per
    // source, fertility (BPE symbols per whitespace word) and OOV rate
    // against a vocab trained on the STANDING corpus only (%10≠7) — the
    // %10=7 holdout supplies genuine OOV words for the char-fallback arm,
    // the production regime where incoming data meets a frozen tokenizer.
    // Same stored-artifact amortization as q97 (cachedBuild; vocab is a
    // broadcast ~|vocab|-row table, the token stream never shuffles for
    // scoring — one groupBy(source) partial agg).
    QueryDef("q115_tokenizer_fit", (s, dir) => {
      val vocabPath = cachedBuild(dir, "documents.parquet",
          "target/q115_bpe_vocab", params = "bpe:nmerges=10:hold=m10e7") { p =>
        operators.Bpe.trainAndWriteVocab(
          operators.Bpe.wordFreq(
            Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7),
            "text"),
          nMerges = 10, path = p)
      }
      val vocab = Tables.parquet(s, vocabPath)
        .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
      // the holdout slice arrives with a token the frozen vocab has never
      // seen (q89's suffix trick) so the char-fallback/OOV arm is
      // exercised with a NONZERO rate, not just replayed symbolically
      Tables.documents(s, dir)
        .select(col("source"),
          when(pmod(col("doc_id"), lit(10)) === 7,
            concat(col("text"), lit(" zzoov")))
            .otherwise(col("text")).as("text"))
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .join(broadcast(vocab), Seq("word"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_ws"),
          sum(coalesce(col("n_syms"), length(col("word")) + 1)
            .cast("long")).as("n_bpe"),
          sum(when(col("n_syms").isNull, 1L).otherwise(0L)).as("n_oov"),
          round(sum(coalesce(col("n_syms"), length(col("word")) + 1)
            .cast("long")).cast("double") / count(lit(1)), 6)
            .as("fertility"),
          round(sum(when(col("n_syms").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("oov_rate"))
        .orderBy("source")
    }, oracle = Some(tokenizerFitOracleSql(10))),

    // ---- North-star: corpus SNAPSHOT DIFF (dataset versioning) ---------
    // The reconciliation pass every managed 100 TB corpus runs between
    // snapshots: v2 vs v1 classified per doc as added / removed /
    // modified / unchanged. Scale shape: both sides reduce to
    // (doc_id, xxhash64(text)) AT THE SCAN — 16-byte rows through one
    // co-partitioned full-outer hash join, the corpus text never
    // shuffles; at 10^9 docs that is a ~16 GB shuffle instead of the
    // corpus. Content equality via 64-bit hash (the standard diff trade:
    // same-id collision odds ~n·2⁻⁶⁴); the oracle compares raw text, so
    // a green row also witnesses no collision in the fixture. v2 drops
    // the %10=4 slice (removed), edits the %10=5 texts (modified), and
    // gains the %10=7 slice v1 excludes (added) ------------------------
    QueryDef("q104_snapshot_diff", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      val v2 = docs.filter(col("doc_id") % 10 =!= 4)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" v2edit")))
            .otherwise(col("text")).as("text"))
      v1.select(col("doc_id"), xxhash64(col("text")).as("h1"))
        .join(v2.select(col("doc_id"), xxhash64(col("text")).as("h2")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "modified")
            .otherwise("unchanged").as("status"))
        .orderBy("doc_id")
    },
      // Raw-text comparison (no hashing) — a green row proves the engine's
      // 64-bit content-hash diff classified every doc exactly as the text
      // diff does on this fixture.
      oracle = Some("""WITH v1 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN text || ' v2edit'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 4)
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.text <> b.text THEN 'modified'
                ELSE 'unchanged' END AS status
         FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
         ORDER BY doc_id""")),

    // ---- North-star: APPLY CHANGESET (diff → next snapshot) ------------
    // The write side of q104's versioning story: given the standing
    // corpus v1 and a changeset (upserts carrying payload text, deletes
    // carrying only ids — the CDC/Delta-MERGE shape), produce v2. Scale
    // shape: the changeset is the ingest increment and BROADCASTS; v1
    // streams through one broadcast anti-join (drop every changed id)
    // plus a union of the upsert payloads — the corpus never shuffles
    // and is scanned exactly once. The oracle constructs v2 DIRECTLY
    // from the fixture definition, so a hash-green row proves
    // apply(v1, diff) == snapshot(v2) byte-for-byte (fingerprints) -----
    QueryDef("q106_apply_changeset", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      val changes = docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"), lit("upsert").as("action"))
        .unionAll(docs.filter(col("doc_id") % 10 === 5)
          .select(col("doc_id"),
            concat(col("text"), lit(" v2edit")).as("text"),
            lit("upsert").as("action")))
        .unionAll(docs.filter(col("doc_id") % 10 === 4)
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit("delete").as("action")))
      val next = v1
        .join(broadcast(changes.select("doc_id")), Seq("doc_id"),
          "left_anti")
        .unionByName(changes.filter(col("action") === "upsert")
          .select("doc_id", "text"))
      next.select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      // v2 constructed DIRECTLY from the fixture definition (q104's v2) —
      // equality proves the engine's apply(v1, changeset) reconstruction.
      oracle = Some("""WITH v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN text || ' v2edit'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 4)
         SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                 ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM v2 ORDER BY doc_id""")),

    // ---- PER-DOMAIN CAP: C4/CCNet-style host capping ----------------------
    // Keep at most `domainCap` docs per source (a crawl pipeline caps
    // documents per registered domain so mega-hosts can't dominate the
    // mixture). Selection is an exact deterministic bottom-k on the
    // shared FNV stream (pure function of (doc_id, seed) — partition-
    // independent, re-run-stable). Scale shape: the keep set comes from
    // the bounded-heap TopKByScore partial aggregate — each input
    // partition contributes <= cap entries per source to the shuffle, so
    // a billion-doc host costs the same exchange bytes as a ten-doc one
    // (a row_number window would sort the WHOLE hot domain through one
    // reducer); the |sources|·cap keep set then broadcasts back as a
    // left-semi-shaped flag join. No corpus-sized exchange anywhere.
    QueryDef("q142_domain_cap", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("source"),
        Relational.fnvBucket(col("doc_id"), 57L).as("b"))
      // bottom-k on (b, doc_id) == top-k on (-b DESC, doc_id ASC): the
      // heap's (score DESC, id ASC) order matches the keep rule exactly
      val kept = scored.groupBy("source")
        .agg(graft.functions.AggFunctions.topKByScore(
          negate(col("b").cast("double")), col("doc_id"), domainCap)
          .as("ks"))
        .select(explode(col("ks")).as("e"))
        .select(col("e.n_id").as("doc_id"), lit(true).as("kept"))
      scored.join(broadcast(kept), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("source"), col("b").as("priority"),
          coalesce(col("kept"), lit(false)).as("kept"))
        .orderBy("doc_id")
    },
      // q142 oracle: the same FNV priority stream (seed 57), replayed as a
      // plain row_number cut per source — the window the engine's bounded
      // heap exists to avoid at scale, exact at fixture scale.
      oracle = Some(fnvBucketCtes("documents", "doc_id", 57) + s""",
         r AS (
           SELECT doc_id, source, b,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY b, doc_id)
               AS rn
           FROM s)
         SELECT doc_id, source, CAST(b AS BIGINT) AS priority,
           rn <= $domainCap AS kept
         FROM r ORDER BY doc_id""")),

    // ---- PMI COLLOCATIONS: corpus-level phrase mining ---------------------
    // Pointwise mutual information over adjacent token pairs — the
    // collocation/phrase-detection primitive (word2vec-phrases, boilerplate
    // phrase discovery). Scale shape: one bigram agg and one unigram agg,
    // both map-side-combined (shuffle rows = distinct grams, not corpus
    // tokens); the min-count filter lands ON the combined bigram agg
    // before any join, so only frequent bigrams reach the two vocab-keyed
    // hash joins; corpus totals are a broadcast 1-row frame; final top-50
    // is a TakeOrdered, never a global sort. PMI doubles are computed in
    // one fixed left-assoc expression and rounded to 6 dp so the oracle
    // replays them bit-for-bit.
    QueryDef("q143_pmi_collocations", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val withToks = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("t"))
      val toks = withToks.select(explode(col("t")).as("tok"))
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
      val bg = withToks.filter(size(col("t")) >= 2)
        .select(explode(arrays_zip(
            slice(col("t"), lit(1), size(col("t")) - 1).as("v"),
            slice(col("t"), lit(2), size(col("t")) - 1).as("w"))).as("p"))
        .select(col("p.v").as("v"), col("p.w").as("w"))
      val cb = bg.groupBy("v", "w").agg(count(lit(1)).as("cvw"))
        .filter(col("cvw") >= pmiMinCount)
      val stats = toks.agg(count(lit(1)).as("n_tok"))
        .crossJoin(bg.agg(count(lit(1)).as("n_bg")))
      cb.join(uni.select(col("tok").as("v"), col("c1").as("cv")), Seq("v"))
        .join(uni.select(col("tok").as("w"), col("c1").as("cw")), Seq("w"))
        .crossJoin(broadcast(stats))
        .select(col("v"), col("w"), col("cvw"),
          round(log(col("cvw").cast("double") * col("n_tok") / col("cv")
            / col("cw") * col("n_tok") / col("n_bg")), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("v"), col("w"))
        .limit(50)
    },
      // q143 oracle: identical tokenization (q102's split), identical
      // left-assoc double chain inside ln, identical (pmi, v, w) cut.
      oracle = Some(raw"""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM documents),
         tr AS (SELECT unnest(t) AS tok FROM toks),
         uni AS (SELECT tok, COUNT(*) AS c1 FROM tr GROUP BY tok),
         bgl AS (
           SELECT list_transform(range(1, len(t)),
               i -> struct_pack(v := t[i], w := t[i+1])) AS ps
           FROM toks WHERE len(t) >= 2),
         bg AS (SELECT p.v AS v, p.w AS w
                FROM (SELECT unnest(ps) AS p FROM bgl)),
         cb AS (SELECT v, w, COUNT(*) AS cvw FROM bg GROUP BY v, w
                HAVING COUNT(*) >= $pmiMinCount),
         stats AS (SELECT (SELECT COUNT(*) FROM tr) AS n_tok,
                          (SELECT COUNT(*) FROM bg) AS n_bg)
         SELECT b.v, b.w, b.cvw,
           round(ln(CAST(b.cvw AS DOUBLE) * s.n_tok / uv.c1 / uw.c1
             * s.n_tok / s.n_bg), 6) AS pmi
         FROM cb b JOIN uni uv ON b.v = uv.tok
         JOIN uni uw ON b.w = uw.tok
         CROSS JOIN stats s
         ORDER BY pmi DESC, v, w LIMIT 50"""),
      // q143: the q69 shape — crossJoin(broadcast(1-row n_tok/n_bg
      // stats)); the SinglePartition exchanges are those frames' own
      // global counts plus the top-50 TakeOrdered merge.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),
  )

  /** q82's pass-1 frame: the ONE aggregate job computing N and the
    * k=2048-counter Misra-Gries candidate summary. The query builder
    * EXECUTES this (driver collect of a driver-sized-by-construction
    * result), so the frame q82 returns never carries this subplan —
    * factored out and exposed through [[auditPlans]] so the plan stays
    * visible to Explain --audit's smell scan.
    */
  private def q82Pass1(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
    toks.agg(
      count(lit(1)).as("n"),
      graft.functions.AggFunctions.frequentCandidates(col("tok"), 2048)
        .as("cand"))
  }

  /** q142's per-source document cap — single source for the engine's
    * bounded-heap k and the oracle's row_number cut.
    */
  private val domainCap = 8

  /** q143's bigram min-count — applied on the map-side-combined bigram
    * aggregate, single-sourced into the oracle.
    */
  private val pmiMinCount = 5

  /** q67 mixture weights: deliberately spread (full-keep, half, heavy
    * downsample, near-drop) so the rate when-chain and the oracle's CASE
    * both exercise every arm plus the default. Single source for the
    * engine query AND the q67 oracle SQL.
    */
  private val mixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2, "src3" -> 0.05)
  private val mixDefaultRate: Double = 0.75

  /** q77 chunk geometry — single source for TextFunctions.chunks' call
    * AND the oracle's arithmetic, so the two cannot drift. */
  private val chunkSize = 200
  private val chunkStride = 150

  /** The q98/q108 shared four-stage curation chain: quality CTEs → eval
    * 8-gram decontamination → the q81 keep-best closure — ends at `surv`
    * (the kept, pre-scrub relation), with `q`/`contam`/`ranked` live for
    * stage-attribution consumers. Single-sourced so the capstone rewrite
    * (q98) and the drop-reason report (q108) can never drift apart.
    */
  private def curationChainCtes: String =
    raw"""WITH RECURSIVE q AS (
           SELECT * FROM documents
           WHERE len(string_split_regex(trim(text), '[$WS]+')) >= 30
             AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   AS DOUBLE) / length(text) >= 0.8),
         evg AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7])))) AS g
           FROM (SELECT string_split_regex(trim(text), '[$WS]+') AS t
                 FROM documents WHERE doc_id % 10 = 7)
           WHERE len(t) >= 8),
         cand AS (SELECT doc_id, text FROM q WHERE doc_id % 10 <> 7),
         candg AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7])))) AS g
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '[$WS]+') AS t
                 FROM cand)
           WHERE len(t) >= 8),
         contam AS (SELECT DISTINCT doc_id FROM candg JOIN evg USING (g)),
         decon AS (
           SELECT doc_id, text FROM cand
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         """ + componentClosureBody("decon") + raw""",
         scored AS (
           SELECT c.component, c.doc_id,
                  CAST(strlen(d.text) AS BIGINT) AS blen
           FROM comp c JOIN decon d USING (doc_id)),
         ranked AS (
           SELECT component, doc_id,
                  row_number() OVER (PARTITION BY component
                    ORDER BY blen DESC, doc_id ASC) AS rn
           FROM scored),
         surv AS (
           SELECT d.doc_id, d.text FROM decon d
           JOIN (SELECT doc_id FROM ranked WHERE rn = 1) k USING (doc_id))"""

  /** q158's entropy / dominant / mixed arithmetic — ONE textual form
    * `expr()`-ed on the engine side and interpolated into the DuckDB
    * oracle, so the two engines cannot drift an operator or a term
    * order. Operates on the named count columns.
    */
  private val scriptEntropyExpr: String = {
    def t(c: String) =
      s"(CASE WHEN $c = 0 THEN 0.0 ELSE " +
        s"(CAST($c AS DOUBLE)/n) * ln(CAST($c AS DOUBLE)/n) END)"
    "round(-(" + Seq("n_latin", "n_cjk", "n_cyrillic", "n_greek",
      "n_digit", "n_space", "n_other").map(t).mkString(" + ") + "), 6)"
  }

  private val dominantScriptExpr: String =
    """CASE greatest(n_latin, n_cjk, n_cyrillic, n_greek, n_digit,
                     n_space, n_other)
         WHEN n_latin THEN 'latin' WHEN n_cjk THEN 'cjk'
         WHEN n_cyrillic THEN 'cyrillic' WHEN n_greek THEN 'greek'
         WHEN n_digit THEN 'digit' WHEN n_space THEN 'space'
         ELSE 'other' END"""

  private val mixedScriptExpr: String =
    """element_at(array_sort(array(n_latin, n_cjk, n_cyrillic, n_greek)), 3)
         >= greatest(5, (n + 19) div 20)"""

  /** The q94/q98 scrub oracle CTEs over an arbitrary (doc_id, text) base
    * relation: positional 8-grams (parallel unnest zips index + gram),
    * corpus-wide occurrence count >= 2, covered positions anti-joined out
    * of the exploded token stream, text rebuilt with an ORDER BY
    * string_agg. The oracle needn't be scale-shaped; it joins raw gram
    * STRINGS vs the engine's FNV-64 hashes (the q24/q66/q71 64-bit
    * collision-freedom argument).
    */
  private def scrubCtesBody(base: String): String = raw"""sctoks AS (
           SELECT doc_id, string_split_regex(trim(text), '[$WS]+') AS t
           FROM $base),
         scgrams AS (
           SELECT doc_id,
             unnest(range(1, len(t) - 6)) AS i,
             unnest(list_transform(range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7]))) AS g
           FROM sctoks WHERE len(t) >= 8),
         scdup AS (SELECT g FROM scgrams GROUP BY g HAVING COUNT(*) >= 2),
         sccov AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(range(0, 8), d -> i + d)) AS p
                 FROM scgrams JOIN scdup USING (g)),
         scpos AS (SELECT doc_id, unnest(t) AS tok,
                   generate_subscripts(t, 1) AS p
                 FROM sctoks),
         sckept AS (SELECT p0.doc_id, p0.tok, p0.p
                  FROM scpos p0 LEFT JOIN sccov c
                    ON p0.doc_id = c.doc_id AND p0.p = c.p
                  WHERE c.p IS NULL),
         scagg AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY p) AS clean_text
                 FROM sckept GROUP BY doc_id),
         scbase AS (SELECT doc_id, len(t) AS n_tok FROM sctoks)"""

  private val scrubFinalSelect: String = """
         SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n_tok - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
         FROM scbase b LEFT JOIN scagg a USING (doc_id)
         ORDER BY b.doc_id"""

  /** The q95 oracle: BPE training replayed in DuckDB, stage by stage.
    * Symbol sequences live as a bracket-encoded string — each symbol
    * wrapped chr(1)‖sym‖chr(2), so adjacent occurrences of a pair share
    * NO characters and plain `replace()` (leftmost, non-overlapping,
    * scan-past-replacement) is exactly BPE's merge application (the
    * engine-side fold's semantics; BpeSpec pins the overlap shapes both
    * must agree on). Every stage is MATERIALIZED: each round references
    * its predecessor twice (pair counts + merge application), so inlined
    * CTEs would re-expand the base scan 2^n times. Tie-break in both
    * engines: count desc, then (left, right) bytewise asc.
    */
  private def bpeOracleSql(nMerges: Int): String =
    s"WITH ${bpeStagesSql(nMerges)} " +
      s"SELECT * FROM (${bpeMergesUnionSql(nMerges)}) ORDER BY merge_rank"

  /** q97's oracle: encode the corpus against the FINAL stage of the same
    * replayed training chain — per-doc whitespace vs BPE token counts,
    * n_syms = symbols in the bracket-encoded word (in-vocab by
    * construction here; the engine's OOV fallback is exercised by spec).
    */
  private def bpeEncodeOracleSql(nMerges: Int): String =
    raw"""WITH ${bpeStagesSql(nMerges)},
      vocab AS (SELECT word,
          len(string_split(substr(enc, 2, len(enc)-2),
            chr(2) || chr(1))) AS n_syms
        FROM s$nMerges),
      dt AS (SELECT doc_id,
          unnest(string_split_regex(trim(text), '[$WS]+')) AS word
        FROM documents)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws,
        CAST(SUM(coalesce(n_syms, len(word) + 1)) AS BIGINT) AS n_bpe,
        round(CAST(SUM(coalesce(n_syms, len(word) + 1)) AS DOUBLE)
          / COUNT(*), 6) AS fertility
      FROM dt LEFT JOIN vocab USING (word)
      GROUP BY doc_id ORDER BY doc_id"""

  /** q115 oracle: DuckDB re-trains the 10 rounds ON THE STANDING-CORPUS
    * SLICE only (the trainWhere arm — stored artifact == fresh tokenizer,
    * as in q97), then scores the WHOLE corpus per source; the %10=7
    * holdout supplies genuine OOV words for the char-fallback arm.
    */
  private def tokenizerFitOracleSql(nMerges: Int): String =
    raw"""WITH ${bpeStagesSql(nMerges, "WHERE doc_id % 10 <> 7")},
      vocab AS (SELECT word,
          len(string_split(substr(enc, 2, len(enc)-2),
            chr(2) || chr(1))) AS n_syms
        FROM s$nMerges),
      dt AS (SELECT source,
          unnest(string_split_regex(trim(
            CASE WHEN doc_id % 10 = 7 THEN text || ' zzoov'
                 ELSE text END), '[$WS]+')) AS word
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ws,
        CAST(SUM(coalesce(n_syms, len(word) + 1)) AS BIGINT) AS n_bpe,
        CAST(SUM(CASE WHEN n_syms IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        round(CAST(SUM(coalesce(n_syms, len(word) + 1)) AS DOUBLE)
          / COUNT(*), 6) AS fertility,
        round(CAST(SUM(CASE WHEN n_syms IS NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*), 6) AS oov_rate
      FROM dt LEFT JOIN vocab USING (word)
      GROUP BY source ORDER BY source"""

  private def bpeMergesUnionSql(nMerges: Int): String =
    (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
            a||b AS merged, CAST(w AS BIGINT) AS pair_count FROM b$k"""
    }.mkString(" UNION ALL ")

  private def bpeStagesSql(nMerges: Int,
                           trainWhere: String = ""): String = {
    val head = raw"""
      w0 AS MATERIALIZED (
        SELECT tok AS word, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split_regex(trim(text), '[$WS]+')) AS tok
          FROM documents $trainWhere) GROUP BY tok),
      s0 AS MATERIALIZED (
        SELECT word, cnt,
          list_aggregate(list_transform(range(1, len(word)+1),
            i -> chr(1) || word[i] || chr(2)), 'string_agg', '')
          || chr(1) || '</w>' || chr(2) AS enc
        FROM w0)"""
    val stages = (1 to nMerges).map { k =>
      raw"""
      p$k AS MATERIALIZED (
        SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b,
               SUM(cnt) AS w
        FROM (
          SELECT cnt, unnest(list_transform(range(1, len(sy)),
            i -> sy[i] || ' ' || sy[i+1])) AS pr
          FROM (SELECT cnt, string_split(substr(enc, 2, len(enc)-2),
                  chr(2) || chr(1)) AS sy FROM s${k - 1})
        ) GROUP BY a, b),
      b$k AS MATERIALIZED (
        SELECT a, b, w FROM p$k ORDER BY w DESC, a, b LIMIT 1),
      s$k AS MATERIALIZED (
        SELECT word, cnt,
          replace(enc,
            (SELECT chr(1)||a||chr(2)||chr(1)||b||chr(2) FROM b$k),
            (SELECT chr(1)||a||b||chr(2) FROM b$k)) AS enc FROM s${k - 1})"""
    }
    (head +: stages).mkString(",")
  }
}
