package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 78).map(i => s"tok$i").mkString(" ") + " changed here"
    val other = (200 to 280).map(i => s"q$i").mkString(" ")
    Seq((1L, base), (2L, nearDup), (3L, other), (4L, base))
      .toDF("doc_id", "text")
  }

  test("crossJaccardPairs: bipartite blocking equals the quadratic truth") {
    // corpus: 3 docs; eval: a paraphrase of doc 1 (one token appended — a
    // fuzzy-decontam hit exact 8-grams would miss), an unrelated doc, and
    // a verbatim copy of doc 4 (jaccard exactly 1)
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val far = (200 to 280).map(i => s"q$i").mkString(" ")
    val corpusDocs = Seq((1L, base), (3L, far), (4L, base + " end"))
    val evalDocs = Seq((100L, base + " zz"),
      (101L, (500 to 560).map(i => s"e$i").mkString(" ")),
      (102L, base + " end"))
    val got = Dedup.crossJaccardPairs(corpusDocs.toDF("doc_id", "text"),
        evalDocs.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // quadratic truth over the distinct 3-shingle sets
    def sh(s: String) =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val expect = for {
      (ca, ta) <- corpusDocs
      (cb, tb) <- evalDocs
      j = sh(ta).intersect(sh(tb)).size.toDouble /
        sh(ta).union(sh(tb)).size
      if j >= 0.8
    } yield (ca, cb, j)
    assert(got.toSet == expect.toSet,
      s"blocking diverged from quadratic truth: ${got.toSet} vs " +
        s"${expect.toSet}")
    // the verbatim copy scores exactly 1.0; the paraphrase is in (0.8, 1)
    assert(got.exists { case (a, b, j) => a == 4L && b == 102L && j == 1.0 })
    assert(got.exists { case (a, b, j) =>
      a == 1L && b == 100L && j > 0.8 && j < 1.0 })
    // the normalize flag reaches the bipartite path too: an eval doc in
    // DECOMPOSED spelling matches its composed corpus twin only under NFC
    val composedO = "tók"            // t ó k, composed U+00F3
    val decomposedO = "tók"         // t o +combining acute
    assert(composedO != decomposedO)
    val cDoc = Seq((9L, base.replace("tok", composedO)))
      .toDF("doc_id", "text")
    val eDoc = Seq((900L, base.replace("tok", decomposedO)))
      .toDF("doc_id", "text")
    assert(Dedup.crossJaccardPairs(cDoc, eDoc, "doc_id", "text", 0.8)
      .count() == 0L)
    val normed = Dedup.crossJaccardPairs(cDoc, eDoc, "doc_id", "text", 0.8,
      normalize = true).collect()
    assert(normed.length == 1 && normed.head.getDouble(2) == 1.0)
  }

  test("crossCosineMatches: bipartite exact cosine equals quadratic truth") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(88)
    def vec() = Seq.fill(8)(rng.nextDouble())
    val corpusRows = (1L to 30L).map(i => (i, vec()))
    // eval: positive scalings of 5 corpus vectors (cosine EXACTLY 1 —
    // scale-invariance is the property a rewrite detector leans on) plus
    // an unrelated vector
    val evalRows = corpusRows.take(5).map { case (i, v) =>
      (i + 100L, v.map(_ * 2.5)) } :+ (200L, vec())
    val got = Similarity.crossCosineMatches(
        corpusRows.toDF("vec_id", "embedding"),
        evalRows.toDF("vec_id", "embedding"), threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = (for {
      (ca, va) <- corpusRows
      (cb, vb) <- evalRows
      s = math.rint(cos(va, vb) * 1e6) / 1e6
      if s >= 0.95
    } yield (ca, cb, s)).toSet
    // the 5 scaled twins must be present at sim exactly 1.0
    (1L to 5L).foreach { i =>
      assert(got.exists { case (a, b, s) => a == i && b == i + 100 && s == 1.0 },
        s"scaled twin $i missing or not at cosine 1.0")
    }
    assert(got.map { case (a, b, _) => (a, b) } ==
      expect.map { case (a, b, _) => (a, b) },
      s"pair sets diverge: ${got.map(t => (t._1, t._2))} vs " +
        s"${expect.map(t => (t._1, t._2))}")
  }

  test("normalize flag: composed/decomposed twins collide iff NFC is on") {
    // same text, two canonically-equal byte spellings: every token carries
    // U+00E1 composed in doc 1, 'a'+U+0301 decomposed in doc 2
    val base = (1 to 60).map(i => s"vál$i").mkString(" ")
    val decomposed = base.replace("á", "á")
    assert(base != decomposed && base.length < decomposed.length)
    val df = Seq((1L, base), (2L, decomposed),
      (3L, (1 to 60).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    // un-normalized: every shingle differs byte-wise -> the twin is MISSED
    assert(Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.8)
      .filter(col("id_a") === 1 && col("id_b") === 2).count() == 0L)
    // normalized: identical shingle sets -> estimated jaccard exactly 1
    val hit = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.8,
        normalize = true)
      .filter(col("id_a") === 1 && col("id_b") === 2).collect()
    assert(hit.length == 1 && hit.head.getDouble(2) == 1.0)
    // exact dedup, same story: 3 byte-distinct groups raw, twins collapse
    // under the NFC key with keep-first on the composed id
    assert(Dedup.exact(df, "text", "doc_id").count() == 3L)
    val ex = Dedup.exact(df, "text", "doc_id", nfc = true)
      .orderBy("keep_id").collect()
    assert(ex.length == 2)
    assert(ex.head.getAs[Long]("keep_id") == 1L &&
      ex.head.getAs[Long]("copies") == 2L)
  }

  test("planesFor gears LSH geometry with corpus size (BENCH_SCALE sweep)") {
    // pinned to the measured flat regions of the x1/x100 plane sweeps:
    // 16 planes optimal at ~20k vectors, 20 at ~2M (494s -> 80.2s)
    val p20k = Dedup.planesFor(20000L, 0.9)
    val p2m = Dedup.planesFor(2000000L, 0.9)
    assert(p20k >= 13 && p20k <= 17, s"20k vecs: got $p20k planes")
    assert(p2m >= 19 && p2m <= 23, s"2M vecs: got $p2m planes")
    assert(p2m > p20k, "optimum must rise with corpus size")
    // monotone non-decreasing across six decades of corpus size
    val decades = (3 to 9).map(d => Dedup.planesFor(math.pow(10, d).toLong, 0.9))
    assert(decades.zip(decades.tail).forall { case (a, b) => a <= b },
      s"non-monotone gearing: $decades")
    // gearing never loosens recall: tables are re-sized per planes
    assert(Dedup.lshTablesFor(0.9, p2m) > Dedup.lshTablesFor(0.9, p20k))
  }

  test("bandsFor: engineered banding recall bound (lshTablesFor sibling)") {
    // the formula IS the spec: b bands of r rows miss a threshold-j pair
    // with (1-j^r)^b — assert the returned b satisfies the bound and is
    // minimal (b-1 bands would violate it)
    def miss(j: Double, r: Int, b: Int): Double =
      math.pow(1.0 - math.pow(j, r), b)
    for (θ <- Seq(0.5, 0.8, 0.9); r <- Seq(1, 2, 4, 8)) {
      val b = Dedup.bandsFor(θ, r)
      assert(miss(θ, r, b) <= 1e-6, s"θ=$θ r=$r b=$b misses ${miss(θ, r, b)}")
      assert(b == 1 || miss(θ, r, b - 1) > 1e-6,
        s"θ=$θ r=$r: $b bands not minimal")
    }
    // the two regimes the scaladoc names: the 32x4 default is structurally
    // safe at θ >= 0.8 (27 <= 32 bands) but NOT at θ = 0.5 (214 bands) —
    // q22's fixture-verified no-miss at θ=0.5 stays a fixture fact, and
    // bandsFor is the engineered path for callers who need the guarantee
    assert(Dedup.bandsFor(0.8, 4) <= 32)
    assert(Dedup.bandsFor(0.5, 4) > 32)
    // gearing r down restores a practical band count at low thresholds
    assert(Dedup.bandsFor(0.5, 2) <= 64)
    // sanity on a planted borderline-θ pair: geometry from bandsFor finds
    // a jaccard-0.8 pair (27 bands needed; run with exactly that many)
    val b08 = Dedup.bandsFor(0.8, 4)
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.8,
        bands = b08, rowsPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), s"engineered geometry lost the pair")
  }

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(corpus, "text", "doc_id")
      .select("keep_id", "copies").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash LSH finds planted near-dups, not the unrelated doc") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccardPairs exact verification: identical docs score 1.0") {
    val got = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val exactPair = got.find(r => r._1 == 1L && r._2 == 4L)
    assert(exactPair.exists(_._3 == 1.0))
  }

  test("exactJaccardJoin equals the quadratic truth on an adversarial mix") {
    // engineered hazards: a boilerplate 3-shingle shared by EVERY doc
    // (max-df — must fall to suffixes, not flood the candidate join),
    // threshold-boundary pairs on both sides of 0.7, an exact duplicate,
    // length-ratio violations, and a doc too short to shingle
    val banner = "click to accept cookies"
    def doc(lo: Int, hi: Int) =
      banner + " " + (lo to hi).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, doc(1, 60)), (2L, doc(1, 60)),            // exact dup: j = 1
      (3L, doc(1, 55)), (4L, doc(6, 60)),            // high-overlap variants
      (5L, doc(1, 20)),                              // length-filtered away
      (6L, (200 to 260).map(i => s"z$i").mkString(" ")), // unrelated
      (7L, "too short"),                             // no 3-shingles
      (8L, doc(1, 58))).toDF("doc_id", "text")
    val got = Dedup.exactJaccardJoin(docs, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val raw = Seq((1L, doc(1, 60)), (2L, doc(1, 60)), (3L, doc(1, 55)),
      (4L, doc(6, 60)), (5L, doc(1, 20)),
      (6L, (200 to 260).map(i => s"z$i").mkString(" ")),
      (7L, "too short"), (8L, doc(1, 58)))
    val expect = (for {
      (ia, ta) <- raw; (ib, tb) <- raw if ia < ib
      sa = sh(ta); sb = sh(tb) if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.7
    } yield (ia, ib, j)).sortBy(r => (r._1, r._2))
    assert(got == expect)
    assert(got.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(got.size >= 3) // the variants actually qualify — non-vacuous
  }

  test("exactContainmentJoin equals the quadratic truth and catches the " +
      "quote pair Jaccard misses") {
    // doc 11 is VERBATIM-quoted inside doc 12's much longer text: its
    // shingles are a subset (containment 1.0) but Jaccard is tiny —
    // the asymmetric relation the operator exists for. Plus boundary
    // pairs, an exact dup (contained both ways), and a short doc.
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (11L, quote),
      (12L, quote + " " + (100 to 220).map(i => s"f$i").mkString(" ")),
      (13L, (1 to 12).map(i => s"q$i").mkString(" ")), // exact dup of 11
      (14L, (1 to 9).map(i => s"q$i").mkString(" ") + " x y z"), // partial
      (15L, "too short"),
      (16L, (300 to 360).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val raw = Seq((11L, quote),
      (12L, quote + " " + (100 to 220).map(i => s"f$i").mkString(" ")),
      (13L, (1 to 12).map(i => s"q$i").mkString(" ")),
      (14L, (1 to 9).map(i => s"q$i").mkString(" ") + " x y z"),
      (15L, "too short"),
      (16L, (300 to 360).map(i => s"u$i").mkString(" ")))
    val expect = (for {
      (ia, ta) <- raw; (ib, tb) <- raw if ia != ib
      sa = sh(ta); sb = sh(tb) if sa.nonEmpty && sb.nonEmpty
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.8
    } yield (ia, ib, c)).sortBy(r => (r._1, r._2))
    val got = Dedup.exactContainmentJoin(docs, "doc_id", "text",
        threshold = 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expect)
    // the quote pair is DIRECTED: 11-in-12 qualifies, 12-in-11 doesn't
    assert(got.exists { case (a, b, c) => a == 11L && b == 12L && c == 1.0 })
    assert(!got.exists { case (a, b, _) => a == 12L && b == 11L })
    // ...and Jaccard at the same 0.8 misses it entirely
    val jac = Dedup.exactJaccardJoin(docs, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists { case (a, b, _) =>
      (a == 11L && b == 12L) || (a == 12L && b == 11L) })
    // partition-order independence
    val got7 = Dedup.exactContainmentJoin(docs.repartition(7), "doc_id",
        "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got7 == got)
  }

  test("exactJaccardJoin at threshold 1.0 finds exactly the verbatim dups") {
    val got = Dedup.exactJaccardJoin(corpus, "doc_id", "text", threshold = 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 4L, 1.0)))
  }

  test("simhashPairs flags the exact duplicate at hamming 0") {
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(got.exists(r => r._1 == 1L && r._2 == 4L && r._3 == 0L))
  }

  test("embeddingPairs finds the planted duplicate vector") {
    val v1 = Seq.tabulate(8)(i => math.sin(i + 1).toFloat)
    val v2 = v1.map(x => (x * 1.001f))           // near-parallel
    val v3 = Seq.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(df, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("embeddingPairs with LSH blocking still finds near-parallel vectors") {
    val v1 = Seq.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v2 = v1.map(x => x * 1.001f)
    val v3 = Seq.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(df, "vec_id", "embedding",
        threshold = 0.99, useLsh = true, dim = 16, planes = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L))) // near-parallel pair shares all sign bits
  }

  test("bruteForceTopK ranks the duplicated vector first") {
    val emb = Tables.embeddings(spark, sf0001)
    val withDup = emb.unionAll(
      emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
          col("label")))
    val got = Similarity.bruteForceTopK(
        withDup, withDup.filter(col("vec_id") === 100000L), k = 3)
      .select("n_id", "rn").as[(Long, Long)].collect()
    assert(got.head == (0L, 1L)) // its twin is rank 1
  }

  test("ivfTopK finds the duplicated vector with full probing") {
    val emb = Tables.embeddings(spark, sf0001)
    val withDup = emb.unionAll(
      emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
          col("label")))
    val got = Similarity.ivfTopK(withDup,
        withDup.filter(col("vec_id") === 100000L), k = 3,
        nLists = 8, nProbe = 8)
      .select("n_id", "rn").as[(Long, Long)].collect()
    assert(got.head == (0L, 1L)) // its twin is rank 1 (exhaustive probe)
    val partial = Similarity.ivfTopK(withDup,
        withDup.filter(col("vec_id") === 100000L), k = 3,
        nLists = 8, nProbe = 2)
      .select("n_id", "rn").as[(Long, Long)].collect()
    assert(partial.head == (0L, 1L)) // twin shares the query's own cell
  }

  test("ivfTopK recall@10 in the approximate regime (nProbe < nLists)") {
    // The regime the operator exists for — q52 gates only the exhaustive
    // nProbe == nLists probe. Fully seeded, so recall on this fixture is
    // deterministic; the floors carry ~0.05 slack under the measured
    // values (0.65 at nProbe=4, see ivfTopK scaladoc) and recall must be
    // monotone in nProbe (probing more cells can only add candidates).
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int): Double = {
      val approx = Similarity.ivfTopK(emb, queries, k = 10,
          nLists = 16, nProbe = nProbe)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      approx.count(exact.contains).toDouble / exact.size
    }
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    assert(r4 >= 0.6, s"recall@10 at nProbe=4 was $r4, floor 0.6")
    assert(r8 >= r4, s"recall must be monotone in nProbe: $r8 < $r4")
    assert(r8 >= 0.8, s"recall@10 at nProbe=8 was $r8, floor 0.8")
  }

  test("persisted IVF index reproduces the fit-per-call results (both regimes)") {
    // buildIvfIndex + ivfTopKFromIndex must be a pure refactoring of
    // ivfTopK's plan against stored frames: same seed → same centroids →
    // identical routing, in BOTH the exhaustive and approximate regimes
    // (q92 gates only the exhaustive probe against the oracle).
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    Similarity.buildIvfIndex(emb, dir, nLists = 16)
    for (nProbe <- Seq(4, 16)) {
      val direct = Similarity.ivfTopK(emb, queries, k = 10,
          nLists = 16, nProbe = nProbe)
        .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
      val stored = Similarity.ivfTopKFromIndex(dir, queries, k = 10,
          nProbe = nProbe)
        .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
      assert(stored === direct, s"nProbe=$nProbe diverged through the index")
    }
  }

  test("appendToIvfIndex ingests a disjoint shard; combined index stays exact") {
    // The nightly-ingest path: index built on the fixture, a DERIVED
    // disjoint shard (ids + 1e6, q61's twin blend) appended with no
    // refit. The combined inverted file must (a) hold every row exactly
    // once and (b) reproduce brute-force top-k under exhaustive probing
    // over corpus + shard.
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val emb = Tables.embeddings(spark, sf0001)
    val base = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    val shard = base.filter(col("vec_id") < 50)
      .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (lit(1.0) - col("a")) * x + col("a") *
            element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
          .as("embedding"))
    Similarity.buildIvfIndex(base, dir, nLists = 8)
    Similarity.appendToIvfIndex(shard, dir)
    val combined = base.unionByName(shard)
    val stored = spark.read.parquet(
      graft.operators.MaintenanceIo.snapshot(dir)("assignments"))
    assert(stored.count() === combined.count())
    assert(stored.select("n_id").distinct().count() === combined.count())
    val queries = combined.filter(col("vec_id") % 500000 < 3)
    val exact = Similarity.bruteForceTopK(combined, queries, k = 5)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    val viaIndex = Similarity.ivfTopKFromIndex(dir, queries, k = 5, nProbe = 8)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === exact, "appended index diverged from brute force")
  }

  test("ivfRecallAtK: exhaustive probe is exactly 1.0; approximate regime holds its floor") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_recall").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.buildIvfIndex(emb, dir, nLists = 16)
    val sample = emb.filter(col("vec_id") < 20)
    assert(Similarity.ivfRecallAtK(dir, sample, k = 10, nProbe = 16) === 1.0)
    val r4 = Similarity.ivfRecallAtK(dir, sample, k = 10, nProbe = 4)
    assert(r4 >= 0.6 && r4 < 1.0,
      s"approximate-regime recall $r4 outside the expected band")
  }

  test("reclusterIvfIndex: retrains from stored vectors, swaps atomically, " +
      "append lands on the NEW centroids") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_recluster").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 10 =!= 3)
    Similarity.buildIvfIndex(base, dir, nLists = 4)
    // drift the distribution: append rotated copies, then delete a slice
    val shard = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 500000L).as("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(
          org.apache.spark.sql.functions.reverse(col("embedding")))
          .as("embedding"))
    Similarity.appendToIvfIndex(shard, dir)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 50 === 7).select("vec_id"), dir)
    val live = base.unionByName(
        shard.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")))
      .join(emb.filter(col("vec_id") % 50 === 7).select("vec_id"),
        Seq("vec_id"), "left_anti")

    Similarity.reclusterIvfIndex(spark, dir, nLists = 8)
    val m = graft.operators.MaintenanceIo.requireManifest(dir)
    assert(m.tables.contains("centroids"),
      "recluster must version the centroids through the manifest")
    assert(!m.tables.contains("tombstones"),
      "recluster's live-only rewrite must retire the tombstones")
    assert(spark.read.parquet(s"$dir/${m.tables("centroids")}").count() == 8)
    // exactness survives: exhaustive probe == brute force over live rows
    val queries = live.filter(col("vec_id") % 500000 < 3)
    val exact = Similarity.bruteForceTopK(live, queries, k = 5)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    val viaIndex = Similarity.ivfTopKFromIndex(dir, queries, k = 5,
        nProbe = 8)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === exact, "reclustered index diverged from brute force")
    // an append AFTER the recluster must assign on the NEW centroids —
    // i.e. the combined index still answers exactly at exhaustive probe
    val shard2 = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(shard2, dir)
    val live2 = live.unionByName(shard2)
    val q2 = live2.filter(col("vec_id") % 900000 < 3)
    val exact2 = Similarity.bruteForceTopK(live2, q2, k = 5)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    val via2 = Similarity.ivfTopKFromIndex(dir, q2, k = 5, nProbe = 8)
      .select("q_id", "n_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(via2 === exact2, "post-recluster append diverged")
  }

  test("lshTopK returns a subset ranking consistent with brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, k = 10, planes = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every LSH hit for rank 1..3 should be a genuine brute-force top-10 member
    val lshTop = Similarity.lshTopK(emb, queries, k = 3, planes = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(lshTop.count(brute.contains).toDouble / lshTop.length > 0.5)
  }

  test("componentIds closes transitive chains pairwise keep-first cannot") {
    import spark.implicits._
    // chain 1-2-3 (no 1~3 edge), clique {10,11}, singleton 99: the chain is
    // exactly the case where cluster-canonical differs from pair-dominated
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.componentIds(verts, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("componentIds resolves a long path in O(log diameter) rounds") {
    import spark.implicits._
    // path 0-1-2-...-40: plain min-propagation needs 40 rounds; with
    // pointer jumping the label horizon doubles per round, so the default
    // maxIter=20 only suffices if the jump step actually works
    val n = 41L
    val verts = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentIds(verts, "id", pairs)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("componentIds reliable checkpoint(dir) variant yields identical labels") {
    // The multi-executor deployment shape the scaladoc claims (round-10
    // verdict #6): same propagation, lineage truncated through reliable
    // checkpoint files instead of executor-local blocks. Run the real
    // sf0.001 documents pair graph through both variants and require
    // label-for-label equality, and require the checkpoint dir was
    // actually used (files written) so the test can't silently exercise
    // the local path twice.
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val docs = Tables.documents(spark, sf0001)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.8)
    val local = Dedup.componentIds(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    val rel = Dedup.componentIds(docs, "doc_id", pairs, reliable = true)
      .as[(Long, Long)].collect().toMap
    assert(rel == local, "reliable-checkpoint labels diverged from local")
    val written = java.nio.file.Files.walk(ckptDir).count()
    assert(written > 1, "reliable variant wrote nothing to the checkpoint dir")
  }

  test("dropNearDuplicatesReleasable frees the dup-id cache on release") {
    // a filter no other suite uses, so CacheManager can't dedupe this
    // call's dup-id plan onto a cache entry leaked by an earlier q45/q53
    // run (identical plans share one entry and no new RDD id appears)
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 431)
    // track the SPECIFIC ids this call registers — other suites' cached
    // frames (and their in-flight async unpersists) must not affect us
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (res, release) = Dedup.dropNearDuplicatesReleasable(
      docs, "doc_id", "text", threshold = 0.8)
    assert(res.count() > 0)
    def fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(fresh.nonEmpty,
      "dup-id frame should be cached while the result is live")
    release()
    // unpersist(blocking = false) completes asynchronously
    val deadline = System.currentTimeMillis + 10000
    while (fresh.nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(fresh.isEmpty, "release() must drop the cached dup-id frame")
  }

  test("crossJaccardPairs: over-budget eval side reroutes to the shuffle " +
      "band-join with identical output") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val far = (200 to 280).map(i => s"q$i").mkString(" ")
    val corpusDocs = Seq((1L, base), (3L, far), (4L, base + " end"))
      .toDF("doc_id", "text")
    val evalDocs = Seq((100L, base + " zz"),
      (101L, (500 to 560).map(i => s"e$i").mkString(" ")),
      (102L, base + " end")).toDF("doc_id", "text")
    // kill Spark's OWN size-based broadcasting (static and adaptive) so
    // the only possible broadcast is the operator's explicit hint — the
    // route choice becomes observable in the physical plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def run(df: org.apache.spark.sql.DataFrame) = {
        val rows = df.orderBy("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        (rows, df.queryExecution.sparkPlan.toString)
      }
      // tiny eval under the default budget: auto takes the broadcast plan
      val (bcRows, bcPlan) = run(Dedup.crossJaccardPairs(
        corpusDocs, evalDocs, "doc_id", "text", threshold = 0.8))
      assert(bcPlan.contains("BroadcastHashJoin"),
        s"auto under budget must broadcast the eval bands:\n$bcPlan")
      // a 1-byte budget: auto REROUTES to the shuffle band-join
      val (shRows, shPlan) = run(Dedup.crossJaccardPairs(
        corpusDocs, evalDocs, "doc_id", "text", threshold = 0.8,
        maxBroadcastEvalBytes = 1L))
      assert(!shPlan.contains("BroadcastHashJoin") &&
          !shPlan.contains("BroadcastExchange"),
        s"auto over budget must not broadcast:\n$shPlan")
      assert(shRows == bcRows,
        "the shuffle route must return byte-identical pairs")
      // explicit pins skip the estimate job and obey the caller
      val (pinRows, pinPlan) = run(Dedup.crossJaccardPairs(
        corpusDocs, evalDocs, "doc_id", "text", threshold = 0.8,
        evalPlan = "shuffle"))
      assert(!pinPlan.contains("BroadcastHashJoin") && pinRows == bcRows)
      intercept[IllegalArgumentException] {
        Dedup.crossJaccardPairs(corpusDocs, evalDocs, "doc_id", "text",
          threshold = 0.8, evalPlan = "bogus")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("crossCosineMatches: over-budget eval side refuses with a named " +
      "error; zero-norm vectors never emit NaN matches") {
    val rng = new scala.util.Random(89)
    def vec() = Seq.fill(8)(rng.nextDouble())
    val corpusRows = (1L to 20L).map(i => (i, vec())) :+
      (99L, Seq.fill(8)(0.0)) // zero-norm corpus row
    val evalRows = Seq((101L, corpusRows.head._2.map(_ * 2.0)),
      (199L, Seq.fill(8)(0.0))) // zero-norm eval row
    val c = corpusRows.toDF("vec_id", "embedding")
    val e = evalRows.toDF("vec_id", "embedding")
    // guard: the estimate exceeds a 1-byte budget -> named refusal, not
    // an opaque broadcast OOM
    val ex = intercept[IllegalArgumentException] {
      Similarity.crossCosineMatches(c, e, threshold = 0.9,
        maxBroadcastEvalBytes = 1L)
    }
    assert(ex.getMessage.contains("Swap the sides"),
      s"refusal must tell the caller the way out: ${ex.getMessage}")
    // checkEvalSize = false skips the estimate job entirely and runs
    val got = Similarity.crossCosineMatches(c, e, threshold = 0.9,
      checkEvalSize = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the scaled twin survives at cosine exactly 1; NO pair involving a
    // zero-norm vector appears (0/0 = NaN would pass >= under Spark's
    // NaN-greatest ordering if it weren't filtered)
    assert(got.exists { case (a, b, s) => a == 1L && b == 101L && s == 1.0 })
    assert(got.forall { case (a, b, s) => a != 99L && b != 199L && !s.isNaN },
      s"zero-norm vectors must be dropped, got ${got.toSeq}")
  }

  test("quantized filter-and-refine: exact at exhaustive probe, and the " +
      "prune actually bites") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("qrefine").toString
    Similarity.buildQuantizedIndex(emb, dir, nLists = 8)
    val queries = emb.filter(col("vec_id") < 8)
    for (k <- Seq(3, 5)) {
      val exact = Similarity.bruteForceTopK(emb, queries, k)
        .select("q_id", "n_id", "sim", "rn")
        .orderBy("q_id", "rn").collect().toSeq
      val refined = Similarity.quantizedRefineTopK(dir, queries, k,
          nProbe = 8)
        .select("q_id", "n_id", "sim", "rn")
        .orderBy("q_id", "rn").collect().toSeq
      assert(refined === exact, s"k=$k: refine must equal brute force")
    }
    val (cand, surv) = Similarity.quantizedPruneStats(dir, queries, 5,
      nProbe = 8)
    assert(cand === 8L * 499L, s"exhaustive probe scores all pairs: $cand")
    assert(surv < cand / 2,
      s"the int8 filter must prune most candidates: $surv of $cand")
    info(f"prune: $surv of $cand candidates survive " +
      f"(${100.0 * surv / cand}%.1f%% -> exact re-rank)")
  }

  test("persisted LSH band index: probe equals crossJaccardPairs exactly") {
    // The q110 contract: identical sketch geometry => identical candidate
    // set => identical verified pairs (ids AND exact jaccard values), in
    // the q89 shard regime over the real fixture.
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val shard = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" zzingest")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
    Dedup.writeLshBandIndex(corpus, "doc_id", "text", dir)
    val direct = Dedup.crossJaccardPairs(corpus, shard, "doc_id", "text",
        threshold = 0.8, evalPlan = "broadcast")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val viaIndex = Dedup.lshIndexProbe(corpus, shard, dir,
        "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(direct.nonEmpty, "fixture regime must produce near-dup pairs")
    assert(viaIndex === direct, "stored-index probe diverged from the " +
      "fresh-sketch path")
  }

  test("appendToLshBandIndex: appended docs become probe-visible, no refit") {
    // Nightly cadence: index built on half the corpus, the other half
    // appended (geometry read from the stored meta). A probe against the
    // combined index must equal crossJaccardPairs over the full corpus.
    val dir = java.nio.file.Files.createTempDirectory("lsh_append").toString
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val half1 = corpus.filter(col("doc_id") % 2 === 0)
    val half2 = corpus.filter(col("doc_id") % 2 =!= 0)
    val shard = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" zzingest")).as("text"))
    Dedup.writeLshBandIndex(half1, "doc_id", "text", dir)
    val before = Dedup.lshIndexProbe(corpus, shard, dir,
        "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    Dedup.appendToLshBandIndex(half2, "doc_id", "text", dir)
    val after = Dedup.lshIndexProbe(corpus, shard, dir,
        "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.crossJaccardPairs(corpus, shard, "doc_id", "text",
        threshold = 0.8, evalPlan = "broadcast")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(after === full, "combined index diverged from the full corpus")
    // the pre-append probe must be exactly the half1 subset: append added
    // pairs, never mutated existing ones
    assert(before === full.filter(_._1 % 2 == 0),
      "pre-append probe should cover exactly the indexed half")
    assert(before.size < after.size, "append must surface new pairs")
  }

  test("LSH band index meta pins NFC geometry across build and probe") {
    // Index built with normalize=true on COMPOSED text; the probe reads
    // the flag from meta, so a DECOMPOSED shard twin must match with
    // jaccard exactly 1 — and a normalize=false index must miss it.
    val base = (1 to 60).map(i => s"vál$i").mkString(" ")
    val decomposed = base.replace("á", "á")
    val corpus = Seq((1L, base),
      (3L, (1 to 60).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val shard = Seq((100L, decomposed)).toDF("doc_id", "text")
    val dirNfc = java.nio.file.Files.createTempDirectory("lsh_nfc").toString
    Dedup.writeLshBandIndex(corpus, "doc_id", "text", dirNfc,
      normalize = true)
    val hit = Dedup.lshIndexProbe(corpus, shard, dirNfc, "doc_id", "text",
      threshold = 0.8).collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 1L &&
      hit.head.getDouble(2) == 1.0)
    val dirRaw = java.nio.file.Files.createTempDirectory("lsh_raw").toString
    Dedup.writeLshBandIndex(corpus, "doc_id", "text", dirRaw)
    assert(Dedup.lshIndexProbe(corpus, shard, dirRaw, "doc_id", "text",
      threshold = 0.8).isEmpty, "un-normalized index must miss the twin")
  }

  test("IVF maintenance: tombstoned deletes, compaction identity, " +
      "re-append after compact") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("ivf_maint").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 3), idx,
      nLists = 8)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 === 3), idx)
    val queries = emb.filter(col("vec_id") < 5)
    def res() = Similarity.ivfTopKFromIndex(idx, queries, k = 5, nProbe = 8)
      .orderBy("q_id", "rn").collect().toSeq
    val full = res()
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    val pre = res()
    assert(pre != full, "deletes must change some neighbor list")
    assert(pre.forall(_.getAs[Long]("n_id") % 7 != 2),
      "a tombstoned row surfaced as a neighbor")
    // pending tombstones subtract through a broadcast anti join whose
    // condition epoch-shadows dead rows; compaction retires it entirely
    val prePlan = Similarity.ivfTopKFromIndex(idx, queries, 5, 8)
      .queryExecution.executedPlan.toString
    assert(prePlan.split("\n").exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "pending tombstones must subtract via a broadcast anti join")
    Similarity.compactIvfIndex(spark, idx)
    assert(graft.operators.MaintenanceIo.snapshot(idx)
      .get("tombstones").isEmpty,
      "compaction must retire the tombstone table from the manifest")
    assert(res() == pre, "compaction changed the query result")
    val postPlan = Similarity.ivfTopKFromIndex(idx, queries, 5, 8)
      .queryExecution.executedPlan.toString
    assert(!postPlan.contains("LeftAnti"),
      "post-compact probe must carry no tombstone join")
    assert(spark.read.parquet(
        graft.operators.MaintenanceIo.snapshot(idx)("assignments"))
      .filter(col("n_id") % 7 === 2).isEmpty,
      "compaction left tombstoned rows in the stored files")
    // re-append AFTER compaction restores the rows
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    assert(res() == full,
      "re-append after compact must restore the full-corpus ranking")
  }

  test("IVF epoch tombstones: re-append a deleted id WITHOUT compacting " +
      "(takedown-then-recrawl, r12 verdict #5)") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("ivf_epoch").toString
    Similarity.buildIvfIndex(emb, idx, nLists = 8)
    val queries = emb.filter(col("vec_id") < 5)
    def res() = Similarity.ivfTopKFromIndex(idx, queries, k = 5, nProbe = 8)
      .orderBy("q_id", "rn").collect().toSeq
    val full = res()
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    assert(res() != full, "delete must bite before the re-append")
    // the re-crawl: the SAME ids come back while the tombstones are
    // still pending — the new rows' epoch outranks the tombstones', so
    // they are live immediately, and the old shadowed generation of the
    // same ids must NOT resurface as duplicates
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    assert(res() == full,
      "re-append before compaction must restore the full-corpus ranking")
    // and compaction afterwards keeps exactly the live generation
    Similarity.compactIvfIndex(spark, idx)
    assert(res() == full, "compaction changed the re-appended result")
    val stored = spark.read.parquet(
      graft.operators.MaintenanceIo.snapshot(idx)("assignments"))
    assert(stored.groupBy("n_id").count().filter(col("count") > 1).isEmpty,
      "compaction left multiple generations of a re-appended id")
  }

  test("quantized index honors tombstones and compaction too") {
    // the quantized refine index shares the assignment layout, so the
    // same delete/compact lifecycle must hold — and at exhaustive probe
    // the result must equal brute force over the LIVE corpus exactly
    // (the filter-refine bound argument is unaffected by deletions)
    val emb = Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("pq_maint").toString
    Similarity.buildQuantizedIndex(emb, idx, nLists = 8)
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    val queries = emb.filter(col("vec_id") < 5)
    def res() = Similarity.quantizedRefineTopK(idx, queries, k = 5,
        nProbe = 8)
      .orderBy("q_id", "rn").collect().toSeq
    val pre = res()
    assert(pre.forall(_.getAs[Long]("n_id") % 7 != 2),
      "a tombstoned row surfaced from the quantized filter pass")
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 7 =!= 2), queries, k = 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(pre == exact,
      "quantized search over the live corpus must equal brute force")
    Similarity.compactIvfIndex(spark, idx)
    assert(res() == pre, "compaction changed the quantized result")
  }

  test("quantized index APPEND: stored ranges/centroids reused, " +
      "bound-breaking rows flagged, result still equals brute force") {
    // pin dimension 0 to a constant so the fitted range is DEGENERATE
    // there (Δ=0): an appended vector that moves on that dim is exactly
    // the case where the code-level bound is a lie — it must be flagged
    // oob, skip the prune, and the refine must still equal brute force
    val embRaw = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
          .as("embedding"))
    val pin = (d: org.apache.spark.sql.Column) =>
      transform(d, (x, i) => when(i === 0, lit(0.5)).otherwise(x))
    val base = embRaw.filter(col("vec_id") % 10 =!= 3)
      .select(col("vec_id"), pin(col("embedding")).as("embedding"))
    // shard A: in-distribution rows (dim 0 at the pinned constant);
    // shard B: rows that MOVE on the degenerate dim AND scale 1.5x past
    // the fitted per-dim ranges (out-of-range on normal dims is fine —
    // unclamped codes — but dim 0 forces the oob path)
    val shardA = embRaw.filter(col("vec_id") % 10 === 3 &&
        col("vec_id") % 20 === 3)
      .select(col("vec_id"), pin(col("embedding")).as("embedding"))
    val shardB = embRaw.filter(col("vec_id") % 20 === 13)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(0.9)).otherwise(x * 1.5)).as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("pq_append").toString
    Similarity.buildQuantizedIndex(base, idx, nLists = 8)
    Similarity.appendToQuantizedIndex(shardA, idx)
    Similarity.appendToQuantizedIndex(shardB, idx)
    val stored = spark.read.parquet(
      graft.operators.MaintenanceIo.snapshot(idx)("assignments"))
    val oobIds = stored.filter(col("oob")).select("n_id").distinct()
    assert(oobIds.join(shardB.select(col("vec_id").as("n_id")),
        Seq("n_id"), "left_semi").count() == shardB.count(),
      "every degenerate-dim mover must be flagged oob")
    // round 19 (byte-packed codes): shardA rows may ALSO legitimately
    // flag — an appended value past the fitted per-dim range takes a
    // code outside [-128,127], which the binary storage form clamps, so
    // the widened flag routes it to the exact re-rank. Build-time rows
    // are in range by construction and must never flag.
    assert(oobIds.join(base.select(col("vec_id").as("n_id")),
        Seq("n_id"), "left_semi").isEmpty,
      "no build-time row may be flagged oob")
    val combined = base.unionByName(shardA).unionByName(shardB)
    val queries = combined.filter(col("vec_id") < 5 ||
      col("vec_id") % 20 === 13 && col("vec_id") < 200)
    val got = Similarity.quantizedRefineTopK(idx, queries, k = 5,
        nProbe = 8)
      .orderBy("q_id", "rn").collect().toSeq
    val exact = Similarity.bruteForceTopK(combined, queries, k = 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(got == exact,
      "quantized search after appends must equal brute force")
    // and a plain-IVF append into a quantized index is refused loudly
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(shardA, idx)
    }
    assert(e.getMessage.contains("appendToQuantizedIndex"))
  }

  test("LSH band-index maintenance: tombstones prune candidates, " +
      "compaction folds them in") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val live = corpus.filter(pmod(col("doc_id"), lit(20)) =!= 5)
    val ldx = java.nio.file.Files.createTempDirectory("lsh_maint").toString
    Dedup.writeLshBandIndex(corpus, "doc_id", "text", ldx)
    Dedup.deleteFromLshBandIndex(
      corpus.filter(pmod(col("doc_id"), lit(20)) === 5), "doc_id", ldx)
    val shard = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" zzingest")).as("text"))
    def probe() = Dedup.lshIndexProbe(live, shard, ldx, "doc_id", "text",
        threshold = 0.8)
      .orderBy("id_a", "id_b").collect().toSeq
    val pre = probe()
    assert(pre.nonEmpty, "kept docs' twins must still match")
    assert(pre.forall(_.getAs[Long]("id_a") % 20 != 5),
      "a tombstoned doc produced a candidate pair")
    Dedup.compactLshBandIndex(spark, ldx)
    assert(graft.operators.MaintenanceIo.snapshot(ldx)
      .get("tombstones").isEmpty)
    assert(probe() == pre, "compaction changed the probe result")
    assert(spark.read.parquet(
        graft.operators.MaintenanceIo.snapshot(ldx)("bands"))
      .filter(pmod(col("id"), lit(20)) === 5).isEmpty,
      "compaction left tombstoned band rows")
    // deleting ids the index never held is harmless
    Dedup.deleteFromLshBandIndex(Seq(999999999L).toDF("doc_id"),
      "doc_id", ldx)
    assert(probe() == pre)
  }

  test("LSH epoch tombstones: re-append a deleted doc WITHOUT compacting") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val ldx = java.nio.file.Files.createTempDirectory("lsh_epoch").toString
    Dedup.writeLshBandIndex(corpus, "doc_id", "text", ldx)
    val victims = corpus.filter(pmod(col("doc_id"), lit(20)) === 5)
    // shard re-crawls near-twins of the victims: pairs exist only while
    // the victims' band rows are live
    val shard = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" zzingest")).as("text"))
    def probe() = Dedup.lshIndexProbe(corpus, shard, ldx, "doc_id", "text",
        threshold = 0.8)
      .orderBy("id_a", "id_b").collect().toSeq
    val full = probe()
    assert(full.exists(_.getAs[Long]("id_a") % 20 == 5))
    Dedup.deleteFromLshBandIndex(victims, "doc_id", ldx)
    assert(probe().forall(_.getAs[Long]("id_a") % 20 != 5),
      "delete must bite before the re-append")
    Dedup.appendToLshBandIndex(victims, "doc_id", "text", ldx)
    assert(probe() == full,
      "re-append before compaction must restore the victims' pairs")
    Dedup.compactLshBandIndex(spark, ldx)
    assert(probe() == full, "compaction changed the re-appended result")
  }

  test("kNN-graph maintenance: build-on-base + two delta appends == the " +
      "from-scratch graph, row for row; contracts enforced") {
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    val base = emb.filter(col("vec_id") % 5 > 1)
    val shard1 = emb.filter(col("vec_id") % 5 === 0)
    val shard2 = emb.filter(col("vec_id") % 5 === 1)
    val p = java.nio.file.Files.createTempDirectory("knng_incr").toString
    Similarity.buildIvfIndex(base, p, nLists = 4)
    intercept[IllegalArgumentException] {
      // graph append before a graph build must fail loudly
      Similarity.appendToKnnGraph(shard1, p, k = 3, nProbe = 4)
    }
    Similarity.buildKnnGraph(spark, p, k = 3, nProbe = 4)
    Similarity.appendToKnnGraph(shard1, p, k = 3, nProbe = 4)
    Similarity.appendToKnnGraph(shard2, p, k = 3, nProbe = 4)
    val maintained = Similarity.knnGraphFromIndex(spark, p)
      .orderBy("q_id", "rn").collect().toSeq
    val p2 = java.nio.file.Files.createTempDirectory("knng_full").toString
    Similarity.buildIvfIndex(emb, p2, nLists = 4)
    Similarity.buildKnnGraph(spark, p2, k = 3, nProbe = 4)
    val scratch = Similarity.knnGraphFromIndex(spark, p2)
      .orderBy("q_id", "rn").collect().toSeq
    // exhaustive probe (nProbe == nLists) → both graphs are exact
    // brute-force top-3, so the delta merge must match BIT FOR BIT
    // (same 6-dp sims, same tie order) regardless of cell assignment
    assert(maintained == scratch,
      "delta-maintained kNN graph diverged from the from-scratch graph")
    // stale-graph guards (round-17 advice): a graph-bearing index must
    // refuse the PLAIN mutations — a bare tombstone would leave graph
    // rows referencing dead vectors, a bare append would leave the graph
    // missing the shard — and point to the graph-aware variants
    intercept[IllegalArgumentException] {
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") === 2).select("vec_id"), p)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(shard1, p)
    }
    // append-only contract: a tombstoned index must refuse graph appends
    // (tombstones arrive through the sanctioned deleteFromKnnGraph and
    // stay pending until compaction)
    Similarity.deleteFromKnnGraph(
      emb.filter(col("vec_id") === 2).select("vec_id"), p, k = 3,
      nProbe = 4)
    intercept[IllegalArgumentException] {
      Similarity.appendToKnnGraph(shard1, p, k = 3, nProbe = 4)
    }
    // ... and compaction retires them with the graph CONSISTENT (the
    // dead id was repaired out at delete time), after which the append
    // path reopens for a FRESH shard — the full sanctioned lifecycle is
    // proved decision-for-decision by the closure-law test below
    Similarity.compactIvfIndex(spark, p)
    Similarity.appendToKnnGraph(
      shard1.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding")), p, k = 3, nProbe = 4)
  }

  test("kNN-graph lifecycle closure law: delete -> compact -> append == " +
      "the from-scratch rebuild, decision for decision") {
    // The sanctioned mutation sequence end-to-end (round-17 verdict #4):
    // takedown through deleteFromKnnGraph (tombstones pending + targeted
    // graph repair), compactIvfIndex (retires tombstones; the stale-graph
    // check passes because the repair already ran), then appendToKnnGraph
    // (reopened by the compaction). At exhaustive geometry the maintained
    // graph — and therefore every semantic-dedup decision — must equal a
    // from-scratch build over exactly (corpus \ victims) ∪ shard.
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    val baseAll = emb.filter(col("vec_id") < 400)
    val victims = baseAll.filter(col("vec_id") % 9 === 4).select("vec_id")
    val shard = emb.filter(col("vec_id") >= 400)
    val p = java.nio.file.Files.createTempDirectory("knng_law").toString
    Similarity.buildIvfIndex(baseAll, p, nLists = 4)
    Similarity.buildKnnGraph(spark, p, k = 3, nProbe = 4)
    Similarity.deleteFromKnnGraph(victims, p, k = 3, nProbe = 4)
    Similarity.compactIvfIndex(spark, p)
    Similarity.appendToKnnGraph(shard, p, k = 3, nProbe = 4)
    val live = baseAll.filter(col("vec_id") % 9 =!= 4).unionByName(shard)
    val maintained = Dedup.semanticDedupDecisions(live, "vec_id",
        "embedding", Similarity.knnGraphFromIndex(spark, p),
        threshold = 0.5)
      .orderBy("vec_id").collect().toSeq
    val p2 = java.nio.file.Files.createTempDirectory("knng_law2").toString
    Similarity.buildIvfIndex(live, p2, nLists = 4)
    Similarity.buildKnnGraph(spark, p2, k = 3, nProbe = 4)
    val scratch = Dedup.semanticDedupDecisions(live, "vec_id", "embedding",
        Similarity.knnGraphFromIndex(spark, p2), threshold = 0.5)
      .orderBy("vec_id").collect().toSeq
    assert(maintained == scratch,
      "delete->compact->append decisions diverged from the from-scratch " +
        "rebuild")
    // and the graphs themselves agree bit for bit at exhaustive probe
    assert(Similarity.knnGraphFromIndex(spark, p)
        .orderBy("q_id", "rn").collect().toSeq ==
      Similarity.knnGraphFromIndex(spark, p2)
        .orderBy("q_id", "rn").collect().toSeq,
      "maintained graph diverged from the from-scratch graph")
  }

  test("kNN-graph delete: targeted repair == the from-scratch graph on " +
      "the remaining corpus, row for row") {
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    val p = java.nio.file.Files.createTempDirectory("knng_del").toString
    graft.operators.Similarity.buildIvfIndex(emb, p, nLists = 4)
    graft.operators.Similarity.buildKnnGraph(spark, p, k = 3, nProbe = 4)
    val victims = emb.filter(col("vec_id") % 7 === 2).select("vec_id")
    graft.operators.Similarity.deleteFromKnnGraph(victims, p,
      k = 3, nProbe = 4)
    val maintained = graft.operators.Similarity
      .knnGraphFromIndex(spark, p)
      .orderBy("q_id", "rn").collect().toSeq
    val p2 = java.nio.file.Files.createTempDirectory("knng_del2").toString
    graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 7 =!= 2), p2, nLists = 4)
    graft.operators.Similarity.buildKnnGraph(spark, p2, k = 3, nProbe = 4)
    val scratch = graft.operators.Similarity
      .knnGraphFromIndex(spark, p2)
      .orderBy("q_id", "rn").collect().toSeq
    assert(maintained == scratch,
      "post-delete repaired kNN graph diverged from the from-scratch " +
        "graph over the remaining corpus")
    // deleting an id the index never held is harmless
    graft.operators.Similarity.deleteFromKnnGraph(
      Seq(999999999L).toDF("vec_id"), p, k = 3, nProbe = 4)
    assert(graft.operators.Similarity.knnGraphFromIndex(spark, p)
      .orderBy("q_id", "rn").collect().toSeq == scratch)
  }

  test("q170 applied semantic dedup: exact twins are dropped, each " +
      "component keeps exactly one representative") {
    // The hash gate freezes every decision against the DuckDB replay;
    // this pins the hand-checkable invariants the decision table must
    // satisfy regardless of fixture: (1) one 'kept' row per component and
    // it names itself; (2) every alpha=0 synthetic twin (vec_id%8==0 —
    // bit-identical to its base, cosine exactly 1) shares its base's
    // component and is dropped in favor of a keeper with equal norm and
    // smaller id (the base, unless a larger cluster absorbed both).
    val rows = SparkEntry.queries("q170_semantic_dedup_apply")(
      spark, "/root/testdata/sf0.01").collect()
    val byComp = rows.groupBy(_.getAs[Long]("component"))
    byComp.foreach { case (c, rs) =>
      val kept = rs.filter(_.getAs[String]("action") == "kept")
      assert(kept.length == 1, s"component $c kept ${kept.length} rows")
      assert(kept.head.getAs[Long]("vec_id") ==
        kept.head.getAs[Long]("keep_id"),
        s"component $c keeper must name itself")
      assert(rs.forall(_.getAs[Long]("keep_id") ==
        kept.head.getAs[Long]("vec_id")),
        s"component $c rows disagree on the keeper")
      assert(rs.forall(_.getAs[Long]("csize") == rs.length),
        s"component $c csize mismatch")
    }
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val exactTwins = rows.map(_.getAs[Long]("vec_id"))
      .filter(id => id < 50 && id % 8 == 0)
    assert(exactTwins.nonEmpty)
    exactTwins.foreach { base =>
      val twin = byId(base + 1000000L)
      assert(twin.getAs[Long]("component") ==
        byId(base).getAs[Long]("component"),
        s"exact twin of $base not in the base's component")
      assert(twin.getAs[String]("action") == "dropped",
        s"exact twin of $base must be dropped")
      assert(twin.getAs[Long]("keep_id") < twin.getAs[Long]("vec_id"),
        s"exact twin of $base kept over a smaller-id equal-norm copy")
    }
  }
}
