package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFunctions

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-building step of an LLM data pipeline (Sennrich et al. 2016;
  * the reference has no tokenizer layer — north-star addition).
  *
  * Scale design: training never iterates over the corpus. The ONE
  * corpus-scale pass builds the word-frequency table ([[wordFreq]]: a
  * single hash-shuffled groupBy, vocab-sized output — at 100 TB the
  * distinct-word table is ~1e8 rows vs ~1e13 corpus tokens, a 1e5×
  * reduction); every merge round then runs on that compact table: one
  * vocab-bounded pair-count aggregate, a 1-row driver argmax
  * (driver-sized by construction — the same boundary-scalar pattern as
  * q82's Misra-Gries pass), and one narrow in-row merge application.
  * `localCheckpoint` after each round truncates the per-iteration lineage
  * so round N's plan never re-derives rounds 1..N-1 — the same bounded-
  * iteration discipline as [[Dedup.componentIds]]'s pointer-jumping.
  *
  * The merge sequence is a pure function of the corpus: pair counts are
  * exact (no sampling), and ties break (count desc, left asc, right asc)
  * — bytewise string order, identical in any engine — so the learned
  * vocabulary is reproducible run-to-run and engine-to-engine. The q95
  * DuckDB oracle replays the identical 10 rounds in SQL.
  */
object Bpe {

  /** End-of-word marker appended to each word's symbol sequence, so a
    * word-final symbol is distinct from the same bytes word-internally
    * (the standard BPE boundary treatment).
    */
  val EndOfWord = "</w>"

  /** Word-frequency table (word, cnt) — the only corpus-scale pass. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbol sequence: the word's characters plus [[EndOfWord]]. */
  private def initialSyms(word: Column): Column =
    concat(filter(split(word, ""), c => c =!= ""), array(lit(EndOfWord)))

  /** Adjacent symbol pairs as "a b" keys (symbols never contain spaces —
    * they derive from whitespace-split tokens), weighted downstream by the
    * word count. Empty for fully-merged single-symbol words.
    */
  private def pairKeys(syms: Column): Column =
    when(size(syms) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1), i =>
        concat_ws(" ", element_at(syms, i), element_at(syms, i + 1))))

  /** Apply one merge: replace adjacent (a, b) with a+b, leftmost
    * non-overlapping — a single in-row left fold (codegen'd higher-order
    * aggregate, no shuffle). A merged symbol never re-participates as the
    * LEFT of another application in the same round (its value can't equal
    * `a` — `b` is non-empty), so the fold is exactly BPE's scan-and-
    * replace; BpeSpec pins the [a,a,a] and [a,b,a,b] shapes.
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(get(acc, size(acc) - 1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  final case class Merge(rank: Int, lhs: String, rhs: String,
                         pairCount: Long)

  /** The pair-count aggregate one training round runs — factored out so
    * Explain --audit can scan the construction-time plan shape all rounds
    * share (SparkEntry.auditPlans `q95_bpe_merges#pairs`).
    */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("cnt"), explode(pairKeys(col("syms"))).as("pr"))
      .groupBy(split(col("pr"), " ", 2).getItem(0).as("a"),
        split(col("pr"), " ", 2).getItem(1).as("b"))
      .agg(sum("cnt").as("w"))

  /** The symbolized vocab table a training run starts from. */
  def initialVocab(words: DataFrame): DataFrame =
    words.select(col("word"), col("cnt"),
      initialSyms(col("word")).as("syms"))

  /** Learn `nMerges` merges over a (word, cnt) table. Each round: one
    * vocab-bounded aggregate, one 1-row collect (the argmax — a boundary
    * scalar, driver-sized by construction), one narrow merge application,
    * one lineage-truncating localCheckpoint.
    */
  def trainMerges(words: DataFrame, nMerges: Int): Seq[Merge] = {
    var cur = initialVocab(words).localCheckpoint()
    val out = Seq.newBuilder[Merge]
    try {
      for (k <- 1 to nMerges) {
        val best = pairCounts(cur)
          .orderBy(col("w").desc, col("a"), col("b")).limit(1).collect()
        require(best.nonEmpty, s"BPE round $k: no pairs left to merge")
        val (a, b, w) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += Merge(k, a, b, w)
        val next = cur
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint()
        cur.unpersist()
        cur = next
      }
    } finally cur.unpersist()
    out.result()
  }

  /** Train AND persist: the final symbolized vocab table (word, cnt,
    * syms) written as parquet — the tokenizer artifact a 100 TB pipeline
    * builds once and amortizes over every encode pass (the q92 IVF
    * build-once/query-many shape applied to tokenization). Returns the
    * learned merges.
    */
  def trainAndWriteVocab(words: DataFrame, nMerges: Int,
                         path: String): Seq[Merge] = {
    val merges = trainMerges(words, nMerges)
    val syms = merges.foldLeft(initialVocab(words)) { (df, m) =>
      df.withColumn("syms", applyMerge(col("syms"), m.lhs, m.rhs))
    }
    MaintenanceIo.write(syms, path, "overwrite")
    merges
  }

  /** Encode a corpus against a STORED vocab: per-doc whitespace-token and
    * BPE-token counts. Scale shape: the vocab table is vocab-sized
    * (BROADCAST; at 1e8-word vocabs, a shuffle join on the word key —
    * same guarded trade-off as Dedup's eval sides), the corpus token
    * stream joins map-side and folds to one per-doc agg — encoding never
    * pays the training passes. Out-of-vocab words (an unseen shard) fall
    * back to character symbols: len(word)+1 with the end-of-word marker —
    * the exact cost BPE assigns an all-OOV word before any merge applies.
    */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
                   vocabPath: String): DataFrame = {
    val spark = docs.sparkSession
    val vocab = Tables.parquet(spark, vocabPath)
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ws"),
        sum(coalesce(col("n_syms"), length(col("word")) + 1).cast("long"))
          .as("n_bpe"))
  }

  private val mergesSchema = StructType(Seq(
    StructField("merge_rank", LongType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false)))

  /** The learned merge table as a DataFrame (rank-ordered). */
  def mergesDf(s: SparkSession, merges: Seq[Merge]): DataFrame = {
    val rows = merges.sortBy(_.rank).map(m =>
      Row(m.rank.toLong, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount))
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1), mergesSchema)
      .orderBy("merge_rank")
  }
}
