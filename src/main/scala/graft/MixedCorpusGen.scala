package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Produces a fixture variant whose `documents` table is NOT pure ASCII —
  * the round-6 verdict's top ask: the engine's text kernels hash UTF-8
  * BYTES (`getBytes`), and until round 7 the DuckDB oracles folded per
  * CHARACTER, so the byte-path semantics were only ever exercised on the
  * all-ASCII fixture corpus. This generator plants CJK / accented-Latin /
  * Greek / Cyrillic / emoji documents — including high-similarity
  * near-duplicate PAIRS and one exact-duplicate pair, so the dedup
  * operators emit pairs whose hashes cover 1-, 2-, 3- and 4-byte UTF-8
  * sequences — and the octet-folding oracles (SparkEntry.utf8OctetsSql)
  * must reproduce every hash byte-for-byte.
  *
  * Every other table is copied BYTE-EXACT (file copy, no Spark round-trip,
  * so e.g. events.ts keeps its TIMESTAMP(NANOS) physical type and the
  * timestamp-typed oracles still apply). Planted doc_ids start at 9001 —
  * disjoint from every base fixture range.
  *
  * Near-dup pairs are planted at Jaccard ≥ 0.8, where the 32×4 banding
  * miss bound is structural (≈4e-8, see Dedup.jaccardPairs) — a planted
  * pair can never be a banding-recall coin flip.
  *
  * Usage: runMain graft.MixedCorpusGen <inSfDir> <outDir>
  */
object MixedCorpusGen {

  /** (doc_id, text, lang, source). Tokens are whitespace-separated like
    * the base corpus; texts are ≥ 3 tokens (shingles exist) and ≥ 20
    * bytes (winnowing grams exist).
    */
  private val planted: Seq[(Long, String, String, String)] = {
    // CJK near-dup pair: 24 tokens, one token differs → 22 shingles, 21 shared
    val zhA = "数据 表格 查询 聚合 排序 分区 哈希 连接 批次 流式 窗口 合并 " +
      "数据 查询 分区 排序 去重 指纹 采样 分桶 洗牌 打包 训练 语料"
    val zhB = "数据 表格 查询 聚合 排序 分区 哈希 连接 批次 流式 窗口 合并 " +
      "数据 查询 分区 排序 去重 指纹 采样 分桶 洗牌 打包 训练 模型"
    // exact-duplicate pair mixing CJK + emoji (4-byte sequences)
    val dup = "模型 训练 数据 😀 清洗 去重 过滤 评分 模型 训练 数据 😀 " +
      "清洗 去重 过滤 评分 语言 识别 质量 打分"
    // accented-Latin near-dup pair (2-byte sequences)
    val frA = "café naïve déjà réservé garçon œuvre crème brûlée éclair " +
      "château fenêtre hôtel forêt île côté père mère frère sœur cœur"
    val frB = "café naïve déjà réservé garçon œuvre crème brûlée éclair " +
      "château fenêtre hôtel forêt île côté père mère frère sœur noël"
    // emoji-heavy near-dup pair (pure 4-byte payload)
    val emA = "🚀 🔥 ⚡ 🌊 🎯 🧪 🛰️ 🧵 🗂️ 📦 🧮 🛠️ 🚀 🔥 ⚡ 🌊 🎯 🧪 rocket fire"
    val emB = "🚀 🔥 ⚡ 🌊 🎯 🧪 🛰️ 🧵 🗂️ 📦 🧮 🛠️ 🚀 🔥 ⚡ 🌊 🎯 🧪 rocket water"
    Seq(
      (9001L, zhA, "zh", "src_cjk"),
      (9002L, zhB, "zh", "src_cjk"),
      (9003L, dup, "zh", "src_cjk"),
      (9004L, dup, "zh", "src_cjk"),
      (9005L, frA, "fr", "src_acc"),
      (9006L, frB, "fr", "src_acc"),
      (9007L, "αλφα βητα γαμμα δελτα εψιλον ζητα ητα θητα ιωτα καππα " +
        "λαμδα μυ νυ ξι ομικρον πι ρω σιγμα ταυ υψιλον", "el", "src_grc"),
      (9008L, "данные таблица запрос агрегат сортировка раздел хеш " +
        "соединение пакет поток окно слияние обучение корпус", "ru", "src_cyr"),
      (9009L, emA, "und", "src_emoji"),
      (9010L, emB, "und", "src_emoji"),
      (9011L, "mixed ascii with 中文 words and émoji 😀 plus ελληνικά and " +
        "кириллица tokens interleaved across the scripts of the corpus",
        "en", "src_mixed"),
      (9012L, "ü ö ä ß straße größe", "de", "src_acc"))
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Files.createDirectories(Paths.get(outDir))
    // byte-exact copies preserve physical parquet types (events.ts NANOS).
    // Files.copy on a DIRECTORY-shaped table (the ScaleUpGen layout: part
    // files under <table>.parquet/) would copy only the empty directory
    // entry and silently produce empty tables — fail fast instead: this
    // generator is defined over the single-file driver fixtures.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings").foreach { t =>
      val srcPath = Paths.get(s"$inDir/$t.parquet")
      require(!Files.isDirectory(srcPath),
        s"$srcPath is a directory-shaped parquet table; MixedCorpusGen " +
        "requires the single-file driver fixtures (e.g. /root/testdata/sf*)")
      Files.copy(srcPath,
        Paths.get(s"$outDir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }

    import spark.implicits._
    val extra = planted.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.parquet(spark, s"$inDir/documents.parquet")
      .unionByName(extra)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val n = Tables.parquet(spark, s"$outDir/documents.parquet").count()
    val nonAscii = Tables.parquet(spark, s"$outDir/documents.parquet")
      .filter(length(col("text")) =!= octet_length(col("text"))).count()
    println(s"[mixed-corpus] $n documents, $nonAscii non-ASCII, at $outDir")
    spark.stop()
  }
}
