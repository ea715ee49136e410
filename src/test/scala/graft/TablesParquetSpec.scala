package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, InvertedIndex, SimGraphIndex, Similarity, Sketches}

/** `Tables.parquet` takes its schema from one driver-side footer read
  * instead of Spark's schema job. `spark.read.parquet` stays the
  * reference: every read below must give the same schema and the same
  * rows, and a read Spark refuses must fail with the same exception class.
  */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def assertSameRead(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*)
    val (got, jobs) = jobsDuring(Tables.parquet(spark, paths: _*))
    val where = paths.mkString(", ")
    assert(jobs === 0, s"Tables.parquet ran a schema job at $where")
    assert(got.schema === want.schema, s"schema differs at $where")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"rows differ at $where")
  }

  /** Every table directory an index root holds after its maintenance ran. */
  private def generations(root: String): Seq[String] =
    new File(root).listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getPath).sorted

  private def assertSameGenerations(root: String): Unit = {
    val gens = generations(root)
    assert(gens.nonEmpty, s"$root holds no generation")
    gens.foreach(assertSameRead(_))
  }

  /** Writes `df` as the single parquet file `target`. */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val tmp = freshDir("one_file")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(target).getParent)
    Files.move(part.toPath, Paths.get(target))
  }

  test("every sf0.001 fixture table reads the same schema and rows") {
    Tables.names.foreach(n => assertSameRead(s"$sf0001/$n.parquet"))
  }

  test("the nanos-long events file reads the same under the session conf") {
    assertSameRead(s"${EventsLoaderSpec.nanosEventsDir(spark)}/events.parquet")
  }

  test("IVF generations after build -> delete -> append read the same") {
    val dir = freshDir("tp_ivf")
    val base = Tables.embeddings(spark, sf0001).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    Similarity.buildIvfIndex(base.filter(col("vec_id") >= 50), dir,
      nLists = 8)
    Similarity.deleteFromIvfIndex(
      base.filter(col("vec_id") % 7 === 0).select("vec_id"), dir)
    Similarity.appendToIvfIndex(base.filter(col("vec_id") < 50), dir)
    val gens = generations(dir)
    assert(gens.exists(_.contains("tombstones")))
    assert(Tables.parquet(spark,
      operators.MaintenanceIo.snapshot(dir)("assignments"))
      .columns.contains("cell"), "partition column lost")
    assertSameGenerations(dir)
  }

  test("LSH band index generations after build -> delete -> append read the same") {
    val dir = freshDir("tp_lsh")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    Dedup.writeLshBandIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    Dedup.deleteFromLshBandIndex(
      docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", dir)
    Dedup.appendToLshBandIndex(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", dir)
    assert(Seq("bands", "meta", "tombstones")
      .forall(t => generations(dir).exists(_.contains(t))))
    assertSameGenerations(dir)
  }

  test("InvertedIndex generations after build -> delete -> append read the same") {
    val dir = freshDir("tp_inv")
    val docs = Tables.documents(spark, sf0001)
    InvertedIndex.buildIndex(docs.filter(col("doc_id") % 4 =!= 1), dir)
    InvertedIndex.deleteFromIndex(
      docs.filter(col("doc_id") % 8 === 0).select("doc_id"), dir)
    InvertedIndex.appendToIndex(docs.filter(col("doc_id") % 4 === 1), dir)
    assertSameGenerations(dir)
  }

  test("SimGraphIndex generations after build -> delete -> append read the same") {
    val dir = freshDir("tp_simgraph")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    SimGraphIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
      "text", dir, threshold = 0.6)
    SimGraphIndex.delete(
      docs.filter(col("doc_id") % 9 === 1).select("doc_id"), "doc_id", dir)
    SimGraphIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id",
      "text", dir)
    assertSameGenerations(dir)
  }

  test("HLL registers and meta after build -> append read the same") {
    val dir = freshDir("tp_hll")
    val keys = spark.range(4000L).select(
      concat(lit("k"), col("id")).as("k"), (col("id") % 2).as("shard"))
    Sketches.buildHllCard(keys.filter(col("shard") === 0), "k", dir)
    Sketches.appendToHllCard(keys.filter(col("shard") === 1), "k", dir)
    assert(Seq("registers", "meta")
      .forall(t => generations(dir).exists(_.contains(t))))
    assertSameGenerations(dir)
  }

  test("the schema file is the first data file by full path, across roots") {
    val root = freshDir("tp_order")
    // "a-b.parquet" sorts before "a/…" ('-' < '/') though "a" < "a-b"
    writeFile(Seq((1L, "x")).toDF("id", "s"), s"$root/t/a/part.parquet")
    writeFile(Seq(2L).toDF("id"), s"$root/t/a-b.parquet")
    // hidden and underscore names are not leaves
    writeFile(Seq((3L, 4.0)).toDF("id", "d"), s"$root/t/_tmp.parquet")
    writeFile(Seq((5L, 6.0)).toDF("id", "d"), s"$root/t/.tmp.parquet")
    assertSameRead(s"$root/t")
    assert(Tables.parquet(spark, s"$root/t").columns.toSeq === Seq("id"))
    // two roots: the sorted-first leaf wins, not the first path given
    writeFile(Seq((7L, "y")).toDF("id", "s"), s"$root/p2/part.parquet")
    writeFile(Seq(8L).toDF("id"), s"$root/p1/part.parquet")
    assertSameRead(s"$root/p2", s"$root/p1")
  }

  test("a missing path and an empty directory fail as spark.read.parquet does") {
    val empty = freshDir("tp_empty")
    Seq(s"$empty/no_such.parquet", empty).foreach { p =>
      val want = Try(spark.read.parquet(p)).failed.get
      val got = Try(Tables.parquet(spark, p)).failed.get
      assert(got.getClass === want.getClass, s"at $p: $got vs $want")
    }
  }
}
