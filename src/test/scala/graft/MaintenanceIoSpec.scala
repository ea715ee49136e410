package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, InvertedIndex, MaintenanceIo, Similarity}

/** The manifest-pointer maintenance layer's safety claims (round-12
  * verdict #3 / advice #1), proved against the real index operators:
  * readers racing a compaction, writers racing each other, and a crash
  * at the worst instant all leave a valid, correct artifact.
  */
class MaintenanceIoSpec extends SparkSpec {

  test("queries racing a compaction never fail and never see a mix") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("race_cq").toString
    Similarity.buildIvfIndex(emb, idx, nLists = 8)
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    val queries = emb.filter(col("vec_id") < 5)
    def res() = Similarity.ivfTopKFromIndex(idx, queries, k = 5, nProbe = 8)
      .orderBy("q_id", "rn").collect().toSeq
    val expected = res() // the LIVE answer — identical pre/post compact
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          if (res() != expected)
            errors.add(new AssertionError("reader saw a mixed snapshot"))
        } catch { case t: Throwable => errors.add(t) }
      }
    })
    reader.start()
    try {
      Similarity.compactIvfIndex(spark, idx)
      assert(res() == expected)
    } finally { stop.set(true); reader.join(60000) }
    assert(errors.isEmpty,
      s"racing reader failed: ${Option(errors.peek()).map(_.toString)}")
  }

  test("concurrent compactors serialize on the maintenance lock") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 2000)
    val ldx = java.nio.file.Files.createTempDirectory("race_cc").toString
    Dedup.writeLshBandIndex(docs, "doc_id", "text", ldx)
    Dedup.deleteFromLshBandIndex(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", ldx)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (1 to 2).map(_ => new Thread(() =>
      try Dedup.compactLshBandIndex(spark, ldx)
      catch { case t: Throwable => errors.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent compact failed: ${errors.peek()}")
    // one winner compacted; the loser found no tombstones and no-opped
    assert(MaintenanceIo.snapshot(ldx).get("tombstones").isEmpty)
    assert(spark.read.parquet(MaintenanceIo.snapshot(ldx)("bands"))
      .filter(col("id") % 5 === 0).isEmpty)
  }

  test("a crash after writing a generation but before publish is invisible" +
      " and the orphan is GC'd by the next successful mutation") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 500)
    val idx = java.nio.file.Files.createTempDirectory("crash_gen").toString
    Similarity.buildIvfIndex(emb, idx, nLists = 4)
    val before = MaintenanceIo.snapshot(idx)("assignments")
    // simulate the crash: a compaction that wrote its rewrite and died
    // before the manifest swap — on disk but unreferenced
    val orphan = s"$idx/${MaintenanceIo.nextGen(idx, "assignments")}"
    spark.read.parquet(before).limit(1).write.parquet(orphan)
    assert(MaintenanceIo.snapshot(idx)("assignments") == before,
      "an unpublished generation must be invisible to readers")
    // next successful mutation GCs it (it is in neither manifest)
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") === 1L), idx)
    assert(!new java.io.File(orphan).exists(),
      "orphaned generation survived the next publish's GC")
    // (nextGen scans the filesystem, so while the orphan EXISTS its
    // number is never reused for a fresh write; after GC, reuse is fine)
  }

  test("publish keeps a grace generation for in-flight readers, and " +
      "exactly one") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 500)
    val idx = java.nio.file.Files.createTempDirectory("grace").toString
    Similarity.buildIvfIndex(emb, idx, nLists = 4)
    val g0 = MaintenanceIo.snapshot(idx)("assignments")
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 3 === 0), idx)
    Similarity.compactIvfIndex(spark, idx)
    val g1 = MaintenanceIo.snapshot(idx)("assignments")
    assert(g1 != g0)
    assert(new java.io.File(g0).exists(),
      "the superseded generation must survive one publish (reader grace)")
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 5 === 0), idx)
    Similarity.compactIvfIndex(spark, idx)
    val g2 = MaintenanceIo.snapshot(idx)("assignments")
    assert(new java.io.File(g1).exists(), "grace must cover the previous")
    assert(!new java.io.File(g0).exists(),
      "two-generations-old dirs must be GC'd (disk stays bounded at ~2x)")
    assert(g2 != g1)
  }

  test("MANIFEST exists at every instant of a publish (no reader window)") {
    val idx = java.nio.file.Files.createTempDirectory("pub").toString
    MaintenanceIo.withMaintenanceLock(idx) {
      MaintenanceIo.publish(idx,
        MaintenanceIo.Manifest(0L, Map("bloom" -> "bloom.g0")))
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() => {
      while (!stop.get()) {
        try MaintenanceIo.requireManifest(idx)
        catch { case t: Throwable => errors.add(t) }
      }
    })
    reader.start()
    try {
      (1 to 200).foreach { i =>
        MaintenanceIo.withMaintenanceLock(idx) {
          MaintenanceIo.publish(idx,
            MaintenanceIo.Manifest(i.toLong, Map("bloom" -> s"bloom.g$i")))
        }
      }
    } finally { stop.set(true); reader.join(60000) }
    assert(errors.isEmpty, s"reader hit a manifest gap: ${errors.peek()}")
    assert(MaintenanceIo.requireManifest(idx).epoch == 200L)
  }

  /** An epoch-stamped index family driven through its public lifecycle
    * over `rows` (ids in `idCol`, tombstoned under `key`); `live` is its
    * live view of one snapshot.
    */
  private case class Family(name: String, rows: DataFrame, idCol: String,
                            key: String, build: (DataFrame, String) => Unit,
                            delete: (DataFrame, String) => Unit,
                            append: (DataFrame, String) => Unit,
                            compact: String => Unit,
                            live: Map[String, String] => DataFrame)

  private lazy val families = {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 300)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 300)
    def live(table: String, key: String, cols: String*)(
        snap: Map[String, String]) =
      MaintenanceIo.live(MaintenanceIo.read(spark, snap, table), snap, key)
        .select(cols.map(col): _*)
    Seq(
      Family("IVF", emb, "vec_id", "n_id",
        Similarity.buildIvfIndex(_, _, nLists = 4),
        Similarity.deleteFromIvfIndex(_, _),
        Similarity.appendToIvfIndex(_, _),
        Similarity.compactIvfIndex(spark, _),
        live("assignments", "n_id", "n_id", "v_n", "cell")),
      Family("LSH", docs, "doc_id", "id",
        Dedup.writeLshBandIndex(_, "doc_id", "text", _),
        Dedup.deleteFromLshBandIndex(_, "doc_id", _),
        Dedup.appendToLshBandIndex(_, "doc_id", "text", _),
        Dedup.compactLshBandIndex(spark, _),
        live("bands", "id", "id", "bh")),
      Family("InvertedIndex", docs, "doc_id", "doc_id",
        InvertedIndex.buildIndex(_, _),
        InvertedIndex.deleteFromIndex(_, _),
        InvertedIndex.appendToIndex(_, _),
        InvertedIndex.compactIndex(spark, _),
        live("postings", "doc_id", "doc_id", "tok", "tf", "dl", "pb")))
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Every file under `dir` (relative name -> size). */
  private def files(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
      .toMap
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, clue: String) =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, clue)

  test("law: a second delete leaves the previous snapshot's tombstone " +
      "generation intact") {
    families.foreach { f =>
      val p = tmp(s"law_a_${f.name}")
      f.build(f.rows, p)
      f.delete(f.rows.filter(col(f.idCol) % 7 === 2), p)
      // every generation the previous manifest names: the tombstones,
      // and the inverted index's df / stats deltas with them
      val snap = MaintenanceIo.snapshot(p)
      val before = snap.view.mapValues(files).toMap
      assert(before("tombstones").nonEmpty, f.name)
      f.delete(f.rows.filter(col(f.idCol) % 5 === 1), p)
      snap.foreach { case (table, dir) =>
        assert(files(dir) == before(table),
          s"${f.name}: the second delete rewrote the published $table")
      }
    }
  }

  test("law: an unpublished tombstone write leaves the live view " +
      "unchanged") {
    families.foreach { f =>
      val p = tmp(s"law_b_${f.name}")
      f.build(f.rows, p)
      f.delete(f.rows.filter(col(f.idCol) % 7 === 2), p)
      val snap = MaintenanceIo.snapshot(p)
      val before = f.live(snap).localCheckpoint()
      MaintenanceIo.withMaintenanceLock(p) {
        MaintenanceIo.tombstone(p, MaintenanceIo.requireManifest(p),
          f.rows.filter(col(f.idCol) % 5 === 1)
            .select(col(f.idCol).as(f.key)), f.key)
      }
      assert(MaintenanceIo.snapshot(p) == snap, f.name)
      assertSameRows(f.live(snap), before,
        s"${f.name}: an unpublished tombstone changed the live view")
    }
  }

  test("law: delete, compact and re-append equal a fresh build") {
    families.foreach { f =>
      val (p, fresh) = (tmp(s"law_c_${f.name}"), tmp(s"law_c0_${f.name}"))
      val doomed = f.rows.filter(col(f.idCol) % 7 === 2)
      f.build(f.rows, p)
      f.delete(doomed, p)
      f.compact(p)
      f.append(doomed, p)
      f.build(f.rows, fresh)
      assertSameRows(f.live(MaintenanceIo.snapshot(p)),
        f.live(MaintenanceIo.snapshot(fresh)),
        s"${f.name}: delete + compact + re-append != fresh build")
    }
  }
}
