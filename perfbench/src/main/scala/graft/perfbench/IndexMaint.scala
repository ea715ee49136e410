package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MaintenanceIo, Similarity}

/** The write workload: every pass maintains two persisted indexes in a
  * fresh directory through the public index APIs and deletes the
  * directory afterwards. The IVF index (`Similarity`) is built, a
  * seventh of its vectors tombstoned, and probed through the tombstones;
  * the LSH band index (`Dedup`) is built, a seventh of its documents
  * tombstoned, and compacted. The seed picks the delete residue and the
  * 50 probe vectors.
  */
final class IndexMaint extends Workload {
  override def minPasses: Int = 2

  private val nLists = 8
  private val k = 5
  private var deleteR = 0L
  private var probeIds: Seq[Long] = Nil

  // MaintenanceIo gauges, measured after every step of a pass
  private var listing = Map.empty[String, (Long, Long)]
  private var bytesWritten = 0L
  private var filesWritten = 0L
  private var lastGauges = Map.empty[String, Double]

  private var currentPass = 0
  private def root(ctx: Ctx, p: Int) = s"${ctx.work}/idx/p$p"

  override def init(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    deleteR = rnd.nextInt(7).toLong
    val (emb, _) = Workloads.loadTables(ctx)
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    probeIds = rnd.shuffle(ids.toSeq).take(50).sorted
  }

  def pass(ctx: Ctx, p: Int): Seq[Step] = {
    // the previous pass's directory stays until now for the checks
    IndexMaint.deleteTree(Paths.get(root(ctx, currentPass)))
    currentPass = p
    val r = root(ctx, p)
    IndexMaint.deleteTree(Paths.get(r))
    listing = Map.empty; bytesWritten = 0L; filesWritten = 0L
    val (ivf, lsh) = (s"$r/ivf", s"$r/lsh")
    def emb = Workloads.loadTables(ctx)._1
    def docs = Workloads.loadTables(ctx)._2
    def eff(f: => Unit): () => Option[DataFrame] = () => { f; None }
    val deleted = (c: String) => col(c) % 7 === deleteR
    def queries = emb.filter(col("vec_id").isin(probeIds: _*))
    Seq(
      Step("Similarity.build", eff(Similarity.buildIvfIndex(
        emb, ivf, nLists = nLists))),
      Step("Similarity.delete", eff(Similarity.deleteFromIvfIndex(
        emb.filter(deleted("vec_id")), ivf))),
      Step("Similarity.probe", () => Some(
        Similarity.ivfTopKFromIndex(ivf, queries, k, nProbe = nLists))),
      Step("Dedup.build", eff(Dedup.writeLshBandIndex(
        docs, "doc_id", "text", lsh))),
      Step("Dedup.delete", eff(Dedup.deleteFromLshBandIndex(
        docs.filter(deleted("doc_id")), "doc_id", lsh))),
      Step("Dedup.compact", eff(Dedup.compactLshBandIndex(ctx.spark, lsh))))
  }

  /** Files new or changed since the previous step's listing count as
    * written by this step.
    */
  override def afterStep(ctx: Ctx, step: String): Unit = {
    val now = IndexMaint.list(Paths.get(root(ctx, currentPass)))
    now.foreach { case (f, sig) =>
      if (!listing.get(f).contains(sig)) {
        bytesWritten += sig._1; filesWritten += 1
      }
    }
    listing = now
  }

  override def afterPass(ctx: Ctx, p: Int): Unit = {
    val r = root(ctx, p)
    val roots = Seq("ivf", "lsh").map(f => s"$r/$f")
    val manifests = roots.map(MaintenanceIo.requireManifest)
    val liveBytes = roots.zip(manifests).map { case (fr, m) =>
      m.tables.values.map(g => IndexMaint.list(Paths.get(fr, g))
        .values.map(_._1).sum).sum
    }.sum
    lastGauges = Map(
      "MaintenanceIo.bytes_written_mb" -> bytesWritten / 1e6,
      "MaintenanceIo.files_written" -> filesWritten.toDouble,
      "MaintenanceIo.write_amp" -> bytesWritten.toDouble / math.max(1L, liveBytes),
      "MaintenanceIo.live_generations" -> manifests.map(_.tables.size).sum.toDouble,
      "MaintenanceIo.epoch" -> manifests.map(_.epoch).sum.toDouble)
  }

  override def gauges: Map[String, Double] = lastGauges

  def check(ctx: Ctx, last: Seq[StepRun]): Seq[(String, Option[String])] = {
    val (emb, docs) = Workloads.loadTables(ctx)
    val liveEmb = emb.filter(col("vec_id") % 7 =!= deleteR)
    val liveDocs = docs.filter(col("doc_id") % 7 =!= deleteR)
    def rowsOf(step: String) = last.find(_.name == step).flatMap(_.rows)
    def sameTopK(got: Option[Array[Row]], want: Array[Row]) = {
      def key(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("rn"), r.getAs[Long]("n_id"))).sorted.toSeq
      got match {
        case None => Some("no result")
        case Some(g) if key(g) != key(want) =>
          Some(s"${g.length} rows differ from brute force (${want.length} rows)")
        case _ => None
      }
    }
    val exact = Similarity.bruteForceTopK(liveEmb,
      emb.filter(col("vec_id").isin(probeIds: _*)), k).collect()
    val lshRoot = s"${root(ctx, currentPass)}/lsh"
    val lshIds = ctx.spark.read.parquet(MaintenanceIo.snapshot(lshRoot)("bands"))
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val liveIds = liveDocs.select("doc_id").collect().map(_.getLong(0))
      .sorted.toSeq
    IndexMaint.deleteTree(Paths.get(root(ctx, currentPass)))
    Seq(
      "Similarity.probe" -> sameTopK(rowsOf("Similarity.probe"), exact),
      "Dedup.compact" -> (if (lshIds == liveIds) None else Some(
        s"${lshIds.size} live band ids, expected ${liveIds.size}")))
  }
}

object IndexMaint {
  /** Regular files under `dir`: path -> (size, mtime). */
  def list(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f),
          Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(f => new File(f.toString).delete())
      finally s.close()
    }
}
