package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}

/** What a workload sees of the running benchmark. The session is
  * re-created during set-up, so steps must read it when they run.
  */
final class Ctx(val data: String, val work: String, val seed: Long,
                val cores: Int) {
  var spark: SparkSession = _
}

/** One timed unit of a pass. `construct` runs the call into the program
  * (eager work such as estimator fits, driver loops and index writes
  * happens here); whatever it returns lazily is then executed by
  * collecting it to the client, which keeps the rows for the checks.
  */
final case class Step(name: String, construct: () => Option[DataFrame])

final case class StepRun(name: String, constructS: Double, executeS: Double,
                         err: Option[String], rows: Option[Array[Row]]) {
  def totalS: Double = constructS + executeS
}

trait Workload {
  /** Fewest measured passes, however long they take. */
  def minPasses: Int = 3
  def init(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, p: Int): Seq[Step]
  def afterStep(ctx: Ctx, step: String): Unit = ()
  def afterPass(ctx: Ctx, p: Int): Unit = ()
  /** Untimed result checks over the last pass: (check, failure). */
  def check(ctx: Ctx, last: Seq[StepRun]): Seq[(String, Option[String])]
  /** Layer gauges this workload records besides the spans. */
  def gauges: Map[String, Double] = Map.empty
}

/** A fixed list of `SparkEntry` queries; the seed sets their order in
  * each warm pass. The cold pass runs them in their listed order, so
  * that `cold_pass_s` does not depend on which op the seed puts first
  * (the first op pays most of the class-loading and JIT cost). Results are checked against the expected row count and
  * order-independent content hash kept in `expected/<workload>.tsv`.
  */
final class QueryWorkload(ops: Seq[String],
                          expected: Map[String, (Long, String)])
    extends Workload {
  def pass(ctx: Ctx, p: Int): Seq[Step] =
    (if (p == 0) ops else new Random(ctx.seed * 7919L + p).shuffle(ops)).map { n =>
      Step(n, () => Some(SparkEntry.queries(n)(ctx.spark, ctx.data)))
    }

  def check(ctx: Ctx, last: Seq[StepRun]): Seq[(String, Option[String])] =
    last.map { r =>
      r.name -> (r.rows match {
        case None => Some("no result")
        case Some(result) =>
          val (rows, hash) = QueryWorkload.digest(result)
          expected.get(r.name) match {
            case None => Some(s"no expected entry (rows=$rows hash=$hash)")
            case Some((er, eh)) if er != rows || (eh != "-" && eh != hash) =>
              Some(s"rows=$rows hash=$hash, expected rows=$er hash=$eh")
            case _ => None
          }
      })
    }
}

object QueryWorkload {
  /** Row count and an order-independent content hash: the sum of one
    * 64-bit hash per row. Fractional values are rounded to 4 decimals
    * (and -0.0 folded into 0.0) so that the last-bit noise of parallel
    * floating-point sums does not change the hash.
    */
  def digest(rows: Array[Row]): (Long, String) = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => f"${d + 0.0}%.4f"
      case f: Float => f"${f.toDouble + 0.0}%.4f"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${norm(k)}:${norm(x)}" }.sorted
          .mkString("{", ",", "}")
      case other => other.toString
    }
    val sum = rows.iterator.map { r =>
      val s = r.toSeq.map(norm).mkString("\u0001")
      scala.util.hashing.MurmurHash3.stringHash(s).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(s.reverse).toLong & 0xffffffffL)
    }.foldLeft(0L)(_ + _)
    (rows.length.toLong, java.lang.Long.toHexString(sum))
  }

  def readExpected(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(op, rows, hash) = l.split("\t")
        op -> (rows.toLong, hash)
      }.toMap
}

object Workloads {
  val refApps = Seq(
    "q33_ml_kmeans_embed", "q13_regex_first_word", "q16_day_hour_heatmap")

  val names = Seq("ref_apps", "index_maint")

  def apply(name: String, expectedDir: String): Workload = name match {
    case "ref_apps" => new QueryWorkload(refApps,
      QueryWorkload.readExpected(s"$expectedDir/$name.tsv"))
    case "index_maint" => new IndexMaint
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  def loadTables(ctx: Ctx): (DataFrame, DataFrame) =
    (Tables.embeddings(ctx.spark, ctx.data), Tables.documents(ctx.spark, ctx.data))
}
