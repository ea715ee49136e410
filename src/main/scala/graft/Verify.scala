package graft
import java.nio.file.{Files, Paths}
import graft.queries.QueryRegistry
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names — restricts the
    // parquet dumps to that subset (used for correctness spot-checks on
    // scaled fixtures where the quadratic dedup oracles would not finish);
    // an unknown name prints `unknown query <name>` to stderr. The
    // driver's 2-arg call is the full suite, unchanged.
    val (sfDir, outDir) = (args(0), args(1))
    val selected = if (args.length > 2) QueryRegistry.resolveReporting(
        args(2).split(",").map(_.trim).toSeq.distinct)
      else QueryRegistry.all
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // 4-way concurrent query execution: Spark's scheduler interleaves the
    // jobs, overlapping planning/IO of cheap queries with the long ML fits
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = selected.map { q =>
      val name = q.name
      pool.submit(new Runnable {
        def run(): Unit =
          try q.declared(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS dump the FULL oracle map — a subset run must not shrink a
    // previously-complete dump's oracle_sql.json (the checker only visits
    // queries whose parquet exists, so extra entries are harmless, while
    // a shrunken map silently skipped every other query after a targeted
    // backfill run)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // selected.json = the UNION of names every run against this outDir
    // selected — so the checker can FAIL a selected query whose parquet
    // dump is missing (a silently-failed dump in a full run) while still
    // skipping queries no run ever selected (r18 advice: without this, a
    // dropped dump and a never-selected query were indistinguishable and
    // the gate exited green). Union, not overwrite: a targeted backfill
    // into a full dump must not shrink the full run's selected set.
    val selPath = Paths.get(s"$outDir/selected.json")
    val prior: Set[String] =
      if (Files.exists(selPath))
        """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(Files.readString(selPath))
          .map(_.group(1)).toSet
      else Set.empty
    val sel = (prior ++ selected.map(_.name)).toSeq.sorted
    Files.writeString(selPath, sel.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
