package graft

import graft.operators.Dedup

/** Companion evidence to the scale-up bench's one super-linear query:
  * `sbt "Test/runMain graft.EmbedScaleNote <x1Dir> <x10Dir>"`.
  *
  * q25 deliberately runs embedding near-dup at θ=0.5 — the recall-proof
  * configuration where 4-plane sign-LSH cannot prune random pairs, so its
  * candidate volume (and measured time) grows ~quadratically with corpus
  * size. This harness times the SAME operator at the production dedup
  * threshold (θ=0.9, 16-plane tables sized by lshTablesFor): the sketch
  * join prunes sharply and the 10× corpus should cost ~10× or less, which
  * is the actual 100 TB deployment claim. min-of-3 after one warm-up.
  */
object EmbedScaleNote {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "spark.app.name" -> "graft-embed-scale-note")

    def run(dir: String, planes: Int): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      Dedup.embeddingPairs(Tables.embeddings(spark, dir), "vec_id",
          "embedding", threshold = 0.9, useLsh = true, dim = 64,
          planes = planes, tables = Dedup.lshTablesFor(0.9, planes = planes))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    args match {
      // Plane-sweep mode: time θ=0.9 near-dup on ONE fixture across LSH
      // geometries. The scale knob for fixed-geometry sign-LSH: random
      // collisions grow ~ n²·tables/2^planes, so a 100× corpus wants more
      // planes (lshTablesFor re-sizes tables to hold the 1e-6 miss bound).
      case Array("--planes", dir, planeList) =>
        planeList.split(",").map(_.trim.toInt).foreach { p =>
          val t = run(dir, p)
          println(f"[embed-planes] theta=0.9 planes=$p%d " +
            f"tables=${Dedup.lshTablesFor(0.9, planes = p)}%d " +
            f"dir=$dir time=$t%.3fs")
        }
      case Array(x1Dir, x10Dir) =>
        run(x1Dir, 16) // warm-up
        val t1 = (1 to 3).map(_ => run(x1Dir, 16)).min
        val t10 = (1 to 3).map(_ => run(x10Dir, 16)).min
        println(f"[embed-scale] theta=0.9 16-plane LSH: x1=$t1%.3fs x10=$t10%.3fs factor=${t10 / t1}%.2fx")
      case _ => sys.error(
        "usage: EmbedScaleNote <x1Dir> <x10Dir> | --planes <dir> 16,20,24")
    }
    spark.stop()
  }
}
