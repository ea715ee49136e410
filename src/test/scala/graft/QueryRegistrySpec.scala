package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryRegistry

/** The shared name resolver Verify, Bench and Explain select queries with. */
class QueryRegistrySpec extends AnyFunSuite {

  test("resolve splits known, unknown and bench-excluded names") {
    val names = Seq("q34_ml_cv_best_params", "q01_pricing_summary",
      "q01_pricing_sumary", "nope")
    val (known, unknown) = QueryRegistry.resolve(names)
    assert(known.map(_.name) ==
      Seq("q34_ml_cv_best_params", "q01_pricing_summary"))
    assert(unknown == Seq("q01_pricing_sumary", "nope"))
    // a bench-excluded query is still a known query; Bench leaves it out
    assert(!known.head.bench && known(1).bench)
    assert(QueryRegistry.all.filterNot(_.bench).map(_.name).toSet ==
      Set("q34_ml_cv_best_params", "q35_ml_cluster_tokens",
        "q153_ml_gbt_cv_best_params"))
    assert(SparkEntry.benchQueries == QueryRegistry.all.filter(_.bench)
      .map(_.name).sorted)
    // the reporting form names each unknown on stderr and keeps the rest
    val err = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val reported = try QueryRegistry.resolveReporting(names)
      finally System.setErr(prev)
    assert(reported == known)
    assert(err.toString.linesIterator.toSeq ==
      Seq("unknown query q01_pricing_sumary", "unknown query nope"))
  }
}
