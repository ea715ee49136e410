package graft

import java.io.ByteArrayOutputStream

/** `Explain` reports an unknown query name and goes on with the rest. */
class ExplainSpec extends SparkSpec {

  private def printed(audit: Boolean, names: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Explain.run(spark, audit, sf0001, names))
    out.toString("UTF-8")
  }

  test("an unknown query name is reported, and the known one still prints") {
    val out = printed(audit = false, "q00_no_such_query", "q01_pricing_summary")
    assert(out.contains("unknown query q00_no_such_query"))
    assert(out.contains("========== q01_pricing_summary =========="))
    assert(!out.contains("explain failed"))
  }

  test("the audit skips an unknown name and scans the known one") {
    val out = printed(audit = true, "q00_no_such_query", "q01_pricing_summary")
    assert(out.contains("unknown query q00_no_such_query"))
    assert(out.contains("audit: 1 plans scanned (1 queries"))
    assert(out.contains("0 UNEXPLAINED"))
  }
}
