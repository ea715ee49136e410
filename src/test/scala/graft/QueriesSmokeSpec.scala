package graft

/** Regression net: every SparkEntry query must execute end-to-end on the
  * sf0.001 fixtures and (for deterministic queries) return rows. Catches a
  * broken query at test time instead of at the driver's verify gate.
  */
class QueriesSmokeSpec extends SparkSpec {

  // LSH/threshold queries can legitimately return 0 rows at the tiny SF
  private val mayBeEmpty = Set(
    "q08_except_users", "q11_customers_no_orders", "q22_dedup_minhash",
    "q23_dedup_simhash", "q24_dedup_jaccard", "q25_embed_neardup",
    "q47_winnow_overlap")

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name executes at sf0.001") {
      val n = SparkEntry.queries(name)(spark, sf0001).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the query registry is consistent across the family files") {
    val defs = Seq(queries.RelationalQueries.all, queries.EventQueries.all,
      queries.DedupQueries.all, queries.SimilarityQueries.all,
      queries.GraphQueries.all, queries.TextQueries.all,
      queries.MlQueries.all)
    val names = defs.flatten.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.sorted == SparkEntry.queries.keys.toSeq.sorted)
    assert(defs.flatten.forall(_.body != null))
    // a record list that reads a SQL helper `val` defined below it in
    // its object gets null here
    val badOracles = defs.flatten.filter(_.oracle.exists(sql =>
      sql == null || sql.trim.isEmpty)).map(_.name)
    assert(badOracles.isEmpty, s"null or empty oracle SQL: $badOracles")
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    val passKeys = SparkEntry.auditPlans.keySet ++
      queries.QueryRegistry.accepted.keySet
    val stray = passKeys.filterNot(k => names.contains(k.takeWhile(_ != '#')))
    assert(stray.isEmpty, s"audit or adjudication key of no query: $stray")
    assert(queries.QueryRegistry.accepted.keySet.filter(_.contains('#'))
      .subsetOf(SparkEntry.auditPlans.keySet))
  }
}
