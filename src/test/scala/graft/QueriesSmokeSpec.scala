package graft

/** Every declared query runs at sf0.001 and yields a sane result.
  * (Value-level correctness is the DuckDB oracle's job — scripts/selfcheck.py
  * and the driver's t2 gate; this guards against queries breaking at all.) */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql only names declared queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, SparkSpec.tiny)
      assert(df.columns.nonEmpty)
      // a few queries are legitimately empty at sf0.001 (near-dup pairs,
      // highly selective filters over ~6k rows); everything else must
      // produce rows
      val mayBeEmpty = Set("q_dedup_minhash", "q_scan_project", "q_except_all",
        "q_intersect_all", "q_having")
      val n = df.count()
      if (!mayBeEmpty.contains(name)) assert(n > 0, s"$name empty")
      // builders have no side effects: nothing outlives the query
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cached data")
    }
  }
}
