package graft

import org.apache.spark.sql.DataFrame

import graft.plans.PlanShape

/** Every declared query runs at sf0.001 and yields a sane result, and its
  * static physical plan has the shape committed in
  * `src/test/resources/plan-shapes.txt`. (Value-level correctness is the
  * DuckDB oracle's job — scripts/selfcheck.py and the driver's t2 gate;
  * this guards against queries breaking at all.) */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql only names declared queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("plan-shape table names every declared query once") {
    assert(PlanShape.rows.size == PlanShape.table.size, "a query has two rows")
    assert(PlanShape.table.keySet == SparkEntry.queries.keySet,
      s"stale rows: ${PlanShape.table.keySet -- SparkEntry.queries.keySet}, " +
        s"missing rows: ${SparkEntry.queries.keySet -- PlanShape.table.keySet}")
  }

  // each query is built once: its plan-shape test reads the DataFrame its
  // run test built
  private val built = scala.collection.mutable.Map[String, DataFrame]()

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, SparkSpec.tiny)
      built(name) = df
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

    // The plan is the same at every scale factor; a plan change updates
    // its row in the table in the same diff.
    test(s"$name plan shape") {
      val df = built.remove(name).getOrElse(fail(s"$name was not built"))
      val actual = PlanShape.row(name, PlanShape.staticPlan(df))
      val expected = PlanShape.table.getOrElse(name, "(no row)")
      if (actual != expected)
        fail(s"$name plan shape moved\n  table: $expected\n  now:   $actual")
    }
  }
}
