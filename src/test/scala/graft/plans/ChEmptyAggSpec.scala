package graft.plans

import graft.{ChSql, SparkSpec}

/** [[ChEmptyAggRule]]: global aggregates over an EMPTY input return the
  * CH type default (sum→0, count→0, min/max→0, avg→nan; ref
  * src/AggregateFunctions/AggregateFunctionSum.h / Avg.h
  * insertResultInto on an untouched state) where Spark returns NULL,
  * under BOTH values of `aggregate_functions_null_for_empty` (01528),
  * and a CH-Nullable column keeps NULL over all-NULL input.
  */
class ChEmptyAggSpec extends SparkSpec {

  private def ch(q: String) = ChSql.sql(spark, q, SparkSpec.tiny)

  private def ddl(q: String): Unit =
    assert(graft.golden.DdlEmu.handle(spark, SparkSpec.tiny, q), q)

  private def one(q: String): Any = {
    val r = ch(q).collect()
    assert(r.length == 1, s"$q -> ${r.toSeq}")
    r.head.get(0)
  }

  test("empty input: sum/count/min/max default, avg is nan") {
    ddl("DROP TABLE IF EXISTS empty_agg_defaults")
    ddl("CREATE TABLE empty_agg_defaults (n Int8) ENGINE = Memory")
    assert(one("SELECT sum(n) FROM empty_agg_defaults") == 0L)
    assert(one("SELECT count(n) FROM empty_agg_defaults") == 0L)
    assert(one("SELECT min(n) FROM empty_agg_defaults") == 0.toByte)
    assert(one("SELECT max(n) FROM empty_agg_defaults") == 0.toByte)
    one("SELECT avg(n) FROM empty_agg_defaults") match {
      case d: Double => assert(d.isNaN)
      case other => fail(s"avg over empty: $other")
    }
    // the -OrNull combinator still yields NULL on the empty set
    assert(one("SELECT sumOrNull(n) FROM empty_agg_defaults") == null)
    assert(one("SELECT countOrNull(n) FROM empty_agg_defaults") == null)
  }

  test("empty input under aggregate_functions_null_for_empty=1") {
    ddl("DROP TABLE IF EXISTS empty_agg_defaults2")
    ddl("CREATE TABLE empty_agg_defaults2 (n Int8) ENGINE = Memory")
    spark.conf.set("graft.ch.aggregate_functions_null_for_empty", "1")
    try {
      assert(one("SELECT sum(n) FROM empty_agg_defaults2") == null)
      assert(one("SELECT min(n) FROM empty_agg_defaults2") == null)
      assert(one("SELECT max(n) FROM empty_agg_defaults2") == null)
      // count is unaffected by the setting (ref 01528 expected: 0)
      assert(one("SELECT countIf(n > 0) FROM empty_agg_defaults2") != null)
    } finally spark.conf.set("graft.ch.aggregate_functions_null_for_empty", "0")
  }

  test("non-empty input is unchanged by the empty-set defaulting") {
    ddl("DROP TABLE IF EXISTS empty_agg_defaults3")
    ddl("CREATE TABLE empty_agg_defaults3 (n Int8) ENGINE = Memory")
    ddl("INSERT INTO empty_agg_defaults3 VALUES (1), (2), (3)")
    assert(one("SELECT sum(n) FROM empty_agg_defaults3") == 6L)
    assert(one("SELECT min(n) FROM empty_agg_defaults3") == 1.toByte)
    assert(one("SELECT avg(n) FROM empty_agg_defaults3") == 2.0d)
  }

  test("CH-Nullable column: all-NULL input keeps NULL, not 0") {
    ddl("DROP TABLE IF EXISTS empty_agg_nullable")
    ddl("CREATE TABLE empty_agg_nullable (n Nullable(Int8)) ENGINE = Memory")
    ddl("INSERT INTO empty_agg_nullable VALUES (NULL), (NULL)")
    assert(one("SELECT sum(n) FROM empty_agg_nullable") == null)
    assert(one("SELECT min(n) FROM empty_agg_nullable") == null)
    // and empty Nullable input is NULL too
    ddl("DROP TABLE IF EXISTS empty_agg_nullable2")
    ddl("CREATE TABLE empty_agg_nullable2 (n Nullable(Int8)) ENGINE = Memory")
    assert(one("SELECT sum(n) FROM empty_agg_nullable2") == null)
  }

  test("empty input: WHERE 0 over a non-empty table zero-fills") {
    ddl("DROP TABLE IF EXISTS empty_agg_where0")
    ddl("CREATE TABLE empty_agg_where0 (n Int32) ENGINE = Memory")
    ddl("INSERT INTO empty_agg_where0 VALUES (5), (7)")
    assert(one("SELECT sum(n) FROM empty_agg_where0 WHERE 0") == 0L)
    one("SELECT avg(n) FROM empty_agg_where0 WHERE n > 100") match {
      case d: Double => assert(d.isNaN)
      case other => fail(s"avg over filtered-empty: $other")
    }
  }
}
