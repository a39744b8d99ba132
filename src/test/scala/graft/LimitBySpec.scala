package graft

/** `LIMIT n BY` rewrite: the query's ORDER BY and final LIMIT are found
  * as whole keywords, so identifiers such as `o_orderkey` (which holds
  * `order` after an underscore) do not split the query, and ORDER BY
  * keys the SELECT list drops still order the rows. */
class LimitBySpec extends SparkSpec {

  private def rows(q: String): Seq[(Long, Long)] =
    ChSql.sql(spark, q, SparkSpec.tiny).collect().toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))

  test("LIMIT n BY with an ORDER BY key containing `order` equals row_number") {
    val limitBy = rows(
      """SELECT o_custkey, o_orderkey FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 2 BY o_custkey""".stripMargin)
    val rowNumber = rows(
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_custkey, o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    assert(rowNumber.nonEmpty)
    assert(limitBy === rowNumber)
  }

  test("LIMIT n BY ordered by output aliases keeps the first rows per key") {
    val limitBy = rows(
      """SELECT n_regionkey AS r, n_nationkey AS k FROM nation
        |ORDER BY r, k DESC LIMIT 1 BY r""".stripMargin)
    assert(limitBy === Seq((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L),
      (4L, 24L)))
  }
}
