package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class GlobalRankSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def randDf(n: Int) = {
    val rnd = new scala.util.Random(7)
    (1 to n).map(i => (i.toLong, rnd.nextInt(50))).toDF("id", "v")
  }

  test("withRowNumber matches a global window row_number") {
    val df = randDf(500)
    val expected = df.withColumn("rn",
        row_number().over(Window.orderBy($"v", $"id")))
      .select($"id", $"rn").as[(Long, Long)].collect().toMap
    val got = GlobalRank.withRowNumber(df, Seq($"v", $"id"), "rn")
      .select($"id", $"rn").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("ntile matches the SQL ntile for sizes that do and don't divide") {
    for (n <- Seq(500, 497); k <- Seq(4, 7)) {
      val df = randDf(n)
      val expected = df.withColumn("t",
          ntile(k).over(Window.orderBy($"v", $"id")))
        .select($"id", $"t").as[(Long, Int)].collect().toMap
      val got = GlobalRank.ntile(df, Seq($"v", $"id"), k, "t")
        .select($"id", $"t").as[(Long, Int)].collect().toMap
      assert(got == expected, s"n=$n k=$k")
    }
  }

  test("ntile reads its input twice: the range sample and the shuffle") {
    val parts = 4
    val reads = spark.sparkContext.longAccumulator("ntile-input-reads")
    val df = spark.sparkContext.parallelize(1 to 500, parts)
      .mapPartitions { it => reads.add(1); it }
      .map(i => (i.toLong, i * 7919 % 50)).toDF("id", "v")
    val expected = df.withColumn("t", ntile(7).over(Window.orderBy($"v", $"id")))
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    reads.reset()
    val got = GlobalRank.ntile(df, Seq($"v", $"id"), 7, "t")
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    assert(got == expected)
    assert(reads.value == 2 * parts, s"${reads.value} partition reads")
  }

  test("ntile with fewer rows than buckets") {
    val df = Seq((1L, 10), (2L, 20)).toDF("id", "v")
    val got = GlobalRank.ntile(df, Seq($"v", $"id"), 4, "t")
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2))
  }

  test("limitWithTies == rank() <= n, including ties at the boundary") {
    val df = Seq(10, 10, 9, 8, 8, 8, 7, 1).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (n <- Seq(3, 4)) {
      val expected = df.withColumn("rk", rank().over(Window.orderBy($"v".desc)))
        .filter($"rk" <= n).select("id").as[Long].collect().toSet
      val got = GlobalRank.limitWithTies(df, $"v", descending = true, n = n)
        .select("id").as[Long].collect().toSet
      assert(got == expected, s"n=$n")
    }
    // n=4: the 4th row value is 8, and ALL tied 8s come along
    assert(GlobalRank.limitWithTies(df, $"v", descending = true, n = 4)
      .count() == 6)
  }

  test("plans: offsets join is broadcast; no cartesian product anywhere") {
    val df = randDf(200)
    val rankPlan = GlobalRank.withRowNumber(df, Seq($"v", $"id"), "rn")
      .queryExecution.executedPlan.toString
    assert(rankPlan.contains("Broadcast"), s"expected broadcast:\n$rankPlan")
    assert(!rankPlan.contains("CartesianProduct"))
    val tiesPlan = GlobalRank.limitWithTies(df, $"v", descending = true, n = 3)
      .queryExecution.executedPlan.toString
    assert(tiesPlan.contains("Broadcast"), s"expected broadcast:\n$tiesPlan")
    assert(!tiesPlan.contains("CartesianProduct"))
  }

  test("limitWithTies ascending") {
    val df = Seq(5, 1, 1, 2, 3).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = GlobalRank.limitWithTies(df, $"v", descending = false, n = 2)
      .select("v").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 1))
  }

  // ---- property: no cache, yet both readers of the range-partitioned
  // frame see one range exchange (else each samples its own boundaries)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", IntegerType, nullable = false),
    StructField("w", LongType, nullable = true),
    StructField("payload", StringType, nullable = true)))

  /** (rows, distinct v values, output partitions): heavy ties on v, a
    * nullable value, and a payload column that neither builder reads. */
  private val inputs = for {
    n <- Gen.choose(2000, 20000)
    distinct <- Gen.choose(1, 60)
    parts <- Gen.choose(2, 6)
    seed <- Gen.long
  } yield (n, distinct, parts, seed)

  private def rangeExchanges(df: DataFrame): Int = collect(
    df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }.size

  /** Windows over the rows themselves; the prefix sum over one row per
    * partition has no partition spec. */
  private def rowWindows(df: DataFrame): Int = collect(
    df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.nonEmpty => w
    }.size

  test("withRowNumber and withRunningSum match the window forms; one range exchange") {
    assert(spark.conf.get("spark.sql.exchange.reuse") == "true")
    val prop = Prop.forAllNoShrink(inputs) { case (n, distinct, parts, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (1 to n).map { i => Row(i.toLong, rnd.nextInt(distinct),
        if (rnd.nextInt(10) == 0) null else rnd.nextLong() % 1000,
        if (rnd.nextBoolean()) null else s"p$i") }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val order = Seq(col("v"), col("id"))
      val w = Window.orderBy(order: _*)
      // collects `d` itself, so its executed plan is the final one
      def byId(d: DataFrame, c: String) =
        d.collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[Any](c))).toMap
      val rn = GlobalRank.withRowNumber(df, order, "rn", parts)
      val rs = GlobalRank.withRunningSum(df, order, col("w"), "rs", parts)
      val ok = byId(rn, "rn") == byId(df.withColumn("rn", row_number().over(w)), "rn") &&
        byId(rs, "rs") == byId(df.withColumn("rs", sum(col("w")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))), "rs")
      val shape = Seq(rn, rs).map(d => (rangeExchanges(d), rowWindows(d)))
      if (!ok || shape != Seq((1, 1), (1, 1)))
        println(s"[GlobalRankSpec] n=$n distinct=$distinct parts=$parts " +
          s"seed=$seed: equal=$ok (range exchanges, row windows)=$shape")
      ok && shape == Seq((1, 1), (1, 1))
    }
    val seed = Seed.random()
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(seed),
      prop)
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(0))}")
  }

  test("an unorderable column is refused, not silently mis-numbered") {
    val df = Seq((1L, 2, Map("a" -> 1))).toDF("id", "v", "m")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      GlobalRank.withRowNumber(df, Seq($"v", $"id")))
    assert(e.getMessage.contains("INVALID_ORDERING_TYPE"), e.getMessage)
  }
}
