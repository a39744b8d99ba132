package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class StatsTestsSpec extends SparkSpec {
  import spark.implicits._

  test("p-values match textbook values") {
    // two-sided: t=2.0, df=10 → 0.0734; t=2.228, df=10 → 0.0500 boundary;
    // z=1.96 → 0.05; z=2.576 → 0.01
    val df = Seq((2.0, 10.0, 1.96), (2.228, 10.0, 2.576)).toDF("t", "df", "z")
    val r = df.select(StatsTests.tPValue(col("t"), col("df")).as("tp"),
      StatsTests.zPValue(col("z")).as("zp")).as[(Double, Double)].collect()
    assert(math.abs(r(0)._1 - 0.0734) < 0.0005)
    assert(math.abs(r(1)._1 - 0.0500) < 0.0005)
    assert(math.abs(r(0)._2 - 0.0500) < 0.0005)
    assert(math.abs(r(1)._2 - 0.0100) < 0.0005)
  }

  test("welch and student t on a known two-sample dataset") {
    // classic example: a = [30,31,29,32], b = [25,26,27,24]
    val df = (Seq(30.0, 31.0, 29.0, 32.0).map((_, true)) ++
      Seq(25.0, 26.0, 27.0, 24.0).map((_, false))).toDF("v", "f")
    val r = df.agg(StatsTests.welchTTest(col("v"), col("f")).as("w"),
        StatsTests.studentTTest(col("v"), col("f")).as("s"))
      .select(col("w.t"), col("w.df"), col("w.p"), col("s.t"), col("s.df"))
      .as[(Double, Double, Double, Double, Double)].head()
    // means 30.5 vs 25.5, pooled s² = 5/3, t = 5/sqrt((5/3)(1/2)) ≈ 5.477
    assert(math.abs(r._4 - 5.4772) < 0.001)
    assert(r._5 == 6.0)
    assert(math.abs(r._1 - 5.4772) < 0.001) // equal variances → same t
    assert(math.abs(r._2 - 6.0) < 0.001)
    assert(r._3 < 0.01 && r._3 > 0.0)       // strongly significant
  }

  test("meanZTest with unit variances") {
    val df = (Seq(1.0, 2.0, 3.0).map((_, true)) ++
      Seq(1.0, 2.0, 3.0).map((_, false))).toDF("v", "f")
    val r = df.agg(StatsTests.meanZTest(col("v"), col("f"), 1.0, 1.0).as("z"))
      .select(col("z.z"), col("z.p")).as[(Double, Double)].head()
    assert(r._1 == 0.0 && math.abs(r._2 - 1.0) < 1e-9)
  }

  test("simpleLinearRegression recovers an exact line") {
    val df = Seq((1.0, 5.0), (2.0, 7.0), (3.0, 9.0), (4.0, 11.0)).toDF("x", "y")
    val r = df.agg(StatsTests.simpleLinearRegression(col("x"), col("y")).as("r"))
      .select(col("r.k"), col("r.b")).as[(Double, Double)].head()
    assert(math.abs(r._1 - 2.0) < 1e-9 && math.abs(r._2 - 3.0) < 1e-9)
  }

  test("rankCorr is 1 for monotone, -1 for reversed, ties averaged") {
    val mono = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("x", "y")
    assert(math.abs(StatsTests.rankCorr(mono, col("x"), col("y"))
      .as[Double].head() - 1.0) < 1e-9)
    val rev = Seq((1.0, 30.0), (2.0, 20.0), (3.0, 10.0)).toDF("x", "y")
    assert(math.abs(StatsTests.rankCorr(rev, col("x"), col("y"))
      .as[Double].head() + 1.0) < 1e-9)
  }

  test("fractionalRanks averages tie groups") {
    val df = Seq(10, 20, 20, 30).toDF("__val")
      .groupBy("__val").agg(count(lit(1)).as("__cnt"))
    val got = StatsTests.fractionalRanks(df)
      .select(col("__val"), col("avg_rank")).as[(Int, Double)].collect().toMap
    assert(got == Map(10 -> 1.0, 20 -> 2.5, 30 -> 4.0))
  }

  test("mannWhitneyUTest on a known example") {
    // group1 = [1,2,3], group2 = [4,5,6]: complete separation,
    // U1 = 0, U2 = 9
    val df = (Seq(1.0, 2.0, 3.0).map((_, true)) ++
      Seq(4.0, 5.0, 6.0).map((_, false))).toDF("v", "f")
    val r = StatsTests.mannWhitneyUTest(df, col("v"), col("f"))
      .select(col("u1"), col("u2"), col("z")).as[(Double, Double, Double)]
      .head()
    assert(r._1 == 0.0 && r._2 == 9.0)
    assert(math.abs(r._3 + 1.9640) < 0.001) // -(4.5)/sqrt(5.25)
  }

  test("rankCorr skips a row whose y is NULL") {
    // pairs (1,1), (3,3), (4,2): x ranks 1,2,3 against y ranks 1,3,2
    val df = Seq((1, Some(1)), (2, None), (3, Some(3)), (4, Some(2))).toDF("x", "y")
    val rho = StatsTests.rankCorr(df, col("x"), col("y")).as[Double].head()
    assert(math.abs(rho - 0.5) < 1e-12, rho)
  }

  test("mannWhitneyUTest skips a row with a NULL value") {
    val rows = Seq(1.0, 3.0, 3.0, 5.0).map(v => (Option(v), true)) ++
      Seq(2.0, 3.0, 4.0).map(v => (Option(v), false))
    def stats(rs: Seq[(Option[Double], Boolean)]) =
      StatsTests.mannWhitneyUTest(rs.toDF("v", "f"), col("v"), col("f"))
        .select(col("u1"), col("u2"), col("z")).as[(Double, Double, Double)]
        .head()
    assert(stats(rows :+ ((None, false))) == stats(rows))
  }

  // ---- property: the DataFrame rankCorr against the collecting
  // aggregate, and fractional ranks against a plain-Scala reference

  /** 1-based average ranks: a tie run shares the mean of its positions. */
  private def averageRanks(vs: Seq[Int]): Map[Int, Double] = {
    val sorted = vs.sorted
    sorted.distinct.map(v =>
      v -> (sorted.indexOf(v) + sorted.lastIndexOf(v) + 2) / 2.0).toMap
  }

  /** Heavy ties (a few distinct values, negatives included) and NULLs. */
  private val pairs = for {
    distinct <- Gen.choose(1, 8)
    v = Gen.option(Gen.choose(-distinct, distinct))
    rows <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, Gen.zip(v, v)))
  } yield rows

  test("rankCorr matches RankCorrAgg over the non-NULL pairs; ranks are averaged") {
    val prop = Prop.forAllNoShrink(pairs) { rows =>
      val df = rows.toDF("x", "y")
      val got = Option(StatsTests.rankCorr(df, col("x"), col("y")).head().get(0))
      val complete = rows.collect { case (Some(x), Some(y)) => (x.toDouble, y.toDouble) }
      val agg = new RankCorrAgg
      val want = agg.finish(complete.foldLeft(agg.zero)(agg.reduce))
      // no pair left: the sums are NULL, where the aggregate says NaN
      val rhoOk = got match {
        case None => complete.isEmpty
        case Some(g: Double) => g.isNaN && want.isNaN || math.abs(g - want) < 1e-9
      }
      val xs = rows.flatMap(_._1)
      val ranks = StatsTests.fractionalRanks(
          xs.toDF("__val").groupBy("__val").agg(count(lit(1)).as("__cnt")))
        .select("__val", "avg_rank").as[(Int, Double)].collect().toMap
      val ranksOk = ranks == averageRanks(xs)
      if (!rhoOk || !ranksOk) println(s"[StatsTestsSpec] $rows: rho $got, " +
        s"RankCorrAgg $want; ranks $ranks")
      rhoOk && ranksOk
    }
    val seed = Seed.random()
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(seed),
      prop)
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(0))}")
  }
}
