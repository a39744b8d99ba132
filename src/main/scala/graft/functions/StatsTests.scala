package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.functions._

/** Statistical-test aggregates (SURVEY §2.4 "stats tests").
  *
  * Reference: `studentTTest`/`welchTTest`/`meanZTest` (`/root/reference/
  * src/AggregateFunctions/AggregateFunctionTTest.h`, `AggregateFunctionZTest.cpp`),
  * `mannWhitneyUTest` (`AggregateFunctionMannWhitney.cpp`), `rankCorr`
  * (`AggregateFunctionRankCorr.h`), `simpleLinearRegression`
  * (`AggregateFunctionSimpleLinearRegression.cpp`).
  *
  * Spark-first: every statistic is a closed form over built-in
  * (codegen'd, two-phase) aggregates — conditional avg/var/count for the
  * t/z family, covar_pop/var_pop for regression, and distributed
  * fractional ranks (one groupBy of the input, then a range-partitioned
  * prefix sum over its distinct values, never a global window) for the
  * rank-based tests. Only the p-value needs code:
  * a scalar expression over (stat, df) backed by commons-math3 (already
  * on Spark's classpath).
  */
object StatsTests {

  /** Two-sided Student-t p-value from (t, df). */
  case class TTestPValue(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ttest_p"
    override def nullSafeEval(t: Any, df: Any): Any = {
      val dfv = df.asInstanceOf[Double]
      if (dfv <= 0 || dfv.isNaN) null
      else {
        val dist = new org.apache.commons.math3.distribution.TDistribution(dfv)
        2.0 * dist.cumulativeProbability(-math.abs(t.asInstanceOf[Double]))
      }
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): TTestPValue = copy(left = l, right = r)
  }

  /** Two-sided normal p-value from z. */
  case class ZTestPValue(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ztest_p"
    override def nullSafeEval(z: Any): Any = {
      val dist = new org.apache.commons.math3.distribution.NormalDistribution()
      2.0 * dist.cumulativeProbability(-math.abs(z.asInstanceOf[Double]))
    }
    override protected def withNewChildInternal(c: Expression): ZTestPValue =
      copy(child = c)
  }

  def tPValue(t: Column, df: Column): Column =
    ColumnBridge.column(TTestPValue(
      ColumnBridge.expression(t), ColumnBridge.expression(df)))
  def zPValue(z: Column): Column =
    ColumnBridge.column(ZTestPValue(ColumnBridge.expression(z)))

  private def moments(value: Column, first: Column) = {
    val v1 = when(first, value)
    val v2 = when(!first, value)
    (avg(v1), avg(v2), var_samp(v1), var_samp(v2),
      count(v1).cast("double"), count(v2).cast("double"))
  }

  /** welchTTest(value, inFirstGroup) → struct(t, df, p) as aggregate
    * columns (unequal variances; Welch–Satterthwaite df). */
  def welchTTest(value: Column, first: Column): Column = {
    val (m1, m2, s1, s2, n1, n2) = moments(value, first)
    val se1 = s1 / n1
    val se2 = s2 / n2
    val t = (m1 - m2) / sqrt(se1 + se2)
    val df = pow(se1 + se2, 2) /
      (pow(se1, 2) / (n1 - 1) + pow(se2, 2) / (n2 - 1))
    struct(t.as("t"), df.as("df"), tPValue(t, df).as("p"))
  }

  /** studentTTest(value, inFirstGroup) → struct(t, df, p) (pooled
    * variance; df = n1+n2−2). */
  def studentTTest(value: Column, first: Column): Column = {
    val (m1, m2, s1, s2, n1, n2) = moments(value, first)
    val df = n1 + n2 - 2
    val sp2 = ((n1 - 1) * s1 + (n2 - 1) * s2) / df
    val t = (m1 - m2) / sqrt(sp2 * (lit(1.0) / n1 + lit(1.0) / n2))
    struct(t.as("t"), df.as("df"), tPValue(t, df).as("p"))
  }

  /** meanZTest(value, inFirstGroup, pop_var1, pop_var2) → struct(z, p). */
  def meanZTest(value: Column, first: Column,
      var1: Double, var2: Double): Column = {
    val v1 = when(first, value); val v2 = when(!first, value)
    val z = (avg(v1) - avg(v2)) /
      sqrt(lit(var1) / count(v1) + lit(var2) / count(v2))
    struct(z.as("z"), zPValue(z).as("p"))
  }

  /** simpleLinearRegression(x, y) → struct(k, b): least squares
    * y = k·x + b. */
  def simpleLinearRegression(x: Column, y: Column): Column = {
    val k = covar_pop(x, y) / var_pop(x)
    struct(k.as("k"), (avg(y) - k * avg(x)).as("b"))
  }

  // ---- rank-based tests (DataFrame recipes: ranks need a pre-pass) ----

  /** Fractional (average) ranks over `counts`, one row per distinct
    * `__val` with `__cnt` input rows holding it: adds the running count
    * `__cum` and `avg_rank`, the 1-based rank the value's rows share.
    * Distributed: a range-partitioned prefix sum over the distinct values,
    * never a global window. */
  def fractionalRanks(counts: DataFrame): DataFrame =
    graft.operators.GlobalRank
      .withRunningSum(counts, Seq(col("__val")), col("__cnt"), "__cum")
      .withColumn("avg_rank",
        col("__cum") - col("__cnt") + (col("__cnt") + 1) / 2.0)

  /** rankCorr(x, y): Spearman ρ = Pearson corr of fractional ranks, over
    * the rows where neither argument is NULL. The distinct (x, y) pairs
    * and their counts are the one base that both rankings and the joined
    * ranks read (one exchange, reused); ρ is the count-weighted Pearson
    * over the pairs. */
  def rankCorr(df: DataFrame, x: Column, y: Column): DataFrame = {
    val pairs = df.select(x.as("__x"), y.as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
    def ranks(v: String) = fractionalRanks(
        pairs.groupBy(col(v).as("__val")).agg(sum("__c").as("__cnt")))
      .select(col("__val").as(v), col("avg_rank").as(s"${v}r"))
    val (c, rx, ry) = (col("__c"), col("__xr"), col("__yr"))
    val (n, sx, sy) = (sum(c), sum(c * rx), sum(c * ry))
    pairs.join(ranks("__x"), "__x").join(ranks("__y"), "__y")
      .agg(((n * sum(c * rx * ry) - sx * sy) / sqrt(
        (n * sum(c * rx * rx) - sx * sx) * (n * sum(c * ry * ry) - sy * sy)))
        .as("rho"))
  }

  /** mannWhitneyUTest(value, inFirstGroup) → one row
    * (u1, u2, z, p): rank-sum U statistics, normal approximation with tie
    * correction (ref AggregateFunctionMannWhitney.cpp), over the rows
    * where neither argument is NULL. One groupBy counts the rows of each
    * distinct value, in all (`__cnt`) and in the first group (`__c1`);
    * the statistics are sums over the ranked values. */
  def mannWhitneyUTest(df: DataFrame, value: Column,
      first: Column): DataFrame = {
    val counts = df.select(value.as("__val"), first.as("__f"))
      .where(col("__val").isNotNull && col("__f").isNotNull)
      .groupBy("__val").agg(count(lit(1)).as("__cnt"),
        count(when(col("__f"), lit(1))).as("__c1"))
    val (cnt, c1) = (col("__cnt"), col("__c1"))
    val (n1, n2) = (sum(c1).cast("double"), sum(cnt - c1).cast("double"))
    val n = n1 + n2
    val tie = sum(pow(cnt, 3) - cnt) // Σ over tie groups of t³−t
    val u1 = sum(col("avg_rank") * c1) - n1 * (n1 + 1) / 2
    val z = (u1 - n1 * n2 / 2) /
      sqrt(n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1))))
    fractionalRanks(counts)
      .agg(u1.as("u1"), (n1 * n2 - u1).as("u2"), z.as("z"))
      .withColumn("p", zPValue(col("z")))
  }
}

/** rankCorr as a true AGGREGATE (the DataFrame-level twin above serves
  * the oracle query): collect (x, y) pairs, final-sort for fractional
  * ranks (average ties), Pearson over the ranks — O(n log n), matching
  * the reference's single-state evaluation
  * (AggregateFunctionRankCorr.h computeRankCorrelation). */
class RankCorrAgg extends org.apache.spark.sql.expressions.Aggregator[
    (Double, Double),
    scala.collection.mutable.ArrayBuffer[(Double, Double)], Double] {
  import scala.collection.mutable.ArrayBuffer
  override def zero: ArrayBuffer[(Double, Double)] = ArrayBuffer.empty
  override def reduce(b: ArrayBuffer[(Double, Double)],
      a: (Double, Double)): ArrayBuffer[(Double, Double)] = { b += a; b }
  override def merge(a: ArrayBuffer[(Double, Double)],
      b: ArrayBuffer[(Double, Double)]): ArrayBuffer[(Double, Double)] =
    a ++= b
  private def ranks(vs: Array[Double]): Array[Double] = {
    val idx = vs.indices.toArray.sortBy(vs)
    val r = new Array[Double](vs.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && vs(idx(j + 1)) == vs(idx(i))) j += 1
      val avg = (i + j + 2) / 2.0 // 1-based average rank of the tie run
      var k = i
      while (k <= j) { r(idx(k)) = avg; k += 1 }
      i = j + 1
    }
    r
  }
  override def finish(b: ArrayBuffer[(Double, Double)]): Double = {
    val n = b.length
    if (n < 2) return Double.NaN
    // NaN input poisons the correlation (IEEE ordering has no rank)
    if (b.exists(t => t._1.isNaN || t._2.isNaN)) return Double.NaN
    val rx = ranks(b.map(_._1).toArray)
    val ry = ranks(b.map(_._2).toArray)
    val mx = rx.sum / n; val my = ry.sum / n
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      val dx = rx(i) - mx; val dy = ry(i) - my
      sxy += dx * dy; sxx += dx * dx; syy += dy * dy
      i += 1
    }
    sxy / math.sqrt(sxx * syy)
  }
  override def bufferEncoder: org.apache.spark.sql.Encoder[
      scala.collection.mutable.ArrayBuffer[(Double, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
    org.apache.spark.sql.Encoders.scalaDouble
}

/** analysisOfVariance / anova(value, group): one-way ANOVA over the
  * groups named by the second argument — tuple (f_statistic, p_value)
  * (ref AggregateFunctionAnalysisOfVariance.h). Per-group moment state
  * (count, sum, sum-of-squares) merges associatively, so partial
  * aggregation holds; p-value from the F distribution. */
class AnovaAgg extends org.apache.spark.sql.expressions.Aggregator[
    (Double, Long), Map[Long, (Long, Double, Double)], (Double, Double)] {
  override def zero: Map[Long, (Long, Double, Double)] = Map.empty
  override def reduce(b: Map[Long, (Long, Double, Double)],
      a: (Double, Long)): Map[Long, (Long, Double, Double)] = {
    val (c, s, q) = b.getOrElse(a._2, (0L, 0.0, 0.0))
    b.updated(a._2, (c + 1, s + a._1, q + a._1 * a._1))
  }
  override def merge(a: Map[Long, (Long, Double, Double)],
      b: Map[Long, (Long, Double, Double)]): Map[Long, (Long, Double, Double)] =
    b.foldLeft(a) { case (acc, (k, (c, s, q))) =>
      val (c0, s0, q0) = acc.getOrElse(k, (0L, 0.0, 0.0))
      acc.updated(k, (c0 + c, s0 + s, q0 + q))
    }
  override def finish(m: Map[Long, (Long, Double, Double)]): (Double, Double) = {
    val k = m.size
    val n = m.values.map(_._1).sum
    if (k < 2 || n <= k) return (Double.NaN, Double.NaN)
    val totalSum = m.values.map(_._2).sum
    val grandMean = totalSum / n
    val ssb = m.values.map { case (c, s, _) =>
      val gm = s / c; c * (gm - grandMean) * (gm - grandMean) }.sum
    val ssw = m.values.map { case (c, s, q) => q - s * s / c }.sum
    // a numerically-degenerate spread (all values identical up to
    // double rounding) is 0/0 in the reference → (nan, nan); the
    // float residue of q - s²/c must not masquerade as variance
    val totalQ = m.values.map(_._3).sum
    if (ssw.abs <= 1e-10 * totalQ.abs && ssb.abs <= 1e-10 * totalQ.abs)
      return (Double.NaN, Double.NaN)
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    if (!java.lang.Double.isFinite(f) || f < 0) return (f, Double.NaN)
    val dist = new org.apache.commons.math3.distribution.FDistribution(
      k - 1.0, (n - k).toDouble)
    val p = math.min(1.0, math.max(0.0, 1.0 - dist.cumulativeProbability(f)))
    (f, p)
  }
  override def bufferEncoder: org.apache.spark.sql.Encoder[
      Map[Long, (Long, Double, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[(Double, Double)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
