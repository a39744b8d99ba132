package graft.plans

import graft.{SparkSpec, Tables}
import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}
import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import scala.util.Try

/** Literal-independent codegen: primitive constants of comparisons and
  * arithmetic become [[ChConst]] in physical plans, so a query shape
  * compiles once whatever its constants, answers exactly like the
  * interpreted path, and leaves scan pushdown and plan text untouched. */
class ChConstSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compilations: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def consts(plan: SparkPlan): Seq[ChConst] =
    collectWithSubqueries(plan) { case p =>
      p.expressions.flatMap(_.collect { case c: ChConst => c })
    }.flatten

  test("a query shape re-run with new constants compiles no new class") {
    Tables.load(spark, SparkSpec.tiny, "lineitem")
      .createOrReplaceTempView("chconst_lineitem")
    def run(qty: Int, disc: Double, day: String): Row = spark.sql(
      s"""SELECT count(*), sum(l_extendedprice * (1 - l_discount)),
         |       max(l_linenumber + $qty)
         |FROM chconst_lineitem
         |WHERE l_quantity > $qty AND l_discount < $disc
         |  AND l_shipdate >= DATE'$day'""".stripMargin).head()
    val c0 = compilations
    val first = run(25, 0.05, "1995-01-01")
    assert(compilations > c0, "the first run of a fresh shape compiles")
    val c1 = compilations
    val second = run(12, 0.07, "1993-06-15")
    assert(compilations === c1)
    assert(first.getLong(0) != second.getLong(0))
  }

  test("ChConst renders like the Literal it replaces") {
    val d = Literal(Date.valueOf("1995-01-01"))
    assert(ChConst(d).toString === d.toString)
    assert(ChConst(d).sql === d.sql)
    assert(ChConst(Literal(Double.NaN)) === ChConst(Literal(Double.NaN)))
  }

  test("scan pushdown and executed plan text keep the literals") {
    val df = Tables.load(spark, SparkSpec.tiny, "lineitem")
      .where("l_quantity > 25 AND l_shipdate >= DATE'1995-01-01'")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scan = collectFirst(plan) { case s: FileSourceScanExec => s }.get
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_quantity,25.0)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate,1995-01-01"), pushed)
    assert(consts(plan).nonEmpty, "the filter above the scan is hoisted")
    val text = plan.toString
    val asLiterals = plan.transformAllExpressions {
      case c: ChConst => c.lit
    }.toString
    assert(text === asLiterals)
    assert(text.contains("> 25.0)") && text.contains(">= 1995-01-01"), text)
    assert(!text.contains("ChConst") && !text.contains("graft."), text)
  }

  // ---- equivalence: whole-stage codegen with ChConst vs interpretation

  private case class Case(name: String, dataType: DataType, gen: Gen[Any],
      arithmetic: Boolean)

  private def withEdges[T](g: Gen[T], edges: T*): Gen[Any] =
    Gen.frequency(3 -> g, 2 -> Gen.oneOf(edges))

  private val days = Gen.choose(-25000, 47000)
  private val cases = Seq(
    Case("Byte", ByteType, withEdges(Gen.choose(Byte.MinValue, Byte.MaxValue),
      Byte.MinValue, Byte.MaxValue, 0.toByte, -1.toByte), arithmetic = true),
    Case("Short", ShortType, withEdges(Gen.choose(Short.MinValue, Short.MaxValue),
      Short.MinValue, Short.MaxValue, 0.toShort), arithmetic = true),
    Case("Int", IntegerType, withEdges(Gen.choose(-1000, 1000),
      Int.MinValue, Int.MaxValue, 0), arithmetic = true),
    Case("Long", LongType, withEdges(Gen.choose(-1000L, 1000L),
      Long.MinValue, Long.MaxValue, 0L), arithmetic = true),
    Case("Float", FloatType, withEdges(Gen.choose(-1e6f, 1e6f),
      Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinValue, Float.MaxValue), arithmetic = true),
    Case("Double", DoubleType, withEdges(Gen.choose(-1e9, 1e9),
      Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinValue, Double.MaxValue), arithmetic = true),
    Case("Date", DateType,
      withEdges(days, 0, -1, 47000).map(d =>
        Date.valueOf(LocalDate.ofEpochDay(d.asInstanceOf[Int].toLong))),
      arithmetic = false),
    Case("Timestamp", TimestampType,
      withEdges(Gen.choose(-2000000000000000L, 4000000000000000L), 0L, -1L)
        .map(us => Timestamp.from(
          Instant.EPOCH.plusNanos(us.asInstanceOf[Long] * 1000L))),
      arithmetic = false),
    Case("Boolean", BooleanType, Gen.oneOf(true, false), arithmetic = false),
  )

  /** Rows as text (keeps -0.0 apart from 0.0, NaN equal to NaN), or the
    * error the query raised. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    Try(df.collect().toSeq.map(_.toString).sorted).toEither.left.map {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
      case t => t.getClass.getName
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Generated code must compile: no silent fallback to interpretation. */
  private def codegenOnly[T](body: => T): T = withConf(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  private def interpreted[T](body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  for (c <- cases) test(s"${c.name} constants: codegen answers like interpretation") {
    val schema = StructType(Seq(StructField("c", c.dataType, nullable = true)))
    val column = Gen.listOf(Gen.option(c.gen)).map(_.take(12))
    var hoisted = 0
    val prop = Prop.forAllNoShrink(column, c.gen) { (values, v) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(values.map(x => Row(x.orNull)), 1),
        schema)
      val k = lit(v)
      val cmp: Seq[Column] = Seq(col("c") < k, col("c") <= k, col("c") === k,
        col("c") <=> k, col("c") > k, col("c") >= k, k =!= col("c"))
      val arith: Seq[Column] =
        if (c.arithmetic) Seq(col("c") + k, col("c") - k, k * col("c"))
        else Nil
      val queries: Seq[() => DataFrame] = Seq(
        () => df.select(col("c") +: (cmp ++ arith): _*),
        () => df.where(col("c") >= k).groupBy(col("c") > k).count())
      queries.forall { q =>
        val compiled = q()
        val got = codegenOnly(outcome(compiled))
        if (collectFirst(compiled.queryExecution.executedPlan) {
            case w: WholeStageCodegenExec if consts(w).nonEmpty => w
          }.nonEmpty) hoisted += 1
        val want = interpreted(outcome(q()))
        if (got != want) println(s"[ChConstSpec] ${c.name} $v $values: " +
          s"codegen $got, interpreted $want")
        got == want
      }
    }
    val seed = Seed.random()
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(seed),
      prop)
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(0))}")
    assert(hoisted > 0, "no whole-stage codegen plan carried a ChConst")
  }
}
