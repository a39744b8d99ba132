package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.IntegerType

/** Tests run under the configuration that is timed: the shared test
  * session carries every `Engine.settings` pair, in its SQL conf and in
  * its SparkContext's conf. */
class EngineSettingsSpec extends SparkSpec {
  test("the test session carries every Engine.settings pair") {
    val sc = spark.sparkContext
    Engine.settings(sc.defaultParallelism).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"SQL conf $k")
      assert(sc.getConf.getOption(k).contains(v), s"SparkContext conf $k")
    }
  }

  // 150 distinct classes: more than Spark's default cache (100 entries),
  // fewer than the cap Engine.settings gives it. Generated through the
  // CodeGenerator directly, outside any plan, so ChConstHoistRule cannot
  // hoist the literal and every i compiles its own class.
  test("the codegen cache keeps a working set larger than Spark's default") {
    spark // the cache is sized when CodeGenerator first initializes
    def generate(i: Int) = GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, IntegerType, nullable = false), Literal(i))))
    (0 until 150).foreach(generate)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    generate(0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the first class was evicted and compiled again")
  }
}
