package graft

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
}
