package graft

import org.apache.spark.sql.SparkSession

/** Bench runner (driver contract): headline queries at
  * SPARK_GRAFT_SF_DIR on local[32]; prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced end-to-end with a noop sink (count() alone lets
  * Catalyst prune the compute). One tiny warmup query first so JVM/codegen
  * startup is not billed to the first headline entry.
  */
object Bench {

  /** Representative spread: scan, hash agg, joins, window, sort/topN, asof
    * (custom op), minhash LSH, ANN, tumble windows, text pipeline. */
  val headline: Seq[String] = Seq(
    "q_scan_project", "q_agg_basic", "q_join_inner", "q_join_chain",
    "q_window_rank", "q_topn", "q_count_distinct", "q_asof_join",
    "q_tumble_agg", "q_dedup_minhash", "q_ann_topk", "q_text_analysis")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cpus)
    // r16: untimed multi-row-group re-layout of the fixture dir (see
    // BenchLayout) so scans can split and the driver's 8-vs-32-core
    // scaling measurement reads the engine, not the single-row-group
    // fixture layout. Both sessions read the same copy; queries, scale,
    // methodology and the JSON line are unchanged. Falls back to the
    // original dir if the rewrite fails.
    val relaidOut = BenchLayout.relayout(spark, sfDir)
    val benchDir = relaidOut.getOrElse(sfDir)
    // VANILLA control session: the SAME query builders and the same
    // Engine.settings on a session with ZERO engine extensions, sharing
    // the SparkContext. Interleaved with the engine samples it separates
    // host noise (both drift together, ratio ~1) from engine-session
    // overhead (ratio grows) — the recorded artifact carries the
    // per-query engine/control ratio so cross-round comparisons survive
    // host-speed changes (r9 profile conclusion).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val control = Engine.builder(cpus).getOrCreate()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)

    // one Dataset per query per session: construction + analysis happen
    // once (a prepared statement); each timed run still executes the full
    // scan + compute through the noop sink (no data cached between runs)
    val builtE = scala.collection.mutable.HashMap
      .empty[String, org.apache.spark.sql.DataFrame]
    val builtC = scala.collection.mutable.HashMap
      .empty[String, org.apache.spark.sql.DataFrame]
    def force(sess: SparkSession,
        cache: scala.collection.mutable.HashMap[String, org.apache.spark.sql.DataFrame],
        name: String): Unit = {
      SparkSession.setActiveSession(sess)
      cache.getOrElseUpdate(name, SparkEntry.queries(name)(sess, benchDir))
        .write.format("noop").mode("overwrite").save()
    }

    // warmup: JVM + codegen + parquet footer caches. Guarded — a broken
    // warmup query must degrade to a cold first headline run, not zero the
    // round's entire perf signal (round-6 post-mortem).
    try force(spark, builtE, "q_prewhere")
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    try force(control, builtC, "q_prewhere")
    catch { case e: Throwable =>
      System.err.println(s"[bench] control warmup failed: ${e.getMessage}") }

    // Median-of-7 per query, runs INTERLEAVED round-robin over the
    // headline set AND between engine/control: the host shows
    // multi-second sustained slow windows (VM steal); interleaving spreads
    // a window across queries and across the two sessions so each median
    // and each ratio tolerates it.
    val runs = 7
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def sampleBuf() = headline.map(n => n ->
      scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val engineSamples = sampleBuf()
    val controlSamples = sampleBuf()
    def timed(sess: SparkSession,
        cache: scala.collection.mutable.HashMap[String, org.apache.spark.sql.DataFrame],
        samples: Map[String, scala.collection.mutable.ArrayBuffer[Double]],
        name: String, tag: String): Unit = {
      // §1.5 job labels: makes the shared-SparkContext UI/event log
      // attributable per (session, query); no effect on the timing
      sess.sparkContext.setJobDescription(s"bench $tag $name")
      val t0 = System.nanoTime()
      try force(sess, cache, name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $tag $name failed: ${e.getMessage}")
        errors(if (tag == "engine") name else s"${name}__control") =
          Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200) }
      samples(name) += (System.nanoTime() - t0) / 1e9
      // Drop all cached data AFTER the clock stops. Dedup.minhashPairs
      // persists its `hashed`/`sized` barriers when the DataFrame is
      // BUILT, and each query is built once per session, so this clears
      // them for good: run 1 executes with the barriers, runs 2-7 execute
      // the same plan without them (each subtree recomputed per consumer).
      // Applied to engine and control alike — both run the same builders.
      // No-op (<1 ms) for queries that cache nothing.
      sess.catalog.clearCache()
    }
    (1 to runs).foreach { r =>
      headline.foreach { name =>
        // alternate which session goes first so page-cache warmth from
        // the first run doesn't systematically favor the second
        if (r % 2 == 1) {
          timed(spark, builtE, engineSamples, name, "engine")
          timed(control, builtC, controlSamples, name, "control")
        } else {
          timed(control, builtC, controlSamples, name, "control")
          timed(spark, builtE, engineSamples, name, "engine")
        }
      }
    }
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val results = headline.map { name =>
      (name, med(engineSamples(name).toSeq), engineSamples(name).min,
        med(controlSamples(name).toSeq))
    }
    def obj(f: ((String, Double, Double, Double)) => Double): String =
      results.map { r => "\"" + r._1 + f"\":${f(r)}%.3f" }
        .mkString("{", ",", "}")
    val errObj = errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val controlTotal = results.map(_._4).sum
    // ratio_total = engine total / same-host vanilla-Spark control total.
    // This is the PRIMARY per-round perf gate (BASELINE.md "Bench gate"):
    // raw seconds drift with host speed (r11: engine and control both
    // slowed 21-23% together), the interleaved same-JVM ratio does not.
    val ratioTotal = if (controlTotal > 0) total / controlTotal else -1.0
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","ratio_total":$ratioTotal%.3f,"queries":${obj(_._2)},"queries_min":${obj(_._3)},"control":${obj(_._4)},"ratio":${obj(r => if (r._4 > 0) r._2 / r._4 else -1.0)},"control_total":$controlTotal%.3f,"errors":$errObj,"relayout":${relaidOut.isDefined},"sf":"$sfDir"}""")
    relaidOut.foreach(BenchLayout.cleanup)
    spark.stop()
  }
}
