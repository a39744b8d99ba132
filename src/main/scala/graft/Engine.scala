package graft

import org.apache.spark.sql.SparkSession

/** The one place sessions are configured. Every session — engine, bench
  * control, oracle dump, tests — folds the same `settings` into its
  * builder, so the configuration that is checked is the one that is timed.
  */
object Engine {
  /** UTC session time zone (oracle parity), shuffle partitions sized to
    * the core count rather than the 200 default, AQE on (runtime re-plan,
    * skew join splitting — the Spark analog of the reference's
    * JoinSwitcher `src/Interpreters/JoinSwitcher.h:16` adaptive fallback).
    */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // Respect the advisory partition size when coalescing post-shuffle
    // partitions instead of maximizing parallelism: fewer, fuller tasks
    // cut scheduler overhead on small stages and the advisory size (not
    // core count) governs at the 100 TB end.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Always use the sort-based shuffle writer (the one every >200-
    // partition production shuffle uses). The bypass-merge writer opens
    // one file PER REDUCE PARTITION PER MAP TASK — an O(M·R) syscall
    // storm that dominated small-stage wall time here (r15 stack
    // sampling: FileOutputStream.open0 via DiskBlockObjectWriter was
    // the top frame; the dedup pair stage dropped 390→86 ms wall with
    // this). Aligning the local writer with the at-scale one removes
    // it without touching any plan.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost")

  /** Every setting, no extensions: Bench's vanilla-Spark control. */
  def builder(cores: Int, app: String = "graft"): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName(app)
      .config(settings(cores).toMap)

  def session(cores: Int = 32, app: String = "graft"): SparkSession = {
    val spark = builder(cores, app)
      .withExtensions(new graft.plans.ChExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
