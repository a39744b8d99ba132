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
    // Entries in CodeGenerator's compiled-class cache: one LRU per JVM,
    // shared by every session in it (the role of ClickHouse's
    // compiled-expression cache). Spark's default, 100, is smaller than
    // the working set, so every class was evicted before its next use
    // and compiled (and JIT-compiled) again. Measured on 4 cores:
    // one chbench olap_scan rotation compiles 221 distinct classes, and
    // graft.Bench's interleaved engine + control loop 295 (252 in its
    // first round, engine 144 + control 108, after 43 in the warm-ups);
    // 512 is 1.7x the larger. A filled entry retains 23-25 KB of heap
    // (its key holds the generated source, 5.2 KB mean), so a full cache
    // holds about 12 MB. Static: read once, when the CodeGenerator
    // object initializes, so it takes effect only from the builder,
    // before the JVM's first compile.
    "spark.sql.codegen.cache.maxEntries" -> "512",
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
