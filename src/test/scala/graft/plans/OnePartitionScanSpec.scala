package graft.plans

import graft.{ChSql, SparkSpec, Tables}
import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkThrowable
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import scala.util.Try

/** Short queries in one stage: a plan whose every leaf is a one-split
  * file scan runs without shuffles, answers like the shuffled plan, and
  * every other plan is left as it was. */
class OnePartitionScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sf001 = s"${new java.io.File(SparkSpec.tiny).getParent}/sf0.01"
  // lineitem (1 MB) and orders (280 KB) at sf0.01 read as many splits
  private val split = "spark.sql.files.maxPartitionBytes" -> "65536"

  /** chbench's six point_sql templates, with fixed literals. */
  private val pointSql = Seq(
    "SELECT count() AS n FROM lineitem WHERE l_quantity > 20 " +
      "AND l_shipdate >= toDate('1995-03-01') AND l_shipdate < toDate('1995-09-01')",
    "SELECT l_returnflag, countIf(l_discount > 0.05) AS c, count() AS n " +
      "FROM lineitem WHERE l_suppkey < 60 GROUP BY l_returnflag ORDER BY l_returnflag",
    "SELECT o_orderpriority, uniqExact(o_custkey) AS u FROM orders " +
      "WHERE o_totalprice > 100000 GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT toStartOfMonth(o_orderdate) AS m, count() AS n FROM orders " +
      "WHERE o_custkey % 5 = 2 GROUP BY m ORDER BY m",
    "SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey < 100 " +
      "ORDER BY o_custkey, o_totalprice DESC LIMIT 2 BY o_custkey",
    "SELECT count() AS n, sum(l_linenumber) AS s FROM lineitem " +
      "PREWHERE l_partkey < 1000 WHERE l_quantity < 30")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size
  private def wrapped(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: OnePartitionScanExec => s }.size

  /** Jobs started by `body`, counted once the listener bus is drained. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      Bus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The rule leaves the planned physical plan as it is, and so the
    * executed plan wraps no scan. */
  private def untouched(df: DataFrame): Unit = {
    val planned = df.queryExecution.sparkPlan
    assert(OnePartitionScan(planned) eq planned, planned)
    df.collect()
    assert(wrapped(df) == 0, df.queryExecution.executedPlan)
  }

  test("point_sql shapes at sf0.01 plan no shuffle and run one job") {
    for (q <- pointSql) {
      val df = ChSql.sql(spark, q, sf001)
      val (rows, jobs) = jobsOf(df.collect())
      val plan = df.queryExecution.executedPlan
      assert(rows.nonEmpty, q)
      assert(shuffles(df) == 0, s"$q\n$plan")
      assert(wrapped(df) > 0, s"$q\n$plan")
      assert(jobs == 1, s"$q ran $jobs jobs\n$plan")
      // the rule's listing leaves the scan's file metrics to the scan
      val files = collect(plan) { case s: FileSourceScanExec => s.metrics("numFiles").value }
      assert(files == Seq(1L), s"$q numFiles $files")
    }
  }

  test("the same shapes over split scans keep their exchanges and rows") {
    for (q <- pointSql) {
      val one = ChSql.sql(spark, q, sf001).collect().toSeq
      val df = withConf(split)(ChSql.sql(spark, q, sf001))
      val rows = withConf(split)(df.collect().toSeq)
      assert(wrapped(df) == 0, s"$q\n${df.queryExecution.executedPlan}")
      assert(shuffles(df) > 0, s"$q\n${df.queryExecution.executedPlan}")
      assert(rows == one, q)
    }
  }

  test("a multi-split scan beside a one-split scan: plan unchanged") {
    withConf(split) {
      untouched(ChSql.sql(spark,
        "SELECT s_nationkey, count() AS n FROM lineitem " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "GROUP BY s_nationkey ORDER BY s_nationkey", sf001))
    }
  }

  test("a LocalRelation leaf: plan unchanged") {
    val tags = Seq((0L, "x"), (1L, "y"), (1L, "z")).toDF("n_nationkey", "tag")
    untouched(Tables.load(spark, sf001, "nation").join(tags, "n_nationkey")
      .groupBy("tag").count())
  }

  private def tempDir(): Path = Files.createTempDirectory("one-partition-scan")
  private def delete(dir: Path): Unit =
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()

  test("a scan that selects no file: plan unchanged, the count is one row") {
    val dir = tempDir()
    try {
      spark.range(20).selectExpr("id", "id % 2 AS p").write
        .partitionBy("p").mode("overwrite").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString).where("p = 7").groupBy().count()
      untouched(df)
      assert(df.collect().toSeq == Seq(Row(0L)))
    } finally delete(dir)
  }

  test("the wrapper yields one partition whatever the scan reads") {
    val dir = tempDir()
    try {
      spark.range(2000).selectExpr("id", "id % 2 AS p").repartition(3).write
        .partitionBy("p").mode("overwrite").parquet(dir.toString)
      def scan(where: String) = spark.read.parquet(dir.toString).where(where)
        .queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
      withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
        val (empty, many) = (scan("p = 7"), scan("p = 1"))
        assert(empty.inputRDD.getNumPartitions == 0)
        assert(many.inputRDD.getNumPartitions >= 3)
        for (s <- Seq(empty, many)) {
          val w = OnePartitionScanExec(s)
          val out = if (w.supportsColumnar) w.executeColumnar() else w.execute()
          assert(out.getNumPartitions == 1)
        }
      }
    } finally delete(dir)
  }

  test("a file-source streaming query with state: plan unchanged") {
    val dir = tempDir()
    try {
      val input = dir.resolve("in").toString
      Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "g").coalesce(1)
        .write.parquet(input)
      val q = spark.readStream.schema("k INT, g STRING").parquet(input)
        .groupBy("g").count()
        .writeStream.format("memory").queryName("one_partition_stream")
        .outputMode("complete")
        .option("checkpointLocation", dir.resolve("ckpt").toString).start()
      try {
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        assert(plan.collect { case s: FileSourceScanExec => s }.nonEmpty, plan)
        assert(plan.collect { case s: StateStoreSaveExec => s }.nonEmpty, plan)
        assert(plan.collect { case s: ShuffleExchangeExec => s }.nonEmpty, plan)
        assert(plan.collect { case s: OnePartitionScanExec => s }.isEmpty, plan)
        assert(spark.table("one_partition_stream").as[(String, Long)]
          .collect().toMap == Map("a" -> 2L, "b" -> 1L))
      } finally q.stop()
    } finally delete(dir)
  }

  test("a global count whose filter selects no row still returns one row") {
    val df = ChSql.sql(spark,
      "SELECT count() AS n FROM lineitem WHERE l_quantity > 1000", sf001)
    assert(df.collect().toSeq == Seq(Row(0L)))
    assert(wrapped(df) > 0, df.queryExecution.executedPlan)
  }

  // ---- equivalence: the one-split plan against the shuffled plan

  /** Rows as text (NaN equal to NaN), or the error the query raised. */
  private def outcome(df: DataFrame, ordered: Boolean): Either[String, Seq[String]] =
    Try {
      val rows = df.collect().toSeq.map(_.toString)
      if (ordered) rows else rows.sorted
    }.toEither.left.map {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
      case t => t.getClass.getName
    }

  /** Generated code must compile: no silent fallback to interpretation. */
  private def codegenOnly[T](body: => T): T = withConf(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = true),
    StructField("g", StringType, nullable = true),
    StructField("x", DoubleType, nullable = true),
    StructField("d", DateType, nullable = true)))

  private def table(n: Int, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def maybe[T](v: => T): Any = if (rnd.nextInt(12) == 0) null else v
    Seq.fill(n)(Row(
      maybe(rnd.nextInt(450) - 50),
      maybe(Seq("a", "b", "c", "d", "é", "")(rnd.nextInt(6))),
      maybe(if (rnd.nextInt(40) == 0) Double.NaN else rnd.nextInt(4000) / 4.0 - 500),
      maybe(Date.valueOf(LocalDate.ofEpochDay(9000L + rnd.nextInt(3000))))))
  }

  private val keys = Seq("k % 7", "g", "d", "x > 0", "k")
  private def filters(t: Int): Seq[String => String] = Seq(
    _ => "true", p => s"${p}k < $t", p => s"${p}x > ${t / 2.0}",
    p => s"${p}g <> 'b'", p => s"${p}d >= DATE'1995-01-01' + $t",
    p => s"${p}k IS NULL OR ${p}x IS NULL")
  /** (SQL over view `v`, whether its row order is defined) */
  private def shapes(key: String, f: String => String): Seq[(String, Boolean)] = Seq(
    (s"SELECT $key AS key, count(*) AS n, sum(k) AS s, min(x) AS lo, " +
      s"max(g) AS hi, count(DISTINCT g) AS u FROM v WHERE ${f("")} " +
      "GROUP BY 1 ORDER BY 1", true),
    (s"SELECT count(*), sum(k), min(d), max(x) FROM v WHERE ${f("")}", true),
    (s"SELECT k, g, rank() OVER (PARTITION BY $key ORDER BY k) AS r, " +
      s"count(*) OVER (PARTITION BY $key) AS c FROM v WHERE ${f("")}", false),
    (s"SELECT a.g, count(*) AS n, sum(b.k) AS s FROM v a JOIN v b " +
      s"ON a.k = b.k WHERE ${f("a.")} GROUP BY a.g", false),
    (s"SELECT k, g, x FROM v WHERE ${f("")} ORDER BY k, g, x LIMIT 50", true))

  private val inputs = for {
    n <- Gen.choose(0, 3000)
    seed <- Gen.long
    key <- Gen.oneOf(keys)
    t <- Gen.choose(-50, 400)
    f <- Gen.oneOf(filters(t))
    shape <- Gen.choose(0, 4)
    broadcast <- Gen.oneOf(true, false)
  } yield (n, seed, key, f, shape, broadcast)

  test("one-split and shuffled plans answer alike over generated tables") {
    var fired = 0
    val prop = Prop.forAllNoShrink(inputs) { case (n, seed, key, f, shape, broadcast) =>
      val dir = tempDir().resolve("t").toString
      try {
        // small row groups, so a forced split spreads rows over partitions
        spark.createDataFrame(spark.sparkContext.parallelize(table(n, seed), 2), schema)
          .coalesce(1).write.option("parquet.block.size", "8192").parquet(dir)
        spark.read.parquet(dir).createOrReplaceTempView("v")
        val size = Files.list(java.nio.file.Paths.get(dir)).toArray
          .map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
          .map(Files.size).sum
        // at least three splits: the one-split plan is planned at the
        // default split size and then executed at this one, so its
        // wrapper must merge the splits itself
        val forced = "spark.sql.files.maxPartitionBytes" -> (size / 3 + 1).toString
        val join = "spark.sql.autoBroadcastJoinThreshold" -> (if (broadcast) "10485760" else "-1")
        val (sql, ordered) = shapes(key, f)(shape)
        val (one, oneSplits) = withConf(join) {
          val df = spark.sql(sql)
          if (wrapped(df) > 0) fired += 1
          withConf(forced) {
            (codegenOnly(outcome(df, ordered)), collect(df.queryExecution.executedPlan) {
              case s: FileSourceScanExec => s.inputRDD.getNumPartitions
            })
          }
        }
        val reference = withConf(join, forced) {
          val df = spark.sql(sql)
          val out = codegenOnly(outcome(df, ordered))
          assert(wrapped(df) == 0, df.queryExecution.executedPlan)
          out
        }
        val ok = one == reference && oneSplits.forall(_ >= 2)
        if (!ok) println(s"[OnePartitionScanSpec] n=$n seed=$seed " +
          s"broadcast=$broadcast splits=$oneSplits\n  $sql\n" +
          s"  one-split: $one\n  shuffled:  $reference")
        ok
      } finally delete(java.nio.file.Paths.get(dir).getParent)
    }
    val seed = Seed.random()
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(seed),
      prop)
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(0))}")
    assert(fired > 0, "the rule fired for no generated query")
  }
}
