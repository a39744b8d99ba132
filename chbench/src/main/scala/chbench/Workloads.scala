package chbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Output of one timed op: its result rows, and the span of the call
  * that built its query (`chsql` for CH-dialect SQL, `build` for a
  * DataFrame builder). */
final case class OpOut(rows: Iterable[Seq[Any]], build: Option[(String, Double, Double)])

/** One workload: a fixed list of ops over inputs generated by `gen.py`.
  * Op `i` is described by `spec(i)`; `run` is the timed part. */
abstract class Workload(val spark: SparkSession, val data: String,
    val spec: IndexedSeq[Map[String, Any]]) {
  def rows(i: Int): Long = spec(i)("rows").toString.toLong
  /** Untimed work before op i. */
  def prepare(i: Int): Unit = ()
  def run(i: Int, tracer: Option[Tracer]): OpOut
  /** Untimed traced-only work after op i. */
  def afterTraced(i: Int, t: Tracer): Unit = ()
  /** Untimed traced-only work at the end of the run. */
  def kernels(t: Tracer): Unit = ()
  def oracle: Map[String, String] = Map.empty
  def close(): Unit = ()

  protected def collected(df: DataFrame): Iterable[Seq[Any]] = df.collect().map(_.toSeq)
}

object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def ms(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Short CH-dialect queries through `ChSql.sql`, one fresh literal set
  * per op. */
final class PointSql(spark: SparkSession, data: String, spec: IndexedSeq[Map[String, Any]])
    extends Workload(spark, data, spec) {
  private def sqlOf(i: Int) = spec(i)("sql").toString

  def run(i: Int, tracer: Option[Tracer]): OpOut = {
    val t0 = Clock.ms()
    val df = graft.ChSql.sql(spark, sqlOf(i), data)
    val t1 = Clock.ms()
    OpOut(collected(df), Some(("chsql", t0, t1)))
  }

  // translation is timed separately, after the op: inside ChSql.sql it
  // runs interleaved with the other rewrites and has no boundary to time
  override def afterTraced(i: Int, t: Tracer): Unit = {
    val t0 = System.nanoTime()
    graft.ChSql.translate(sqlOf(i))
    t.record("chsql.translate_ms", (System.nanoTime() - t0) / 1e6)
  }
}

/** Named query builders from `SparkEntry.queries`, each op building its
  * DataFrame fresh and collecting it. Cached data a builder persisted is
  * released inside the op, as `Dedup.minhashPairs` documents; the traced
  * run records the cached size before the release. */
final class Queries(spark: SparkSession, data: String, spec: IndexedSeq[Map[String, Any]])
    extends Workload(spark, data, spec) {
  private def name(i: Int) = spec(i)("query").toString

  def run(i: Int, tracer: Option[Tracer]): OpOut = {
    val t0 = Clock.ms()
    val df = graft.SparkEntry.queries(name(i))(spark, data)
    val t1 = Clock.ms()
    val rows = collected(df)
    tracer.foreach { t =>
      val mb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      if (mb > 0) t.record("cache.storage_mb", mb)
    }
    spark.catalog.clearCache()
    OpOut(rows, Some(("build", t0, t1)))
  }

  override def oracle: Map[String, String] =
    spec.flatMap(_.get("query")).map(_.toString).distinct
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  /** Single-thread ns per call of each fused kernel over the corpus. */
  override def kernels(t: Tracer): Unit = {
    val texts = spark.read.parquet(s"$data/documents.parquet")
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val tokens = texts.map(s => new GenericArrayData(
      s.toString.split(" ").map(UTF8String.fromString).asInstanceOf[Array[Any]]))
    val ref = BoundReference(0, StringType, nullable = true)
    val sh = graft.functions.ShingleHashes(ref, 3)
    val mh = graft.functions.MinHashBands(BoundReference(0, ArrayType(LongType), true), 64, 16)
    val simh = graft.functions.SimHash64(BoundReference(0, ArrayType(StringType), true))
    val stats = graft.functions.TextStats(ref)
    val shingled = texts.map(sh.kernel)
    def perCall(n: Int)(f: Int => Any): Double = {
      var reps, calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200e6 || reps < 2) {
        var i = 0
        while (i < n) { f(i); i += 1 }
        reps += 1; calls += n
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    t.record("kernel.shingle_ns_per_doc", perCall(texts.length)(i => sh.kernel(texts(i))))
    t.record("kernel.minhash_ns_per_doc", perCall(texts.length)(i => mh.kernel(shingled(i))))
    t.record("kernel.simhash_ns_per_doc", perCall(texts.length)(i => simh.kernel(tokens(i))))
    t.record("kernel.textstats_ns_per_doc", perCall(texts.length)(i => stats.kernel(texts(i))))
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("embedding")
      .limit(2000).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0)))
    val at = ArrayType(FloatType)
    val dot = graft.functions.VectorOps.DotD(BoundReference(0, at, true), BoundReference(1, at, true))
    val pairs = vecs.indices.map(i => InternalRow(vecs(i), vecs((i * 7 + 1) % vecs.length)))
    t.record("kernel.dot_ns_per_pair", perCall(pairs.length)(i => dot.eval(pairs(i))))
  }
}

/** Ops of two kinds in one rotation: an op whose spec names a `batch` is
  * a micro-batch through the streams of `StreamIngest`, any other a
  * query of `Queries`. */
final class Mixed(spark: SparkSession, data: String,
    spec: IndexedSeq[Map[String, Any]], tmp: String)
    extends Workload(spark, data, spec) {
  private val queries = new Queries(spark, data, spec)
  private val stream = new StreamIngest(spark, data, spec, tmp)
  private def part(i: Int): Workload = if (spec(i).contains("batch")) stream else queries

  override def prepare(i: Int): Unit = part(i).prepare(i)
  def run(i: Int, tracer: Option[Tracer]): OpOut = part(i).run(i, tracer)
  override def afterTraced(i: Int, t: Tracer): Unit = part(i).afterTraced(i, t)
  override def kernels(t: Tracer): Unit = queries.kernels(t)
  override def oracle: Map[String, String] = queries.oracle
  override def close(): Unit = { stream.close(); queries.close() }
}

/** One streamed event. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Long)

/** Seeded event micro-batches pushed through three checkpointed streaming
  * queries at once: tumbling and hopping window aggregates and
  * watermark-bounded dedup. An op adds one batch to all three sources and
  * waits until each query has processed it. */
final class StreamIngest(spark: SparkSession, data: String,
    spec: IndexedSeq[Map[String, Any]], tmp: String)
    extends Workload(spark, data, spec) {
  import spark.implicits._

  private val srcs = Seq.fill(3)(MemoryStream[Ev](implicitly[org.apache.spark.sql.Encoder[Ev]], spark))
  private val dedupCount = new java.util.concurrent.atomic.AtomicLong()
  private val windows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()

  private def sink(df: DataFrame, name: String)(f: Dataset[Row] => Unit): StreamingQuery =
    df.writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/checkpoint/$name")
      .foreachBatch(new org.apache.spark.api.java.function.VoidFunction2[Dataset[Row], java.lang.Long] {
        def call(b: Dataset[Row], id: java.lang.Long): Unit = f(b)
      }).start()

  private def aggs = Seq(count(lit(1)).as("n"), sum("value").as("total"))
  private def windowRows(kind: String)(b: Dataset[Row]): Unit =
    b.select("window_start", "event_type", "n", "total").collect()
      .foreach(r => windows.add(kind +: r.toSeq))

  private val queries = Seq(
    sink(graft.streaming.Streams.tumbleAggregate(srcs(0).toDF(), "ts", "30 seconds",
      "90 seconds", Seq("event_type"), aggs), "tumble")(windowRows("tumble")),
    sink(graft.streaming.Streams.hopAggregate(srcs(1).toDF(), "ts", "30 seconds",
      "60 seconds", "90 seconds", Seq("event_type"), aggs), "hop")(windowRows("hop")),
    sink(graft.streaming.Streams.dedupStream(srcs(2).toDF(), "ts", "90 seconds",
      Seq("event_id")), "dedup")(b => dedupCount.addAndGet(b.count())))

  private var batch: Seq[Ev] = Seq.empty

  override def prepare(i: Int): Unit = {
    val src = scala.io.Source.fromFile(s"$data/${spec(i)("batch")}", "UTF-8")
    try batch = src.getLines().map { l =>
      val f = l.split('\t')
      Ev(f(0).toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(f(1).toLong * 1000L)),
        f(2).toLong, f(3), f(4).toLong)
    }.toVector
    finally src.close()
  }

  def run(i: Int, tracer: Option[Tracer]): OpOut = {
    srcs.foreach(_.addData(batch))
    queries.foreach(_.processAllAvailable())
    // cumulative outcome after this batch: rows dedup emitted, and every
    // window the aggregates have finalized so far
    OpOut(Seq(Seq("dedup", dedupCount.get())) ++ windows.asScala.toSeq, None)
  }

  override def close(): Unit = queries.foreach(_.stop())
}
