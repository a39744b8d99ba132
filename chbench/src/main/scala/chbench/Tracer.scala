package chbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.chbench.Bus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, HashJoin}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 for an op's root span; all spans
  * of one op share `op`. Times are epoch milliseconds. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    start: Double, end: Double)

/** Traced-run instrumentation. Listeners are attached only around traced
  * ops (`begin` .. `end`), so untraced ops run with none registered. Each
  * metric is summed over the traced ops in which it was recorded and
  * reported as a per-op mean. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext

  /** name -> (sum, number of traced ops that recorded it) */
  val sums = mutable.LinkedHashMap.empty[String, (Double, Int)]
  val spans = mutable.ArrayBuffer.empty[Span]

  def record(name: String, v: Double): Unit = {
    val (s, n) = sums.getOrElse(name, (0.0, 0))
    sums(name) = (s + v, n + 1)
  }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[(TaskInfo, TaskMetrics)]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(t => jobs.add((e.jobId, t, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) tasks.add((e.taskInfo, e.taskMetrics))
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var compileNs0, classes0, gcMs0, gcCount0, jitMs0 = 0L

  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def compilations =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Attach the listeners; called outside the op's timed region. */
  def begin(): Unit = {
    Bus.drain(sc)
    Seq(jobStarts, stageJob).foreach(_.clear())
    Seq(jobs, stages, tasks, qes, progress).foreach(_.clear())
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    compileNs0 = CodeGenerator.compileTime
    classes0 = compilations
    gcMs0 = gcBeans.map(_.getCollectionTime).sum
    gcCount0 = gcBeans.map(_.getCollectionCount).sum
    jitMs0 = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  }

  /** Detach the listeners and fold the op's events into metrics and
    * spans. `build` is the span of the call that built the op's query
    * (the CH-dialect `ChSql.sql` call, or a DataFrame builder). */
  def end(op: Int, opSpan: (Double, Double), build: Option[(String, Double, Double)]): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)

    record("codegen.compile_ms", (CodeGenerator.compileTime - compileNs0) / 1e6)
    record("codegen.classes", (compilations - classes0).toDouble)
    record("jvm.gc_pause_ms", (gcBeans.map(_.getCollectionTime).sum - gcMs0).toDouble)
    record("jvm.gc_count", (gcBeans.map(_.getCollectionCount).sum - gcCount0).toDouble)
    record("jvm.jit_ms", (java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime - jitMs0).toDouble)

    // ---- exec.sched / exec.task / scan / shuffle (listener events)
    val ts = tasks.asScala.toSeq
    val st = stages.asScala.toSeq
    record("exec.jobs", jobs.size.toDouble)
    record("exec.stages", st.size.toDouble)
    record("exec.tasks", ts.size.toDouble)
    record("exec.scheduler_delay_ms", ts.map { case (i, m) =>
      math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime).toDouble }.sum)
    record("exec.executor_run_ms", ts.map(_._2.executorRunTime.toDouble).sum)
    record("exec.executor_cpu_ms", ts.map(_._2.executorCpuTime / 1e6).sum)
    record("exec.task_gc_ms", ts.map(_._2.jvmGCTime.toDouble).sum)
    record("exec.peak_exec_mem_mb",
      (0L +: ts.map(_._2.peakExecutionMemory)).max / 1048576.0)
    record("scan.rows", ts.map(_._2.inputMetrics.recordsRead.toDouble).sum)
    record("shuffle.write_bytes", ts.map(_._2.shuffleWriteMetrics.bytesWritten.toDouble).sum)
    record("shuffle.read_bytes", ts.map(_._2.shuffleReadMetrics.totalBytesRead.toDouble).sum)
    record("shuffle.fetch_wait_ms", ts.map(_._2.shuffleReadMetrics.fetchWaitTime.toDouble).sum)
    record("shuffle.spill_bytes", ts.map { case (_, m) =>
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble }.sum)

    // ---- catalyst phases and executed-plan SQLMetrics
    val q = qes.asScala.toSeq
    def phase(p: String) = q.flatMap(_.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
    record("catalyst.parse_ms", phase("parsing"))
    record("catalyst.analysis_ms", phase("analysis"))
    record("catalyst.optimization_ms", phase("optimization"))
    record("catalyst.planning_ms", phase("planning"))
    val plans = q.map(_.executedPlan)
    val scans = nodes(plans).collect { case s: FileSourceScanExec => s }
    record("scan.files", scans.map(metric(_, "numFiles")).sum)
    record("scan.bytes", scans.map(metric(_, "filesSize")).sum)
    // Dedup's exact-Jaccard check (the only array_intersect in these
    // plans) runs as a Filter or, fused, as a join condition: its input
    // rows are the LSH candidate pairs, its output the verified pairs
    def jaccard(e: Expression) = e.exists(_.isInstanceOf[ArrayIntersect])
    val verify = nodes(plans).collect {
      case f: FilterExec if jaccard(f.condition) => (rowsBelow(f.child), metric(f, "numOutputRows"))
      case j: HashJoin if j.condition.exists(jaccard) =>
        (rowsBelow(if (j.buildSide == BuildRight) j.left else j.right), metric(j, "numOutputRows"))
      case j: BaseJoinExec if j.condition.exists(jaccard) =>
        (rowsBelow(j.left), metric(j, "numOutputRows"))
    }
    if (verify.nonEmpty) {
      record("dedup.candidate_pairs", verify.map(_._1).sum)
      record("dedup.verified_pairs", verify.map(_._2).sum)
    }
    val nlj = nodes(plans).collect { case j: BroadcastNestedLoopJoinExec => j }
    if (nlj.nonEmpty) record("ann.scored_pairs", nlj.map(metric(_, "numOutputRows")).sum)

    // ---- streaming progress
    val ps = progress.asScala.toSeq
    if (ps.nonEmpty) {
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      record("stream.add_batch_ms", dur("addBatch"))
      record("stream.query_planning_ms", dur("queryPlanning"))
      record("stream.wal_commit_ms", dur("walCommit"))
      record("stream.commit_offsets_ms", dur("commitOffsets"))
      val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
      record("stream.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum)
      record("stream.state_bytes", last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum)
      record("stream.state_commit_ms", ps.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum)
      record("stream.late_rows_dropped",
        ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum)
      record("stream.dup_rows_dropped", ps.filter(_.name == "dedup").flatMap { p =>
        p.stateOperators.headOption.map(s =>
          (p.numInputRows - s.numRowsDroppedByWatermark - s.numRowsUpdated).toDouble) }.sum)
    }

    // ---- spans: op -> build (chsql) -> catalyst phase; op -> job -> stage
    val buf = mutable.ArrayBuffer(Span(op, 0, -1, "op", opSpan._1, opSpan._2))
    def add(parent: Int, name: String, s: Double, e: Double): Int = {
      buf += Span(op, buf.size, parent, name, s, e); buf.size - 1
    }
    val buildId = build.map { case (n, s, e) => add(0, n, s, e) }
    for (qe <- q; (p, ph) <- qe.tracker.phases) {
      val parent = build.zip(buildId).collectFirst {
        case ((_, s, e), id) if ph.startTimeMs >= math.floor(s) && ph.endTimeMs <= math.ceil(e) => id
      }.getOrElse(0)
      add(parent, s"catalyst.$p", ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)
    }
    val jobIds = jobs.asScala.toSeq.sortBy(_._1).map { case (j, s, e) =>
      j -> add(0, "job", s.toDouble, e.toDouble) }.toMap
    for (s <- st; sub <- s.submissionTime; done <- s.completionTime)
      add(Option(stageJob.get(s.stageId)).flatMap(j => jobIds.get(j.intValue)).getOrElse(0),
        "stage", sub.toDouble, done.toDouble)
    val opSpans = buf.toSeq
    val self = mutable.LinkedHashMap("op" -> 0.0, "chsql" -> 0.0, "build" -> 0.0,
      "catalyst" -> 0.0, "job" -> 0.0, "stage" -> 0.0)
    for (sp <- opSpans) {
      val kids = opSpans.filter(_.parent == sp.id)
        .map(k => (math.max(k.start, sp.start), math.min(k.end, sp.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, upTo = 0.0
      upTo = sp.start
      for ((a, b) <- kids if b > upTo) { covered += b - math.max(a, upTo); upTo = b }
      val layer = if (sp.name.startsWith("catalyst.")) "catalyst" else sp.name
      self(layer) += sp.end - sp.start - covered
    }
    self.foreach { case (l, v) => record(s"self.${l}_ms", v) }
    spans ++= opSpans
  }

  /** Every node of the executed plans once, AQE query stages included
    * (a stage can be reachable along more than one path). */
  private def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    plans.flatMap(p => collect(p) { case n => n }).filter(seen.add)
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Output rows of the nearest node at or below `p` that counts them. */
  private def rowsBelow(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble)
      .getOrElse(p.children.headOption.map(rowsBelow).getOrElse(0.0))

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}
