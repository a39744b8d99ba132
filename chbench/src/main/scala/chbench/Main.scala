package chbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One measured JVM of a benchmark run (launched by `run.py`).
  *
  * Sets up (session start, input registration, a fixed-count warm-up),
  * then runs the workload's ops in a closed loop, one client thread, in
  * the rotation order of its op mix (`--rotation` ops) until `--seconds`
  * of wall time have passed, or earlier when the next op might end after
  * `--deadline-s` seconds from launch; the first rotation always runs.
  * Every op's result is reduced to a digest that `run.py` checks. With `--trace 1` every other op is traced (the
  * ops between them run with no listeners attached, which gives the
  * tracing overhead) and the per-layer metrics and spans are recorded.
  * Writes one JSON document to `--out`.
  *
  * args: --workload W --data DIR --ops FILE --warmup N --rotation R
  *       --seconds S --trace 0|1 --launch-ns T --deadline-s D --tmp DIR
  *       --out FILE
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val warmup = a("warmup").toInt
    val rotation = a("rotation").toInt
    val trace = a("trace") == "1"
    val spec = mapper.readValue(new java.io.File(a("ops")), classOf[Seq[Map[String, Any]]])
      .toIndexedSeq

    val spark = graft.Engine.session(Runtime.getRuntime.availableProcessors, "chbench")
    val wl = a("workload") match {
      case "point_sql" => new PointSql(spark, a("data"), spec)
      case "olap_scan" => new Mixed(spark, a("data"), spec, a("tmp"))
      case "text_vector" => new Queries(spark, a("data"), spec)
      case "stream_ingest" => new StreamIngest(spark, a("data"), spec, a("tmp"))
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    final case class Rec(i: Int, ms: Double, cpuS: Double, traced: Boolean,
        error: Option[String], d: Digest.D, lines: Seq[String] = Seq.empty)
    val kept = mutable.Set.empty[String]
    def runOp(i: Int, traced: Boolean): Rec = {
      wl.prepare(i)
      if (traced) tracer.get.begin()
      val cpu0 = os.getProcessCpuTime
      val w0 = Clock.ms()
      val t0 = System.nanoTime()
      val out = try Right(wl.run(i, if (traced) tracer else None))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        tracer.get.end(i, (w0, w0 + ms), out.toOption.flatMap(_.build))
        wl.afterTraced(i, tracer.get)
      }
      out match {
        case Right(o) =>
          val lines = Digest.lines(o.rows)
          val d = Digest.of(lines)
          val keep = Digest.hasFloat(o.rows) && kept.add(d.sha256)
          Rec(i, ms, cpuS, traced, None, d, if (keep) lines.toSeq else Seq.empty)
        case Left(e) =>
          System.err.println(s"[chbench] op $i failed: $e")
          Rec(i, ms, cpuS, traced, Some(String.valueOf(e)), Digest.D(0, ""))
      }
    }

    val warm = (0 until math.min(warmup, spec.size)).map(runOp(_, traced = false))
    val setupS = (System.nanoTime() - a("launch-ns").toLong) / 1e9

    // host reference: a fixed single-thread loop, timed between traced ops
    val spins = mutable.ArrayBuffer.empty[Double]
    def spin(): Unit = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var k = 0
      while (k < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
      if (x == 42L) println()
      spins += (System.nanoTime() - t0) / 1e6
    }

    // ops run in rotation order until --seconds have passed; the first
    // rotation always completes, so every op of the mix is timed at least
    // once (run.py weights each op by its position in the rotation, so a
    // partly run last rotation leaves the mix unchanged). An op starts only
    // if one as long as the longest so far would end before the deadline
    val deadline = a("launch-ns").toLong + (a("deadline-s").toDouble * 1e9).toLong
    val recs = mutable.ArrayBuffer.empty[Rec]
    val start = System.nanoTime()
    var i = warm.size
    var longestNs = 0L
    while (i < spec.size && (recs.size < rotation ||
        (System.nanoTime() - start) / 1e9 < seconds && System.nanoTime() + longestNs < deadline)) {
      // alternate within a rotation and shift by one each rotation, so
      // every op of the mix is traced and untraced equally often
      val k = i - warm.size
      val traced = trace && (k % rotation + k / rotation) % 2 == 0
      if (traced) spin()
      val t0 = System.nanoTime()
      recs += runOp(i, traced)
      longestNs = math.max(longestNs, System.nanoTime() - t0)
      i += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9

    tracer.foreach(wl.kernels)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val oracle = wl.oracle
    wl.close()
    tracer.foreach(_.writeSpans(a("out") + ".spans.jsonl"))

    def recJson(r: Rec) = Map("i" -> r.i, "ms" -> r.ms, "cpu_s" -> r.cpuS,
      "traced" -> r.traced, "error" -> r.error.orNull, "rows" -> r.d.rows,
      "sha256" -> r.d.sha256, "lines" -> r.lines, "in_rows" -> wl.rows(r.i))
    val result = Map(
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "heap_mb" -> heapMb,
      "warmup" -> warm.map(recJson),
      "ops" -> recs.map(recJson),
      "metrics" -> tracer.map(_.sums.map { case (k, (s, n)) => k -> Seq(s, n) }.toMap)
        .getOrElse(Map.empty),
      "spin_ms" -> spins,
      "oracle" -> oracle)
    mapper.writeValue(new java.io.File(a("out")), result)
    spark.stop()
  }
}
