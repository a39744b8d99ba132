package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r16 measurement tool (r15 VERDICT next-round item 8): sustained-load
  * harness for the streaming operators — tumbleAggregate, hopAggregate,
  * dedupStream — which had correct shapes but had never been measured
  * under load.
  *
  * Drives each operator from the built-in rate source for a fixed wall
  * interval and reports, per micro-batch progress sample: input and
  * processed rows/sec, batch duration, and state-store size (rows +
  * bytes), plus the rows the dedup stream dropped. Event time is
  * synthetic (40 ms per group of 4 counter ticks: 10 ms per row on
  * average), so the watermark advances deterministically with load and
  * the harness can check the key scale property: STATE SIZE PLATEAUS
  * (bounded by the watermark horizon), it does not grow with stream
  * length.
  *
  * args: [rowsPerSecond=200000] [secondsPerOp=30]
  * Results are recorded in SCALE.md ("Streaming under load").
  */
object StreamLoad {
  def main(args: Array[String]): Unit = {
    val rps = if (args.length > 0) args(0).toLong else 200000L
    val secs = if (args.length > 1) args(1).toInt else 30
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus.toInt)

    // rate source -> event-shaped rows; each group of 4 consecutive
    // counter ticks shares one dup_key and one event time (epoch + 40 ms
    // per group: deterministic, monotone per partition), so the dedup
    // stream drops 3 of every 4 rows; 1000 users, 4 event types
    val group = expr("value DIV 4")
    def events: DataFrame = spark.readStream
      .format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8)
      .load()
      .select(
        timestamp_millis(lit(1700000000000L) + group * 40).as("ts"),
        (col("value") % 1000).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("error")), (col("value") % 4 + 1).cast("int")).as("event_type"),
        (col("value") % 97).cast("double").as("value"),
        group.as("dup_key"))

    def run(tag: String, df: DataFrame, outputMode: String): Unit = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_stream_$tag").toString
      val q = df.writeStream
        .format("noop")
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .start()
      try {
        Thread.sleep(secs * 1000L)
        val ps = q.recentProgress
        println(s"[streamload] $tag: ${ps.length} progress samples " +
          s"@ $rps rows/s requested, $secs s")
        ps.foreach { p =>
          val st = p.stateOperators.headOption
          val dupDrop = st.flatMap(s => Option(s.customMetrics
            .get("numDroppedDuplicateRows"))).map(_.longValue).getOrElse(-1L)
          println(f"[streamload]   batch ${p.batchId}%3d " +
            f"in=${p.inputRowsPerSecond}%,.0f r/s " +
            f"proc=${p.processedRowsPerSecond}%,.0f r/s " +
            f"dur=${p.batchDuration}%5d ms " +
            f"stateRows=${st.map(_.numRowsTotal).getOrElse(-1L)}%9d " +
            f"stateMB=${st.map(_.memoryUsedBytes).getOrElse(-1L) / 1e6}%8.1f " +
            f"evict=${st.map(_.numRowsRemoved).getOrElse(-1L)}%8d " +
            f"dupDrop=${dupDrop}%8d")
        }
      } finally {
        q.stop()
        BenchLayout.cleanup(ckpt)
      }
    }

    // 1. tumbling 1-minute windows, 30 s bounded watermark, keyed by type
    run("tumble_agg", graft.streaming.Streams.tumbleAggregate(
      events, "ts", "1 minute", "30 seconds", Seq("event_type"),
      Seq(count(lit(1)).as("n"), sum("value").as("sv"))), "append")

    // 2. hopping 2-minute windows every 30 s (4 windows per row)
    run("hop_agg", graft.streaming.Streams.hopAggregate(
      events, "ts", "30 seconds", "2 minutes", "30 seconds",
      Seq("event_type"), Seq(count(lit(1)).as("n"))), "append")

    // 3. streaming exact dedup within the watermark horizon
    run("dedup_stream", graft.streaming.Streams.dedupStream(
      events, "ts", "30 seconds", Seq("dup_key", "ts")), "append")

    spark.stop()
  }
}
