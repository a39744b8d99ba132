package graft.functions

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => EE}

/** Unit pins for the bounded top-k aggregate (r11 verdict #3: SCALE.md's
  * plan claim needs CI backing):
  *  - Buf trims at its 4k capacity boundary without losing winners;
  *  - merge is order-insensitive (map-side combine determinism);
  *  - ties order score DESC then id ASC;
  *  - serde round-trips the trimmed buffer;
  *  - the q_ann_topk physical plan carries a PARTIAL-mode
  *    ObjectHashAggregate with bounded_top_k BELOW the Exchange — the
  *    map-side combine that keeps the ranking shuffle at
  *    partitions·k·|q| buffer entries instead of n·|q| scored rows.
  */
class TopKAggSpec extends SparkSpec {

  private def evalIds(b: TopKAgg.Buf, k: Int): Seq[(Double, Long)] = {
    b.trim()
    (0 until b.n).map(i => (b.scores(i), b.ids(i)))
      .sortBy { case (s, id) => (-s, id) }.take(k)
  }

  test("Buf trims at the capacity boundary and keeps the best k") {
    val k = 2
    val b = new TopKAgg.Buf(k) // capacity max(4k, 8) = 8
    // 25 inserts force three trims; winners arrive before, at, and
    // after trim boundaries
    val entries = (1 to 25).map(i => (i * 0.5, i.toLong))
    entries.foreach { case (s, id) => b.add(s, id) }
    assert(evalIds(b, k) == Seq((12.5, 25L), (12.0, 24L)))
  }

  test("merge matches single-buffer insertion regardless of split") {
    val k = 3
    val entries = (1 to 40).map(i => ((i % 7) * 1.0, i.toLong))
    val whole = new TopKAgg.Buf(k)
    entries.foreach { case (s, id) => whole.add(s, id) }
    for (cut <- Seq(1, 13, 39)) {
      val (l, r) = entries.splitAt(cut)
      val a = new TopKAgg.Buf(k); l.foreach { case (s, id) => a.add(s, id) }
      val c = new TopKAgg.Buf(k); r.foreach { case (s, id) => c.add(s, id) }
      val agg = TopKAgg.BoundedTopK(EE(lit(0)), EE(lit(0L)), k)
      val merged = agg.merge(a, c)
      assert(evalIds(merged, k) == evalIds(whole, k), s"cut=$cut")
    }
  }

  test("ties break score DESC then id ASC") {
    val b = new TopKAgg.Buf(2)
    Seq((1.0, 9L), (1.0, 3L), (1.0, 7L), (0.5, 1L))
      .foreach { case (s, id) => b.add(s, id) }
    assert(evalIds(b, 2) == Seq((1.0, 3L), (1.0, 7L)))
  }

  test("serialize/deserialize round-trips the trimmed buffer") {
    val k = 2
    val agg = TopKAgg.BoundedTopK(EE(lit(0)), EE(lit(0L)), k)
    val b = new TopKAgg.Buf(k)
    (1 to 20).foreach(i => b.add(i * 0.25, (100 - i).toLong))
    val back = agg.deserialize(agg.serialize(b))
    assert(evalIds(back, k) == evalIds(b, k))
    assert(back.n <= k) // serialize ships a trimmed buffer
  }

  test("q_ann_topk plan: partial bounded_top_k below the Exchange") {
    // the fixture is one file: split its scan, so the plan is the
    // scale-out one (a one-split scan would need no shuffle at all)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val df = SparkEntry.queries("q_ann_topk")(spark, SparkSpec.tiny)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val partialIdx = lines.indexWhere(l =>
        l.contains("ObjectHashAggregate") &&
          l.contains("partial_bounded_top_k"))
      val finalIdx = lines.indexWhere(l =>
        l.contains("ObjectHashAggregate") &&
          l.contains("bounded_top_k") && !l.contains("partial_"))
      // the ranking shuffle between final and partial agg (the outer sort
      // has its own range-partitioning exchange — skip it)
      val exchangeIdx = lines.indexWhere(
        _.contains("Exchange hashpartitioning"), math.max(finalIdx, 0))
      assert(partialIdx >= 0, s"no partial bounded_top_k in plan:\n$plan")
      assert(exchangeIdx >= 0, s"no Exchange in plan:\n$plan")
      assert(finalIdx >= 0, s"no final bounded_top_k in plan:\n$plan")
      // tree printing lists parents first: map-side partial agg prints
      // AFTER (= below) the exchange, the final agg BEFORE (= above) it
      assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
        s"plan order final=$finalIdx exchange=$exchangeIdx " +
          s"partial=$partialIdx:\n$plan")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
