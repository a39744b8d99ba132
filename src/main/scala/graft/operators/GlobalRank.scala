package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Scale-safe global ranking primitives.
  *
  * A `rank()/row_number()/ntile() OVER (ORDER BY …)` window with no
  * PARTITION BY collapses the whole table into ONE task in Spark — fine at
  * test scale, fatal at 100 TB. These helpers express the same semantics
  * with fully parallel plans:
  *
  *  - `withRowNumber`: range-partition on the sort key (the same machinery
  *    as Spark's distributed global sort), local row_number per partition,
  *    then add per-partition offsets computed by a prefix sum over the
  *    (tiny, one-row-per-partition) count frame, which a plain aggregate
  *    takes from the same range exchange.
  *  - `ntile`: bucket assignment from the global row number in closed form.
  *  - `limitWithTies`: `LIMIT n WITH TIES` (reference
  *    `src/Processors/LimitTransform.h:17`) as threshold-filter — a cheap
  *    `orderBy().limit(n)` (TakeOrderedAndProject: parallel per-partition
  *    top-k) finds the nth value, then a fully parallel filter keeps every
  *    row tied with it.
  */
object GlobalRank {

  /** Distributed global row_number over the total order `order`.
    * `order` must be a total order (include a tiebreak) for deterministic
    * numbering. */
  def withRowNumber(
      df: DataFrame, order: Seq[Column], out: String = "global_rn",
      numPartitions: Int = 0): DataFrame =
    runningTotal(df, order, count(lit(1)), out, numPartitions)

  /** `ntile(k) OVER (ORDER BY order)` with a distributed plan: global row
    * number (see above) + closed-form bucket assignment. Matches SQL ntile
    * exactly: the first (N mod k) buckets get ceil(N/k) rows. N is the sum
    * of the per-partition counts the row number already computes, so the
    * input is not scanned again for it. */
  def ntile(
      df: DataFrame, order: Seq[Column], k: Int,
      out: String = "tile"): DataFrame = {
    val d = runningTotal(df, order, count(lit(1)), "__rn", 0, total = Some("__n"))
    val bsize = floor(col("__n") / k)
    val rem = col("__n") % k
    val cut = rem * (bsize + 1)
    val tile = when(col("__rn") <= cut,
        floor((col("__rn") - 1) / (bsize + 1)) + 1)
      // greatest(_,1): this branch is only reached when bsize >= 1, but
      // ANSI mode would still throw on a speculative 0 divisor when N < k.
      .otherwise(rem + floor((col("__rn") - 1 - cut) / greatest(bsize, lit(1))) + 1)
    d.withColumn(out, tile.cast("int")).drop("__rn", "__n")
  }

  /** Distributed running (inclusive) sum of `value` over the total order
    * `order` — same plan as [[withRowNumber]]. */
  def withRunningSum(
      df: DataFrame, order: Seq[Column], value: Column, out: String,
      numPartitions: Int = 0): DataFrame =
    runningTotal(df, order, sum(value), out, numPartitions)

  /** Running `agg` (an aggregate whose per-partition results add up) over
    * the total order `order`. Range partitioning keeps equal keys together
    * and partition ids in global sort order, so a row's global running
    * total is its partition-local running total plus the sum of the totals
    * of all earlier partitions.
    *
    * The partitioned frame has two readers: the local window and the
    * per-partition totals, a plain aggregate joined back as a prefix sum.
    * They must see the same range exchange: a second copy would sample its
    * own boundaries, and partition ids would disagree between the readers.
    * Exchange reuse shares the subtree when both copies are equal, but
    * column pruning would strip the totals reader's copy down to the
    * columns it reads. So the range partitioning also orders by every
    * column of `df`. When `order` is total these trailing keys never
    * decide a comparison; they only keep every column referenced in both
    * readers. GlobalRankSpec pins the single range exchange and the single
    * row-level window.
    *
    * `total` names an optional extra column holding the sum of all the
    * partition totals (the aggregate over the whole input).
    */
  private def runningTotal(
      df: DataFrame, order: Seq[Column], agg: Column, out: String,
      numPartitions: Int, total: Option[String] = None): DataFrame = {
    val p =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // an unorderable column (a map) fails analysis here
    val ranged = df.repartitionByRange(p,
        order ++ df.queryExecution.analyzed.output.map(ColumnBridge.column): _*)
      .withColumn("__pid", spark_partition_id())
    val local = ranged.withColumn("__run", agg.over(
      Window.partitionBy(col("__pid")).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Prefix sum over one row per partition — bounded by the partition
    // count, so the single-task window here is over a broadcast-size frame.
    val wPrefix = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid")).agg(agg.as("__tot"))
      .select(Seq(col("__pid"), sum(col("__tot")).over(wPrefix).as("__off")) ++
        total.map(sum(col("__tot")).over().as(_)): _*)
    // NULL + x is NULL, but a running sum skips NULLs: an all-NULL side
    // (or the first partition's missing offset) contributes nothing
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out,
        coalesce(col("__off") + col("__run"), col("__run"), col("__off")))
      .drop("__pid", "__run", "__off")
  }

  /** `ORDER BY key [DESC] LIMIT n WITH TIES` — equivalently
    * `rank() OVER (ORDER BY key) <= n` — as threshold + filter. */
  def limitWithTies(
      df: DataFrame, key: Column, descending: Boolean, n: Int): DataFrame = {
    val sorted = if (descending) df.orderBy(key.desc) else df.orderBy(key.asc)
    val th = sorted.limit(n)
      .agg((if (descending) min(key) else max(key)).as("__th"))
    val cond = if (descending) key >= col("__th") else key <= col("__th")
    df.join(broadcast(th), cond).drop("__th")
  }
}
