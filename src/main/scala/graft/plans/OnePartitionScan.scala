package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, PlanExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Short queries in one stage (ClickHouse runs a short query as one
  * pipeline, with no repartitioning). When every leaf of a physical plan
  * is a file scan that Spark reads as one split, the whole input is
  * already in one partition, and the exchanges `EnsureRequirements` would
  * add for aggregates, sorts, windows and sort-merge joins only cost jobs
  * and stages. This rule wraps each such scan in [[OnePartitionScanExec]],
  * which declares `SinglePartition`, so no shuffle is added; broadcast
  * exchanges stay.
  *
  * A scan qualifies when it is not bucketed, has no dynamic-pruning
  * filter and selects exactly one file no larger than Spark's own split
  * size (`spark.sql.files.maxPartitionBytes` / `openCostInBytes`, the
  * same `FilePartition.maxSplitBytes` the scan's read uses). The files
  * come from the scan's file index, listed with the filters the scan
  * lists with, not from the scan itself: its RDD would construct the
  * readers at planning time, and its `selectedPartitions` sets the
  * scan's file metrics (`numFiles`, `filesSize`) once, which
  * `Dataset.withAction`'s `resetMetrics()` then clears for good.
  *
  * Installed as a query post-planner strategy rule, which runs inside
  * `AdaptiveSparkPlanExec` before `EnsureRequirements`: never for
  * streaming micro-batches, nor with AQE off. At scale every scan has
  * many splits and the rule leaves the plan as it is.
  */
object OnePartitionScan extends Rule[SparkPlan] {
  private def dynamic(e: Expression): Boolean = e.exists(_.isInstanceOf[PlanExpression[_]])

  private def oneSplit(scan: FileSourceScanExec): Boolean =
    !scan.bucketedScan && !scan.partitionFilters.exists(dynamic) && {
      val dirs = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters.filterNot(dynamic))
      dirs.flatMap(_.files) match {
        case Seq(file) =>
          file.getLen <= FilePartition.maxSplitBytes(scan.relation.sparkSession, dirs)
        case _ => false
      }
    }

  override def apply(plan: SparkPlan): SparkPlan = {
    val eligible = plan.collectLeaves().forall {
      case s: FileSourceScanExec => oneSplit(s)
      case _ => false
    }
    if (!eligible) plan
    else plan.transformUp { case s: FileSourceScanExec => OnePartitionScanExec(s) }
  }
}

/** A scan that declares, and enforces, one output partition. Rows and
  * columnar batches pass through (the vectorized reader and the
  * `ColumnarToRow` codegen above it stay); the child RDD goes through
  * `coalesce(1)`, a narrow no-op at one partition, so a listing that
  * changed between planning and execution still yields one partition.
  */
case class OnePartitionScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = child.vectorTypes

  override protected def doExecute(): RDD[InternalRow] =
    onePartition(child.execute())
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    onePartition(child.executeColumnar())

  // a global aggregate over zero partitions would return no row at all
  private def onePartition[T: ClassTag](rdd: RDD[T]): RDD[T] =
    if (rdd.getNumPartitions == 0) sparkContext.parallelize(Seq.empty[T], 1)
    else rdd.coalesce(1)

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionScanExec =
    copy(child = newChild)
}
