package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.internal.SQLConf

/** One-line shape of a query's physical plan, checked against the
  * committed table `plan-shapes.txt` (one row per declared query):
  *
  *   name | shuffles | broadcasts | reused | joins | smells
  *
  * `joins` lists the distinct join strategies (SMJ/BHJ/SHJ/BNLJ with their
  * join type). `smells` are the shapes that do not hold at scale:
  * CARTESIAN, GLOBAL_WINDOW (a window with no PARTITION BY runs in one
  * task) and DUP_SCAN (the same file scanned more than once in one plan).
  */
object PlanShape {

  /** The static plan: planned with AQE off and not executed. Exchange reuse
    * has run, and `OnePartitionScan` (an AQE-only rule) cannot fire, so
    * this is the scale-out shape whatever the input's split count. */
  def staticPlan(df: DataFrame): SparkPlan = {
    val spark = df.sparkSession
    val key = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val previous = spark.conf.get(key)
    spark.conf.set(key, "false")
    try spark.sessionState.executePlan(df.queryExecution.logical).executedPlan
    finally spark.conf.set(key, previous)
  }

  def row(name: String, plan: SparkPlan): String = {
    var shuffles, broadcasts, reused = 0
    val joins = mutable.LinkedHashSet[String]()
    val smells = mutable.LinkedHashSet[String]()
    val scans = mutable.ArrayBuffer[String]()
    // a ReusedExchange is a leaf: the subtree it shares is counted once
    plan.foreach {
      case _: ShuffleExchangeExec => shuffles += 1
      case _: BroadcastExchangeExec => broadcasts += 1
      case _: ReusedExchangeExec => reused += 1
      case j: SortMergeJoinExec => joins += s"SMJ(${j.joinType})"
      case j: BroadcastHashJoinExec => joins += s"BHJ(${j.joinType})"
      case j: ShuffledHashJoinExec => joins += s"SHJ(${j.joinType})"
      case j: BroadcastNestedLoopJoinExec => joins += s"BNLJ(${j.joinType})"
      case _: CartesianProductExec => smells += "CARTESIAN"
      case w: WindowExec if w.partitionSpec.isEmpty => smells += "GLOBAL_WINDOW"
      case f: FileSourceScanExec => scans += f.relation.location.rootPaths.mkString(",")
      case _ =>
    }
    val dupScans = scans.groupBy(identity).filter(_._2.size > 1).toSeq.sortBy(_._1)
      .map { case (p, v) => s"DUP_SCAN(${p.split('/').last}x${v.size})" }
    (f"$name%-28s | $shuffles%2d | $broadcasts%2d | $reused%2d | " +
      s"${joins.mkString(",")} | ${(dupScans ++ smells).mkString(",")}").stripTrailing
  }

  /** The committed rows (`#` lines are comments), and the same by name. */
  lazy val rows: Seq[String] =
    scala.io.Source.fromResource("plan-shapes.txt").getLines()
      .map(_.stripTrailing).filter(l => l.nonEmpty && !l.startsWith("#")).toList
  lazy val table: Map[String, String] = rows.map(r => r.takeWhile(_ != ' ') -> r).toMap
}
