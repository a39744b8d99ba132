package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions installer (wired in Engine.session). */
class ChExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => ChTruthinessRule)
    ext.injectResolutionRule(_ => ChMapArgRule)
    ext.injectResolutionRule(_ => ChGroupingScopeCapture)
    // runs post-analysis: the fill reuses the Aggregate output exprIds,
    // which is only safe once ResolveAggregateFunctions is done
    ext.injectOptimizerRule(_ => ChGroupingSetDefaultsRule)
    ext.injectResolutionRule(_ => ChWrapArithmeticRule)
    ext.injectResolutionRule(_ => ChDateArithRule)
    ext.injectResolutionRule(_ => ChBoolAggRule)
    ext.injectResolutionRule(_ => ChIpCoercionRule)
    ext.injectResolutionRule(_ => ChEmptyAggRule)
    ext.injectResolutionRule(_ => graft.functions.ChSumZeroFillRule)
    ext.injectResolutionRule(_ => ChNanCompareRule)
    ext.injectResolutionRule(_ => graft.functions.ChIsConstantRule)
    ext.injectOptimizerRule(_ => ChUdtLiteralRule)
    ext.injectColumnar(_ => ChConstColumnarRule)
    // runs inside AdaptiveSparkPlanExec, before EnsureRequirements
    ext.injectQueryPostPlannerStrategyRule(_ => OnePartitionScan)
  }
}
