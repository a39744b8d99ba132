package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale path for logistic-regression training (companion to the
  * stochasticLogisticRegression aggregate — functions/MLRegression.scala,
  * ref src/AggregateFunctions/AggregateFunctionMLMethod.h).
  *
  * Full-batch gradient descent where EACH ITERATION is one distributed
  * aggregation: the executors compute per-partition gradient partial sums
  * (a single map-side-combined groupBy().agg over sum() columns — no
  * shuffle of the data, only of m+1 doubles per partition), the driver
  * updates the m+1 weights and broadcasts them back as literals in the
  * next iteration's expressions. Driver state is O(features), never
  * O(rows). Deterministic up to floating-point reduction order.
  */
object MLFit {

  /** Fit logistic weights on `df`: label ∈ {0,1} in `labelCol`,
    * features in `featCols`. Returns (w1..wn, bias). */
  def logisticFit(df: DataFrame, labelCol: String, featCols: Seq[String],
      iters: Int = 50, lr: Double = 1.0, l2: Double = 0.0): Array[Double] = {
    val nFeat = featCols.length
    val m = nFeat + 1
    val data = df.select(
      (col(labelCol).cast("double") +: featCols.map(c => col(c).cast("double"))): _*)
    data.persist()
    try {
      val n = data.count().toDouble
      val w = new Array[Double](m)
      var it = 0
      while (it < iters) {
        // err = sigmoid(w·x + b) − y, computed per row with the current
        // weights as literals; grad_i = Σ err·x_i (bias: Σ err)
        val z = featCols.zipWithIndex
          .map { case (c, i) => col(c) * lit(w(i)) }
          .foldLeft(lit(w(nFeat)): Column)(_ + _)
        val err = lit(1.0) / (lit(1.0) + exp(-z)) - col(labelCol)
        val gradCols = featCols.map(c => sum(err * col(c))) :+ sum(err)
        val row = data.agg(gradCols.head, gradCols.tail: _*).collect()(0)
        var i = 0
        while (i < m) {
          val g = row.getDouble(i) / n +
            (if (i < nFeat) l2 * w(i) else 0.0)
          w(i) -= lr * g
          i += 1
        }
        it += 1
      }
      w
    } finally data.unpersist()
  }
}
