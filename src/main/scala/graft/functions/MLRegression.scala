package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** stochasticLinearRegression / stochasticLogisticRegression /
  * evalMLMethod (ref src/AggregateFunctions/AggregateFunctionMLMethod.h,
  * registered in AggregateFunctionMLMethod.cpp; evalMLMethod in
  * src/Functions/evalMLMethod.cpp).
  *
  * The reference trains by mini-batch SGD inside the aggregate, which
  * makes the result depend on row visit order — irreproducible across
  * engines AND across shuffles of the same engine. This implementation
  * re-expresses both faithfully-in-contract but deterministically:
  *
  *   - linear: the aggregate accumulates the normal-equation sufficient
  *     statistics (XᵀX, Xᵀy, n) — order-insensitive, mergeable, one pass
  *     — and finishes with the ridge solution (XᵀX + λI)w = Xᵀy (bias
  *     unregularized, matching the reference's gradient which never
  *     regularizes the intercept). This is the optimum the reference's
  *     SGD converges toward; learning rate / batch size / method only
  *     affect its convergence path and are accepted-and-ignored here.
  *   - logistic: no closed form exists, so the aggregate buffers samples
  *     (capped at [[StochasticLogRegAgg.MaxSamples]]), canonically sorts
  *     them, and runs fixed-iteration full-batch gradient descent —
  *     deterministic for any partitioning. Above the cap the scale path
  *     is [[graft.operators.MLFit.logisticFit]]: driver-coordinated
  *     multi-pass gradient descent where each pass is one distributed
  *     aggregation.
  *
  * The model value is struct(kind, weights[n+1]) (bias last);
  * evalMLMethod(model, f1..fn) applies dot+bias, with a sigmoid on top
  * for 'logistic' — the same probability surface the reference returns.
  */
object MLRegression {

  /** Solve A·w = b in-place by Gaussian elimination with partial
    * pivoting; A is m×m row-major. Singular ⇒ zero weights (the
    * reference yields arbitrary weights on degenerate input; zero is the
    * deterministic choice). */
  def solve(a: Array[Double], b: Array[Double], m: Int): Array[Double] = {
    val w = new Array[Double](m)
    var col = 0
    while (col < m) {
      var piv = col
      var best = math.abs(a(col * m + col))
      var r = col + 1
      while (r < m) {
        val v = math.abs(a(r * m + col))
        if (v > best) { best = v; piv = r }
        r += 1
      }
      if (best < 1e-12) return new Array[Double](m)
      if (piv != col) {
        var j = 0
        while (j < m) {
          val t = a(col * m + j); a(col * m + j) = a(piv * m + j)
          a(piv * m + j) = t; j += 1
        }
        val t = b(col); b(col) = b(piv); b(piv) = t
      }
      r = col + 1
      while (r < m) {
        val f = a(r * m + col) / a(col * m + col)
        if (f != 0) {
          var j = col
          while (j < m) { a(r * m + j) -= f * a(col * m + j); j += 1 }
          b(r) -= f * b(col)
        }
        r += 1
      }
      col += 1
    }
    var i = m - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < m) { s -= a(i * m + j) * w(j); j += 1 }
      w(i) = s / a(i * m + i)
      i -= 1
    }
    w
  }

  @inline def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
}

/** Sufficient-statistics ridge regression (see [[MLRegression]]).
  * Input row: (target, feat1..featN) as a Seq. */
class StochasticLinRegAgg(nFeat: Int, l2: Double)
    extends Aggregator[Seq[Double], (Array[Double], Array[Double], Long),
      Seq[Double]] {
  private val m = nFeat + 1 // features + bias

  override def zero: (Array[Double], Array[Double], Long) =
    (new Array[Double](m * m), new Array[Double](m), 0L)

  override def reduce(b: (Array[Double], Array[Double], Long),
      in: Seq[Double]): (Array[Double], Array[Double], Long) = {
    val y = in.head
    val x = new Array[Double](m)
    var i = 0
    while (i < nFeat) { x(i) = in(i + 1); i += 1 }
    x(nFeat) = 1.0
    val (xtx, xty, n) = b
    i = 0
    while (i < m) {
      var j = 0
      while (j < m) { xtx(i * m + j) += x(i) * x(j); j += 1 }
      xty(i) += x(i) * y
      i += 1
    }
    (xtx, xty, n + 1)
  }

  override def merge(a: (Array[Double], Array[Double], Long),
      b: (Array[Double], Array[Double], Long)):
      (Array[Double], Array[Double], Long) = {
    var i = 0
    while (i < m * m) { a._1(i) += b._1(i); i += 1 }
    i = 0
    while (i < m) { a._2(i) += b._2(i); i += 1 }
    (a._1, a._2, a._3 + b._3)
  }

  override def finish(b: (Array[Double], Array[Double], Long)): Seq[Double] = {
    if (b._3 == 0) return Seq.fill(m)(0.0)
    val a = b._1.clone()
    var i = 0
    while (i < nFeat) { a(i * m + i) += l2; i += 1 } // bias unregularized
    MLRegression.solve(a, b._2.clone(), m).toSeq
  }

  override def bufferEncoder
      : org.apache.spark.sql.Encoder[(Array[Double], Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Array[Double], Array[Double], Long)]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

/** Deterministic logistic regression: buffer (capped) → canonical sort →
  * fixed-iteration full-batch GD (see [[MLRegression]]). */
class StochasticLogRegAgg(nFeat: Int, lr: Double, l2: Double)
    extends Aggregator[Seq[Double], (Seq[Seq[Double]], Long), Seq[Double]] {
  import StochasticLogRegAgg._
  private val m = nFeat + 1

  override def zero: (Seq[Seq[Double]], Long) = (Vector.empty, 0L)

  override def reduce(b: (Seq[Seq[Double]], Long), in: Seq[Double]) =
    if (b._1.size >= MaxSamples) (b._1, b._2 + 1)
    else (b._1 :+ in, b._2 + 1)

  override def merge(a: (Seq[Seq[Double]], Long), b: (Seq[Seq[Double]], Long)) = {
    val merged = (a._1 ++ b._1)
    (if (merged.size > MaxSamples)
      // deterministic truncation: keep the canonically-smallest samples
      merged.sortBy(_.mkString(",")).take(MaxSamples)
    else merged, a._2 + b._2)
  }

  override def finish(b: (Seq[Seq[Double]], Long)): Seq[Double] = {
    val rows = b._1.sortBy(_.mkString(",")).toArray
    val w = new Array[Double](m)
    if (rows.isEmpty) return w.toSeq
    val n = rows.length
    var it = 0
    while (it < Iterations) {
      val grad = new Array[Double](m)
      var r = 0
      while (r < n) {
        val row = rows(r)
        val y = row(0)
        var z = w(nFeat)
        var i = 0
        while (i < nFeat) { z += w(i) * row(i + 1); i += 1 }
        val err = MLRegression.sigmoid(z) - y
        i = 0
        while (i < nFeat) { grad(i) += err * row(i + 1); i += 1 }
        grad(nFeat) += err
        r += 1
      }
      var i = 0
      while (i < m) {
        val reg = if (i < nFeat) l2 * w(i) else 0.0
        w(i) -= lr * (grad(i) / n + reg)
        i += 1
      }
      it += 1
    }
    w.toSeq
  }

  override def bufferEncoder
      : org.apache.spark.sql.Encoder[(Seq[Seq[Double]], Long)] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Seq[Seq[Double]], Long)]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object StochasticLogRegAgg {
  /** In-aggregate sample cap; beyond this use MLFit.logisticFit. */
  val MaxSamples = 65536
  val Iterations = 200
}
