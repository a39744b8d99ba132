package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for the ANN path: reconstruction error,
  * cosine fidelity, and top-k recall against the float brute force. */
class Int8AnnSpec extends SparkSpec {

  private lazy val emb =
    graft.Tables.load(spark, SparkSpec.tiny, "embeddings")

  test("quantize/dequantize reconstruction error is bounded by scale/254") {
    val q = Similarity.quantizeInt8(emb.limit(100), "embedding")
    val err = q.select(max(array_max(zip_with(
      Similarity.dequantizeInt8(col("code"), col("scale")),
      col("embedding"),
      (r, o) => abs(r - o.cast("double")) / col("scale"))))).collect()(0)
      .getDouble(0)
    // |x - dq(q(x))| <= scale/254 (half a code step)
    assert(err <= 1.0 / 254 + 1e-9)
  }

  test("int8 cosine tracks float cosine within 2e-2") {
    val a = Similarity.quantizeInt8(
      emb.filter(col("vec_id") < 20), "embedding", "ca", "sa")
      .select(col("vec_id").as("ida"), col("embedding").as("va"), col("ca"))
    val b = Similarity.quantizeInt8(
      emb.filter(col("vec_id").between(20, 39)), "embedding", "cb", "sb")
      .select(col("vec_id").as("idb"), col("embedding").as("vb"), col("cb"))
    val worst = a.crossJoin(b)
      .select(abs(Similarity.cosine(col("va"), col("vb")) -
        Similarity.cosineInt8(col("ca"), col("cb"))).as("d"))
      .agg(max(col("d"))).collect()(0).getDouble(0)
    assert(worst < 2e-2)
  }

  test("int8 brute-force top-k recall@10 >= 0.9 vs float brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.bruteForceTopKInt8(
      queries, emb, "vec_id", "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"recall@10 $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("quantized plan broadcasts the query side like the float path") {
    val plan = Similarity.bruteForceTopKInt8(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "vec_id",
      "embedding", 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }
}
