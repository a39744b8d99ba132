package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN: code shape, encode determinism, and
  * top-k recall of the asymmetric-distance scan against the float
  * brute force (L2 ranking ≈ cosine ranking on these unit-ish synthetic
  * embeddings, so the shared brute-force oracle applies). */
class PqAnnSpec extends SparkSpec {

  private lazy val emb =
    graft.Tables.load(spark, SparkSpec.tiny, "embeddings")

  private lazy val books =
    Similarity.pqTrain(emb, "embedding", m = 16, ksub = 32)

  test("codebooks: m subspaces x ksub centroids of dim/m length") {
    assert(books.length == 16)
    assert(books.forall(_.length == 32))
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    assert(books.forall(_.forall(_.length == dim / 16)))
  }

  test("encode emits one in-range code per subspace, deterministically") {
    val codes = Similarity.pqEncode(emb.limit(50), "embedding", books)
      .select(col("pq_code")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.length == 16))
    assert(codes.forall(_.forall(c => c >= 0 && c < 32)))
    val again = Similarity.pqEncode(emb.limit(50), "embedding", books)
      .select(col("pq_code")).collect().map(_.getSeq[Int](0))
    assert(codes.toSeq == again.toSeq)
  }

  test("ADC top-k recall@10 >= 0.9 vs exact L2 brute force (ADC shortlist + refine)") {
    val queries = emb.filter(col("vec_id") < 5)
    // exact L2 ranking (the metric PQ approximates)
    val l2w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d").asc, col("neighbor_id"))
    val exact = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("__q"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__c")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("d", Similarity.l2Distance(col("__q"), col("__c")))
      .withColumn("rk", row_number().over(l2w))
      .filter(col("rk") <= 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(queries, emb, "vec_id", "vec_id",
        "embedding", 10, books, rerank = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"recall@10 $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ADC scan broadcasts the query LUT side") {
    val plan = Similarity.pqTopK(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "vec_id", "embedding", 5, books)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  private def deep(books: Array[Array[Array[Double]]]) =
    books.map(_.map(_.toSeq).toSeq).toSeq

  test("PQ codebooks and IVF rows do not depend on the scan split") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    def build() = {
      val e = graft.Tables.load(spark, SparkSpec.tiny, "embeddings")
      val ivf = Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rank").collect().toSeq
      (e.select(col("vec_id")).rdd.getNumPartitions,
        deep(Similarity.pqTrain(e, "embedding", m = 16, ksub = 32)), ivf)
    }
    try {
      val (splits, books, ivf) = build()
      spark.conf.set(key, "65536")
      val (splitsSmall, booksSmall, ivfSmall) = build()
      assert(splitsSmall > splits, s"$splitsSmall splits at 64 KB")
      assert(booksSmall == books)
      assert(ivfSmall == ivf)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def points(rows: Seq[Array[Float]]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
  }

  test("k-means fit returns k centroids from fewer distinct points than k") {
    val rows = Seq.tabulate(30)(i => Array((i % 3).toFloat, 1f))
    val book = Similarity.fitCodebooks(points(rows), "v", m = 1, k = 8)(0)
    assert(book.length == 8)
    assert(book.map(_.toSeq).distinct.sortBy(_.head).toSeq ==
      Seq(Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(2.0, 1.0)))
  }

  test("k-means fit is the same for the same points in another row order") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)(Array.fill(4)(rnd.nextGaussian().toFloat))
    val a = points(rows).coalesce(1)
    val b = points(rows.reverse).repartition(4)
    // k = 8: the whole input is the sample; k = 1: a 256-row sample
    for (k <- Seq(8, 1))
      assert(deep(Similarity.fitCodebooks(a, "v", m = 2, k)) ==
        deep(Similarity.fitCodebooks(b, "v", m = 2, k)), s"k = $k")
  }
}
