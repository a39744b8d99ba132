package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("minhash LSH finds all true near-dup pairs at sf0.001 (recall 1 vs brute force)") {
    val docs = Tables.load(spark, SparkSpec.tiny, "documents")
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force ground truth: exact jaccard over all pairs
    val sh = docs.select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Dedup.jaccard(col("sa"), col("sb")) >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain near-dups")
    assert(lsh == truth)
  }

  test("ArrayPairs equals the composed transform/filter HOF form") {
    // the fused pair generator must match the HOF form it replaced
    // element-for-element: null skips, duplicate elements (no self-pair),
    // empty/singleton arrays, non-long element types
    val rows = Seq(
      Seq[java.lang.Long](3L, 1L, 2L),
      Seq[java.lang.Long](5L, null, 1L, 5L),
      Seq[java.lang.Long](7L),
      Seq[java.lang.Long](),
      Seq[java.lang.Long](4L, 4L, 4L)
    ).toDF("ids")
    val fused = rows.select(
        explode(graft.functions.ArrayPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(_.toString).sorted.toSeq
    val hof = rows.select(explode(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a),
          b => struct(a.as("a"), b.as("b"))))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(_.toString).sorted.toSeq
    assert(fused == hof)
    // string element type goes through the generic ordering
    val s = Seq(Seq("b", "a", "c")).toDF("ids")
      .select(explode(graft.functions.ArrayPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b")).as[(String, String)]
      .collect().toSet
    assert(s == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("minhash bucket cap: 1000 identical docs stay linear via star linkage") {
    // A mass-duplicated boilerplate doc puts all 1000 copies in every band
    // bucket; without the cap the candidate join is ~500k pairs per band.
    // With the cap the oversized bucket star-links to the min id: exactly
    // 999 verified pairs, all anchored at doc 0.
    val dups = (0L until 1000L).map(i =>
      (i, "the same boilerplate footer text repeated on every single page"))
    val uniq = Seq(
      (2000L, "completely unrelated first document about spark execution"),
      (2001L, "another distinct text concerning columnar storage formats"))
    val docs = (dups ++ uniq).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8,
      maxBucketSize = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == 999)
    assert(pairs.forall(_._1 == 0L))
    assert(pairs.map(_._2).toSet == (1L until 1000L).toSet)
  }

  test("minhashPairs plan: equi-joins only, no cartesian product") {
    // the fixture is one file: split its scan, so the plan is the
    // scale-out one (a one-split scan would need no shuffle at all)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val docs = Tables.load(spark, SparkSpec.tiny, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found:\n$plan")
      // executed: no cache; each multi-reader subtree runs once, its second
      // reader gets a ReusedExchange
      pairs.collect()
      val executed = pairs.queryExecution.executedPlan
      val text = executed.toString
      assert(collect(executed) { case s: InMemoryTableScanExec => s }.isEmpty,
        s"cached relation found:\n$text")
      val reused = collect(executed) { case r: ReusedExchangeExec => r.child }
      assert(reused.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.collect { case a: Attribute => a.name } == Seq("band", "bucket")
          case _ => false
        }
        case _ => false
      }, s"band exchange not reused:\n$text")
      assert(reused.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"shingle-hash broadcast not reused:\n$text")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("minhash bucket cap does not change results for normal-size buckets") {
    val docs = Tables.load(spark, SparkSpec.tiny, "documents")
    val capped = Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.8,
      maxBucketSize = 512)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.8,
      maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
  }

  test("lshBucketTopK bucket cap still returns k neighbors per query") {
    // 200 identical embeddings all hash to one bucket per table; the cap
    // samples 16 of them, and top-k per query still fills.
    val vs = (0L until 200L).map(i => (i, Array(1f, 2f, 3f, 4f))).toDF(
      "vec_id", "embedding")
    val q = vs.filter($"vec_id" === 0)
    val got = Similarity.lshBucketTopK(q, vs, "vec_id", "vec_id", "embedding",
      dim = 4, k = 3, nPlanes = 4, nTables = 2, maxBucketSize = 16)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect()
    assert(got.length == 3)
    assert(got.forall(_._1 == 0L))
  }

  test("PairsGen streams exactly explode(ArrayPairs(...))'s pairs in order") {
    // r16 guard: the lazy generator that replaced the materialized
    // pair array in Similarity.nearDupPairs must emit the identical
    // pair sequence — longs and structs, nulls, duplicates, empties
    val rows = Seq(
      Seq[java.lang.Long](3L, 1L, 2L),
      Seq[java.lang.Long](5L, null, 1L, 5L),
      Seq[java.lang.Long](7L),
      Seq[java.lang.Long](),
      Seq[java.lang.Long](4L, 4L, 4L)
    ).toDF("ids")
    val viaGen = rows
      .select(graft.functions.PairsGen(col("ids")).as(Seq("a", "b")))
      .collect().map(_.toString).toSeq
    val viaArr = rows
      .select(explode(graft.functions.ArrayPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(_.toString).toSeq
    assert(viaGen == viaArr && viaGen.nonEmpty)
    // struct elements (the nearDupPairs shape): ordering falls through
    // struct fields exactly like ArrayPairs' interpreted ordering
    val structs = Seq(
      Seq((2L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (3L, Seq(1f, 1f))))
      .toDF("ms")
    val g = structs
      .select(graft.functions.PairsGen(col("ms")).as(Seq("a", "b")))
      .select(col("a._1"), col("b._1")).collect().map(_.toString).toSeq
    val e = structs
      .select(explode(graft.functions.ArrayPairs(col("ms"))).as("p"))
      .select(col("p.a._1"), col("p.b._1")).collect().map(_.toString).toSeq
    assert(g == e && g.nonEmpty)
  }

  test("fused SimHash64 equals the composed per-bit aggregate form bit-for-bit") {
    // r16 fusion guard: the single-pass expression must reproduce the
    // 64-aggregate composed form exactly — fixture docs plus adversarial
    // token arrays (empty, single, duplicate, empty-string tokens from
    // split on consecutive spaces, unicode, null elements, null array)
    val docs = Tables.load(spark, SparkSpec.tiny, "documents")
      .select(split(col("text"), " ").as("toks"))
    val crafted = spark.range(1).select(
      array().cast("array<string>").as("empty"),
      array(lit("solo")).as("single"),
      array(lit("a"), lit("a"), lit("a")).as("dups"),
      split(lit("a  b   c"), " ").as("emptyToks"), // "" tokens
      array(lit("日本語"), lit("ügé"), lit("")).as("uni"),
      array(lit("x"), lit(null).cast("string")).as("withNull"),
      lit(null).cast("array<string>").as("nullArr"))
    for (c <- Seq("empty", "single", "dups", "emptyToks", "uni",
        "withNull", "nullArr")) {
      val r = crafted.select(Dedup.simhash(col(c)),
        Dedup.simhashComposed(col(c))).as[(Long, Long)].head()
      assert(r._1 == r._2, s"column $c: fused ${r._1} != composed ${r._2}")
    }
    val pairs = docs.select(Dedup.simhash(col("toks")),
      Dedup.simhashComposed(col("toks"))).as[(Long, Long)].collect()
    assert(pairs.nonEmpty && pairs.forall(p => p._1 == p._2))
  }

  test("simhash of near-identical token sets has small hamming distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away house"),
      (3L, "completely different words about database engines and vectorized execution")
    ).toDF("id", "text")
      .select(col("id"), Dedup.simhash(split(col("text"), " ")).as("h"))
    val m = df.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < 16)
    assert(hamming(m(1L), m(3L)) > hamming(m(1L), m(2L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    val df = Seq(("abcabc", "abcabc", "xyzxyz")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.jaccard(Dedup.charNgrams(col("a"), 3), Dedup.charNgrams(col("b"), 3)),
      Dedup.jaccard(Dedup.charNgrams(col("a"), 3), Dedup.charNgrams(col("c"), 3)))
      .as[(Double, Double)].head()
    assert(r._1 == 1.0 && r._2 == 0.0)
  }

  test("brute-force topK is exact and deterministic") {
    val vs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(
      vs.filter($"vec_id" === 1), vs, "vec_id", "vec_id", "embedding", 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1L), (4L, 2L)))
  }

  test("LSH bucket topK reaches decent recall vs brute force on fixtures") {
    val emb = Tables.load(spark, SparkSpec.tiny, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshBucketTopK(q, emb, "vec_id", "vec_id",
      "embedding", 64, 3, nPlanes = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low for 2 planes")
  }

  test("IVF topK reaches high recall vs brute force (nprobe=8/16)") {
    val emb = Tables.load(spark, SparkSpec.tiny, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding",
      k = 3, nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall $recall")
    assert(recall >= 0.6, s"IVF recall $recall too low")
  }

  test("nearDupPairs finds scaled copies of the same vector") {
    val vs = Seq(
      (1L, Array(1f, 2f, 3f, 4f)), (2L, Array(2f, 4f, 6f, 8f)), // same direction
      (3L, Array(-4f, 3f, 0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(vs, "vec_id", "embedding", 4, 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("nearDupPairs star-links a degenerate all-identical bucket") {
    // 200 identical vectors land in one LSH bucket; with the cap at 16
    // the pair count must be the star O(N), not the all-pairs O(N²).
    val vs = (1L to 200L).map(i => (i, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vs, "vec_id", "embedding", 4, 0.999,
      maxBucketSize = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == 199, s"expected 199 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 1L), "star pairs must link to the bucket min id")
    // connected component intact: every id reachable from the hub
    assert(pairs.map(_._2).toSet == (2L to 200L).toSet)
    // small-bucket path unaffected by the guard
    val small = Similarity.nearDupPairs(vs.limit(3), "vec_id", "embedding",
      4, 0.999, maxBucketSize = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(small == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
