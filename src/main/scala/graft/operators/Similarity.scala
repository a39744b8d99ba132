package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Reference analog: `arrayDistance`/`arrayNorm`/`cosineDistance`
  * (`/root/reference/src/Functions/array/arrayDistance.cpp`) and the Annoy
  * vector index (`src/Storages/MergeTree/MergeTreeIndexAnnoy.cpp`).
  *
  * Paths:
  *  - `bruteForceTopK`: exact — broadcast the (small) query set against the
  *    corpus scan; per-query top-k via window over rounded score (ties
  *    broken by id so results are deterministic). Scales with corpus size
  *    linearly; the broadcast bounds the multiplier at |queries|.
  *  - `lshBucketTopK`: approximate scale path — sign-random-projection
  *    buckets (Charikar hyperplane LSH); queries only join candidates in
  *    the same bucket, turning the n×m product into a bucket-local join.
  *  - `ivfTopK` / `pqTopK`: k-means quantizers, both trained by one
  *    driver-side fitter (`fitCodebooks`).
  *
  * All vector math runs through the fused single-pass kernels in
  * graft.functions.VectorOps (bit-identical to the composed
  * `aggregate`/`zip_with` forms they replaced — see VectorOpsSpec).
  */
object Similarity {

  // Fused single-pass kernels (graft.functions.VectorOps) — bit-identical
  // to the previous composed `aggregate(zip_with(...))` forms (same
  // left-to-right fold, same widening casts; VectorOpsSpec pins it), but
  // one tight JVM loop instead of an interpreted HOF tree-walk per
  // element — the scoring joins below run these |corpus|·|queries| times.
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotD(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def l2Distance(a: Column, b: Column): Column = sqrt(l2sq(a, b))

  private def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorOps.l2sqD(a, b)

  /** Subvector j (`sub` doubles) of an embedding column. */
  private def subvec(vecCol: String, j: Int, sub: Int): Column =
    slice(col(vecCol).cast("array<double>"), j * sub + 1, sub)

  /** Per-query top-k of scored (query_id, neighbor_id, score) rows by a
    * window over (score, neighbor_id): (query_id, neighbor_id, score, rank). */
  private def rankPerQuery(scored: DataFrame, score: String,
      descending: Boolean, k: Int): DataFrame = {
    val order = if (descending) col(score).desc else col(score).asc
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(score), col("rank"))
  }

  /** Per-query top-k of scored (query_id, neighbor_id, score) rows via
    * the bounded-k aggregate: the map side combines each partition down
    * to ≤k entries per query BEFORE the shuffle, so the exchange moves
    * partitions·|q| small buffers instead of every scored pair — the
    * difference between shuffling k·|q| rows and n·|q| rows at corpus
    * scale. Ids go through as bigint (ANN ids are integral). */
  private def topKByScore(scored: DataFrame, scoreName: String,
      k: Int): DataFrame = {
    val top = scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k)(
        col(scoreName), col("neighbor_id").cast("bigint")).as("__top"))
    top.select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as(scoreName), (col("pos") + 1).as("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Scores are rounded (6 dp) BEFORE ranking so ranking is deterministic
    * across summation orders; ties broken by corpus id. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String,
      k: Int): DataFrame = {
    // Norms are hoisted OUT of the pairwise scoring join: ‖q‖ is computed
    // once per query row and ‖c‖ once per corpus row instead of once per
    // (query, corpus) pair — at |q| queries that deletes |q|·dim
    // multiplies per corpus row from the hot loop. cos = dot/(‖q‖·‖c‖)
    // evaluates the exact same double ops in the same order as
    // cosine(q, c), so scores (and the 6-dp rounding) are bit-identical.
    val q = queries.select(col(queryId).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
    topKByScore(scored, "cos_sim", k)
  }

  /** Deterministic pseudo-random hyperplanes (seeded, reproducible). */
  private def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection bucket id (Charikar SimHash for vectors):
    * bit p of the bucket = sign of <v, plane_p>. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    val ps = planes(dim, nPlanes, seed)
    val bits = ps.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit(_)): _*)
      when(dot(vec, planeLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: candidates restricted to LSH buckets, with
    * `nTables` independent hash tables (different plane seeds) unioned for
    * recall 1-(1-p)^L — the standard multi-table LSH layout. Each point
    * explodes to L (table, bucket) rows; the join is bucket-local, so cost
    * scales with bucket occupancy, never the full n×m product. */
  def lshBucketTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String,
      dim: Int, k: Int, nPlanes: Int = 8, nTables: Int = 4,
      maxBucketSize: Int = 4096): DataFrame = {
    // ‖v‖ is computed once per point BEFORE the nTables-way explode (and
    // before the bucket-local join) — not once per scored candidate pair
    def withBuckets(df: DataFrame, idName: String, idAs: String,
        vecAs: String, normAs: String) =
      df.select(col("*"), norm(col(vecCol)).as("__vn"))
        .select(col("*"),
          posexplode(array((0 until nTables).map(t =>
            lshBucket(col(vecCol), dim, nPlanes, seed = 42L + t)): _*))
            .as(Seq("table_id", "bucket")))
        .select(col(idName).as(idAs), col(vecCol).as(vecAs),
          col("__vn").as(normAs), col("table_id"), col("bucket"))
    val q = withBuckets(queries.select(col(queryId), col(vecCol)),
      queryId, "query_id", "__qv", "__qn")
    // Bucket occupancy cap: a degenerate bucket (mass-duplicated embeddings
    // hashing identically) would make the bucket-local join quadratic. Keep
    // a deterministic pseudo-random sample of `maxBucketSize` corpus rows
    // per (table,bucket) — recall degrades gracefully in the (already
    // approximate) pathological bucket instead of the job dying. The window
    // partitions on the join key, so no extra exchange.
    val cw = Window.partitionBy(col("table_id"), col("bucket"))
      .orderBy(graft.functions.ch.sparkXxhash64(col("neighbor_id")), col("neighbor_id"))
    val c = withBuckets(corpus.select(col(corpusId), col(vecCol)),
      corpusId, "neighbor_id", "__cv", "__cn")
      .withColumn("__rn", row_number().over(cw))
      .filter(col("__rn") <= maxBucketSize)
      .drop("__rn")
    // Score before the cross-table dedup: a pair found in several tables
    // has a bit-identical cos_sim, so the dedup exchange moves
    // (id, id, score) rows instead of both vectors (≤ nTables extra dot
    // products per pair, map-side).
    val scored = c.join(q, Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
      .select("query_id", "neighbor_id", "cos_sim")
      .dropDuplicates("query_id", "neighbor_id")
    rankPerQuery(scored, "cos_sim", descending = true, k)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer over the corpus,
    * queries probe their `nprobe` nearest centroids, candidates = corpus
    * rows in those cells. The 100 TB layout: centroids are tiny and
    * broadcast; the corpus is partitioned by cell id once (at "index
    * build"), so a query touches nprobe/nlist of the data. Recall/latency
    * tradeoff = nprobe, exactly like FAISS IVF-Flat. The quantizer is
    * [[fitCodebooks]]' and a row's cell is [[pqEncode]]'s `nearest`.
    * (Reference analog: the Annoy vector index,
    * `src/Storages/MergeTree/MergeTreeIndexAnnoy.cpp`.) */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val book = fitCodebooks(corpus, vecCol, m = 1, nlist)(0)
    val cells = corpus.select(col(corpusId).as("neighbor_id"),
      col(vecCol).as("__cv"),
      nearest(col(vecCol).cast("array<double>"), book).as("cell"))
    // nprobe nearest centroids per query via the (tiny) centroid table
    val centroidDf = queries.sparkSession.createDataFrame(
      book.toSeq.zipWithIndex.map(_.swap)).toDF("cell", "__centroid")
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("__qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__cdist").asc, col("cell"))
    val probes = q.crossJoin(broadcast(centroidDf))
      .withColumn("__cdist", l2Distance(col("__qv"), col("__centroid")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("query_id", "__qv", "cell")
    val scored = cells.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosine(col("__qv"), col("__cv")), 6))
    rankPerQuery(scored, "cos_sim", descending = true, k)
  }

  /** Scalar int8 quantization of an embedding column (the FAISS SQ8 /
    * vector-db "scalar quantizer" layout): per-vector max-abs scale plus
    * an int8 code array — 4× fewer bytes through every shuffle and
    * cache than float32, which is the difference between an in-memory
    * and a spilled ANN index at 100 TB corpus scale. Codes stay fully
    * columnar (array<tinyint> + float), no binary blobs, so Parquet
    * encodes them tightly and Catalyst prunes as usual. */
  def quantizeInt8(df: DataFrame, vecCol: String,
      codeCol: String = "code", scaleCol: String = "scale"): DataFrame = {
    val v = col(vecCol)
    val scale = greatest(array_max(transform(v, x => abs(x))), lit(1e-30f))
      .cast("float")
    df.withColumn(scaleCol, scale)
      .withColumn(codeCol, transform(v, x =>
        round(x.cast("double") / col(scaleCol) * 127.0).cast("tinyint")))
  }

  /** Reconstruct approximate float vectors from int8 codes. */
  def dequantizeInt8(code: Column, scale: Column): Column =
    transform(code, c => c.cast("double") * scale / 127.0)

  /** Cosine between two quantized vectors without materializing the
    * dequantized arrays: integer dot product scaled once. */
  def cosineInt8(codeA: Column, codeB: Column): Column = {
    val di = graft.functions.VectorOps.dotL(codeA, codeB).cast("double")
    val na = normInt8(codeA)
    val nb = normInt8(codeB)
    di / (na * nb)
  }

  /** √(Σ cᵢ²) of an integral code array (exact long accumulation, then
    * one long→double cast — same ops as the composed form). */
  def normInt8(code: Column): Column =
    sqrt(graft.functions.VectorOps.dotL(code, code).cast("double"))

  /** Brute-force top-k over int8-quantized vectors: same plan shape as
    * bruteForceTopK (corpus scan × broadcast queries) at a quarter of
    * the scan/broadcast bytes; scores approximate the float cosine to
    * ~1e-2, so use it as the candidate stage and rescore the winners in
    * float when exactness matters. */
  def bruteForceTopKInt8(
      queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String,
      k: Int): DataFrame = {
    // same norm-hoisting as bruteForceTopK: per-row ‖code‖ columns
    // instead of per-pair recomputation; identical double ops and order
    val q = quantizeInt8(queries, vecCol, "__qc", "__qs")
      .select(col(queryId).as("query_id"), col("__qc"),
        normInt8(col("__qc")).as("__qn"))
    val c = quantizeInt8(corpus, vecCol, "__cc", "__cs")
      .select(col(corpusId).as("neighbor_id"), col("__cc"),
        normInt8(col("__cc")).as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        graft.functions.VectorOps.dotL(col("__qc"), col("__cc")).cast("double")
          / (col("__qn") * col("__cn")), 6))
    topKByScore(scored, "cos_sim", k)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, via LSH buckets
    * (exact verify inside the bucket).
    *
    * Bucket-occupancy guard: a mass-duplicated embedding cluster hashes
    * its N copies into one bucket and the all-pairs self-join goes O(N²).
    * Buckets over `maxBucketSize` are star-linked instead — every member
    * pairs with the bucket's min id only (O(N)), preserving the connected
    * component a downstream clustering step needs while bounding work.
    * Same pattern as `Dedup.minhashPairs`; the window partitions on the
    * join key, so the cap costs no extra exchange. */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nPlanes: Int = 6,
      maxBucketSize: Int = 512): DataFrame = {
    // ‖v‖ computed once per point here (r15 norm hoisting — identical
    // double ops/order to cosine(), see bruteForceTopK), not per pair
    val b = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"),
      lshBucket(col(vecCol), dim, nPlanes).as("bucket"))
    val bw = Window.partitionBy(col("bucket"))
    // __bhub = the bucket's min-id member with its vector and norm. Ids
    // are unique (precondition), so min over struct(id, …) orders by id
    // alone and carries the hub's payload: the star branch needs no join
    // back. `sized` feeds allPairs and starPairs; exchange reuse runs the
    // lshBucket projection and the bucket shuffle once for both.
    val sized = b
      .withColumn("__bsz", count(lit(1)).over(bw))
      .withColumn("__bhub",
        min(struct(col("id"), col("__v"), col("__n"))).over(bw))
    // Bucket-local pair generation, as in Dedup.minhashPairs: the window
    // output is already hash-partitioned on `bucket`, so the aggregation
    // adds no exchange, and each member array holds ≤ maxBucketSize
    // structs. PairsGen streams the pairs lazily in id order (id_a < id_b
    // for unique ids), so live memory is the bucket array, not its
    // C(n,2) pairs. The id_a =!= id_b guard keeps the strict inequality
    // if ids repeat.
    val allPairs = sized.filter(col("__bsz") <= maxBucketSize)
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("id"), col("__v"), col("__n"))).as("__ms"))
      .select(graft.functions.PairsGen(col("__ms")).as(Seq("__pa", "__pb")))
      .select(col("__pa.id").as("id_a"), col("__pb.id").as("id_b"),
        col("__pa.__v").as("__va"), col("__pb.__v").as("__vb"),
        col("__pa.__n").as("__na"), col("__pb.__n").as("__nb"))
      .filter(col("id_a") =!= col("id_b"))
    val starPairs = sized
      .filter(col("__bsz") > maxBucketSize &&
        col("id") =!= col("__bhub.id"))
      .select(col("__bhub.id").as("id_a"), col("id").as("id_b"),
        col("__bhub.__v").as("__va"), col("__v").as("__vb"),
        col("__bhub.__n").as("__na"), col("__n").as("__nb"))
    allPairs.union(starPairs)
      .withColumn("cos_sim", round(
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
      .dropDuplicates("id_a", "id_b")
  }

  // ---------------------------------------------------- product quantizer
  // PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011 — the FAISS PQ/IVF-PQ layout): split each
  // d-dim vector into m subvectors, k-means each subspace to `ksub`
  // centroids, store m small codes per vector. float32 d·4 bytes →
  // m bytes-ish per vector; queries never touch a float vector — an
  // asymmetric-distance LUT (m × ksub, broadcast as a literal) turns
  // each candidate distance into m array lookups.

  /** Per-subspace codebooks: codebooks(j)(c) = centroid c of subspace j.
    * Index-build cost, the same [[fitCodebooks]] as [[ivfTopK]]'s coarse
    * quantizer: one bounded sample read in one Spark job, sliced into
    * the m subspaces on the driver. */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int,
      ksub: Int = 16): Array[Array[Array[Double]]] =
    fitCodebooks(corpus, vecCol, m, ksub)

  // ------------------------------------------------------ k-means fitter
  // Both quantizers train on one bounded sample: the k·PointsPerCentroid
  // vectors (FAISS's default of 256 per centroid) with the smallest
  // xxhash64, ties broken by the vector. The sample's rows and order, so
  // every codebook, depend only on the data, never on the scan split, and
  // its size stops growing with the corpus.
  private val PointsPerCentroid = 256
  private val MaxIterations = 20
  private val Seed = 42L

  /** k-means codebooks of the m equal subspaces of `vecCol` (m = 1: the
    * whole vectors), each of exactly k centroids. */
  private[operators] def fitCodebooks(corpus: DataFrame, vecCol: String,
      m: Int, k: Int): Array[Array[Array[Double]]] = {
    val sample = corpus.select(col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      // Spark's XxHash64 itself: `xxhash64` by name is CH's once registered
      .orderBy(graft.functions.ch.sparkXxhash64(col("__v")), col("__v"))
      .limit(k * PointsPerCentroid).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"k-means: no vectors in $vecCol")
    val dim = sample(0).length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m)(j => kMeans(sample.map(_.slice(j * sub, (j + 1) * sub)), k))
  }

  /** Lloyd's k-means on the driver: k-means++ seeding from a constant
    * seed, then at most MaxIterations rounds, stopping early once no
    * point changes centroid. An empty cluster keeps its centroid, and
    * seeding repeats the first centroid once every point is one, so the
    * result always holds exactly k centroids. */
  private def kMeans(points: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    def dist2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0) { (s, i) => val d = a(i) - b(i); s + d * d }
    val rnd = new scala.util.Random(Seed)
    val first = points(rnd.nextInt(points.length))
    val centroids = Array.fill(k)(first)
    val d2 = points.map(dist2(_, first))
    for (c <- 1 until k) {
      // D² sampling: point i with probability d2(i) / Σ d2
      val cum = d2.scanLeft(0.0)(_ + _).tail
      if (cum.last > 0) {
        val r = rnd.nextDouble() * cum.last
        val i = cum.indexWhere(_ > r)  // -1 only if r rounded up to Σ
        centroids(c) = points(if (i >= 0) i else d2.lastIndexWhere(_ > 0))
      }
      for (i <- points.indices) d2(i) = d2(i) min dist2(points(i), centroids(c))
    }
    // nearest centroid, the lowest index on ties (as `nearest` below)
    def assign =
      points.map(p => centroids.indices.minBy(c => dist2(p, centroids(c))))
    var cells = Array.fill(points.length)(-1)
    var next = assign
    var iter = 0
    while (iter < MaxIterations && !next.sameElements(cells)) {
      cells = next
      for ((c, is) <- points.indices.groupBy(cells(_)))
        centroids(c) = points(0).indices
          .map(d => is.map(points(_)(d)).sum / is.size).toArray
      next = assign
      iter += 1
    }
    centroids
  }

  /** ‖v − c‖² to each centroid c of `book`. `v` is a lambda argument: on an
    * outer reference the fused kernel let Spark 4.1 copy q_ann_ivf's join
    * key to the probe side, which lacks its input (ATTRIBUTE_NOT_FOUND). */
  private def centroidDists(v: Column, book: Array[Array[Double]]): Column = {
    val bookLit = array(book.map(c => array(c.map(lit): _*)): _*)
    zip_with(bookLit, array_repeat(v, book.length), (c, x) => l2sq(x, c))
  }

  /** Index of the centroid of `book` nearest (L2) to `v`, the lowest
    * index on ties. */
  private def nearest(v: Column, book: Array[Array[Double]]): Column = {
    val dists = centroidDists(v, book)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Encode vectors to PQ codes (array<int> of length m, one centroid
    * id per subspace) — pure columnar expressions over codebook
    * literals, no UDFs. */
  def pqEncode(df: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      codeCol: String = "pq_code"): DataFrame = {
    val sub = codebooks(0)(0).length
    val codes = codebooks.indices.map(j =>
      nearest(subvec(vecCol, j, sub), codebooks(j)))
    df.withColumn(codeCol, array(codes: _*))
  }

  /** Approximate top-k nearest (L2) neighbors via PQ asymmetric
    * distance. The corpus side reads ONLY the m-byte codes; the per-query
    * LUT (m×ksub distances) is computed once per query row and the
    * candidate distance is m element_at lookups — the standard ADC scan.
    * 100 TB shape: codes are tiny and columnar, the scan is a broadcast
    * of the (small) query side against the code column, no float
    * vectors move. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String, k: Int,
      codebooks: Array[Array[Array[Double]]],
      rerank: Int = 4): DataFrame = {
    val shortlist = pqAdcShortlist(queries, corpus, queryId, corpusId,
      vecCol, k, codebooks, rerank)
    pqRefine(shortlist, queries, corpus, queryId, corpusId, vecCol, k)
  }

  /** ADC stage of [[pqTopK]]: the (query_id, neighbor_id) shortlist of
    * the rerank·k best candidates per query by PQ asymmetric distance.
    * The corpus side reads ONLY the m-byte codes. Exposed separately so
    * the refine stage can be verified independently (the shortlist is
    * the approximate part; the refine is deterministic exact L2). */
  def pqAdcShortlist(queries: DataFrame, corpus: DataFrame,
      queryId: String, corpusId: String, vecCol: String, k: Int,
      codebooks: Array[Array[Array[Double]]],
      rerank: Int = 4): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val encoded = pqEncode(corpus, vecCol, codebooks)
      .select(col(corpusId).as("neighbor_id"), col("pq_code"))
    // LUT: luts(j)(c) = ||q_j - centroid_c||² for subspace j
    val lut = array((0 until m).map(j =>
      centroidDists(subvec(vecCol, j, sub), codebooks(j))): _*)
    val q = queries.select(col(queryId).as("query_id"), lut.as("__lut"))
    val scored = encoded.join(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        aggregate(zip_with(col("__lut"), col("pq_code"),
          (l, c) => element_at(l, c + 1)),
          lit(0.0), (acc, v) => acc + v))
    // ADC shortlist (rerank·k per query) — the FAISS IVFPQ+refine shape:
    // the full corpus moves as m-byte codes
    rankPerQuery(scored, "adc_dist", descending = false, k * rerank)
      .select("query_id", "neighbor_id")
  }

  /** Refine stage of [[pqTopK]]: exact L2 over only the shortlisted
    * float vectors (k·rerank rows per query via an equi join), then the
    * final top-k. Deterministic given the shortlist. */
  def pqRefine(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, queryId: String, corpusId: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val refined = shortlist
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("l2_dist", round(sqrt(l2sq(col("__qv"), col("__cv"))), 6))
    rankPerQuery(refined, "l2_dist", descending = false, k)
  }
}
