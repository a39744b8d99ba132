package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ch

/** Document deduplication for large-scale training-data pipelines.
  *
  * Exact dedup is a hash groupBy (one shuffle). Near-dup uses MinHash+LSH:
  * shingle → per-hash min → band → bucket-join, the standard approach that
  * scales linearly in corpus size (band explode is O(n·bands) rows, the
  * self-join only pairs documents sharing a band bucket — never the O(n²)
  * cross product). Candidates are then verified with exact Jaccard so the
  * output is precision-1 relative to the threshold; LSH only bounds recall.
  *
  * Everything is built from codegen'd Catalyst built-ins (`transform`,
  * `aggregate`, `xxhash64`, `hash`) — no UDFs in the hot path.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical value of
    * `exprCol`. */
  def exact(df: DataFrame, idCol: String, exprCol: Column): DataFrame =
    df.groupBy(exprCol.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-shingles of a whitespace-tokenized text column. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))
  }

  /** MinHash signature: shingles are string-hashed ONCE to longs, then
    * each of the numHashes functions is a cheap long re-hash — 64 string
    * hashes per shingle would dominate the pipeline otherwise. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val base = transform(shingles, s => ch.sparkXxhash64(s))
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(base, h => ch.sparkXxhash64(h, j))))
  }

  /** Exact Jaccard similarity of two array columns (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Near-duplicate pairs by MinHash LSH, verified with exact Jaccard.
    *
    * Building the DataFrame has no side effect: nothing is cached. The
    * shingle-hash frame `hashed` (three readers) and the banded frame
    * `sized` (two readers) are shared within each execution by Spark's
    * exchange reuse: the second reader of the (band, bucket) exchange gets
    * a `ReusedExchange`, and one broadcast of `hashed` serves both verify
    * joins (DedupSimilaritySpec pins both). The trade is that
    * `ShingleHashes` runs twice per document, once for banding and once
    * for the broadcast, instead of once into a cache.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 512): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // One string-hash per shingle; everything after works on long arrays.
    val hashed = df.select(
      col(idCol).as("id"),
      graft.functions.ShingleHashes(col(textCol), shingleK).as("base"))

    // Banded rows are (band, bucket, id) ONLY — carrying shingle arrays
    // through the 16-way explode would inflate the shuffle 16×. The
    // signature + band buckets come from the single-pass MinHashBands
    // expression (graft.functions.MinHashBands).
    val banded = hashed.select(col("id"),
      posexplode(graft.functions.MinHashBands(col("base"), numHashes, bands))
        .as(Seq("band", "bucket")))

    // Bucket-size cap: at web scale, mass-duplicated boilerplate puts N
    // identical docs in one (band,bucket) and the all-pairs self-join goes
    // O(N²). Buckets over `maxBucketSize` are star-linked instead: every
    // member pairs with the bucket's min id only (O(N)), which preserves
    // the connected component a downstream clustering step needs while
    // bounding work. The window partitions by (band,bucket) — the same key
    // the self-join shuffles on, so no extra exchange.
    val bw = Window.partitionBy(col("band"), col("bucket"))
    // `sized` has two readers (small-bucket pairs and star pairs); both
    // read the one (band, bucket) exchange under the window.
    val sized = banded
      .withColumn("__bsz", count(lit(1)).over(bw))
      .withColumn("__bmin", min(col("id")).over(bw))
    val small = sized.filter(col("__bsz") <= maxBucketSize)
    // Bucket-local pair generation (r15): the `sized` frame is
    // already hash-partitioned on (band,bucket) from the window's
    // exchange, so this aggregation runs EXCHANGE-FREE and the pairs are
    // emitted in the same stage. The previous formulation self-joined
    // two scans of `sized` on (band,bucket), which planned a
    // BroadcastExchange over one full copy of the small-bucket frame —
    // at corpus scale that is a driver-sized broadcast (or, if AQE picks
    // SMJ, two extra sorts). The collected per-bucket id array is
    // bounded by the `__bsz <= maxBucketSize` filter above (≤512 ids ≈
    // 4 KB), so this is NOT an unbounded collect_list: degenerate buckets
    // take the star-link branch below and never reach this aggregate.
    // Pair semantics are identical to the join: all (a,b) with a < b
    // sharing a small (band,bucket).
    // ArrayPairs = fused tight-loop form of the nested
    // transform/filter/struct HOFs (interpreted lambdas, guide §4)
    val allPairs = small
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("__ids"))
      .select(explode(graft.functions.ArrayPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
    val starPairs = sized
      .filter(col("__bsz") > maxBucketSize && col("id") =!= col("__bmin"))
      .select(col("__bmin").as("id_a"), col("id").as("id_b"))
    // A caller's ORDER BY samples the verify stage, so each pair is
    // verified twice. Range-partitioning here instead would verify once,
    // but its own sample re-runs pair generation, which costs more.
    val candidates = allPairs.union(starPairs)
      .dropDuplicates("id_a", "id_b")

    // Exact-Jaccard verification over the distinct-shingle-hash arrays:
    // |A∩B|/|A∪B| on 64-bit hashes equals the string-shingle Jaccard
    // (collisions are negligible and would be caught by the oracle). The
    // join strategy is deliberately left to AQE (no broadcast hint):
    // locally it broadcasts `hashed`; at corpus scale it would broadcast
    // the (LSH-filtered, far smaller) candidate side or degrade to a
    // shuffled join — a hint would force-broadcast one side and OOM on
    // whichever degenerate input makes that side large.
    candidates
      .join(hashed.select(col("id").as("id_a"), col("base").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("base").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Character n-gram set of a string (for n-gram Jaccard similarity,
    * ref `src/Functions/FunctionsStringSimilarity.cpp` ngramDistance). */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** SimHash: 64-bit fingerprint where bit b is the sign of the sum over
    * tokens of (bit b of xxhash64(token) ? +1 : -1). Near-dup docs differ
    * in few bits (compare with Hamming distance via bit_count(a ^ b)).
    *
    * r16: fused single-pass expression (graft.functions.SimHash64) —
    * bit-identical to [[simhashComposed]] (DedupSimilaritySpec pins it),
    * but one loop over the tokens instead of 64 interpreted per-bit
    * `aggregate` passes (guide §4: non-codegen expressions out of the
    * hot path; the worst remaining HOF offender after r15's kernels). */
  def simhash(tokens: Column): Column = graft.functions.SimHash64(tokens)

  /** The original composed-builtin SimHash — kept as the equivalence
    * oracle for the fused expression (per-token hashes → per-bit vote →
    * bits), not used on any query path. */
  private[graft] def simhashComposed(tokens: Column): Column = {
    val hashes = transform(tokens, t => ch.sparkXxhash64(t))
    // vote(b) = sum over hashes of (bit b set ? 1 : -1); dynamic shift
    // amounts need the SQL shiftright/shiftleft (column shift operand)
    def shr(v: Column, b: Column) = call_function("shiftright", v, b)
    def shl(v: Column, b: Column) = call_function("shiftleft", v, b)
    val bitsSet = sequence(lit(0), lit(63))
    val votes = transform(bitsSet, b =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shr(h, b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(bitsSet, votes, (b, v) =>
        when(v > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }
}
