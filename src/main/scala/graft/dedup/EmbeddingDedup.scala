package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.Similarity
import graft.util.Frames

/** Embedding-cosine near-duplicate detection — the vector-space member of
  * the dedup family (exact / MinHash / SimHash / n-gram Jaccard live in
  * [[Dedup]]).
  *
  * Two candidate generators, one verifier:
  *   - [[cosinePairsBlocked]]: equality blocking on a caller-chosen key
  *     (hash join, never a crossJoin). Correctness variant — the block key
  *     must be selective for this to scale; it is the oracle-checkable
  *     path, not the 100 TB default.
  *   - [[cosinePairsLsh]]: random-hyperplane sign-LSH buckets with a hash
  *     width that SCALES with corpus size ([[Similarity.scaledBits]]) so
  *     expected bucket size — and with it candidate fan-out — stays
  *     constant per row: candidates ≈ tables·n·targetBucket/2 = O(n),
  *     pinned ≤ 32·n by DedupSpec. (Round 3 shipped a fixed 4-bit width:
  *     16 buckets per table swallow any corpus, candidates ≈ 64% of ALL
  *     pairs — an all-pairs join in disguise. Never again: the spec
  *     bound fails if the width stops scaling.)
  *
  * Operating envelope (same physics as the [[graft.sim.Similarity]] class
  * doc): banded sign-LSH is a high-similarity detector. At the near-dup
  * design point (cosine ≥ 0.9, θ ≤ 26°, p = 1−θ/π ≈ 0.86) recall with
  * 8 tables × 8 bits is 1−(1−p⁸)⁸ ≈ 0.99 — pinned on planted twins in
  * DedupSpec. At θ ≈ 72° (the fixture's cosine-0.3 tail of an isotropic
  * cloud) per-pair recall is 1−(1−p⁸)⁸ ≈ 0.12 and THAT IS THE CEILING for
  * O(n)-candidate LSH there (ρ = ln p₁ / ln p₂ ≈ 0.74 ⇒ Ω(n^1.74)
  * candidate work for high recall); DedupSpec pins the measured recall to
  * the analytic curve instead of wishing the physics away. For moderate-
  * similarity mining use [[cosinePairsBlocked]] on a selective key or the
  * IVF route ([[graft.sim.IvfSimilarity]]).
  *
  * Verification is exact cosine on candidate PAIRS only, in double
  * precision with a sequential fold (bit-identical to DuckDB's
  * list_dot_product, so the blocked variant hash-matches its oracle).
  */
object EmbeddingDedup {

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Exact cosine on candidate pairs via two hash joins back to the
    * (id, vector) projection.
    */
  def cosineOnPairs(pairs: DataFrame, df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val vecs = df.select(col(idCol).as("__id"),
      asDouble(col(vecCol)).as("__v"))
    pairs
      .join(vecs.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__v", "__va"), "id_a")
      .join(vecs.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__v", "__vb"), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__va"), col("__vb")).as("cosine"))
  }

  /** Near-dup pairs sharing `blockCol`, cosine ≥ threshold. */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val e = df.select(col(idCol), col(blockCol).as("__blk"))
    val pairs = e.as("a")
      .join(e.as("b"), col("a.__blk") === col("b.__blk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    cosineOnPairs(pairs, df, idCol, vecCol)
      .filter(col("cosine") >= threshold)
  }

  /** Semantic decontamination — the embedding-space complement of
    * [[graft.text.Decontam]]'s n-gram overlap: flag corpus items whose
    * best cosine against ANY held-out eval embedding clears
    * `threshold` (paraphrased benchmark questions share no n-grams but
    * land next to each other in embedding space). Output:
    * `(idCol, eval_id, cosine)` — the ARGMAX eval neighbor per flagged
    * item (ties break to the lowest eval id via the struct order).
    *
    * Scale shape: the eval side is benchmark-sized by definition, so
    * it BROADCASTS and the corpus×eval scoring is map-side (the
    * Decontam broadcast-gram-probe shape); the per-item max is a
    * map-side-combinable aggregate, so only n corpus rows ever
    * shuffle, none of the n×m scored pairs. For an eval set too big to
    * broadcast, compose [[lshCandidatePairs]] on the union instead —
    * same verdict, candidate-bounded.
    */
  def evalOverlap(corpus: DataFrame, eval: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    // the combinable argmax below encodes "max cosine, ties to LOWEST
    // eval id" as max(struct(cosine, −eval_id)) — which requires a
    // numeric id. Fail at plan-build time with the precondition named:
    // under ANSI a string id would fail analysis cryptically, and
    // without ANSI it would cast to null and CORRUPT the neighbor
    // column silently. (A generic-id variant would rank with a keyed
    // window — at the cost of shuffling all n×|eval| scored rows
    // instead of the corpus-grain max frame.)
    require(eval.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"evalOverlap needs a numeric id column, got " +
        s"${eval.schema(idCol).dataType.simpleString}")
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("__cv"))
    val e = eval.select(col(idCol).as("eval_id"),
      asDouble(col(vecCol)).as("__ev"))
    c.crossJoin(broadcast(e))
      .select(col(idCol), col("eval_id"),
        Similarity.cosine(col("__cv"), col("__ev")).as("cosine"))
      .groupBy(col(idCol))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("__nid")))
        .as("__m"))
      .select(col(idCol), (-col("__m.__nid")).as("eval_id"),
        col("__m.cosine").as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Candidate pairs (id_a < id_b) from corpus-scaled sign-LSH buckets —
    * public so the O(n) bound is directly testable.
    *
    * @param bits       hash width; 0 (default) = [[Similarity.scaledBits]]
    *                   (expected bucket ≈ `targetBucket` rows at any n)
    * @param maxBucket  degenerate-bucket guard (e.g. a zero-vector pileup
    *                   hashing identically): buckets larger than this are
    *                   dropped, not exploded quadratically. With scaled
    *                   bits a healthy bucket sits near `targetBucket`, so
    *                   the cap only fires on pathological data.
    * @param corpusSize pass when known to skip the sizing count
    *
    * Cache lifecycle: the returned pair frame is LAZY over the cached
    * bounded-bucket index (consumed by both self-join sides), so the
    * cache outlives this call by design as a
    * [[graft.util.Frames.deferred]] release — consume the pairs, then
    * `graft.util.DeferredCleanup.drain()` (what the gate/bench/spec
    * boundaries do); releasing here would rebuild the index once per
    * join side.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, bits: Int = 0, dims: Int = 64,
      targetBucket: Int = 32, maxBucket: Int = 256,
      corpusSize: Option[Long] = None): DataFrame = {
    val b =
      if (bits > 0) bits
      else Similarity.scaledBits(corpusSize.getOrElse(df.count()),
        targetBucket)
    val idx = Similarity.lshIndex(df, idCol, vecCol, tables, b, dims)
    // Materialized ANN index: without the cache the hyperplane hashing
    // is re-derived on each side of the self-join (and under the window).
    val bounded = Frames.deferred(idx.withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("table_idx", "bucket")))
      .filter(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n"))
    val left = bounded.select(col("table_idx"), col("bucket"),
      col(idCol).as("id_a"))
    val right = bounded.select(col("table_idx"), col("bucket"),
      col(idCol).as("id_b"))
    left.join(right, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Near-dup pairs from scaled sign-LSH buckets, cosine ≥ threshold. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 8, bits: Int = 0, dims: Int = 64,
      maxBucket: Int = 256, corpusSize: Option[Long] = None): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, vecCol, tables, bits, dims,
      maxBucket = maxBucket, corpusSize = corpusSize)
    cosineOnPairs(cands, df, idCol, vecCol)
      .filter(col("cosine") >= threshold)
  }
}
