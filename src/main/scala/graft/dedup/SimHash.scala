package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.util.Frames

/** 64-bit SimHash fingerprints (Charikar) as native column expressions.
  *
  * simhash(doc) sets bit j when the sum over tokens of ±1 (per token-hash
  * bit j) is positive; near-duplicate docs differ in few bits, so
  * `hamming(a, b) <= k` is the near-dup test. Computing it is one
  * projection (no shuffle); pairing is chunk-blocked LSH on the
  * fingerprint ([[nearDupFromFingerprints]]). The hash family
  * ([[HashFamily]]) only chooses the per-shingle base hash and the
  * fingerprint width; every later stage is shared.
  */
object SimHash {

  /** 64-bit SimHash of an `array<string>` token column in the xxhash
    * production family (seed-42 xxhash64 per token). Empty docs hash to
    * 0. Two native loops (`BaseHashes`, `SimHashFromBases`) — the HOF
    * formulation's interpreted per-token-per-bit closures dominated the
    * corpus bench.
    */
  def simhash64(tokens: Column): Column =
    fingerprint(HashFamily.Xxhash, tokens)

  /** SimHash over PRE-COMPUTED base hashes (`array<long>`): per-bit ±1
    * majority over the low `bits` bits, bit set iff the counter is
    * strictly positive. Empty arrays fingerprint to 0. Over md5-derived
    * bases ([[Dedup.md5Bases]]) the fingerprint replays bit-for-bit in
    * ANSI SQL.
    */
  def simhashFromBases(bases: Column, bits: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.SimHashFromBases(
        org.apache.spark.sql.graft.ColumnShim.expression(bases), bits))

  /** `family`'s SimHash fingerprint of a shingle (or token) array: its
    * base hashes voting over `family.simhashBits` bits.
    */
  private[graft] def fingerprint(family: HashFamily,
      shingles: Column): Column =
    simhashFromBases(family.bases(shingles), family.simhashBits)

  /** `(idCol, fp)`: `family`'s fingerprint of each document's k-word
    * shingles — the one fingerprint builder of the batch SimHash
    * pipelines ([[nearDuplicates]] and the oracled
    * `dedup_simhash_documents` lane). Two projections: tokens land as a
    * column first, so the shingle expression's references (incl. the
    * interpreted transform lambda) read an attribute instead of
    * re-splitting the text per shingle ([[Dedup.shingleSets]]).
    */
  private[graft] def fingerprints(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, family: HashFamily,
      shingleK: Int = 3): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), Dedup.tokensOf(col(textCol)).as("__toks"))
      .select(col(idCol), fingerprint(family,
        Dedup.wordShinglesFromTokens(col("__toks"), shingleK)).as("fp"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Chunk-blocked near-dup report from a precomputed `(idCol, fp)`
    * frame, at FINGERPRINT-GROUP grain — the shared core of the
    * production and oracled SimHash lanes (and of any other 64-bit-
    * fingerprint modality that wants hamming banding):
    *
    *  1. exact-equal fingerprints collapse to their min-id
    *     representative first; groups with ≥ 2 members report as
    *     DIAGONAL rows `(rep, rep, 0, n, n)` — hamming-0 duplicates
    *     at group grain, never the m²/2 within-group pairs (near-
    *     empty/boilerplate docs all fingerprint identically on real
    *     crawls, and constant chunk 0x0000 is hot — the degenerate
    *     pileup that made the unbounded join quadratic);
    *  2. representatives' fingerprints band into `nChunks` chunks of
    *     `chunkBits` bits; each (chunk index, chunk value) bucket is
    *     bounded to `[2, maxBucket]` rows (the [[Dedup]] LSH guard) —
    *     buckets past the bound drop LOSSILY, the one deliberate
    *     recall trade, sized to the caller's skew budget;
    *  3. surviving same-chunk representative pairs verify with the
    *     exact hamming distance; `hamming <= maxHamming` survives,
    *     carrying both groups' member counts as `n_a`/`n_b`.
    *
    * Output: `(id_a, id_b, hamming, n_a, n_b)` — cross rows have
    * `id_a < id_b`, diagonal rows `id_a = id_b`.
    *
    * Cache lifecycle: the group and bounded-bucket frames are cached
    * (each feeds two downstream consumers) and the result is lazy, so
    * the caches outlive this call as [[graft.util.Frames.deferred]]
    * releases: consume the result, then
    * `graft.util.DeferredCleanup.drain()` (a stream batch releases
    * them at its end).
    */
  def nearDupFromFingerprints(fps: org.apache.spark.sql.DataFrame,
      idCol: String, fpCol: String, chunkBits: Int, nChunks: Int,
      maxHamming: Int, maxBucket: Int = 64)
      : org.apache.spark.sql.DataFrame =
    nearDupFromGroups(
      fps.groupBy(fpCol)
        .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__n")),
      idCol, fpCol, chunkBits, nChunks, maxHamming, maxBucket)

  /** [[nearDupFromFingerprints]] from PRE-COLLAPSED fingerprint
    * groups `(idCol = min-id representative, fpCol, __n = member
    * count)` — the maintained-stream entry point: per-batch group
    * partials fold by (min, sum), which COMMUTES, so a streaming
    * index folded over any batch cut feeds this tail and reproduces
    * the batch report exactly ([[graft.streaming.StreamingPipelines
    * .simhashStream]]). `persistIntermediates = false` skips the
    * internal caches when `groups` is already materialized state
    * (parquet/localCheckpoint) — re-reading tiny materialized frames
    * beats caching them per micro-batch.
    */
  def nearDupFromGroups(groups0: org.apache.spark.sql.DataFrame,
      idCol: String, fpCol: String, chunkBits: Int, nChunks: Int,
      maxHamming: Int, maxBucket: Int = 64,
      persistIntermediates: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    require(chunkBits > 0 && chunkBits < 64 && nChunks > 0 &&
      chunkBits * nChunks <= 64, "chunks must tile the fingerprint")
    require(maxBucket >= 2, "maxBucket must admit at least one pair")
    val mask = (1L << chunkBits) - 1L
    val groups =
      if (persistIntermediates) Frames.deferred(groups0) else groups0
    val chunks = groups.select(col(idCol), col(fpCol), col("__n"),
      posexplode(array((0 until nChunks).map(i =>
        shiftrightunsigned(col(fpCol), i * chunkBits)
          .bitwiseAND(mask)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val bounded0 = chunks.withColumn("__bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("chunk_idx", "chunk_val")))
      .filter(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n")
    // the bounded index feeds BOTH join sides: cache it in the batch
    // lanes (a deferred release), or — when the input is materialized
    // state (the streaming path) — take a localCheckpoint barrier that
    // frees with the frame, so the bucket window still runs ONCE
    val bounded =
      if (persistIntermediates) Frames.deferred(bounded0)
      else bounded0.localCheckpoint(true)
    val cross = bounded.as("a")
      .join(bounded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$fpCol").as("__fa"), col(s"b.$fpCol").as("__fb"),
        col("a.__n").as("n_a"), col("b.__n").as("n_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        hamming(col("__fa"), col("__fb")).cast("long").as("hamming"),
        col("n_a"), col("n_b"))
      .filter(col("hamming") <= maxHamming)
    val diagonal = groups.filter(col("__n") >= 2)
      .select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0L).as("hamming"), col("__n").as("n_a"),
        col("__n").as("n_b"))
    cross.unionByName(diagonal)
  }

  /** PRODUCTION SimHash near-dup pipeline — the composed form of the
    * primitives above, in the xxhash family (the API default; the
    * registered oracle twin `dedup_simhash_documents` runs the same
    * [[fingerprints]] builder over md5 bases). Shape: one projection
    * corpus → 64-bit fingerprints (cached: consumed by the group
    * collapse — without it the whole tokenize/shingle chain would
    * re-evaluate per consumer, the r4 lesson), then the shared
    * [[nearDupFromFingerprints]] core: exact-equal fingerprints
    * collapse to group representatives (diagonal `(rep, rep, 0, n,
    * n)` rows report hamming-0 groups at group grain), 4×16-bit chunk
    * blocking over representatives with the `[2, maxBucket]` bucket
    * bound (a pair within hamming ≤ 3 must share an identical chunk
    * by pigeonhole — used as a candidate filter under the wider
    * `maxHamming` verify threshold), equality self-join on
    * (chunk_idx, chunk_val), exact hamming verify. Never all-pairs:
    * the join is a hash join on the chunk key, and no bucket admits
    * more than `maxBucket` rows.
    *
    * Cache lifecycle: the returned frame is LAZY and derives from
    * cached intermediates, so the caches outlive this call by design
    * as [[graft.util.Frames.deferred]] releases: consume the result,
    * then `graft.util.DeferredCleanup.drain()` (what the
    * gate/bench/spec boundaries do). Releasing here would re-tokenize
    * the corpus on first use of the result.
    *
    * API-CHANGE NOTE (r15): output is at FINGERPRINT-GROUP grain, not
    * pair grain — exact-equal fingerprints report as ONE diagonal
    * `(rep, rep, 0, n, n)` row instead of the m²/2 within-group pairs,
    * and cross rows carry the new `n_a`/`n_b` member counts. The
    * `maxBucket` bound (default 64) also makes the banding LOSSY for
    * chunk-value buckets past the bound — a deliberate recall trade
    * sized to the skew budget. Callers that need the pre-r15
    * every-pair, lossless behavior must explode the diagonal groups
    * themselves and pass `maxBucket = Int.MaxValue`.
    */
  def nearDuplicates(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, maxHamming: Int = 12,
      maxBucket: Int = 64): org.apache.spark.sql.DataFrame = {
    val fps = Frames.deferred(
      fingerprints(docs, idCol, textCol, HashFamily.Xxhash, shingleK))
    nearDupFromFingerprints(fps, idCol, "fp", chunkBits = 16,
      nChunks = 4, maxHamming = maxHamming, maxBucket = maxBucket)
  }
}
