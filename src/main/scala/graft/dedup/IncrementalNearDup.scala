package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.{Frames, Gates}

/** Incremental batch-vs-corpus NEAR-dup dedup — the composition of
  * [[Dedup]]'s MinHash-LSH banding (X2) with [[IncrementalDedup]]'s
  * batch-vs-corpus shape (X27): a daily ingest batch is probed against
  * the accumulated corpus's PERSISTED band index, so near-duplicate
  * admission control runs per batch without ever re-scanning — let
  * alone re-shuffling — the corpus.
  *
  * Production seam: [[Index]] is the pair of frames a pipeline persists
  * once per corpus version (the band table `(id, band_idx, band_hash)`
  * — the LSH index proper, ~1 KB/row — and the shingle-set table the
  * exact verify reads); per batch only [[matches]] runs. Dataflow, in
  * corpus-touch order:
  *
  *   1. the batch's band keys (|batch|·bands rows, distinct-keyed)
  *      BROADCAST against the corpus band index — a map-side left-semi
  *      that streams the index once and keeps only bucket-matched
  *      corpus rows (candidate-sized from here on);
  *   2. matched buckets are bounded to `maxBucket` corpus members
  *      (the degenerate-bucket guard — counted over the matched rows,
  *      which IS the full bucket count since the semi-join filters on
  *      the bucket key, never splits a bucket);
  *   3. candidate `(batch_id, dup_of)` pairs join batch bands to the
  *      bounded buckets — both frames candidate-sized;
  *   4. exact-Jaccard verify: candidates broadcast against the corpus
  *      set table (streamed once, map-side) under the
  *      [[graft.util.Gates.broadcasts]] count gate —
  *      a duplicate-heavy batch falls back to a shuffle join of the
  *      candidate-sized frames, never of the corpus.
  *
  * Recall physics are X2's, unchanged: banding only selects CANDIDATES;
  * survivors clear the exact Jaccard threshold, so the md5 and xxhash
  * families agree on survivors whenever both propose every true pair.
  * That is an empirical fact of the gate corpus, checked by the floor
  * tests (IncrementalNearDupSpec, DedupSpec) — not a bound: the
  * textbook (1−s⁴)³² miss rate assumes independent hash functions, and
  * this family's aᵢ = 2i+1 functions are strongly correlated (a pair
  * at Jaccard 0.924 measured sharing 0 of 32 bands — see "Near-dup
  * recall" in perfbench/README.md).
  */
object IncrementalNearDup {

  /** The persisted corpus-side index: `bands` = (idCol, band_idx,
    * band_hash); `sets` = (idCol, __set) distinct shingle sets for the
    * exact verify. Build once per corpus version ([[buildOracled]] /
    * [[build]]), write both frames to storage, probe every batch.
    */
  final case class Index(bands: DataFrame, sets: DataFrame)

  /** Corpus index with the md5-derived oracle-replayable hash family
    * ([[Dedup.nearDuplicatesOracled]]'s) — the gate twin, and the
    * layout [[graft.streaming.StreamingPipelines.nearDupStream]]
    * persists per batch.
    */
  def buildOracled(corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32): Index =
    buildWith(HashFamily.Md5, corpus, idCol, textCol, shingleK,
      numHashes, bands)

  /** Corpus index with the xxhash production family
    * ([[Dedup.nearDuplicates]]'s) — the API default.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32): Index =
    buildWith(HashFamily.Xxhash, corpus, idCol, textCol, shingleK,
      numHashes, bands)

  private def buildWith(family: HashFamily, corpus: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      bands: Int): Index = {
    val sets = Dedup.shingleSets(corpus, idCol, textCol, shingleK)
    Index(Dedup.minHashBands(family, sets, idCol, numHashes, bands), sets)
  }

  /** `(batch_id, dup_of, jaccard)` — every batch document's verified
    * near-duplicate partners in the indexed corpus (exact Jaccard ≥
    * `threshold` over the shared shingle sets). Batch-internal pairs
    * are out of scope by design (dedup the batch against itself with
    * the X2 lanes first). Admission = batch anti-join on `batch_id`.
    *
    * `batchSets`/`batchBands` must come from the SAME hash family as
    * the index ([[probeOracled]] / [[probe]] compose this correctly).
    *
    * EAGER-ACTION NOTE (the [[IncrementalDedup.newRows]] contract): the
    * verify-path broadcast is count-gated, so one candidate-sized count
    * job runs at call time; the batch-side frames stay cached across
    * the count and the returned plan as [[graft.util.Frames.deferred]]
    * releases: consume the result, then
    * `graft.util.DeferredCleanup.drain()` (a stream batch releases them
    * at its end).
    */
  def matches(index: Index, batchSets: DataFrame,
      batchBands: DataFrame, idCol: String, threshold: Double,
      maxBucket: Int = 64): DataFrame = {
    val qb = Frames.deferred(batchBands.select(col(idCol).as("batch_id"),
      col("band_idx"), col("band_hash")))
    // 1. bucket-key semi-join: the corpus band index streams ONCE
    // against the broadcast batch keys; output is candidate-sized
    val keys = qb.select(col("band_idx"), col("band_hash")).distinct()
    // cached: read by the bound window AND the candidate join
    val matched = Frames.deferred(index.bands
      .join(broadcast(keys), Seq("band_idx", "band_hash"), "left_semi"))
    // 2. degenerate-bucket guard over the matched (= full, the semi-
    // join never splits a bucket) corpus bucket counts. No lower bound:
    // unlike the self-join lanes' [2, max], a SINGLE corpus member is a
    // legitimate match target for a batch probe.
    val bounded = matched
      .withColumn("__bucket_n", count(lit(1)).over(
        Window.partitionBy("band_idx", "band_hash")))
      .filter(col("__bucket_n") <= maxBucket)
      .select(col(idCol).as("dup_of"), col("band_idx"),
        col("band_hash"))
    // 3. candidate pairs — both sides candidate-sized
    val cand = Frames.deferred(qb.join(bounded, Seq("band_idx", "band_hash"))
      .select(col("batch_id"), col("dup_of")).distinct())
    // 4. exact verify: candidates carry the batch set (broadcast-
    // joined — batch-sized by construction), then meet the corpus set
    // table map-side under the count gate
    val bs = batchSets.select(col(idCol).as("batch_id"),
      col("__set").as("__set_a"))
    val cs = index.sets.select(col(idCol).as("dup_of"),
      col("__set").as("__set_b"))
    val withBatch = cand.join(broadcast(bs), Seq("batch_id"))
    Gates.side(Gates.broadcasts(cand.count()), withBatch)
      .join(cs, Seq("dup_of"))
      .select(col("batch_id"), col("dup_of"),
        (size(array_intersect(col("__set_a"), col("__set_b")))
          .cast("double") /
          greatest(size(array_union(col("__set_a"), col("__set_b"))),
            lit(1))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** One-shot composed form, md5 family: build the corpus index, probe
    * the batch — the gate lane's entry point (production persists the
    * index and calls [[matches]] per batch instead).
    */
  def probeOracled(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.8,
      maxBucket: Int = 64): DataFrame =
    probeWith(HashFamily.Md5, corpus, batch, idCol, textCol, shingleK,
      numHashes, bands, threshold, maxBucket)

  /** One-shot composed form, xxhash production family. */
  def probe(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.8,
      maxBucket: Int = 64): DataFrame =
    probeWith(HashFamily.Xxhash, corpus, batch, idCol, textCol, shingleK,
      numHashes, bands, threshold, maxBucket)

  private def probeWith(family: HashFamily, corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, shingleK: Int,
      numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val idx = buildWith(family, corpus, idCol, textCol, shingleK,
      numHashes, bands)
    val bSets = Frames.deferred(
      Dedup.shingleSets(batch, idCol, textCol, shingleK))
    matches(idx, bSets,
      Dedup.minHashBands(family, bSets, idCol, numHashes, bands), idCol,
      threshold, maxBucket)
  }
}
