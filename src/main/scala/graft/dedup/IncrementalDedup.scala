package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.BloomShim

import graft.util.{Frames, Gates}

/** Incremental (batch-vs-corpus) exact dedup — the continuous-ingest
  * shape: admit only batch documents whose key does not already exist in
  * the accumulated corpus, WITHOUT joining the batch against the corpus.
  *
  * The corpus is summarized once into a Bloom filter over xxhash64(key)
  * (Spark's own `BloomFilterAggregate` — the engine's runtime-join-filter
  * sketch, built distributed with map-side partial merge). Membership is
  * a codegen'd `BloomFilterMightContain` probe, so the batch splits
  * map-side into:
  *   - definitely-new rows (bloom says no — NO false negatives, these
  *     are admitted with zero join work), and
  *   - candidate duplicates (true dups + the fpp tail), confirmed by an
  *     exact join that BROADCASTS the candidates and only STREAMS the
  *     corpus — the corpus is never shuffled, and the only exchange
  *     anywhere is over the candidate-sized frames. The broadcast is
  *     COUNT-GATED (see [[newRows]]): a duplicate-heavy batch whose
  *     candidate set exceeds the gate falls back to a plain shuffle
  *     anti-join instead of an unbounded driver broadcast.
  *
  * The bloom is a pure prefilter: it cannot change the result (no false
  * negatives), so the operator equals a plain anti-join — which is
  * exactly how the gate oracles it. Sketch size is the scale dial:
  * ~1.2 GB per 10⁹ corpus keys at 1% fpp, built once per ingest window
  * and reused across batches — NOTE that sizes past the session's
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
  * caps (defaults: 4M items / 8 MB) require raising those confs;
  * [[buildBloom]] fails loud naming them rather than letting the
  * aggregate cap silently and saturate the fpp.
  */
object IncrementalDedup {

  val DefaultFpp = 0.01

  /** Serialized Bloom filter over xxhash64 of `key` rows of `corpus`.
    * `expectedItems` sizes the sketch (use the corpus row count or a
    * cheap overestimate); bits follow the standard optimum
    * −n·ln(p)/ln²2.
    */
  def buildBloom(corpus: DataFrame, key: Column,
      expectedItems: Long, fpp: Double = DefaultFpp): Array[Byte] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1)
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    // Spark SILENTLY caps the aggregate at these session confs (the
    // runtime-join-filter defaults: 4M items / 8 MB); a capped sketch
    // would quietly saturate its fpp at scale, so fail LOUD and name
    // the knobs instead.
    val conf = corpus.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"bloom sizing ($expectedItems items / $numBits bits) exceeds the " +
        "session caps spark.sql.optimizer.runtime.bloomFilter." +
        s"maxNumItems=$maxItems / maxNumBits=$maxBits — raise them for " +
        "this corpus (the aggregate would otherwise cap SILENTLY and " +
        "the fpp would saturate)")
    val built = corpus
      .agg(BloomShim.bloomAgg(xxhash64(key), expectedItems, numBits)
        .as("bf")).head.getAs[Array[Byte]](0)
    if (built != null) built
    else {
      // EMPTY corpus: the aggregate yields null. An empty serialized
      // filter (contains nothing) keeps newRows' semantics exact — the
      // whole batch is definitely-new. A null literal would instead
      // null out BOTH filter branches and silently drop the batch.
      val empty = org.apache.spark.util.sketch.BloomFilter.create(1)
      val bos = new java.io.ByteArrayOutputStream()
      empty.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Batch rows whose `key` is absent from `corpus` (exact anti-join
    * semantics, bloom-accelerated as described above).
    *
    * EAGER-ACTION NOTE (for pipeline-builder callers composing plans
    * lazily): the broadcast gate needs the candidate COUNT, so this
    * method runs one Spark job at call time — a bloom-filter+count over
    * the batch with no shuffle (the batch is the SMALL side of this
    * operator by construction, so the scan is noise next to the corpus
    * sketch build). The candidate frame is PERSISTED across that count
    * and the returned plan's branches (the count, the confirm join and
    * the final anti-join would otherwise each re-scan the batch and
    * re-evaluate the bloom probe); its release is deferred
    * ([[graft.util.Frames.deferred]]) — the gate/bench/spec harnesses
    * drain it after their compare/timing boundary, a stream batch
    * releases it at its end, and any other caller consumes the result
    * and then calls `graft.util.DeferredCleanup.drain()`. Under the
    * candidate-count gate ([[graft.util.Gates.broadcasts]]) the confirm
    * path broadcasts the candidate keys and only STREAMS the corpus;
    * past it (a duplicate-heavy batch — a re-delivered Kafka partition,
    * a re-crawl — makes candidates ≈ batch-sized), candidates anti-join
    * the corpus keys through a regular exchange — the corpus IS
    * shuffled there, the exactness price of a batch that mostly already
    * exists. Both paths equal the plain anti-join (spec-pinned on both
    * sides of the gate).
    */
  def newRows(batch: DataFrame, corpus: DataFrame, keyCol: String,
      bloom: Array[Byte]): DataFrame = {
    val might = BloomShim.mightContain(bloom, xxhash64(col(keyCol)))
    val definitelyNew = batch.filter(!might)
    val candidates = Frames.deferred(batch.filter(might))
    val newFromCandidates =
      if (Gates.broadcasts(candidates.count())) {
        // corpus keys that really collide with a candidate: broadcast
        // the small candidate keys, stream the corpus — corpus-side
        // shuffle: none
        val confirmedDupKeys = corpus.select(col(keyCol))
          .join(broadcast(candidates.select(col(keyCol)).distinct()),
            Seq(keyCol), "left_semi")
          .distinct()
        candidates
          .join(broadcast(confirmedDupKeys), Seq(keyCol), "left_anti")
      } else {
        candidates.join(corpus.select(col(keyCol)),
          Seq(keyCol), "left_anti")
      }
    definitelyNew.unionByName(newFromCandidates)
  }
}
