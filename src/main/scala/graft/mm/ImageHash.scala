package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import Multimodal.{Media, MediaCodec}
import graft.util.Frames

/** Perceptual image fingerprints — aHash + dHash over the multimodal
  * decode seam, extending near-dup dedup to the image modality (the
  * X2/X3 text recipes applied to pixels): perceptually similar images
  * (re-encodes, small brightness shifts, minor edits) hash to nearby
  * 64-bit fingerprints, and candidate pairs surface through the same
  * chunk-blocked banding as SimHash — never an all-pairs scan.
  *
  * Definitions (integer-exact, engine-portable):
  *  - the decode seam supplies a 9×8 row-major LUMA GRID per image
  *    ([[MediaCodec.lumaGrid]] — a real codec downsamples pixels; the
  *    container stub derives a deterministic grid, and gate lanes
  *    plant analytic goldens);
  *  - **aHash**: over the left 8×8 subgrid, bit `y·8+x` is set iff
  *    `64·luma > Σ luma` — the mean threshold as an exact integer
  *    cross-multiplication (no float mean, so any SQL engine replays
  *    it bit-for-bit);
  *  - **dHash**: bit `y·8+x` is set iff `luma(x+1,y) > luma(x,y)` —
  *    the horizontal gradient over all 9 columns (the classic 9×8
  *    recipe). Both are invariant under uniform brightness shifts
  *    that do not clip, which is what makes them PERCEPTUAL.
  *
  * Scale shape: hashing is a batched per-partition pass (the
  * mapInPandas shape — constant memory, no shuffle); the near-dup
  * join explodes each aHash into `bands` chunk keys and joins on
  * (chunk index, chunk value) — by pigeonhole, any pair within
  * `maxHamming < bands` bit flips shares at least one intact chunk,
  * so the banded join is LOSSLESS for the verified threshold while
  * touching only same-chunk candidates.
  */
object ImageHash {

  /** 9 columns × 8 rows (row-major: index `y * GridCols + x`). */
  val GridCols = 9
  val GridRows = 8

  final case class Hashes(media_id: Long, ahash: Long, dhash: Long)

  def aHash64(grid: Array[Int]): Long = {
    require(grid.length == GridCols * GridRows,
      s"luma grid must be ${GridCols}x$GridRows row-major")
    var sum = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) { sum += grid(y * GridCols + x); x += 1 }
      y += 1
    }
    var h = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (64L * grid(y * GridCols + x) > sum)
          h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  def dHash64(grid: Array[Int]): Long = {
    require(grid.length == GridCols * GridRows,
      s"luma grid must be ${GridCols}x$GridRows row-major")
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (grid(y * GridCols + x + 1) > grid(y * GridCols + x))
          h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Batched per-partition hashing through the codec seam (the
    * [[Multimodal.decodeAll]] shape).
    */
  def hashAll(media: Dataset[Media],
      codec: MediaCodec = Multimodal.HeaderCodec,
      batchSize: Int = 64): Dataset[Hashes] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { m =>
        val g = codec.lumaGrid(m, GridCols, GridRows)
        Hashes(m.media_id, aHash64(g), dHash64(g))
      })
    }
  }

  /** Exact-fingerprint groups from a `(idCol, ahash, dhash)` frame:
    * one row per distinct (ahash, dhash) value with the min-id
    * representative and the member count. Identical fingerprints ARE
    * hamming-0 duplicates by definition, so the group is the right
    * grain to report them at — and collapsing to representatives
    * BEFORE the banded join is what keeps a degenerate pileup
    * (solid-color images all hash to `ahash = 0`: a uniform grid has
    * `64·luma == Σ`, so no bit is ever set) from landing m rows in
    * one bucket and emitting ~m²/2 candidate pairs.
    */
  def fingerprintGroups(hashes: DataFrame, idCol: String): DataFrame =
    hashes.groupBy("ahash", "dhash")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_group"))

  /** Chunk-blocked perceptual near-dup report from a
    * `(idCol, ahash, dhash)` frame, at FINGERPRINT-GROUP grain:
    *
    *  1. exact-equal (ahash, dhash) fingerprints collapse to their
    *     min-id representative first ([[fingerprintGroups]]); groups
    *     with ≥ 2 members are reported as DIAGONAL rows
    *     `(rep, rep, 0, 0, n, n)` — hamming-0 duplicates at group
    *     grain, never expanded to the m²/2 within-group pairs;
    *  2. representatives' aHashes band into `bands` chunk keys, and
    *     each (chunk index, chunk value) bucket is bounded to
    *     `[2, maxBucket]` rows (the [[graft.dedup.Dedup]] LSH guard:
    *     a degenerate bucket must not explode the self-join
    *     quadratically — buckets past the bound are dropped LOSSILY
    *     and a 100 TB caller sizes `maxBucket` to its skew budget);
    *  3. surviving same-chunk representative pairs verify with exact
    *     `bit_count(xor)`; pairs with `ham_ahash <= maxHamming`
    *     survive (dHash hamming reported alongside as the second
    *     opinion), carrying both groups' member counts.
    *
    * `maxHamming < bands` keeps the banding itself lossless by
    * pigeonhole (within-bound buckets only — the bucket cap is the
    * one deliberate recall trade, exactly as in the MinHash lanes).
    *
    * Cache lifecycle: the group and bounded-bucket frames are cached
    * (each is read by two downstream consumers) and the result is
    * lazy, so the caches outlive this call by design as
    * [[graft.util.Frames.deferred]] releases — consume the report,
    * then `graft.util.DeferredCleanup.drain()`.
    */
  def nearDupPairs(hashes: DataFrame, idCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    require(bands > 0 && 64 % bands == 0,
      "bands must divide the 64-bit hash")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must stay below bands=$bands — the pigeonhole " +
        "guarantee that every qualifying pair shares an intact chunk")
    require(maxBucket >= 2, "maxBucket must admit at least one pair")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val groups = Frames.deferred(fingerprintGroups(hashes, idCol))
    val chunks = groups.select(col(idCol), col("ahash"), col("dhash"),
      col("n_group"),
      posexplode(array((0 until bands).map(k =>
        shiftrightunsigned(col("ahash"), k * width)
          .bitwiseAND(lit(mask))): _*))
        .as(Seq("__ci", "__cv")))
    val bounded = Frames.deferred(chunks.withColumn("__bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("__ci", "__cv")))
      .filter(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n"))
    val cross = bounded.as("a")
      .join(bounded.as("b"),
        col("a.__ci") === col("b.__ci") &&
          col("a.__cv") === col("b.__cv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.ahash").as("__ha"), col("b.ahash").as("__hb"),
        col("a.dhash").as("__da"), col("b.dhash").as("__db"),
        col("a.n_group").as("n_a"), col("b.n_group").as("n_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("int")
          .as("ham_ahash"),
        bit_count(col("__da").bitwiseXOR(col("__db"))).cast("int")
          .as("ham_dhash"),
        col("n_a"), col("n_b"))
      .filter(col("ham_ahash") <= maxHamming)
    val diagonal = groups.filter(col("n_group") >= 2)
      .select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0).cast("int").as("ham_ahash"),
        lit(0).cast("int").as("ham_dhash"),
        col("n_group").as("n_a"), col("n_group").as("n_b"))
    cross.unionByName(diagonal)
  }
}
