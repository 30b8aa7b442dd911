package graft.mm

import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.Tables

/** Registered multimodal pipeline query.
  *
  * Every kind flows through the full decode+feature pipeline (synthesize
  * → batched mapPartitions decode → batched feature extraction → join),
  * but the RETURNED relation is the image lane — the REAL half of the
  * decode seam, where width/height/channels are parsed from genuine PNG
  * bytes ([[ImageHeaders]]) whose geometry the synthesizer derived
  * arithmetically from the doc id ([[Multimodal.synthGeometry]]). That
  * makes the oracle pure SQL: DuckDB recomputes the expected geometry
  * from `doc_id` directly, so the hash gate pins the whole round trip —
  * geometry → IHDR bytes (real CRC) → distributed parse → result — with
  * no fixture file in the loop. The audio/video lanes stay behind the
  * deterministic stub codec (hash-derived, no SQL oracle) and are pinned
  * by MultimodalSpec goldens; the post-decode filter cannot prune their
  * decode work (mapPartitions is opaque to Catalyst), so the registered
  * query still exercises all three lanes' plumbing.
  */
object MultimodalQueries extends QueryPack {

  private def pipelineQuery = QueryDef(
    "mm_decode_features_documents",
    (s, dir) => {
      val media = Multimodal.synthesize(Tables.load(s, dir, "documents", parallelize = true))
      val decoded = Multimodal.decodeAll(media)
      val feats = Multimodal.extractFeatures(media, dim = 16)
      decoded.toDF().join(feats.toDF(), "media_id")
        .filter(col("kind") === "image")
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("channels"), col("n_frames"),
          size(col("feature")).as("feat_dim"))
        .orderBy("media_id")
    },
    // The synthesized image geometry inverted analytically: doc_id%3==0
    // rows are images; width/height/channels follow synthGeometry (the
    // PNG color-type table 0/2/3/4/6 → 1/3/1/2/4 channels); a parsed
    // still image is 1 frame; the stub feature vector is 16 wide.
    Some("SELECT doc_id AS media_id, 'image' AS kind, " +
      "CAST(16 + doc_id % 2048 AS INT) AS width, " +
      "CAST(16 + (doc_id // 7) % 2048 AS INT) AS height, " +
      "CAST(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1 " +
      "WHEN 3 THEN 2 ELSE 4 END AS INT) AS channels, " +
      "CAST(1 AS INT) AS n_frames, CAST(16 AS INT) AS feat_dim " +
      "FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id"))

  /** The audio lane, REAL since r7's second pass: channels / sample rate
    * / bit depth / payload size parse from genuine RIFF/WAVE bytes
    * ([[AudioHeaders]]) that the synthesizer wrote from id-derived
    * parameters ([[Multimodal.synthAudioParams]]) — so, like the image
    * gate, DuckDB recomputes everything analytically (duration is the
    * exact integer dataLen·1000/byteRate with byte length via
    * octet_length of the UTF-8 payload) and the hash pins params → WAV
    * header → distributed parse end to end.
    */
  private def audioQuery = QueryDef(
    "mm_decode_audio_documents",
    (s, dir) => {
      val media = Multimodal.synthesize(
        Tables.load(s, dir, "documents", parallelize = true))
      Multimodal.decodeAll(media).toDF()
        .filter(col("kind") === "audio")
        .select(col("media_id"), col("kind"), col("channels"),
          col("sample_rate"), col("duration_ms"), col("n_frames"))
        .orderBy("media_id")
    },
    Some("SELECT media_id, kind, channels, sample_rate, " +
      "dl * 1000 // (sample_rate * channels * (bits // 8)) " +
      "AS duration_ms, CAST(0 AS INT) AS n_frames FROM (" +
      "SELECT doc_id AS media_id, 'audio' AS kind, " +
      "CAST(1 + doc_id % 2 AS INT) AS channels, " +
      "CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
      "WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate, " +
      "CASE (doc_id // 3) % 2 WHEN 0 THEN 8 ELSE 16 END AS bits, " +
      "octet_length(encode(text)) AS dl " +
      "FROM documents WHERE doc_id % 3 = 1) ORDER BY media_id"))

  /** The video lane, also REAL since r7's second pass: geometry (tkhd
    * 16.16 fixed point), duration (mvhd timescale math) and frame count
    * (stts sample runs) parse from a genuine MP4 box tree
    * ([[VideoHeaders]]) written from id-derived parameters
    * ([[Multimodal.synthVideoParams]]). Channels stay 0 — pixel format
    * needs a codec. All three modality lanes now decode real bytes.
    */
  private def videoQuery = QueryDef(
    "mm_decode_video_documents",
    (s, dir) => {
      val media = Multimodal.synthesize(
        Tables.load(s, dir, "documents", parallelize = true))
      Multimodal.decodeAll(media).toDF()
        .filter(col("kind") === "video")
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("channels"), col("duration_ms"), col("n_frames"))
        .orderBy("media_id")
    },
    Some("SELECT doc_id AS media_id, 'video' AS kind, " +
      "CAST(32 + doc_id % 1024 AS INT) AS width, " +
      "CAST(32 + (doc_id // 11) % 1024 AS INT) AS height, " +
      "CAST(0 AS INT) AS channels, " +
      "1000 + doc_id % 600000 AS duration_ms, " +
      "CAST(24 + doc_id % 1000 AS INT) AS n_frames " +
      "FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id"))

  /** Analytic pixel goldens for the image-hash gate: per-cell luma is
    * the md5-derived 60-bit base of `px_<pattern>_<x>_<y>` mod `Mod`
    * (the DuckDB-replayable hash family), where PATTERN is
    * `doc_id / 2` — so ids 2k and 2k+1 share one pseudo-random grid,
    * offset by a uniform `+Bright` on odd ids: a brightness-shifted
    * near-identical copy that never clips (`Mod + Bright < 256`),
    * hence hash-IDENTICAL within a pair by construction, while
    * unrelated patterns are independent 64-bit draws (collision at
    * hamming ≤ 3 is ~2^-41 — exactly the 2-per-pattern pairs match).
    * DuckDB recomputes every grid, every hash bit, and every pairwise
    * hamming analytically — no fixture file, no replayed Scala.
    * Routed through the [[Multimodal.MediaCodec]] seam like a real
    * pixel decoder would be.
    */
  private[mm] object PlantedPixels extends Multimodal.MediaCodec {
    val Mod = 240
    val Bright = 4
    private val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    /** Driver/executor twin of the SQL
      * `('0x' || substr(md5(k), 1, 15))::BIGINT` 60-bit base (the
      * [[graft.text.QualityModel.bucketOf]] recipe).
      */
    private def md5Base60(key: String): Long = {
      val md = md5Local.get()
      md.reset()
      val d = md.digest(key.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
      v >>> 4
    }
    /** ids tile into 4-row families over one base grid (`id / 4`):
      * `id % 4 ∈ {0,1}` carry the base grid, `{2,3}` the VARIANT —
      * the (y=0, x=8) cell forced so the single dHash gradient bit
      * (y=0, x=7) reads the OPPOSITE of the base's, leaving aHash
      * (x < 8 only) untouched; odd ids add the uniform brightness
      * shift (invariant for both hashes). So {4k, 4k+1} and
      * {4k+2, 4k+3} are exact-fingerprint groups (n = 2 diagonal
      * rows), and their representatives share every aHash chunk →
      * the banded join must surface the (4k, 4k+2) cross pair with
      * ham_ahash = 0, ham_dhash = 1 — group collapse, bucket bound,
      * banding, and verify are ALL load-bearing in the gate.
      */
    def grid(id: Long, cols: Int, rows: Int): Array[Int] = {
      val base = Array.tabulate(cols * rows) { i =>
        val x = i % cols
        val y = i / cols
        (md5Base60(s"px_${id / 4}_${x}_$y") % Mod).toInt
      }
      if (id % 4 >= 2) {
        val b70 = base(7)
        val b80 = base(8)
        base(8) = if (b80 > b70) b70 else b70 + 1
      }
      base.map(v => v + (id % 2).toInt * Bright)
    }
    def decode(m: Multimodal.Media): Multimodal.Decoded =
      Multimodal.FakeCodec.decode(m)
    def features(m: Multimodal.Media, dim: Int): Array[Float] =
      Multimodal.FakeCodec.features(m, dim)
    def lumaGrid(m: Multimodal.Media, cols: Int, rows: Int): Array[Int] =
      grid(m.media_id, cols, rows)
  }

  /** Bucket bound for the image-hash chunk blocking — rendered into
    * BOTH the Spark lane and its oracle SQL so the two cannot drift.
    */
  private val ImageMaxBucket = 64

  /** Perceptual image near-dup ([[ImageHash]]) at FINGERPRINT-GROUP
    * grain (r15): every document becomes an image whose 9×8 luma grid
    * is the planted analytic golden ([[PlantedPixels]] — 4-id
    * families: two exact-fingerprint groups of 2 whose reps differ in
    * exactly one dHash bit), hashing runs through the batched
    * codec-seam pass, exact-equal fingerprints collapse to min-id
    * representatives (diagonal `(rep, rep, 0, 0, n, n)` rows — the
    * pileup guard: identical hashes never expand to m²/2 pairs),
    * candidate rep pairs surface via the chunk-blocked aHash banding
    * under the `[2, maxBucket]` bucket bound, and the exact
    * `bit_count(xor)` verify keeps `ham_ahash <= 3`. The oracle
    * recomputes every grid/bit/chunk/bucket/hamming from the formula —
    * group collapse, the bucket bound, and banding are all INSIDE the
    * hash-equality check.
    */
  private def imageHashQuery = QueryDef(
    "dedup_image_hash_documents",
    (s, dir) => {
      import s.implicits._
      val media = Tables.load(s, dir, "documents", parallelize = true)
        .select(col("doc_id").cast("long")).as[Long]
        .map(id =>
          Multimodal.Media(id, "image", "png", Array.empty[Byte]))
      val hashes = ImageHash.hashAll(media, PlantedPixels)
      graft.util.Frames.localized(
          ImageHash.nearDupPairs(hashes.toDF(), "media_id",
            maxBucket = ImageMaxBucket))
        .orderBy("id_a", "id_b")
    },
    Some {
      val m = PlantedPixels.Mod
      val br = PlantedPixels.Bright
      s"WITH g0 AS (SELECT doc_id, x, y, " +
        "('0x' || substr(md5('px_' || (doc_id // 4) || '_' || x || " +
        s"'_' || y), 1, 15))::BIGINT % $m AS base FROM documents, " +
        "(SELECT unnest(generate_series(0, 8)) AS x) t1, " +
        "(SELECT unnest(generate_series(0, 7)) AS y) t2), " +
        // the (7,0)/(8,0) base cells drive the variant's forced flip
        "pv AS (SELECT doc_id, " +
        "max(CASE WHEN x = 7 AND y = 0 THEN base END) AS b70, " +
        "max(CASE WHEN x = 8 AND y = 0 THEN base END) AS b80 " +
        "FROM g0 GROUP BY 1), " +
        "g AS (SELECT g0.doc_id, x, y, " +
        "(CASE WHEN g0.doc_id % 4 >= 2 AND x = 8 AND y = 0 THEN " +
        "(CASE WHEN pv.b80 > pv.b70 THEN pv.b70 ELSE pv.b70 + 1 END) " +
        s"ELSE base END) + (g0.doc_id % 2) * $br AS luma " +
        "FROM g0 JOIN pv USING (doc_id)), " +
        "s AS (SELECT doc_id, sum(CASE WHEN x < 8 THEN luma ELSE 0 " +
        "END) AS tot FROM g GROUP BY 1), " +
        // aHash bit: 64·luma > Σ luma (exact integer mean threshold)
        "ab AS (SELECT g.doc_id, y * 8 + x AS pos, " +
        "CASE WHEN 64 * luma > tot THEN 1 ELSE 0 END AS bit " +
        "FROM g JOIN s USING (doc_id) WHERE x < 8), " +
        // dHash bit: horizontal gradient over the 9-column grid
        "db AS (SELECT a.doc_id, a.y * 8 + a.x AS pos, " +
        "CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit " +
        "FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.y = a.y " +
        "AND b.x = a.x + 1 WHERE a.x < 8), " +
        // pack both hashes as 4×16-bit chunks (never the 64-bit value
        // — DuckDB rejects 1::BIGINT << 63)
        "ac AS (SELECT doc_id, pos // 16 AS ci, " +
        "sum(bit * (1::BIGINT << (pos % 16)))::BIGINT AS cv " +
        "FROM ab GROUP BY 1, 2), " +
        "dc AS (SELECT doc_id, pos // 16 AS ci, " +
        "sum(bit * (1::BIGINT << (pos % 16)))::BIGINT AS cv " +
        "FROM db GROUP BY 1, 2), " +
        "fa AS (SELECT doc_id, " +
        "sum(CASE WHEN ci = 0 THEN cv ELSE 0 END)::BIGINT AS a0, " +
        "sum(CASE WHEN ci = 1 THEN cv ELSE 0 END)::BIGINT AS a1, " +
        "sum(CASE WHEN ci = 2 THEN cv ELSE 0 END)::BIGINT AS a2, " +
        "sum(CASE WHEN ci = 3 THEN cv ELSE 0 END)::BIGINT AS a3 " +
        "FROM ac GROUP BY 1), " +
        "fd AS (SELECT doc_id, " +
        "sum(CASE WHEN ci = 0 THEN cv ELSE 0 END)::BIGINT AS d0, " +
        "sum(CASE WHEN ci = 1 THEN cv ELSE 0 END)::BIGINT AS d1, " +
        "sum(CASE WHEN ci = 2 THEN cv ELSE 0 END)::BIGINT AS d2, " +
        "sum(CASE WHEN ci = 3 THEN cv ELSE 0 END)::BIGINT AS d3 " +
        "FROM dc GROUP BY 1), " +
        // exact-fingerprint groups: min-id representative + size
        "grp AS (SELECT a0, a1, a2, a3, d0, d1, d2, d3, " +
        "min(doc_id) AS rep, count(*) AS n FROM fa " +
        "JOIN fd USING (doc_id) GROUP BY 1, 2, 3, 4, 5, 6, 7, 8), " +
        // aHash chunk buckets over representatives, bounded
        "chx AS (SELECT rep, 0 AS ci, a0 AS cv FROM grp " +
        "UNION ALL SELECT rep, 1, a1 FROM grp " +
        "UNION ALL SELECT rep, 2, a2 FROM grp " +
        "UNION ALL SELECT rep, 3, a3 FROM grp), " +
        "bk AS (SELECT ci, cv, count(*) AS bn FROM chx GROUP BY 1, 2), " +
        "bd AS (SELECT chx.* FROM chx JOIN bk USING (ci, cv) " +
        s"WHERE bn BETWEEN 2 AND $ImageMaxBucket), " +
        "cand AS (SELECT DISTINCT x.rep AS id_a, y.rep AS id_b " +
        "FROM bd x JOIN bd y ON x.ci = y.ci AND x.cv = y.cv " +
        "AND x.rep < y.rep), " +
        "hm AS (SELECT c.id_a, c.id_b, " +
        "CAST(bit_count(xor(ga.a0, gb.a0)) + " +
        "bit_count(xor(ga.a1, gb.a1)) + " +
        "bit_count(xor(ga.a2, gb.a2)) + " +
        "bit_count(xor(ga.a3, gb.a3)) AS INT) AS ham_ahash, " +
        "CAST(bit_count(xor(ga.d0, gb.d0)) + " +
        "bit_count(xor(ga.d1, gb.d1)) + " +
        "bit_count(xor(ga.d2, gb.d2)) + " +
        "bit_count(xor(ga.d3, gb.d3)) AS INT) AS ham_dhash, " +
        "ga.n AS n_a, gb.n AS n_b FROM cand c " +
        "JOIN grp ga ON ga.rep = c.id_a " +
        "JOIN grp gb ON gb.rep = c.id_b) " +
        "SELECT * FROM (" +
        "SELECT id_a, id_b, ham_ahash, ham_dhash, n_a, n_b FROM hm " +
        "WHERE ham_ahash <= 3 " +
        "UNION ALL SELECT rep, rep, 0::INT, 0::INT, n, n FROM grp " +
        "WHERE n >= 2) ORDER BY id_a, id_b"
    })

  /** Acoustic fingerprint dedup ([[AudioHash]]): EVERY synthesized
    * audio row (`doc_id % 3 = 1`; bits 8 or 16 by `(doc_id / 3) % 2`
    * per [[Multimodal.synthAudioParams]]) fingerprints from GENUINELY
    * PARSED samples — RIFF walk → data seek → byte read (16-bit:
    * little-endian signed pair assembly), no stub anywhere — and the
    * oracle re-reads the same bytes by hex-decoding the UTF-8 payload
    * in SQL, replaying every frame energy, every gradient bit and
    * both candidate-set counts. Exact-duplicate payloads (the
    * corpus's planted copies) must agree on the full profile;
    * `n_same_fp` vs `n_same_profile` exposes the 15-bit blocking
    * key's collision rate next to the verified-profile set size.
    */
  private def audioHashQuery = QueryDef(
    "dedup_audio_hash_documents",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val media = Multimodal.synthesize(
        Tables.load(s, dir, "documents", parallelize = true))
      val fps = AudioHash.fingerprints(media).toDF()
      graft.util.Frames.localized(
          fps.select(col("media_id"), col("n_samples"), col("fp"),
            col("energy_total"),
            count(lit(1)).over(Window.partitionBy("fp"))
              .as("n_same_fp"),
            count(lit(1)).over(Window.partitionBy("fp", "energy_total",
              "n_samples")).as("n_same_profile")))
        .orderBy("media_id")
    },
    Some {
      s"WITH $audioFpCtes " +
        "SELECT doc_id AS media_id, n_samples, fp, energy_total, " +
        "CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) " +
        "AS n_same_fp, " +
        "CAST(count(*) OVER (PARTITION BY fp, energy_total, " +
        "n_samples) AS BIGINT) AS n_same_profile " +
        "FROM fp ORDER BY media_id"
    })

  /** The audio fingerprint replay (raw-byte hex decode → frame
    * energies → gradient fp) as shared CTEs ending in
    * `fp(doc_id, n_samples, fp, energy_total)` — used by the
    * fingerprint lane AND the banded near-dup lane.
    */
  private def audioFpCtes: String = {
    val F = AudioHash.Frames
    // byte j (1-based) of the payload via its hex dump
    def byte(j: String) = s"('0x' || substr(hx, 2*($j)-1, 2))::BIGINT"
    // 8-bit: sample i IS byte i, deviation from 128
    val d8 = s"(${byte("i")} - 128)"
    // 16-bit: sample i = little-endian signed pair (bytes 2i-1, 2i)
    val v16 = s"(${byte("2*i-1")} + 256 * ${byte("2*i")})"
    val s16 = s"(CASE WHEN $v16 >= 32768 THEN $v16 - 65536 " +
      s"ELSE $v16 END)"
    s"a AS (SELECT doc_id, hex(encode(text)) AS hx, " +
      "CASE WHEN (doc_id // 3) % 2 = 0 " +
      "THEN octet_length(encode(text)) " +
      "ELSE octet_length(encode(text)) // 2 END AS n, " +
      "(doc_id // 3) % 2 AS wide FROM documents " +
      "WHERE doc_id % 3 = 1), " +
      "fr AS (SELECT doc_id, hx, n, wide, " +
      s"unnest(generate_series(0, ${F - 1})) AS f FROM a), " +
      "e AS (SELECT doc_id, n, f, coalesce(list_sum(" +
      s"list_transform(generate_series(f*n//$F + 1, (f+1)*n//$F), " +
      s"i -> CASE WHEN wide = 0 THEN $d8 * $d8 " +
      s"ELSE $s16 * $s16 END)), 0) " +
      "AS en FROM fr), " +
      "w AS (SELECT doc_id, n, f, en, lead(en) OVER (PARTITION BY " +
      "doc_id ORDER BY f) AS nx FROM e), " +
      "fp AS (SELECT doc_id, CAST(max(n) AS INT) AS n_samples, " +
      "CAST(coalesce(sum(CASE WHEN f < " +
      s"${F - 1} AND nx > en THEN (1::BIGINT << CAST(f AS INT)) " +
      "ELSE 0 END), 0) AS BIGINT) AS fp, " +
      "CAST(sum(en) AS BIGINT) AS energy_total FROM w " +
      "GROUP BY doc_id)"
  }

  /** Perceptual video fingerprint dedup ([[VideoHash]]): every
    * synthesized video row (`doc_id % 3 = 2`) fingerprints from
    * genuinely parsed structure — the stts frame count and the
    * located `mdat` payload — sampling 16 frame windows and hashing
    * their byte energies. The oracle re-derives the frame count
    * analytically ([[Multimodal.synthVideoParams]]), re-reads the
    * same payload bytes via hex decoding, and replays every window
    * energy, gradient bit and candidate-set count.
    */
  private def videoHashQuery = QueryDef(
    "dedup_video_hash_documents",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val media = Multimodal.synthesize(
        Tables.load(s, dir, "documents", parallelize = true))
      val fps = VideoHash.fingerprints(media).toDF()
      graft.util.Frames.localized(
          fps.select(col("media_id"), col("n_frames"), col("n_bytes"),
            col("fp"), col("energy_total"),
            count(lit(1)).over(Window.partitionBy("fp"))
              .as("n_same_fp"),
            count(lit(1)).over(Window.partitionBy("fp", "energy_total",
              "n_bytes")).as("n_same_profile")))
        .orderBy("media_id")
    },
    Some {
      s"WITH $videoFpCtes " +
        "SELECT doc_id AS media_id, n_frames, n_bytes, fp, " +
        "energy_total, " +
        "CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) " +
        "AS n_same_fp, " +
        "CAST(count(*) OVER (PARTITION BY fp, energy_total, " +
        "n_bytes) AS BIGINT) AS n_same_profile " +
        "FROM fp ORDER BY media_id"
    })

  /** The video fingerprint replay as shared CTEs ending in
    * `fp(doc_id, n_frames, n_bytes, fp, energy_total)` — used by the
    * fingerprint lane AND the banded near-dup lane.
    */
  private def videoFpCtes: String = {
    val K = VideoHash.SampledFrames
    def byte(j: String) = s"('0x' || substr(hx, 2*($j)-1, 2))::BIGINT"
    val d = s"(${byte("i")} - 128)"
    s"a AS (SELECT doc_id, hex(encode(text)) AS hx, " +
      "octet_length(encode(text)) AS len, " +
      "24 + doc_id % 1000 AS nf FROM documents " +
      "WHERE doc_id % 3 = 2), " +
      "fr AS (SELECT doc_id, hx, len, nf, k, " +
      s"(k * nf) // $K AS fi FROM a, " +
      s"(SELECT unnest(generate_series(0, ${K - 1})) AS k)), " +
      "e AS (SELECT doc_id, len, nf, k, coalesce(list_sum(" +
      "list_transform(generate_series((fi*len)//nf + 1, " +
      s"((fi+1)*len)//nf), i -> $d * $d)), 0) AS en FROM fr), " +
      "w AS (SELECT doc_id, len, nf, k, en, lead(en) OVER (" +
      "PARTITION BY doc_id ORDER BY k) AS nx FROM e), " +
      "fp AS (SELECT doc_id, CAST(max(nf) AS INT) AS n_frames, " +
      "CAST(max(len) AS INT) AS n_bytes, " +
      s"CAST(coalesce(sum(CASE WHEN k < ${K - 1} AND nx > en " +
      "THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END), 0) " +
      "AS BIGINT) AS fp, " +
      "CAST(sum(en) AS BIGINT) AS energy_total FROM w " +
      "GROUP BY doc_id)"
  }

  /** Chunk widths for the 15-bit acoustic/video fingerprints: 3
    * chunks of 5 bits — by pigeonhole, any pair within hamming ≤ 2
    * shares an intact chunk, so the banded join is LOSSLESS for the
    * verify threshold (within the bucket bound, exactly as the image
    * and SimHash lanes).
    */
  private val MediaChunkBits = 5
  private val MediaChunks = 3
  private val MediaMaxHamming = 2
  private val MediaMaxBucket = 64

  /** The banded hamming near-dup tail over a `fp(doc_id, fp)` CTE —
    * group collapse → bounded chunk buckets → candidate pairs → exact
    * hamming verify, the [[graft.dedup.SimHash
    * .nearDupFromFingerprints]] replay at 15-bit width.
    */
  private def fpNearDupTailSql: String = {
    val mask = (1 << MediaChunkBits) - 1
    "grp AS (SELECT fp, min(doc_id) AS rep, count(*) AS n FROM fp " +
      "GROUP BY 1), " +
      s"ch AS (SELECT rep, fp, n, ci, (fp >> (ci * $MediaChunkBits)) " +
      s"& $mask AS cv FROM grp, (SELECT unnest(generate_series(0, " +
      s"${MediaChunks - 1})) AS ci)), " +
      "bk AS (SELECT ci, cv, count(*) AS bn FROM ch GROUP BY 1, 2), " +
      "bd AS (SELECT ch.* FROM ch JOIN bk USING (ci, cv) " +
      s"WHERE bn BETWEEN 2 AND $MediaMaxBucket), " +
      "cand AS (SELECT DISTINCT a2.rep AS id_a, b2.rep AS id_b, " +
      "a2.fp AS fp_a, b2.fp AS fp_b, a2.n AS n_a, b2.n AS n_b " +
      "FROM bd a2 JOIN bd b2 ON a2.ci = b2.ci AND a2.cv = b2.cv " +
      "AND a2.rep < b2.rep) " +
      "SELECT * FROM (" +
      "SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::BIGINT " +
      "AS hamming, n_a, n_b FROM cand " +
      s"WHERE bit_count(xor(fp_a, fp_b)) <= $MediaMaxHamming " +
      "UNION ALL SELECT rep, rep, 0::BIGINT, n, n FROM grp " +
      "WHERE n >= 2) ORDER BY id_a, id_b"
  }

  /** Banded acoustic near-dup ([[AudioHash]] fingerprints through the
    * shared [[graft.dedup.SimHash.nearDupFromFingerprints]] core —
    * directive-7 of r14, with the bucket guard from day one):
    * exact-fingerprint groups report as diagonal rows, representative
    * pairs within hamming ≤ 2 surface via bounded 3×5-bit chunk
    * banding over genuinely parsed PCM energies. The oracle replays
    * bytes → energies → fp → groups → bound → pairs bit-for-bit.
    */
  private def audioNearDupQuery = QueryDef(
    "dedup_audio_neardup_documents",
    (s, dir) => mediaNearDup(s, dir)(AudioHash.fingerprints(_).toDF()),
    Some(s"WITH $audioFpCtes, $fpNearDupTailSql"))

  /** Banded video near-dup — the acoustic recipe over the sampled
    * frame-window energies of [[VideoHash]].
    */
  private def videoNearDupQuery = QueryDef(
    "dedup_video_neardup_documents",
    (s, dir) => mediaNearDup(s, dir)(VideoHash.fingerprints(_).toDF()),
    Some(s"WITH $videoFpCtes, $fpNearDupTailSql"))

  /** The banded near-dup report over the fingerprints `fps` computes
    * from the synthesized media corpus of `documents`.
    */
  private def mediaNearDup(s: org.apache.spark.sql.SparkSession,
      dir: String)(fps: org.apache.spark.sql.Dataset[Multimodal.Media] =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.util.Frames.localized(
        graft.dedup.SimHash.nearDupFromFingerprints(
          fps(Multimodal.synthesize(
              Tables.load(s, dir, "documents", parallelize = true)))
            .select(col("media_id"), col("fp")),
          "media_id", "fp", chunkBits = MediaChunkBits,
          nChunks = MediaChunks, maxHamming = MediaMaxHamming,
          maxBucket = MediaMaxBucket))
      .orderBy("id_a", "id_b")

  override def queries: Seq[QueryDef] =
    Seq(pipelineQuery, audioQuery, videoQuery, imageHashQuery,
      audioHashQuery, videoHashQuery, audioNearDupQuery,
      videoNearDupQuery)
}
