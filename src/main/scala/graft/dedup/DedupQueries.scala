package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.Tables
import graft.util.Frames

/** Registered dedup queries over `documents`.
  *
  * `dedup_exact` and `dedup_jaccard_blocked` are DuckDB-oracled; the
  * MinHash-LSH and SimHash pipelines hash with xxhash64 (no DuckDB
  * equivalent) so they register as rows-only checks, with their semantics
  * pinned by scalatests against blocked ground truth instead.
  */
object DedupQueries extends QueryPack {

  /** Exact dedup as a survivor report: one row per distinct text with the
    * kept (minimum) id and the duplicate count.
    */
  private def exactQuery = QueryDef(
    "dedup_exact_documents",
    (s, dir) => Tables.load(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("keep_id"),
    Some("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies, " +
      "md5(text) AS text_md5 FROM documents GROUP BY text " +
      "ORDER BY keep_id"))

  /** Shared DuckDB CTE: 80-char-prefix-blocked candidate pairs with exact
    * 3-shingle Jaccard (mirrors [[Dedup.wordShingles]] +
    * [[Dedup.jaccardOnPairs]]).
    */
  private[graft] val jaccardPairsCte: String = jaccardPairsCteFor("documents")

  /** Same CTE pair over any source relation exposing (doc_id, text). */
  private[graft] def jaccardPairsCteFor(src: String): String =
    """d AS (SELECT doc_id, text, substr(text, 1, 80) AS blk,
      |  list_distinct(CASE
      |    WHEN len(regexp_split_to_array(trim(text), '\s+')) = 0 THEN []::VARCHAR[]
      |    WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 3
      |      THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
      |    ELSE list_transform(
      |      generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])
      |  END) AS sh FROM SRCREL),
      |jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(list_intersect(a.sh, b.sh))::DOUBLE /
      |    greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
      |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id)"""
      .stripMargin.replace("\n", " ").replace("SRCREL", src)

  /** Spark side of the same blocked-pair generator. */
  private[graft] def blockedPairs(docs: org.apache.spark.sql.DataFrame) = {
    val blocked = docs.select(col("doc_id"),
      substring(col("text"), 1, 80).as("blk"))
    blocked.as("a")
      .join(blocked.as("b"), col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  /** `f(documents, pairs)`, `pairs` being the blocked exact 3-shingle
    * Jaccard ≥ 0.8 pairs `(id_a, id_b)`; the shingle-set cache both pair
    * sides read is released when `f` returns.
    */
  private def withNearDupPairs(s: SparkSession,
      dir: String)(f: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.load(s, dir, "documents", parallelize = true)
    Frames.cached(Dedup.shingleSets(docs, "doc_id", "text", 3)) { sets =>
      f(docs, Dedup
        .jaccardOnPairsFromSets(blockedPairs(docs), sets, "doc_id")
        .filter(col("jaccard") >= 0.8)
        .select("id_a", "id_b"))
    }
  }

  /** CTEs `pairs` → `edges` → `reach(id, r)` over a `jp` pair CTE: the
    * Jaccard ≥ 0.8 pairs and every id's reachable ids (the recursive
    * connected components; a cluster is `MIN(r)` per id).
    */
  private[graft] val nearDupReachSql: String =
    "pairs AS (SELECT id_a, id_b FROM jp WHERE jaccard >= 0.8), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
      "UNION ALL SELECT id_b, id_a FROM pairs), " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, reach.r FROM edges e " +
      "JOIN reach ON e.dst = reach.id)"

  private[graft] val SubstrMinLen = 12

  /** `WITH` CTEs `toks(doc_id, t)` → `g` → `gh(doc_id, pos, h)`: every
    * [[SubstrMinLen]]-gram start of every document with its md5-base
    * hash ([[SubstringDedup.gramArrays]]). Carries its trailing ", ".
    */
  private def substringGramSql: String = {
    val L = SubstrMinLen
    s"WITH toks AS (SELECT doc_id, CASE " +
      "WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END AS t " +
      "FROM documents), " +
      "g AS (SELECT doc_id, t, unnest(CASE WHEN len(t) >= " +
      s"$L THEN generate_series(1, len(t) - ${L - 1}) " +
      "ELSE []::BIGINT[] END) AS pos FROM toks), " +
      "gh AS (SELECT doc_id, pos, ('0x' || substr(md5(" +
      s"array_to_string(t[pos:pos+${L - 1}], ' ')), 1, 15))::BIGINT " +
      "AS h FROM g), "
  }

  /** EXACT repeated-substring coverage ([[SubstringDedup.report]] —
    * the deduplicate-text-datasets role re-expressed as anchored
    * L-grams, see the operator scaladoc): per document, how many
    * tokens lie inside some length-≥12 span that occurs more than
    * once anywhere in the corpus. The oracle replays the L-gram
    * slide, the md5-base hash, the global count-≥2 filter, the
    * interval merge window and the coverage arithmetic verbatim
    * (1-based vs 0-based positions cancel in the span algebra).
    */
  private def substringQuery = QueryDef(
    "dedup_substring_documents",
    (s, dir) => {
      // cached per the gramArrays contract (the explode must read
      // a materialized array column); per-doc report localizes +
      // releases before returning
      Frames.cached(SubstringDedup.gramArrays(
          Tables.load(s, dir, "documents", parallelize = true),
          "doc_id", "text", SubstrMinLen)) { arrays =>
        Frames.localized(
          SubstringDedup.reportFromArrays(arrays, "doc_id", SubstrMinLen)
            .orderBy("doc_id"))
      }
    },
    Some {
      val L = SubstrMinLen
      substringGramSql +
        "rep AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= 2), " +
        "m AS (SELECT gh.doc_id, gh.pos FROM gh JOIN rep USING (h)), " +
        "w AS (SELECT doc_id, pos, CASE WHEN " +
        "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL " +
        "OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) " +
        s"+ ${L - 1} THEN 1 ELSE 0 END AS brk FROM m), " +
        "sx AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY " +
        "doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sp " +
        "FROM w), " +
        "spn AS (SELECT doc_id, sp, min(pos) AS a, max(pos) AS b " +
        "FROM sx GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        s"CAST(sum(b - a + $L) AS BIGINT) AS repeated_tokens " +
        "FROM spn GROUP BY 1) " +
        "SELECT toks.doc_id, CAST(len(t) AS INT) AS n_tokens, " +
        s"CAST(greatest(len(t) - ${L - 1}, 0) AS INT) AS n_grams, " +
        "CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans, " +
        "CAST(coalesce(agg.repeated_tokens, 0) AS BIGINT) " +
        "AS repeated_tokens, " +
        "CAST(coalesce(agg.repeated_tokens, 0) AS DOUBLE) / " +
        "greatest(len(t), 1) AS repeated_frac " +
        "FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id " +
        "ORDER BY toks.doc_id"
    })

  /** Repeated-substring SELF-SCRUB ([[SubstringDedup.scrubFromArrays]]
    * — the actionable half of the deduplicate-text-datasets role):
    * every repeated length-≥12 span keeps its globally-first
    * occurrence and scrubs everywhere else; per-doc report carries the
    * removed/kept token counts and the md5 of the rebuilt text. The
    * oracle replays the gram slide, the exact-integer min-occurrence
    * key, the interval merge, and the ordered text rebuild verbatim.
    */
  private def substringScrubQuery = QueryDef(
    "dedup_substring_scrub_documents",
    (s, dir) => {
      Frames.cached(SubstringDedup.gramArrays(
          Tables.load(s, dir, "documents", parallelize = true),
          "doc_id", "text", SubstrMinLen)) { arrays =>
        Frames.localized(
          SubstringDedup.scrubFromArrays(arrays, "doc_id", SubstrMinLen)
            .orderBy("doc_id"))
      }
    },
    Some(substringScrubOracleSql))

  /** The scrub oracle, factored out so the STREAMING twin
    * (`stream_substring_scrub_documents`) replays it VERBATIM — the
    * maintained report is the batch scrub of the drained corpus
    * (both engines run the same shared scrub core).
    */
  private[graft] def substringScrubOracleSql: String = {
      val L = SubstrMinLen
      substringGramSql +
        "f AS (SELECT h, min(doc_id * 1048576 + pos) AS mk FROM gh " +
        "GROUP BY h HAVING count(*) >= 2), " +
        "rm AS (SELECT gh.doc_id, gh.pos FROM gh JOIN f USING (h) " +
        "WHERE gh.doc_id * 1048576 + gh.pos <> f.mk), " +
        "w AS (SELECT doc_id, pos, CASE WHEN " +
        "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL " +
        "OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) " +
        s"+ ${L - 1} THEN 1 ELSE 0 END AS brk FROM rm), " +
        "sx AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY " +
        "doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sp " +
        "FROM w), " +
        "spn AS (SELECT doc_id, sp, min(pos) AS a, " +
        s"max(pos) + ${L - 1} AS b FROM sx GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, CAST(sum(b - a + 1) AS BIGINT) " +
        "AS removed FROM spn GROUP BY 1), " +
        "ti AS (SELECT doc_id, t, " +
        "unnest(generate_series(1, len(t))) AS i FROM toks), " +
        "tk AS (SELECT ti.doc_id, ti.i, ti.t[ti.i] AS tok FROM ti " +
        "LEFT JOIN spn ON spn.doc_id = ti.doc_id " +
        "AND ti.i BETWEEN spn.a AND spn.b WHERE spn.doc_id IS NULL), " +
        "ct AS (SELECT doc_id, coalesce(string_agg(tok, ' ' " +
        "ORDER BY i), '') AS clean FROM tk GROUP BY 1) " +
        "SELECT toks.doc_id, CAST(len(t) AS INT) AS n_tokens, " +
        "CAST(coalesce(agg.removed, 0) AS BIGINT) AS removed_tokens, " +
        "CAST(len(t) - coalesce(agg.removed, 0) AS BIGINT) " +
        "AS kept_tokens, md5(coalesce(ct.clean, '')) AS clean_md5 " +
        "FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id " +
        "LEFT JOIN ct ON toks.doc_id = ct.doc_id ORDER BY toks.doc_id"
  }

  /** Leakage-SAFE train/val/test splitting — the near-dup-aware form
    * of `corpus_split_documents`: a doc-keyed hash split can place two
    * NEAR-duplicates on opposite sides of the train/eval boundary
    * (train→test leakage the exact-fingerprint audit cannot see), so
    * assignment here is keyed on the near-dup CLUSTER representative —
    * blocked Jaccard pairs (≥ 0.8) → connected components → every
    * member splits by `md5(seed : cluster-min-id)`, singletons by
    * their own id. By construction no near-dup pair straddles splits;
    * the report proves it (`cross_pairs_safe`, identically 0) next to
    * the NAIVE doc-keyed assignment's straddle count on the same pair
    * set (`cross_pairs_naive` — what the cluster keying prevents).
    * Each pair attributes to its lower id's split. The oracle replays
    * pairs → recursive components → both split assignments → both
    * straddle counts verbatim.
    */
  private def splitSafeQuery = QueryDef(
    "dedup_split_safe_documents",
    (s, dir) => withNearDupPairs(s, dir) { (docs, nearDups) =>
      // read by clustering AND both straddle counts
      Frames.cached(nearDups) { pairs =>
        val clusters = Dedup.survivorsLocal(pairs)
          .select(col("id").as("doc_id"), col("cluster"))
        val safe = graft.pipeline.CorpusSplit.assign(
            docs.select("doc_id")
              .join(clusters, Seq("doc_id"), "left")
              .withColumn("rep",
                coalesce(col("cluster"), col("doc_id"))),
            "rep")
          .select(col("doc_id"), col("rep"), col("split"))
          .localCheckpoint(true) // report + straddle join
        val naive = graft.pipeline.CorpusSplit.assign(
            docs.select("doc_id"), "doc_id")
          .select(col("doc_id"), col("split"))
        def cross(asg: org.apache.spark.sql.DataFrame) = pairs
          .join(asg.select(col("doc_id").as("id_a"),
            col("split").as("__sa")), "id_a")
          .join(asg.select(col("doc_id").as("id_b"),
            col("split").as("__sb")), "id_b")
          .filter(col("__sa") =!= col("__sb"))
          .groupBy(col("__sa").as("split"))
          .agg(count(lit(1)).as("__c"))
        safe
          .groupBy("split").agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("rep")).as("n_reps"))
          .join(cross(safe).withColumnRenamed("__c", "__cs"),
            Seq("split"), "left")
          .join(cross(naive).withColumnRenamed("__c", "__cn"),
            Seq("split"), "left")
          .select(col("split"), col("n_docs"), col("n_reps"),
            coalesce(col("__cs"), lit(0L)).as("cross_pairs_safe"),
            coalesce(col("__cn"), lit(0L)).as("cross_pairs_naive"))
          .orderBy("split")
      }
    },
    Some {
      val seed = graft.pipeline.CorpusSplit.DefaultSeed
      def splitCase(key: String) =
        s"CASE WHEN substring(md5('$seed:' || $key::VARCHAR), 1, 4) " +
          s"< '${graft.pipeline.CorpusSplit.TrainCut}' THEN 'train' " +
          s"WHEN substring(md5('$seed:' || $key::VARCHAR), 1, 4) " +
          s"< '${graft.pipeline.CorpusSplit.ValCut}' THEN 'val' " +
          "ELSE 'test' END"
      s"WITH RECURSIVE $jaccardPairsCte, " +
        nearDupReachSql + ", " +
        "cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id), " +
        "asg AS (SELECT dd.doc_id, " +
        "coalesce(cl.cluster, dd.doc_id) AS rep FROM documents dd " +
        "LEFT JOIN cl ON dd.doc_id = cl.id), " +
        s"sp AS (SELECT doc_id, rep, ${splitCase("rep")} AS split " +
        "FROM asg), " +
        s"np AS (SELECT doc_id, ${splitCase("doc_id")} AS split " +
        "FROM documents), " +
        "xs AS (SELECT sa.split, count(*) AS c FROM pairs p " +
        "JOIN sp sa ON p.id_a = sa.doc_id " +
        "JOIN sp sb ON p.id_b = sb.doc_id " +
        "WHERE sa.split <> sb.split GROUP BY 1), " +
        "xn AS (SELECT sa.split, count(*) AS c FROM pairs p " +
        "JOIN np sa ON p.id_a = sa.doc_id " +
        "JOIN np sb ON p.id_b = sb.doc_id " +
        "WHERE sa.split <> sb.split GROUP BY 1), " +
        "r AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT rep) AS BIGINT) AS n_reps FROM sp " +
        "GROUP BY 1) " +
        "SELECT r.split, n_docs, n_reps, " +
        "CAST(coalesce(xs.c, 0) AS BIGINT) AS cross_pairs_safe, " +
        "CAST(coalesce(xn.c, 0) AS BIGINT) AS cross_pairs_naive " +
        "FROM r LEFT JOIN xs ON r.split = xs.split " +
        "LEFT JOIN xn ON r.split = xn.split ORDER BY r.split"
    })

  /** Prefix-blocked exact 3-shingle Jaccard: pairs sharing an 80-char
    * prefix block (cheap equality blocking — a hash join, no crossJoin),
    * verified with exact set Jaccard. Oracle recomputes shingling and
    * Jaccard natively in DuckDB.
    */
  private def jaccardQuery = QueryDef(
    "dedup_jaccard_blocked_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      // caller-managed shingle cache: the pair-sized result materializes
      // so the cached set frame releases before returning
      Frames.cached(Dedup.shingleSets(docs, "doc_id", "text", 3)) { sets =>
        Frames.localized(
            Dedup.jaccardOnPairsFromSets(blockedPairs(docs), sets, "doc_id"))
          .orderBy("id_a", "id_b")
      }
    },
    Some(s"WITH $jaccardPairsCte SELECT id_a, id_b, jaccard FROM jp " +
      "ORDER BY id_a, id_b"))

  /** Near-dup clustering + survivor selection: blocked Jaccard pairs
    * (≥ 0.8) → connected components via distributed min-label propagation
    * → keep the minimum id per component. The oracle recomputes the
    * components with a recursive reachability CTE — so the hash gate
    * checks the full pipeline pairs→clusters→survivors.
    */
  private def clustersQuery = QueryDef(
    "dedup_clusters_documents",
    (s, dir) => withNearDupPairs(s, dir) { (_, pairs) =>
      // survivorsLocal releases the propagation cache inside the call
      Dedup.survivorsLocal(pairs).orderBy("cluster", "id")
    },
    Some(s"WITH RECURSIVE $jaccardPairsCte, " +
      nearDupReachSql + " " +
      "SELECT MIN(r) AS cluster, id, (id = MIN(r)) AS is_survivor " +
      "FROM reach GROUP BY id ORDER BY cluster, id"))

  /** Shared DuckDB CTE prefix for the hash-family oracles: whitespace
    * tokens (the project-wide [[graft.text.TextAnalysis.tokens]] rule)
    * and 3-word shingles, NON-distinct (`s`) — the exact mirror of
    * [[Dedup.wordShinglesFromTokens]].
    */
  private def shingleCtes(src: String): String =
    s"""toks AS (SELECT doc_id, CASE
       |  WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |  ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM $src),
       |sh AS (SELECT doc_id, CASE WHEN len(t) = 0 THEN []::VARCHAR[]
       |  WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
       |  ELSE list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
       |  FROM toks)""".stripMargin.replace("\n", " ")

  /** The md5-derived 60-bit base hash as DuckDB SQL (mirror of
    * [[Dedup.md5Base]]). */
  private def md5BaseSql(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** Banded MinHash-LSH near-dup pipeline — FULLY ORACLED since r8: the
    * universal-hash family is closed-form (aᵢ=2i+1, bᵢ=40503i+12345 mod
    * P=2³¹−1) and the base/band hashes are md5-derived
    * ([[Dedup.nearDuplicatesOracled]]), so DuckDB replays the complete
    * sig→bands→bucket-bound→pairs→exact-Jaccard pipeline at the
    * production parameters (128 hashes, 32 bands, bucket bound 64,
    * threshold 0.8). The xxhash production form ([[Dedup.nearDuplicates]])
    * stays the API default — one 64-bit mix per shingle instead of an
    * md5 — with its recall physics pinned in DedupSpec and its scaling
    * measured by the ScaleProbe `dedup_minhash` row; the LSH pipeline
    * the two share is what this gate certifies.
    */
  private def minhashQuery = QueryDef(
    "dedup_minhash_documents",
    (s, dir) => Dedup.nearDuplicatesOracled(
        Tables.load(s, dir, "documents", parallelize = true), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      .orderBy("id_a", "id_b"),
    Some(minhashOracleSql))

  /** DuckDB replay of the md5-family MinHash-LSH pipeline — the oracle
    * of BOTH registered MinHash lanes: literally for the md5 lane, and
    * as an EQUIVALENCE oracle for the xxhash production lane (see
    * [[minhashProdQuery]] — survivors and their exact-Jaccard values
    * agree whenever both families propose every true pair, which holds
    * on the gate corpus empirically: `EquivalenceProbe` and the floor
    * tests check it).
    */
  private def minhashOracleSql: String =
    minhashBandsSql +
      "bn AS (SELECT band_idx, band_hash, count(*) AS n FROM bands " +
      "GROUP BY 1, 2), " +
      "bb AS (SELECT bands.doc_id, bands.band_idx, bands.band_hash " +
      "FROM bands JOIN bn USING (band_idx, band_hash) " +
      "WHERE n BETWEEN 2 AND 64), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b " +
      "FROM bb a JOIN bb b2 ON a.band_idx = b2.band_idx AND " +
      "a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id), " +
      "jp AS (SELECT c.id_a, c.id_b, " +
      "len(list_intersect(sa.s, sb.s))::DOUBLE / " +
      "greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) AS " +
      "jaccard FROM cand c JOIN sets sa ON sa.doc_id = c.id_a " +
      "JOIN sets sb ON sb.doc_id = c.id_b) " +
      "SELECT id_a, id_b, jaccard FROM jp WHERE jaccard >= 0.8 " +
      "ORDER BY id_a, id_b"

  /** The MinHash oracles' `WITH` chain up to `bands(doc_id, band_idx,
    * band_hash)`: distinct 3-shingle `sets`, md5 base hashes, the
    * 128-slot signature under the closed-form family (aᵢ=2i+1,
    * bᵢ=40503i+12345 mod 2³¹−1) and 32 md5 band hashes of 4 slots
    * ([[Dedup.minHashBands]]). Carries its trailing ", ".
    */
  private def minhashBandsSql: String = {
    val perm = s"((2*k+1) * (h % 2147483647) + (40503*k+12345)) " +
      "% 2147483647"
    s"WITH ${shingleCtes("documents")}, " +
      "sets AS (SELECT doc_id, list_distinct(s) AS s FROM sh), " +
      "b AS (SELECT doc_id, s, list_transform(s, x -> " +
      s"${md5BaseSql("x")}) AS bases FROM sets), " +
      "sig AS (SELECT doc_id, list_transform(generate_series(0, 127), " +
      "k -> coalesce(list_min(list_transform(bases, h -> " +
      s"$perm)), 2147483647)) AS sig FROM b), " +
      "bands AS (SELECT doc_id, u['i'] AS band_idx, u['h'] AS " +
      "band_hash FROM (SELECT doc_id, unnest(list_transform(" +
      "generate_series(0, 31), j -> {'i': j, 'h': md5(array_to_string(" +
      "sig[j*4+1:(j+1)*4], '-'))})) AS u FROM sig)), "
  }

  /** SimHash near-dup report — FULLY ORACLED since r8, re-grained in
    * r15 to fingerprint groups: fingerprints are the per-bit majority
    * over md5-derived 60-bit base hashes ([[SimHash.simhashFromBases]];
    * ties → 0 exactly as the xxhash production form); exact-equal
    * fingerprints collapse to min-id representatives FIRST (hamming-0
    * duplicates report as diagonal `(rep, rep, 0, n, n)` rows at group
    * grain — near-empty/boilerplate docs all fingerprint identically,
    * and expanding that pileup to within-group pairs is the m²/2
    * quadratic cliff); representatives block on 4 chunks of 15 bits
    * under the `[2, maxBucket]` bucket bound (the [[Dedup]] LSH guard;
    * a fingerprint within hamming ≤ 3 must share a chunk — used as a
    * candidate filter with a wider ≤ 12 verify threshold), so DuckDB
    * replays fingerprint→groups→chunks→bound→pairs→hamming
    * bit-for-bit, bucket bound included. The xxhash-64-bit
    * production form ([[SimHash.simhash64]]) stays the API default with
    * its own spec pins — it is NOT gate-registered (r10): unlike the
    * MinHash twins, whose survivors are exact-Jaccard-verified and so
    * hash-family-independent, SimHash survivors are defined BY the
    * fingerprint family (hamming on 64-bit xxhash vs 60-bit md5 admits
    * different borderline pairs; `EquivalenceProbe` measured 20 vs 24
    * pairs with 1/5 one-sided on the gate corpus), so no DuckDB
    * computation can reproduce the xxhash pair set and a registered
    * rows-only lane would sit permanently red in the driver's hard
    * signal. Coverage lives in DedupSpec (recall vs oracled Jaccard
    * truth, tie semantics, chunk-blocking bound) and the ScaleProbe
    * `dedup_simhash` row.
    */
  private def simhashQuery = QueryDef(
    "dedup_simhash_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      // the md5 family through the shared fingerprint builder (empty
      // docs yield empty base arrays and fp = 0).
      // cached: the fingerprint frame is exploded into 4 chunks and
      // self-joined — without it the whole base pipeline re-evaluates
      // per chunk element and per join side (the r4 SimHash lesson).
      // The survivor set is report-sized, so it localizes and the fps
      // cache releases on return; the shared core's OWN groups/bounded
      // caches (nearDupFromFingerprints's documented lifecycle) are
      // deferred and release at the harness's DeferredCleanup.drain().
      Frames.cached(SimHash.fingerprints(docs, "doc_id", "text",
          HashFamily.Md5)) { fps =>
        Frames.localized(
          SimHash.nearDupFromFingerprints(fps, "doc_id", "fp",
              chunkBits = 15, nChunks = 4, maxHamming = 12,
              maxBucket = SimhashMaxBucket))
          .orderBy("id_a", "id_b")
      }
    },
    Some(simhashOracleSql))

  /** The SimHash near-dup oracle, factored out so the STREAMING twin
    * (`stream_simhash_documents`) replays it VERBATIM — the
    * maintained fingerprint-group index folded over any batch cut
    * reproduces the batch report (min/sum partials commute).
    */
  private[graft] def simhashOracleSql: String =
      s"WITH ${shingleCtes("documents")}, " +
        "b AS (SELECT doc_id, list_transform(s, x -> " +
        s"${md5BaseSql("x")}) AS bases FROM sh), " +
        "fp AS (SELECT doc_id, coalesce(list_sum(list_transform(" +
        "generate_series(0, 59), j -> CASE WHEN " +
        "2 * list_sum(list_transform(bases, h -> (h >> j) & 1)) > " +
        "len(bases) THEN (1::BIGINT << j) ELSE 0 END)), 0)::BIGINT AS fp " +
        "FROM b), " +
        "grp AS (SELECT fp, min(doc_id) AS rep, count(*) AS n " +
        "FROM fp GROUP BY 1), " +
        "ch AS (SELECT rep, fp, n, ci, (fp >> (ci * 15)) & 32767 AS cv " +
        "FROM grp, (SELECT unnest(generate_series(0, 3)) AS ci)), " +
        "bk AS (SELECT ci, cv, count(*) AS bn FROM ch GROUP BY 1, 2), " +
        "bd AS (SELECT ch.* FROM ch JOIN bk USING (ci, cv) " +
        s"WHERE bn BETWEEN 2 AND $SimhashMaxBucket), " +
        "cand AS (SELECT DISTINCT a.rep AS id_a, b2.rep AS id_b, " +
        "a.fp AS fp_a, b2.fp AS fp_b, a.n AS n_a, b2.n AS n_b " +
        "FROM bd a JOIN bd b2 ON " +
        "a.ci = b2.ci AND a.cv = b2.cv AND a.rep < b2.rep) " +
        "SELECT * FROM (" +
        "SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::BIGINT " +
        "AS hamming, n_a, n_b " +
        "FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 12 " +
        "UNION ALL SELECT rep, rep, 0::BIGINT, n, n FROM grp " +
        "WHERE n >= 2) ORDER BY id_a, id_b"

  /** Bucket bound for the SimHash chunk blocking ([[SimHash
    * .nearDupFromFingerprints]]) — rendered into BOTH the Spark lane
    * and its oracle SQL so the two can never drift.
    */
  private[graft] val SimhashMaxBucket = 64

  /** Embedding-cosine near-dup, label-blocked exact variant: pairs within
    * the same `label` block with cosine ≥ 0.3 (≈ the 99th percentile of
    * the corpus pair distribution — the fixtures are near-random vectors,
    * so a classic 0.95 dup threshold would be vacuous). Cosine folds are
    * sequential double ops in both engines, so values hash-match exactly.
    */
  private def embBlockedQuery = QueryDef(
    "dedup_embedding_blocked",
    (s, dir) => EmbeddingDedup.cosinePairsBlocked(
        graft.io.Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.3)
      .orderBy("id_a", "id_b"),
    Some(embBlockedOracleSql))

  /** CTE `p(id_a, id_b, cosine)` over `e(vec_id, v, label)`: the exact
    * cosine of every same-label pair.
    */
  private val embLabelPairsSql =
    """p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
      |    sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
      |  ELSE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) *
      |     sqrt(list_dot_product(b.v, b.v))) END AS cosine
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)"""
      .stripMargin.replace("\n", " ")

  /** The label-blocked cosine ≥ 0.3 pairs — also the oracle of the SQL
    * surface's twin, `sql_embedding_dedup`.
    */
  private[graft] val embBlockedOracleSql =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label   " +
      s"FROM embeddings), $embLabelPairsSql " +
      "SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3 " +
      "ORDER BY id_a, id_b"

  /** Embedding-cosine near-dup, sign-LSH bucketed — ORACLED since the
    * r7 second pass: the hyperplanes are deterministic seeded doubles
    * ([[graft.sim.Similarity.planeValues]]), so the oracle embeds the
    * SAME values as SQL literal arrays and DuckDB recomputes bucket
    * signs, the 2..maxBucket bound, candidate pairs, and the exact
    * cosine verify bit-identically (list_dot_product ≡ the codegen'd
    * dot — the blocked gate already proves it). The gate runs the FIXED
    * 8-bit width (what scaledBits picks at the sf0.01 corpus); the
    * auto-scaled width stays the 100 TB default, with the O(n)
    * candidate bound and recall physics pinned in DedupSpec.
    */
  private val LshTables = 8
  private val LshBits = 8
  private val LshDims = 64
  private val LshMaxBucket = 256

  private def embLshQuery = QueryDef(
    "dedup_embedding_lsh",
    (s, dir) => EmbeddingDedup.cosinePairsLsh(
        graft.io.Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3,
        tables = LshTables, bits = LshBits, dims = LshDims,
        maxBucket = LshMaxBucket)
      .orderBy("id_a", "id_b"),
    Some {
      "WITH " + graft.sim.SimilarityQueries.lshIndexCtes(
          LshTables, LshBits, LshDims) +
        "bn AS (SELECT table_idx, bucket, count(*) AS n FROM idx " +
        "GROUP BY 1, 2), " +
        "bidx AS (SELECT i.vec_id, i.table_idx, i.bucket FROM idx i " +
        s"JOIN bn USING (table_idx, bucket) WHERE n BETWEEN 2 AND " +
        s"$LshMaxBucket), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
        "FROM bidx a JOIN bidx b ON a.table_idx = b.table_idx AND " +
        "a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        "p AS (SELECT c.id_a, c.id_b, CASE WHEN " +
        "sqrt(list_dot_product(ea.v, ea.v)) * " +
        "sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0.0 ELSE " +
        "list_dot_product(ea.v, eb.v) / " +
        "(sqrt(list_dot_product(ea.v, ea.v)) * " +
        "sqrt(list_dot_product(eb.v, eb.v))) END AS cosine " +
        "FROM cand c JOIN e ea ON ea.vec_id = c.id_a " +
        "JOIN e eb ON eb.vec_id = c.id_b) " +
        "SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3 " +
        "ORDER BY id_a, id_b"
    })

  /** SemDeDup over embeddings, end-to-end and exactly oracled: blocked
    * cosine near-dup pairs → connected clusters (min-label propagation /
    * union-find) → ONE surviving representative per semantic cluster —
    * the embedding-curation composition (SemDeDup, Abbas et al. 2023:
    * cluster semantically-duplicate points, keep one). Threshold is the
    * fixture-calibrated 0.3 (see [[embBlockedQuery]]); the oracle
    * recomputes cosines AND the components with a recursive reachability
    * CTE, so one hash pins pair math, clustering and survivor choice.
    * At 100 TB the pair stage swaps to the LSH variant unchanged
    * (survivors are pair-source-agnostic).
    */
  private def semdedupQuery = QueryDef(
    "corpus_semdedup_embeddings",
    (s, dir) => {
      val pairs = EmbeddingDedup.cosinePairsBlocked(
          graft.io.Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.3)
        .select("id_a", "id_b")
      Dedup.survivorsLocal(pairs).orderBy("cluster", "id")
    },
    Some(
      "WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v,   " +
        s"label FROM embeddings), $embLabelPairsSql, " +
        """pairs AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (SELECT src, src FROM edges
        |  UNION SELECT e2.src, reach.r FROM edges e2
        |  JOIN reach ON e2.dst = reach.id)
        |SELECT MIN(r) AS cluster, id, (id = MIN(r)) AS is_survivor
        |FROM reach GROUP BY id ORDER BY cluster, id""".stripMargin
        .replace("\n", " ")))

  /** Cross-document duplicated-span profile (sub-document dedup — Lee et
    * al. 2022's span granularity, approximated by 8-token stride-1
    * shingles; see [[SpanDedup]]). Oracle recomputes the window hashes,
    * ≥2-distinct-docs keys, and interval-union coverage natively in
    * DuckDB, so one hash pins shingling, key counting, the hit join and
    * the coverage fold. `dup_token_ratio` is a raw IEEE division of
    * exact counts — bit-equal across engines.
    */
  private def spanQuery = QueryDef(
    "dedup_spans_documents",
    (s, dir) => SpanDedup.spanProfile(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text").orderBy("doc_id"),
    Some(
      """WITH toks AS (SELECT doc_id, CASE
        |  WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |  ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |  (CASE WHEN len(t) >= 8 THEN len(t) - 7 ELSE 0 END)::BIGINT
        |    AS n_spans, t FROM toks),
        |spans AS (SELECT doc_id, u['i'] - 1 AS pos, u['h'] AS h FROM
        |  (SELECT doc_id, unnest(list_transform(generate_series(1, n_spans),
        |    i -> {'i': i, 'h': md5(array_to_string(t[i:i+7], ' '))})) AS u
        |   FROM base)),
        |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM spans)
        |  GROUP BY h HAVING count(*) >= 2),
        |hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (h)),
        |cov AS (SELECT DISTINCT doc_id,
        |  unnest(generate_series(pos, pos + 7)) AS p FROM hits),
        |agg AS (SELECT doc_id, count(*) AS dup_spans FROM hits GROUP BY 1),
        |covagg AS (SELECT doc_id, count(*) AS covered_tokens FROM cov
        |  GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.n_spans,
        |  coalesce(a.dup_spans, 0) AS dup_spans,
        |  coalesce(c.covered_tokens, 0) AS covered_tokens,
        |  coalesce(c.covered_tokens, 0)::DOUBLE / greatest(b.n_tokens, 1)
        |    AS dup_token_ratio
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN covagg c USING (doc_id) ORDER BY doc_id""".stripMargin
        .replace("\n", " ")))

  /** Incremental batch-vs-corpus dedup ([[IncrementalDedup]]): admit the
    * batch docs (doc_id % 10 ≥ 8) whose bag-of-words fingerprint
    * ([[graft.text.TextAnalysis.fingerprint]]) is absent from the
    * accumulated corpus (doc_id % 10 < 8). The Bloom prefilter has no
    * false negatives, so the result EQUALS a plain anti-join — which is
    * how the oracle states it (NOT EXISTS over recomputed fingerprints).
    * One hash therefore pins the sketch build, the probe, and the
    * broadcast confirm path end to end.
    */
  private def incrementalQuery = QueryDef(
    "dedup_incremental_documents",
    (s, dir) => {
      val keyed = Tables.load(s, dir, "documents", parallelize = true)
        .select(col("doc_id"),
          graft.text.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      val corpus = keyed.filter(col("doc_id") % 10 < 8)
      val batch = keyed.filter(col("doc_id") % 10 >= 8)
      // sizing: any overestimate works (whole-table count — one footer-
      // only job on parquet, no data scan)
      val bloom = IncrementalDedup.buildBloom(corpus, col("fingerprint"),
        expectedItems = graft.io.Tables.rowCount(s, dir, "documents"))
      IncrementalDedup.newRows(batch, corpus, "fingerprint", bloom)
        .orderBy("doc_id")
    },
    Some("WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(" +
      "list_distinct(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END)), ' ')) " +
      "AS fingerprint FROM documents) " +
      "SELECT b.fingerprint, b.doc_id FROM f b WHERE b.doc_id % 10 >= 8 " +
      "AND NOT EXISTS (SELECT 1 FROM f c WHERE c.doc_id % 10 < 8 " +
      "AND c.fingerprint = b.fingerprint) ORDER BY b.doc_id"))

  /** Incremental batch-vs-corpus NEAR-dup dedup
    * ([[IncrementalNearDup]]): the daily-ingest composition of X2's
    * MinHash-LSH banding with X27's batch-vs-corpus shape — the batch
    * (doc_id % 10 ≥ 8) probes the accumulated corpus's (doc_id % 10
    * < 8) band index; only bucket-matched, candidate-sized frames move
    * after the one index stream, and survivors are exact-Jaccard
    * verified. md5 family at the production 128/32/64/0.8 parameters,
    * so DuckDB replays the full split→sig→bands→bounded-probe→verify
    * pipeline; the xxhash production twin is pinned survivor-equal in
    * IncrementalNearDupSpec (the X2 equivalence argument: survivors
    * are exact-verified, so the families agree wherever both propose
    * every true pair — empirically so on the gate corpus).
    */
  private def incrementalMinhashQuery = QueryDef(
    "dedup_incremental_minhash_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      IncrementalNearDup.probeOracled(
          docs.filter(col("doc_id") % 10 < 8),
          docs.filter(col("doc_id") % 10 >= 8),
          "doc_id", "text")
        .orderBy("batch_id", "dup_of")
    },
    Some(incrementalMinhashOracleSql))

  /** DuckDB replay of the incremental probe: the md5 MinHash pipeline
    * verbatim (the [[minhashOracleSql]] template) with the corpus/batch
    * split applied at the band frame — corpus buckets bounded to
    * ≤ 64 members (NO lower bound: a single corpus member is a
    * legitimate match target for a batch probe, unlike the self-join
    * lanes' [2, 64]), candidates = batch bands equi-joined to bounded
    * corpus buckets, survivors exact-Jaccard ≥ 0.8.
    */
  private[graft] def incrementalMinhashOracleSql: String =
    minhashBandsSql +
      "cb AS (SELECT * FROM bands WHERE doc_id % 10 < 8), " +
      "bn AS (SELECT band_idx, band_hash, count(*) AS n FROM cb " +
      "GROUP BY 1, 2), " +
      "cbb AS (SELECT cb.doc_id, cb.band_idx, cb.band_hash FROM cb " +
      "JOIN bn USING (band_idx, band_hash) WHERE n <= 64), " +
      "qb AS (SELECT * FROM bands WHERE doc_id % 10 >= 8), " +
      "cand AS (SELECT DISTINCT q.doc_id AS batch_id, c.doc_id AS " +
      "dup_of FROM qb q JOIN cbb c ON q.band_idx = c.band_idx AND " +
      "q.band_hash = c.band_hash), " +
      "jp AS (SELECT cand.batch_id, cand.dup_of, " +
      "len(list_intersect(sa.s, sb.s))::DOUBLE / " +
      "greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) AS " +
      "jaccard FROM cand JOIN sets sa ON sa.doc_id = cand.batch_id " +
      "JOIN sets sb ON sb.doc_id = cand.dup_of) " +
      "SELECT batch_id, dup_of, jaccard FROM jp WHERE jaccard >= 0.8 " +
      "ORDER BY batch_id, dup_of"

  /** Dataset-overlap matrix ([[Dedup.sourceOverlap]]): exact Jaccard of
    * per-source fingerprint sets for every source pair (zero-overlap
    * pairs included). The oracle replays the shared bag-of-words
    * fingerprint and the set algebra verbatim.
    */
  private def sourceOverlapQuery = QueryDef(
    "corpus_source_overlap",
    (s, dir) => Dedup.sourceOverlap(
        Tables.load(s, dir, "documents", parallelize = true),
        "source", "text")
      .orderBy("source_a", "source_b"),
    Some("WITH f AS (SELECT DISTINCT source, " +
      "md5(array_to_string(list_sort(list_distinct(" +
      "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END)), ' ')) " +
      "AS fp FROM documents), " +
      "sz AS (SELECT source, count(*) AS n FROM f GROUP BY 1), " +
      "cm AS (SELECT a.source AS source_a, b.source AS source_b, " +
      "count(*) AS common FROM f a JOIN f b ON a.fp = b.fp " +
      "AND a.source < b.source GROUP BY 1, 2), " +
      "p AS (SELECT sa.source AS source_a, sb.source AS source_b, " +
      "sa.n AS n_a, sb.n AS n_b FROM sz sa JOIN sz sb " +
      "ON sa.source < sb.source) " +
      "SELECT p.source_a, p.source_b, n_a, n_b, " +
      "coalesce(common, 0) AS common, " +
      "coalesce(common, 0)::DOUBLE / (n_a + n_b - coalesce(common, 0)) " +
      "AS jaccard FROM p LEFT JOIN cm USING (source_a, source_b) " +
      "ORDER BY source_a, source_b"))

  /** The PRODUCTION xxhash MinHash lane ([[Dedup.nearDuplicates]], the
    * API default — one 64-bit mix per shingle instead of an md5),
    * registered so the driver gate EXECUTES the code path users get by
    * default, not only the md5 oracle twin above. FULLY ORACLED since
    * r10 (it was a `no_oracle` row in r9's gate) via an EQUIVALENCE
    * oracle — the md5 twin's DuckDB pipeline verbatim. Why that is
    * sound: LSH banding only decides which CANDIDATE pairs reach the
    * verify step; survivors are the pairs whose EXACT Jaccard over the
    * shared shingle sets clears the threshold, and the emitted jaccard
    * is that hash-family-independent exact value. So the two families
    * agree wherever both propose every true pair — an EMPIRICAL fact
    * of the gate corpus, not a bound: the textbook (1−s⁴)³² miss rate
    * assumes independent hash functions, and this family's aᵢ = 2i+1
    * functions are strongly correlated (a Jaccard-0.924 pair measured
    * sharing 0 of 32 bands; "Near-dup recall" in perfbench/README.md).
    * `EquivalenceProbe` (r10) verified xxhash ≡ md5 survivor rows
    * bit-for-bit, jaccard included, and the floor tests (DedupSpec,
    * IncrementalNearDupSpec) keep checking it; scaling lives in the
    * ScaleProbe `dedup_minhash` row (e≈0.36 x1→x10).
    */
  private def minhashProdQuery = QueryDef(
    "dedup_minhash_xxhash_documents",
    (s, dir) => Dedup.nearDuplicates(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32,
        threshold = 0.8)
      .orderBy("id_a", "id_b"),
    Some(minhashOracleSql))

  /** Semantic decontamination ([[EmbeddingDedup.evalOverlap]]): the
    * held-out eval set is the first 50 embeddings — FIXED SIZE, the
    * operator's contract (an eval benchmark does not grow with the
    * corpus; the first probe cut eval as a corpus fraction and went
    * superlinear, by construction) — the corpus is the
    * rest; flagged = best eval cosine ≥ 0.38 (the corpus p95 — the tail,
    * not the bulk) with the argmax neighbor
    * named. The struct-max argmax is replayed as a ranked window under
    * the identical (cosine desc, eval_id) order.
    */
  private def semanticDecontamQuery = QueryDef(
    "decontam_semantic_embeddings",
    (s, dir) => {
      val em = graft.io.Tables.load(s, dir, "embeddings")
      EmbeddingDedup.evalOverlap(
          em.filter(col("vec_id") >= 50),
          em.filter(col("vec_id") < 50),
          "vec_id", "embedding", threshold = 0.38)
        .orderBy("vec_id")
    },
    Some(
      """WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |c AS (SELECT * FROM em WHERE vec_id >= 50),
        |ev AS (SELECT vec_id AS eval_id, v AS w FROM em
        |  WHERE vec_id < 50),
        |s AS (SELECT c.vec_id, ev.eval_id,
        |  CASE WHEN sqrt(list_dot_product(c.v, c.v)) *
        |    sqrt(list_dot_product(ev.w, ev.w)) = 0 THEN 0.0
        |  ELSE list_dot_product(c.v, ev.w) /
        |    (sqrt(list_dot_product(c.v, c.v)) *
        |     sqrt(list_dot_product(ev.w, ev.w))) END AS cosine
        |  FROM c, ev),
        |r AS (SELECT vec_id, eval_id, cosine, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rn
        |  FROM s)
        |SELECT vec_id, eval_id, cosine FROM r
        |WHERE rn = 1 AND cosine >= 0.38
        |ORDER BY vec_id""".stripMargin.replace("\n", " ")))

  /** N-gram novelty audit ([[Novelty.firstOwnership]]): per-doc
    * fraction of distinct 3-word shingles FIRST OWNED by the doc
    * (corpus-wide min-id occurrence) — the per-document
    * marginal-contribution / memorization-risk report complementing
    * the pairwise dedup lanes. Shingling is the exact [[shingleCtes]]
    * form the MinHash lanes replay, ownership is min-id + exact
    * counts + one IEEE division — fully SQL-replayable.
    */
  private def noveltyQuery = QueryDef(
    "dedup_novelty_documents",
    (s, dir) => Novelty.firstOwnership(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", k = 3)
      .orderBy("doc_id"),
    Some(s"WITH ${shingleCtes("documents")}, " +
      "g AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), " +
      "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams " +
      "FROM g GROUP BY 1), " +
      "ow AS (SELECT g, min(doc_id) AS doc_id FROM g GROUP BY 1), " +
      "nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel " +
      "FROM ow GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams, " +
      "coalesce(n_novel, 0) AS n_novel, " +
      "CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL " +
      "ELSE CAST(coalesce(n_novel, 0) AS DOUBLE) / " +
      "CAST(n_grams AS DOUBLE) END AS novelty " +
      "FROM documents d LEFT JOIN pd USING (doc_id) " +
      "LEFT JOIN nv USING (doc_id) ORDER BY doc_id"))

  /** Quality-aware CANONICAL selection — the survivor policy real
    * pipelines run instead of keep-min-id: within each near-dup
    * cluster, keep the member the quality model ([[graft.text
    * .QualityModel]], pinned weights — the X102 apply seam) scores
    * highest ((margin DESC, id ASC) — deterministic). Min-id keeps an
    * ARBITRARY member; when duplicates differ (truncation, boilerplate
    * variants), that discards the best copy — `CanonicalSpec` plants
    * exactly that case. Composes the X12 cluster operator with X102:
    * clusters from the blocked-Jaccard pair graph, one metadata-sized
    * join to the margins, one window. The oracle rebuilds clusters
    * (recursive CTE), margins (pinned literals under the row-count
    * guard) and the pick verbatim.
    */
  private def canonicalQuery = QueryDef(
    "dedup_canonical_documents",
    (s, dir) => withNearDupPairs(s, dir) { (docs, pairs) =>
      val members = Dedup.survivorsLocal(pairs)
        .select(col("cluster"), col("id").as("doc_id"))
      val margins = graft.text.QualityModel.scorePinned(docs,
          "doc_id", "text", graft.text.QualityGatePinned.weights,
          graft.text.QualityGatePinned.bias)
        .select(col("doc_id"), col("margin"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
        .orderBy(col("margin").desc, col("doc_id").asc)
      members.join(margins, Seq("doc_id"))
        .withColumn("__rn", row_number().over(w))
        .select(col("cluster"), col("doc_id"), col("margin"),
          (col("__rn") === 1).as("is_canonical"))
        .orderBy("cluster", "doc_id")
    },
    Some(s"WITH RECURSIVE $jaccardPairsCte, " +
      nearDupReachSql + ", " +
      "cl AS (SELECT MIN(r) AS cluster, id AS doc_id FROM reach " +
      "GROUP BY id), " +
      "gg AS (SELECT CASE WHEN (SELECT count(*) FROM documents) = " +
      s"${graft.text.QualityGatePinned.GateRows} THEN 1 ELSE " +
      "error('canonical pinned-weight oracle is only valid at the " +
      "gate corpus: regenerate QualityGatePinned') END AS ok), " +
      "toksq AS (SELECT doc_id, " +
      s"${graft.text.TextQueries.tokensSql} AS t FROM documents), " +
      "mg AS (SELECT doc_id, " +
      s"${graft.text.TextQueries.qualityMarginSql} AS margin " +
      "FROM toksq), " +
      "j AS (SELECT cl.cluster, cl.doc_id, mg.margin FROM cl " +
      "JOIN mg USING (doc_id)), " +
      "r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster " +
      "ORDER BY margin DESC, doc_id) AS rn FROM j) " +
      "SELECT cluster, doc_id, margin, rn = 1 AS is_canonical " +
      "FROM r2 CROSS JOIN gg ORDER BY cluster, doc_id"))

  override def queries: Seq[QueryDef] = Seq(
    exactQuery, jaccardQuery, clustersQuery, minhashQuery, simhashQuery,
    minhashProdQuery,
    embBlockedQuery, embLshQuery, semdedupQuery, spanQuery,
    incrementalQuery, incrementalMinhashQuery, sourceOverlapQuery,
    semanticDecontamQuery, noveltyQuery, canonicalQuery,
    splitSafeQuery, substringQuery, substringScrubQuery)
}
