package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Frames

/** Corpus deduplication for training-data pipelines: exact, MinHash+LSH
  * near-dup, and n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - candidate generation is BANDED LSH: explode each doc into `bands`
  *     (band_idx, band_hash) keys and self-join on that key — never an
  *     all-pairs crossJoin. Join fan-out is bounded by [[maxBucket]]:
  *     degenerate buckets (e.g. empty docs sharing a signature) are
  *     dropped, not exploded quadratically.
  *   - every stage is a plain shuffle-on-key (groupBy/join): Catalyst/AQE
  *     handles partial aggregation, skew splitting and partition sizing.
  *   - exact Jaccard verification runs only on surviving candidate PAIRS
  *     (linear in candidates, not docs²), fetching shingle sets via two
  *     key joins.
  */
object Dedup {

  /** Exact dedup = hash groupBy on the chosen columns. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Whitespace tokens of trimmed text (empty → empty array). ONE
    * definition project-wide — [[graft.text.TextAnalysis.tokens]] — so
    * shingle/dedup semantics can never drift from the text stats and the
    * shared DuckDB `tokensSql` oracle that mirrors it.
    */
  private[graft] def tokensOf(c: Column): Column =
    graft.text.TextAnalysis.tokens(c)

  /** k-word shingles from a MATERIALIZED token-array column. Callers must
    * land the tokens in their own projection first (see [[shingleSets]]):
    * this expression references `toks` ~5 times including inside the
    * `transform` lambda, and higher-order functions evaluate interpreted —
    * an inlined split() would re-tokenize the text once per emitted
    * shingle (measured ~5× the cost of the whole shingling pass).
    */
  def wordShinglesFromTokens(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n === 0, array().cast("array<string>"))
      .when(n <= k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** k-word shingles of a text column (k=1 → tokens). A doc shorter than
    * k words yields its whole token sequence as one shingle. Convenience
    * form for tests/composition — hot paths go through
    * [[wordShinglesFromTokens]] over a materialized token column.
    */
  def wordShingles(c: Column, k: Int): Column =
    wordShinglesFromTokens(tokensOf(c), k)

  /** MinHash signature (array of `numHashes` longs) over a shingle array
    * in the xxhash production family: universal-hash minima h_i(x) =
    * (a_i·x + b_i) mod P (P = 2³¹−1, so the products never overflow a
    * long) over the seed-42 xxhash64 of each shingle, reduced mod P
    * first. Empty shingle sets get signature [P, P, …] (sentinel that
    * only collides with other empties). Two native loops: one xxhash per
    * shingle (`BaseHashes`), then all `numHashes` running minima in a
    * primitive inner loop (`MinHashSigFromBases`). Two prior HOF
    * formulations measured 50× (nested re-hash) and ~8× (single-pass
    * fold, interpreted closures) slower.
    */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    minHashSignatureFromBases(HashFamily.Xxhash.bases(shingles), numHashes)

  /** MinHash signature over PRE-COMPUTED base hashes (`array<long>`):
    * the universal-hash family of [[minHashSignature]] (aᵢ = 2i+1, bᵢ =
    * 40503i+12345 mod P — closed-form constants any engine can restate
    * as literals), each base reduced mod P inside the native min loop
    * (`MinHashSigFromBases`). Empty arrays yield the all-P sentinel.
    * Over [[md5Bases]] every step has an exact ANSI-SQL restatement, so
    * the WHOLE sig→bands→buckets→verify pipeline hash-oracles in DuckDB
    * (see [[DedupQueries]]); the LSH physics — banding, bucket bounds —
    * are hash-agnostic, so the oracled lanes certify the shared
    * pipeline.
    */
  def minHashSignatureFromBases(bases: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.MinHashSigFromBases(
        org.apache.spark.sql.graft.ColumnShim.expression(bases), numHashes))

  /** md5-derived 60-bit base hash of a string column: the top 15 hex
    * chars of md5 parsed as a long — positive, < 2⁶⁰, and restatable in
    * any SQL engine (`('0x' || substr(md5(s),1,15))::BIGINT` in DuckDB).
    * All three component expressions are codegen'd built-ins.
    */
  def md5Base(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** [[md5Base]] over every element of an `array<string>` column in ONE
    * codegen'd loop (`BaseHashes` — thread-cached digest per element):
    * the base hash of the md5 family ([[HashFamily.Md5]]).
    */
  def md5Bases(arr: Column): Column = baseHashes(arr, md5 = true)

  /** Per-element base hashes of an `array<string>` column (`BaseHashes`):
    * seed-42 xxhash64, or the md5-derived 60-bit base.
    */
  private[dedup] def baseHashes(arr: Column, md5: Boolean): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.BaseHashes(
        org.apache.spark.sql.graft.ColumnShim.expression(arr), md5))

  /** (id, band_idx, band_hash) from an (id, __set) frame under `family`:
    * THE signature→bands step of every MinHash pipeline — the batch
    * lanes, the incremental index and its probe, and the near-dup
    * stream's persisted `bands`. The family's base hashes feed a
    * `numHashes`-long MinHash signature; band b keys the joined
    * "v1-v2-…" string of its `numHashes/bands` consecutive minima with
    * the family's band hash (equality semantics only, so any
    * collision-resistant keying works). `bands` must divide `numHashes`.
    */
  private[graft] def minHashBands(family: HashFamily, sets: DataFrame,
      idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sets.select(col(idCol),
        minHashSignatureFromBases(family.bases(col("__set")), numHashes)
          .as("__sig"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => family.bandKey(concat_ws("-", slice(col("__sig"),
            b * rows + 1, lit(rows)))))).as(Seq("band_idx", "band_hash")))
  }

  /** Distinct k-shingle sets per id — the shared working set of the
    * near-dup pipeline (signatures AND exact Jaccard both derive from it;
    * MinHash minima are identical over a set and its multiset).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    // two projections: tokens land as a real column so the shingle
    // expression's many references (incl. the interpreted transform
    // lambda) read an attribute instead of re-splitting the text per
    // shingle; CollapseProject keeps the boundary because the token
    // expression is non-cheap and referenced more than once
    df.select(col(idCol), tokensOf(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(wordShinglesFromTokens(col("__toks"), shingleK))
          .as("__set"))

  /** Candidate pairs (id_a < id_b) from a (id, band_idx, band_hash)
    * frame: buckets bounded to [2, maxBucket] (a bucket of m docs yields
    * m·(m−1)/2 pairs — a degenerate bucket must not explode the
    * self-join quadratically), then the banded self-join, distinct. The
    * bounded index is cached ([[Frames.deferred]]): it is the LSH index
    * proper, read by both sides of the self-join — without the cache
    * CollapseProject re-derives the MinHash per band and per side.
    * ~1 KB/row; at cluster scale this is the standard materialized
    * sketch table.
    */
  private[dedup] def pairsFromBands(buckets: DataFrame, idCol: String,
      maxBucket: Int): DataFrame = {
    val bounded = Frames.deferred(buckets.withColumn("__bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_hash")))
      .filter(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n"))
    val left = bounded.select(col("band_idx"), col("band_hash"),
      col(idCol).as("id_a"))
    val right = bounded.select(col("band_idx"), col("band_hash"),
      col(idCol).as("id_b"))
    left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity of the k-shingle SETS of each candidate
    * pair. Runs on pairs only: two hash joins back to the (id, shingles)
    * projection — never quadratic in the corpus. The result is lazy over
    * a deferred shingle-set cache: consume it, then
    * `graft.util.DeferredCleanup.drain()`.
    */
  def jaccardOnPairs(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleK: Int): DataFrame =
    jaccardOnPairsFromSets(pairs,
      // cached: joined once per pair side — without it the corpus is
      // re-shingled twice.
      Frames.deferred(shingleSets(df, idCol, textCol, shingleK)), idCol)

  /** Exact Jaccard over candidate pairs from a precomputed (id, __set)
    * frame. Both pair sides join it, so pass a materialized frame (one
    * the caller holds in [[Frames.cached]], a checkpoint or a table);
    * a lazy one is re-derived per side.
    */
  def jaccardOnPairsFromSets(pairs: DataFrame, sets0: DataFrame,
      idCol: String): DataFrame = {
    val sets = sets0.withColumnRenamed(idCol, "__id")
    pairs
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "__set_a"), "id_a")
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "__set_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__set_a"), col("__set_b")))
          .cast("double") /
          greatest(size(array_union(col("__set_a"), col("__set_b"))),
            lit(1))).as("jaccard"))
  }

  /** Full near-dup pipeline in the xxhash production family: banded
    * LSH candidates → exact Jaccard ≥ threshold. The result is lazy over
    * deferred caches (shingle sets, band index): consume it, then
    * `graft.util.DeferredCleanup.drain()`.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucket: Int = 64): DataFrame =
    nearDuplicatesWith(HashFamily.Xxhash, df, idCol, textCol, shingleK,
      numHashes, bands, threshold, maxBucket)

  /** [[nearDuplicates]] in the md5-derived oracle-replayable family
    * ([[HashFamily.Md5]]): the same pipeline, replayed end to end by the
    * `dedup_minhash_documents` oracle.
    */
  def nearDuplicatesOracled(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucket: Int = 64): DataFrame =
    nearDuplicatesWith(HashFamily.Md5, df, idCol, textCol, shingleK,
      numHashes, bands, threshold, maxBucket)

  /** The corpus is shingled ONCE: the cached (id, set) frame feeds
    * both the MinHash band index ([[minHashBands]], bounded by
    * [[pairsFromBands]]) and the exact verification joins. Empty
    * shingle sets yield empty base arrays and thus the all-P sentinel
    * signature.
    */
  private def nearDuplicatesWith(family: HashFamily, df: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      bands: Int, threshold: Double, maxBucket: Int): DataFrame = {
    val sets = Frames.deferred(shingleSets(df, idCol, textCol, shingleK))
    val pairs = pairsFromBands(
      minHashBands(family, sets, idCol, numHashes, bands), idCol, maxBucket)
    jaccardOnPairsFromSets(pairs, sets, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Pairwise DATASET-overlap matrix: for every pair of sources, the
    * exact Jaccard of their distinct document-fingerprint sets — the
    * corpus-curation report that decides which source pairs need
    * cross-dataset dedup before mixing (two crawls of the same sites
    * overlap heavily; a books corpus and a forum dump don't).
    *
    * Scale shape: ONE combinable distinct over (source, fingerprint)
    * reduces the corpus to its per-source fingerprint sets; the
    * intersection counts come from a self-join ON the fingerprint (a
    * hash join on the 32-hex key — never all-pairs across docs); set
    * sizes and the S²-bounded pair skeleton (sources are few by
    * construction) ride a broadcast cross join so ZERO-overlap pairs
    * still report. Jaccard = common / (n_a + n_b − common), one exact
    * integer division.
    */
  def sourceOverlap(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val fps = docs.select(col(srcCol).as("source"),
        graft.text.TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    val sizes = fps.groupBy("source").agg(count(lit(1)).as("n"))
    val common = fps.as("a")
      .join(fps.as("b"), col("a.__fp") === col("b.__fp") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("common"))
    val pairs = broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_a")))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), col("source_a") < col("source_b"))
    pairs.join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("common"), lit(0L)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
  }

  /** Connected components over near-dup pairs: (id, cluster) where
    * `cluster` is the minimum id reachable through the pair graph — the
    * step that turns pairwise matches into actionable dedup groups
    * (survivor = the member equal to its cluster label).
    *
    * Distributed min-label propagation: each iteration is one hash join +
    * one aggregation (labels pulled across undirected edges), run to
    * fixpoint. Iterations are bounded by the cluster graph's diameter —
    * near-dup graphs are clique-like, so convergence is fast; `maxIter`
    * guards adversarial chains (hitting it raises rather than returning a
    * half-propagated clustering). Each iteration's labels are cached
    * and the previous iteration's released — the standard iterative-
    * algorithm memory discipline (GraphX does the same internally). The
    * returned labels stay cached: the caller owns that cache.
    *
    * @param pairs (id_a, id_b) near-dup pairs, any orientation
    */
  def clusters(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    Frames.cached(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs.select(col("id_b").as("src"),
            col("id_a").as("dst")))) { edges =>
      var labels = edges.select(col("src").as("id"))
        .distinct()
        .withColumn("cluster", col("id"))
        .persist()
      // Labels only ever DECREASE (least of self and pulled minima), so
      // sum(cluster) is a monotone convergence metric: fixpoint ⇔ the sum
      // stops changing. One cheap aggregate per iteration instead of a
      // self-join diff. The sum accumulates in DECIMAL(38,0): a Long sum
      // can wrap on large/adversarial id values, and a wrapped-equal sum
      // would silently report convergence on a not-yet-converged labeling.
      // SUM over zero rows is NULL → 0 (empty pair set = already converged
      // on an empty clustering).
      def sumOf(df: DataFrame): BigDecimal =
        Option(df.agg(sum(col("cluster").cast("decimal(38,0)"))).head.get(0))
          .map(d => BigDecimal(d.asInstanceOf[java.math.BigDecimal]))
          .getOrElse(BigDecimal(0))
      var prevSum = sumOf(labels)
      // sum != 0 proves non-empty without a second job; the isEmpty probe
      // only runs in the (sum == 0) corner: empty input, or ids that
      // legitimately sum to zero
      var converged = prevSum == 0 && labels.isEmpty
      var i = 0
      while (!converged && i < maxIter) {
        val pulled = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min("cluster").as("__pulled"))
        val next = labels.join(pulled, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("__pulled"), col("cluster")))
              .as("cluster"))
          .persist()
        val nextSum = sumOf(next)
        converged = nextSum == prevSum
        prevSum = nextSum
        labels.unpersist()
        labels = next
        i += 1
      }
      if (!converged) {
        labels.unpersist()
        throw new IllegalStateException(
          s"label propagation did not converge in $maxIter iterations — " +
            "pathological chain structure; raise maxIter")
      }
      // the returned frame STAYS cached — it is the computed result;
      // releasing it here would force a full re-propagation on first use
      labels
    }

  /** One row per cluster member with its survivor: (cluster, id,
    * is_survivor). Survivor = minimum id in the cluster, the conventional
    * deterministic keep rule. Derives from [[clusters]] lazily — the
    * caller owns the persisted label frame's lifecycle (see
    * [[survivorsLocal]] for the self-releasing variant).
    */
  def survivors(pairs: DataFrame): DataFrame =
    survivorsOf(clusters(pairs))

  private def survivorsOf(labels: DataFrame): DataFrame =
    labels.select(col("cluster"), col("id"),
      (col("id") === col("cluster")).as("is_survivor"))

  /** Edge-count bound for the driver union-find fast path of
    * [[survivorsLocal]]: a near-dup pair graph under ~1M edges is a few
    * MB — union-find with path compression resolves it in milliseconds,
    * where the distributed propagation pays several scheduled jobs per
    * iteration. Same bounded-driver pattern as IVF quantizer training.
    */
  val LocalClusterEdges: Int = 1 << 20

  /** [[survivors]] materialized eagerly with nothing persisted outliving
    * the call. Pair graphs within [[LocalClusterEdges]] resolve by
    * driver-side union-find (identical min-label semantics — it is the
    * spec's ground-truth algorithm) and return as a local frame; larger
    * graphs fall back to the distributed propagation and return a
    * DISTRIBUTED frame (an eager localCheckpoint: materialized so the
    * propagation cache can release, but its rows never funnel through
    * the driver — a graph past the edge bound has cluster memberships
    * past any sane driver heap too). Callers that KNOW their survivor
    * set is small may collect the result themselves. Ids are widened to
    * long.
    *
    * Checkpoint lifecycle: the fallback's executor-held blocks release
    * when the returned frame becomes unreachable (ContextCleaner; NOT
    * `spark.catalog.clearCache()`, which only drops the SQL cache). A
    * long-lived service holding many big survivor frames should drop its
    * references promptly — or use [[clusters]] + [[survivors]] and own
    * the persisted frame's lifecycle explicitly.
    */
  def survivorsLocal(pairs: DataFrame): DataFrame =
    survivorsLocal(pairs, LocalClusterEdges)

  /** Bound-parameterized body; the small bound is a test seam (the
    * big-graph path must be provably collect-free without materializing
    * 2²⁰ real edges in a spec).
    */
  private[dedup] def survivorsLocal(pairs: DataFrame,
      maxLocalEdges: Int): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit(maxLocalEdges + 1)
      .collect()
    if (edges.length <= maxLocalEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find (walk to root, then compress): a recursive find
      // would recurse once per chain link and a ~1M-edge chain overflows
      // the driver stack long before the edge bound does
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      edges.foreach { e =>
        val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.sorted.map { id =>
        val c = find(id)
        org.apache.spark.sql.Row(c, id, id == c)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("is_survivor",
          org.apache.spark.sql.types.BooleanType, nullable = false)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } else {
      // graph exceeds the driver bound: distributed propagation (the
      // probe rows above are discarded; the pair pipeline re-evaluates).
      // Materialize WITHOUT localizing — an eager checkpoint pins the
      // result on the executors so the propagation cache releases, and
      // no row of a driver-overflowing membership set ever collects.
      val labels = clusters(
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long")))
      try survivorsOf(labels).localCheckpoint(true)
      finally { labels.unpersist(blocking = false); () }
    }
  }
}

/** A near-dup hash family — the one choice that separates the production
  * MinHash/SimHash pipelines from their DuckDB-replayable twins. Every
  * such pipeline in [[graft.dedup]] takes the family as a value and
  * shares every stage after the base hash.
  *
  * @param bases       per-element 64-bit base hash of a shingle array
  * @param bandKey     bucket key of a MinHash band's "v1-v2-…" string
  * @param simhashBits SimHash width: the low bits of each base that vote
  */
private[graft] sealed abstract class HashFamily(
    val bases: Column => Column, val bandKey: Column => Column,
    val simhashBits: Int)

private[graft] object HashFamily {
  /** Production: seed-42 xxhash64 bases and band keys, 64-bit SimHash. */
  case object Xxhash extends HashFamily(
    Dedup.baseHashes(_, md5 = false), xxhash64(_), 64)

  /** Oracle-replayable: md5-derived 60-bit bases ([[Dedup.md5Base]]),
    * md5 band keys, 60-bit SimHash — every step restates in DuckDB.
    */
  case object Md5 extends HashFamily(
    Dedup.baseHashes(_, md5 = true), s => md5(s.cast("binary")), 60)
}
