package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Frames

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three paths, per the training-data-pipeline mandate:
  *   - [[bruteForceTopK]]: exact cosine top-k of a query set against the
  *     corpus. The query side is broadcast — the "join" is a broadcast
  *     nested loop scan of the corpus, linear in corpus size, never
  *     corpus×corpus shuffle. Optimal for FEW queries: per corpus row it
  *     costs |queries| fused codegen'd cosines and zero index passes.
  *   - [[lshTopK]]: random-hyperplane (sign) LSH with query-side
  *     MULTI-PROBING — L tables of b bits; the query probes every bucket
  *     within Hamming radius r of its own, so recall comes from
  *     L·(1 + b + b(b−1)/2) probes instead of unbounded bucket width.
  *     `b` scales with corpus size ([[scaledBits]]) so buckets stay
  *     O(targetBucket) and the candidate set stays O(n) as n grows.
  *   - [[lshKnnGraph]]: self top-k (k-NN graph) over the whole corpus —
  *     the batch shape where LSH beats brute force: brute is Θ(n²)
  *     cosines + an n²-row shuffle, the probed index is O(n·probes)
  *     with candidates ≲ c·n. This is the SemDeDup/embedding-curation
  *     building block.
  *
  * Honest operating envelope (pinned by SimilaritySpec): sign-LSH
  * separates pairs by P(bit agrees) = 1 − θ/π. The test corpus is
  * near-isotropic (top-10 neighbours sit at cosine ≈ 0.35–0.5, θ ≈ 60–70°,
  * p ≈ 0.6 vs 0.5 for random) so high recall needs the probe fan-out
  * above — measured recall@10 ≈ 0.7–0.8 with ~0.2–0.5·n candidates per
  * query. On real embedding corpora near-duplicates sit at θ ≤ 30°
  * (p ≥ 0.83) where the same parameterization recalls ≥ 0.95 with a
  * fraction of the probes. There is no parameterization of ANY LSH family
  * that gets recall 0.9 at θ ≈ 72° with o(n²) candidates — the
  * p₁/p₂ = 0.6/0.5 gap bounds candidate work at n^(1+ρ), ρ = ln p₁/ln p₂
  * ≈ 0.74 (Indyk–Motwani) — so the spec pins the achievable curve, not a
  * wish.
  *
  * All math is native codegen'd column expressions
  * ([[graft.functions.VectorExpressions]]), no UDFs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision, sequential array order (native codegen
    * expression — see [[graft.functions.VectorExpressions]]).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. Single-loop
    * native expression — three accumulators, one array traversal.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Hash width scaled to corpus size: ~n/targetBucket buckets per table,
    * so expected bucket size stays `targetBucket` as the corpus grows —
    * the fix for the round-3 degeneracy where a FIXED 4-bit width made
    * 16 buckets hold any corpus (candidates ≈ 64% of all pairs, an
    * all-pairs join in disguise). Floor 8 bits (≥256 buckets), cap 30.
    */
  def scaledBits(n: Long, targetBucket: Int = 32): Int = {
    val need = math.ceil(math.log(math.max(n, 1).toDouble
      / math.max(targetBucket, 1)) / math.log(2)).toInt
    math.min(30, math.max(8, need))
  }

  /** Exact top-k: every query row against every corpus row, ranked by
    * cosine desc with id tie-break. `queries` must be small enough to
    * broadcast (it is crossed with the corpus).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKOf(scored, k)
  }

  /** HARD-NEGATIVE MINING for contrastive/retrieval training: for each
    * query, the top-k most-similar corpus items with a DIFFERENT label
    * — maximally confusable non-matches, the negatives that actually
    * teach a bi-encoder (random negatives are trivially separable).
    * Exact form: the brute scored cross product with the label-
    * mismatch predicate pushed BELOW the ranking window, so the k
    * survivors are all genuine negatives (filtering after a plain
    * top-k would under-fill). Scale path: the predicate composes
    * identically onto any ANN candidate generator — LSH/IVF candidates
    * ∖ same-label, then the exact re-rank — because label mismatch is
    * a per-pair filter, not a scoring change; this exact form is the
    * oracle-able twin (the bruteForceTopK contract: queries small by
    * construction, corpus streamed once).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), asDouble(col(vecCol)).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("__nl") =!= col("__ql"))
      .select(col("query_id"), col("__ql").as("query_label"),
        col("neighbor_id"), col("__nl").as("neighbor_label"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKOf(scored, k)
  }

  /** kNN CLASSIFICATION / auto-labeling: predict each query's label by
    * majority vote over its k nearest corpus neighbors — the label-
    * propagation step that extends a small labeled seed set across an
    * unlabeled corpus (weak supervision), and the standard embedding-
    * quality probe (kNN accuracy). Votes are exact integer counts over
    * the top-k frame; the winner is deterministic under
    * (votes DESC, label ASC), so the whole operator — neighbors, votes,
    * pick — replays in SQL. Exact form composes on [[bruteForceTopK]]'s
    * contract (bounded query set broadcast, corpus streamed once); at
    * scale substitute any ANN candidate generator for the neighbor
    * stage — the vote is a per-query aggregation either way.
    */
  /** Retrieval-quality evaluation — per-query recall@k and reciprocal
    * rank (the BEIR-style eval an embedding/ANN pipeline runs before
    * trusting an index): retrieve each query's top-k corpus neighbors
    * by exact cosine, mark same-label neighbors relevant, and emit
    * `(query_id, true_label, n_relevant, hits, recall_at_k,
    * first_rank, rr)`. All counting is exact-integer;
    * `recall_at_k = hits / min(k, n_relevant)` and `rr = 1/first_rank`
    * are single IEEE divisions of exact operands (NULL recall when the
    * query's label has no other corpus member; rr = 0 when no relevant
    * neighbor ranks in the top k). The per-query relevant total comes
    * from an unordered window over the SAME partition the ranking
    * window shuffles on — one exchange serves both. Composes on
    * [[bruteForceTopK]]'s contract (bounded query set broadcast,
    * corpus streamed once); at scale substitute any ANN candidate
    * generator for the ranking stage and the metrics become that
    * index's MEASURED quality against the exact relevant counts.
    */
  def retrievalMetrics(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("true_label"), asDouble(col(vecCol)).as("__qv"))
    val wOrd = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    val wAll = Window.partitionBy("query_id")
    val ranked = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("true_label"), col("neighbor_id"),
        (col("__nl") === col("true_label")).cast("long").as("__rel"),
        cosine(col("__qv"), col("__cv")).as("__cos"))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__nrel", sum(col("__rel")).over(wAll))
      .filter(col("__rn") <= k)
    ranked.groupBy(col("query_id"), col("true_label"))
      .agg(max(col("__nrel")).as("n_relevant"),
        sum(col("__rel")).as("hits"),
        min(when(col("__rel") === 1L, col("__rn"))).as("__fr"))
      .select(col("query_id"), col("true_label"), col("n_relevant"),
        col("hits"),
        when(least(lit(k.toLong), col("n_relevant")) > 0,
          col("hits").cast("double") /
            least(lit(k.toLong), col("n_relevant"))).as("recall_at_k"),
        col("__fr").cast("long").as("first_rank"),
        when(col("__fr").isNotNull, lit(1.0) / col("__fr"))
          .otherwise(lit(0.0)).as("rr"))
  }

  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("true_label"), asDouble(col(vecCol)).as("__qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    // neighbor_id stays in the frame for the deterministic rank order
    // even though the vote only reads the label
    val top = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("true_label"), col("neighbor_id"),
        col("__nl"), cosine(col("__qv"), col("__cv")).as("__cos"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    val votes = top.groupBy(col("query_id"), col("true_label"),
        col("__nl").as("predicted_label"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("predicted_label").asc)
    votes.withColumn("__pr", row_number().over(pick))
      .filter(col("__pr") === 1)
      .select(col("query_id"), col("true_label"),
        col("predicted_label"), col("votes"),
        (col("true_label") === col("predicted_label")).as("correct"))
  }

  /** Deterministic random hyperplane as a LITERAL array column: generated
    * driver-side from a fixed seed, so the expression tree carries plain
    * constants — per-row hyperplane hashing bloated task binaries to
    * ~17 MB and is gone.
    */
  /** The hyperplane VALUES — single source for the literal expression
    * AND the DuckDB oracle (DedupQueries embeds the same doubles as SQL
    * literals, so sign agreement is bit-exact across engines). Seeded
    * per (table, bit) only — independent of the hash width, so a bucket
    * at width b is always the prefix of the width-b′>b bucket.
    */
  private[graft] def planeValues(table: Int, bit: Int,
      dims: Int): Seq[Double] = {
    val rng = new scala.util.Random(table.toLong * 1000003L + bit * 7919L)
    Seq.fill(dims)(rng.nextDouble() * 2 - 1)
  }

  private def planeLit(table: Int, bit: Int, dims: Int): Column =
    array(planeValues(table, bit, dims).map(lit): _*)

  /** Sign-LSH bucket id for one table: b bits, bit j = sign(v · plane_j).
    * `vec` should already be `array<double>` (the codegen'd [[dot]] makes
    * the per-plane loops cheap; the cast must not be re-derived per plane,
    * which [[lshIndex]] guarantees with a projection boundary).
    */
  def signBucket(vec: Column, table: Int, bits: Int, dims: Int): Column =
    (0 until bits).map { j =>
      when(dot(vec, planeLit(table, j, dims)) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** (id, table_idx, bucket) — L·|df| rows, the ANN index. The vector is
    * cast to `array<double>` once behind a projection boundary; each of
    * the tables·bits plane dots is then a native codegen'd loop.
    */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String, tables: Int,
      bits: Int, dims: Int): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .select(col(idCol),
        posexplode(array((0 until tables).map(t =>
          signBucket(col("__v"), t, bits, dims)): _*))
          .as(Seq("table_idx", "bucket")))

  /** XOR masks for multi-probing: every bit pattern within Hamming
    * distance `radius` of 0 (radius ≤ 2 ⇒ 1 + b + b(b−1)/2 masks).
    * Probing neighbouring buckets buys recall at a FIXED per-query cost —
    * the scale-safe alternative to widening buckets (which grows per-
    * bucket pair fan-out quadratically).
    */
  private[sim] def probeMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probe radius 0-2, got $radius")
    val r1 = if (radius >= 1) (0 until bits).map(1L << _) else Seq.empty
    val r2 =
      if (radius >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)
      else Seq.empty
    0L +: (r1 ++ r2)
  }

  /** Explode an LSH index frame to its probe rows: one row per (id,
    * table, bucket-within-radius). Join this against an UNPROBED index on
    * (table_idx, bucket) to get candidates.
    */
  private def probed(idx: DataFrame, bits: Int, radius: Int): DataFrame = {
    val masks = probeMasks(bits, radius)
    idx.withColumn("bucket",
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
  }

  /** Approximate top-k: candidates = corpus rows whose bucket is within
    * `probeRadius` of the query's bucket in any table, then exact cosine
    * on candidates only. The probed QUERY index is broadcast (queries are
    * few); the corpus is scanned once to index and once to score.
    *
    * @param bits        hash width; 0 (default) = [[scaledBits]] of the
    *                    corpus size with a small target bucket
    * @param corpusSize  pass when known (catalog/scan statistics) to skip
    *                    the sizing count
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, tables: Int = 6, bits: Int = 0,
      dims: Int = 64, probeRadius: Int = 2,
      corpusSize: Option[Long] = None): DataFrame = {
    val cands = lshCandidates(corpus, queries, idCol, vecCol, tables, bits,
      dims, probeRadius, corpusSize)
    scoreTopK(cands, corpus, queries, idCol, vecCol, k)
  }

  /** Distinct (query_id, neighbor_id) candidates from the probed index —
    * public so the candidate-volume bound (the property that died in
    * round 3) is directly testable. Expected size per query ≈
    * tables·probes·n/2^bits, which [[scaledBits]] keeps a shrinking
    * FRACTION of n as n grows (measured 0.6·n at n=500 → 0.32·n at
    * n=2000 for the default radius-2 probing).
    */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, tables: Int = 6, bits: Int = 0, dims: Int = 64,
      probeRadius: Int = 2, corpusSize: Option[Long] = None): DataFrame = {
    val b =
      if (bits > 0) bits
      else scaledBits(corpusSize.getOrElse(corpus.count()), 2)
    val cIdx = lshIndex(corpus, idCol, vecCol, tables, b, dims)
      .withColumnRenamed(idCol, "neighbor_id")
    val qIdx = probed(lshIndex(queries, idCol, vecCol, tables, b, dims),
      b, probeRadius).withColumnRenamed(idCol, "query_id")
    cIdx.join(broadcast(qIdx), Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** k-NN graph: approximate top-k neighbours for EVERY corpus row. The
    * index is computed once and persisted; its probe explosion joins back
    * against it. Candidates ≈ probes·bucketSize per row — O(n) total with
    * [[scaledBits]] — versus Θ(n²) cosines + an n²-row ranking shuffle
    * for the brute-force equivalent. This is the batch ANN shape where
    * the index pays for itself (a 10-query lookup never amortizes it —
    * see the class doc).
    *
    * CANDIDATE BUDGET (`maxCandidatesPerQuery`, default auto = 64·k):
    * the r9 x30 probe caught the unbudgeted form's wall-time going
    * superlinear (x10→x30 exponent ≈ 2.5 vs ≈ 1.1 below x10) — NOT
    * from candidate generation (per-query candidates grew only ×1.7
    * for ×3 data, as the occupancy×probes model predicts) but from the
    * SCORING stage, which joined the full 64-double vectors onto every
    * candidate pair and pushed the shuffle into the spill regime. The
    * fix is the standard multi-probe LSH count filter: aggregate the
    * collision stream to (query, neighbor, hits) — map-side
    * combinable, hits ∈ [1, tables] since a neighbour occupies one
    * bucket per table — rank per query by (hits desc, id) and
    * exact-cosine only the top C. The expensive vector join is then
    * bounded at n·C rows FOREVER (per-query work stops growing with
    * corpus-wide cluster density), while high-collision candidates —
    * the genuinely near ones — always survive the cut. Deterministic
    * (ties break on id) and ORACLE-REPLAYABLE: the registered gate lane
    * replays hits→cut→cosine→rank in DuckDB. Pass a larger budget (or
    * `-1` to disable) for recall-critical near-isotropic corpora where
    * collision counts separate weakly — the planted-cluster design
    * regime keeps recall ≥ 0.9 at the default.
    */
  def lshKnnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      tables: Int = 6, bits: Int = 0, dims: Int = 64, probeRadius: Int = 2,
      corpusSize: Option[Long] = None,
      maxCandidatesPerQuery: Int = 0): DataFrame = {
    val b =
      if (bits > 0) bits
      else scaledBits(corpusSize.getOrElse(corpus.count()), 2)
    val cap =
      if (maxCandidatesPerQuery > 0) maxCandidatesPerQuery
      else if (maxCandidatesPerQuery == 0) 64 * k
      else Int.MaxValue
    Frames.cached(lshIndex(corpus, idCol, vecCol, tables, b, dims)) { idx =>
      val hits = probed(idx, b, probeRadius)
        .withColumnRenamed(idCol, "query_id")
        .join(idx.withColumnRenamed(idCol, "neighbor_id"),
          Seq("table_idx", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      val wc = Window.partitionBy("query_id")
        .orderBy(col("__hits").desc, col("neighbor_id"))
      val cands = hits
        .withColumn("__cr", row_number().over(wc))
        .filter(col("__cr") <= cap)
        .select("query_id", "neighbor_id")
      scoreTopK(cands, corpus, corpus, idCol, vecCol, k)
        // materialize while the index is cached; the graph is k·n rows
        .localCheckpoint(true)
    }
  }

  /** Exact cosine + per-query ranking over a candidate pair frame. */
  private def scoreTopK(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    val qVec = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val scored = cands.join(cVec, "neighbor_id").join(qVec, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKOf(scored, k)
  }

  /** Each query's `k` best `scored` rows by cosine desc with neighbor-id
    * tie-break, ranked 1..k in `rank`.
    */
  private def topKOf(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
