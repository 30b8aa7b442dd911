package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** First-class k-means clustering over an embedding column — the lane
  * that completes the curation loop around [[EmbeddingAgg]] /
  * [[Outliers]]: cluster the corpus, prune the redundant core per
  * cluster (SemDeDup), rank the straggler tail ([[Outliers]]). The
  * coarse-quantizer Lloyd's that already powers IVF training
  * ([[IvfSimilarity.localKMeans]]) is promoted here to a clustering
  * operator with labels, distances and per-cluster inertia.
  *
  * Scale shape: TRAINING reads a bounded deterministic sample (a few
  * hundred vectors per cluster — centroid quality needs samples, not
  * the corpus; the [[IvfSimilarity.build]] contract), while ASSIGNMENT
  * scans everything exactly once, map-side: the k centroids embed as
  * literal arrays in one codegen'd expression (argmin over an
  * array_sort of (d², label) structs — no join, no shuffle, no window).
  * Per-cluster stats aggregate the assigned frame once with exact
  * DECIMAL(38,12) sums, so inertia is partition-order-independent.
  *
  * Geometry: vectors are L2-NORMALIZED first (cosine geometry — the
  * corpus convention shared with every similarity lane); distances are
  * euclidean on the unit sphere, `d² = v·v − 2·(v·c) + c·c` with the
  * centroid self-dot folded in Scala and embedded as one literal, so
  * the whole per-row tree is deterministic IEEE arithmetic a SQL
  * engine replays bit-for-bit (the [[IvfGatePinned]] idiom).
  */
object Kmeans {

  /** Ceiling for the PARALLEL driver trainer [[fitAuto]] uses between
    * [[IvfSimilarity.DriverTrainThreshold]] and here: the bounded
    * 256·k sample still collects comfortably (k = 512, dim 64 ≈
    * 67 MB) and the assignment step parallelizes across driver cores,
    * so the whole fit is ~1-2s where a distributed KMeans pays ~20s of
    * scheduled-job overhead for identical centroids (measured r12 on
    * the x10 probe, k = 200). Above it the Spark ML path takes over —
    * there the data size finally amortizes the framework cost.
    */
  val DriverFitMaxK = 512

  /** Train `k` centroids at ANY `k`: the seed-deterministic driver
    * Lloyd's under [[IvfSimilarity.DriverTrainThreshold]] (identical
    * to [[fit]] — the pinned-literal gate contract), the PARALLEL
    * driver Lloyd's up to [[DriverFitMaxK]] (same bounded sample, same
    * bit-deterministic results — assignment parallelizes, sums stay
    * sequential in point order), and Spark ML KMeans beyond (bounded
    * 512·k sample, random init, iterations capped at 5 — each
    * distributed Lloyd's iteration is a whole scheduled job, and a
    * coarse occupancy clustering gains nothing from convergence
    * precision; occupancy on the x10 probe measured BETTER under
    * random init than k-means||, max 162 vs 217 of a 100-target). The
    * composed path the SemDeDup occupancy rule (k = n/100) needs past
    * ~6,400 rows, where [[fit]]'s driver bound would throw.
    */
  def fitAuto(df: DataFrame, vecCol: String, k: Int, iters: Int = 10,
      seed: Long = 42L,
      totalRows: Option[Long] = None): Array[Array[Double]] =
    if (k <= DriverFitMaxK) driverFit(df, vecCol, k, iters, seed,
      totalRows)
    else {
      val sampled = normedSample(df, vecCol, 512L * k, seed, totalRows)
      val withVec = sampled.withColumn("__mlv",
        org.apache.spark.ml.functions.array_to_vector(col("__nv")))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(seed).setMaxIter(math.min(iters, 5))
        .setInitMode("random")
        .setFeaturesCol("__mlv").setPredictionCol("__lbl")
        .fit(withVec).clusterCenters.map(_.toArray)
    }

  /** The shared bounded-sample driver trainer: 256 vectors per
    * cluster, deterministic seed, [[IvfSimilarity.localKMeans]]
    * Lloyd's (whose assignment step parallelizes across driver cores
    * while sums accumulate sequentially in point order — results are
    * bit-identical at any parallelism).
    */
  private def driverFit(df: DataFrame, vecCol: String, k: Int,
      iters: Int, seed: Long,
      totalRows: Option[Long]): Array[Array[Double]] = {
    val target = 256L * k
    val pts = normedSample(df, vecCol, target, seed, totalRows)
      .limit(target.toInt).collect()
      .map(_.getSeq[Double](0).toArray)
    IvfSimilarity.localKMeans(pts, k, iters, seed)
  }

  /** `(__nv)`: the normalized vectors of `df`, Bernoulli-sampled down
    * to about `target` rows (all of them when `df` holds no more).
    */
  private def normedSample(df: DataFrame, vecCol: String, target: Long,
      seed: Long, totalRows: Option[Long]): DataFrame = {
    val normed = df.select(
      IvfSimilarity.normalize(IvfSimilarity.asDouble(col(vecCol)))
        .as("__nv"))
    val total = totalRows.getOrElse(df.count())
    if (total > target)
      normed.sample(withReplacement = false, target.toDouble / total, seed)
    else normed
  }

  /** Train `k` centroids with the seed-deterministic driver Lloyd's
    * over a bounded sample (256 vectors per cluster) of the normalized
    * corpus. `k` is capped at [[IvfSimilarity.DriverTrainThreshold]] —
    * above it, [[fitAuto]] routes to the Spark ML path
    * [[IvfSimilarity.build]] uses.
    *
    * @param totalRows corpus size when known (footer statistics keep
    *                  sizing jobless); a count() runs as the fallback.
    */
  def fit(df: DataFrame, vecCol: String, k: Int, iters: Int = 10,
      seed: Long = 42L,
      totalRows: Option[Long] = None): Array[Array[Double]] = {
    require(k >= 1 && k <= IvfSimilarity.DriverTrainThreshold,
      s"k must be in [1, ${IvfSimilarity.DriverTrainThreshold}] for " +
        "the driver-local trainer")
    driverFit(df, vecCol, k, iters, seed, totalRows)
  }

  /** `(idCol, label, d2, distance)` — every vector's nearest centroid
    * by squared euclidean distance on the normalized sphere, ties
    * broken by label. One map-side codegen'd expression per row; `d2`
    * is clamped at 0 before the sqrt (the self-centroid case can land
    * a few ulps negative).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    assignWithVec(df, idCol, vecCol, centroids).drop("__nv")

  /** [[assign]] plus the normalized vector (`__nv`) — for consumers
    * that score members against each other after assignment
    * ([[SemDedup]]'s within-cluster pairwise cosines). Dispatches on k:
    * literal-argmin up to [[IvfSimilarity.JoinProbeThreshold]]
    * centroids (one map-side codegen'd expression, no shuffle), the
    * broadcast centroid-frame join above it — k literal arrays past
    * that bound would blow codegen method limits (an O(k·dim) PLAN),
    * while the join path keeps the plan constant-size and the per-row
    * work identical. Both paths take the same (d², label) minimum over
    * the same IEEE arithmetic, so the switch is invisible to results
    * (KmeansAssignJoinSpec pins frame equality across it).
    */
  def assignWithVec(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    if (centroids.length <= IvfSimilarity.JoinProbeThreshold)
      assignLiteral(df, idCol, vecCol, centroids)
    else assignJoin(df, idCol, vecCol, centroids)
  }

  /** The literal-argmin form: a least() FOLD over (d², label) structs,
    * not an array_sort — k struct comparisons per row instead of
    * building and sorting a k-array (measured ~10% off the gate lane
    * at k = 8); the self-dot is hoisted to one column instead of one
    * fold per arm.
    */
  private[sim] def assignLiteral(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit(_)).toIndexedSeq: _*)
      val c2 = c.map(x => x * x).sum
      struct(
        (col("__n2")
          - lit(2.0) * Similarity.dot(col("__nv"), cLit)
          + lit(c2)).as("d2"),
        lit(i).as("lbl"))
    }
    val best =
      if (scored.length == 1) scored.head
      else least(scored.toIndexedSeq: _*)
    df.select(col(idCol),
        IvfSimilarity.normalize(IvfSimilarity.asDouble(col(vecCol)))
          .as("__nv"))
      .select(col(idCol), col("__nv"),
        Similarity.dot(col("__nv"), col("__nv")).as("__n2"))
      .select(col(idCol), col("__nv"), best.as("__best"))
      .select(col(idCol), col("__best.lbl").as("label"),
        col("__best.d2").as("d2"),
        sqrt(greatest(col("__best.d2"), lit(0.0))).as("distance"),
        col("__nv"))
  }

  /** The broadcast-join form: the centroid frame (k rows, broadcast)
    * cross-joins the normalized corpus, each row scores its k
    * candidates with the same hoisted-self-dot d² arithmetic, and a
    * groupBy-argmin keeps the (d², label) minimum. The aggregation is
    * map-side combinable — each scan partition reduces its own n·k
    * scored rows to n before any exchange, so the shuffle carries the
    * corpus once, not k times. Scored rows are THIN — the group key
    * is the id alone and the min struct carries only (d², lbl):
    * `__nv` (needed downstream by SemDeDup's pairwise step) re-attaches
    * via a node-sized id join afterwards, paying one re-normalize scan
    * + one id exchange instead of materializing the vector array onto
    * every one of the n·k scored rows. Both rejected r12 shapes are
    * measured: keying on (id, __nv) cost 48s on the x10 probe (an
    * array grouping key forces the aggregate out of hash mode into
    * interpreted array-comparison sorting), and carrying the array
    * inside the min struct still cost 2× by allocating it per scored
    * row. Per-row arithmetic is the EXACT expression tree of
    * [[assignLiteral]] — same op order, same IEEE results — with
    * centroids read from the broadcast row instead of plan literals.
    */
  private[sim] def assignJoin(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = spark.createDataset(
        centroids.zipWithIndex.map { case (c, i) =>
          (i, c.toSeq, c.map(x => x * x).sum) }.toSeq)
      .toDF("__lbl", "__cv", "__c2")
    val normed = df.select(col(idCol),
      IvfSimilarity.normalize(IvfSimilarity.asDouble(col(vecCol)))
        .as("__nv"))
    val best = normed
      .select(col(idCol), col("__nv"),
        Similarity.dot(col("__nv"), col("__nv")).as("__n2"))
      .crossJoin(broadcast(cents))
      .select(col(idCol),
        struct(
          (col("__n2")
            - lit(2.0) * Similarity.dot(col("__nv"), col("__cv"))
            + col("__c2")).as("d2"),
          col("__lbl").as("lbl")).as("__scored"))
      .groupBy(col(idCol))
      .agg(min(col("__scored")).as("__best"))
      .select(col(idCol), col("__best.lbl").as("label"),
        col("__best.d2").as("d2"),
        sqrt(greatest(col("__best.d2"), lit(0.0))).as("distance"))
    best.join(normed, Seq(idCol))
      .select(col(idCol), col("label"), col("d2"), col("distance"),
        col("__nv"))
  }

  /** The full clustering report: `(idCol, label, distance, cluster_n,
    * cluster_inertia)` — member assignments joined (broadcast, k rows)
    * with per-cluster size and inertia (exact DECIMAL sums of the IEEE
    * d² terms, then one cast). Train + assign + aggregate; the
    * assigned frame is checkpointed once (it feeds both the stats and
    * the output).
    */
  def cluster(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val assigned = assign(df, idCol, vecCol, centroids)
      .localCheckpoint(true)
    val stats = assigned.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_n"),
        sum(col("d2").cast("decimal(38,12)")).cast("double")
          .as("cluster_inertia"))
    assigned.join(broadcast(stats), Seq("label"))
      .select(col(idCol), col("label"), col("distance"),
        col("cluster_n"), col("cluster_inertia"))
  }
}
