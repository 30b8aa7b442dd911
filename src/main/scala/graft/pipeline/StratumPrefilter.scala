package graft.pipeline

import java.math.BigInteger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hash-threshold prefilter for per-stratum head selections
  * ([[Sampling.stratifiedHead]], [[Mixing.byTokenBudget]]).
  *
  * Both operators select a PREFIX of each stratum under the deterministic
  * `(md5(id), id)` order. The naive plan sorts every stratum's full row
  * set inside one window task — at 100 TB a training mix has a handful of
  * mega-sources (CommonCrawl ≫ budget), so parallelism collapses to the
  * stratum count and the biggest stratum is a straggler by construction.
  *
  * The fix exploits the hash order itself: md5 is uniform, so the rows
  * with `md5_prefix64 < t` are (a) an exact ORDER PREFIX of the stratum —
  * every row sorting before a survivor is itself a survivor — and (b) a
  * `t / 2⁶⁴` fraction of the stratum in expectation. Keeping a safety
  * factor ([[Margin]]) times the needed fraction bounds the window's
  * input to ≈ Margin × selection size per stratum, independent of stratum
  * row count, while one map-side-combined counting pass supplies the
  * per-stratum thresholds.
  *
  * Exactness is not probabilistic: a stratum is USED from the filtered
  * selection only when the survivor slice provably contains the selection
  * cut (its surviving weight reaches the stratum's need, checked per
  * stratum); any shortfall stratum — possible only via extreme hash
  * skew — is re-run unfiltered and unioned back, all in the same lazy
  * plan. Selection-equivalence is pinned in `SamplingSpec`/`MixingSpec`
  * on skewed fixtures, including the rescue path via a margin seam.
  *
  * Driver memory is bounded by design: only the [[MaxThresholdStrata]]
  * HEAVIEST strata receive thresholds (a distributed top-K, collected),
  * because mega-strata are by definition few — a 10M-distinct-strata
  * corpus keeps every small stratum on the exact path at zero driver
  * cost, which is also where the prefilter had nothing to win.
  */
private[pipeline] object StratumPrefilter {

  /** Safety factor on the expected selection fraction. Rescue keeps
    * correctness regardless; the margin only makes rescue improbable
    * (P[survivors < need] is a Chernoff tail at mean Margin × need).
    */
  val Margin = 4.0

  /** Cap on thresholded strata (and so on the driver-side map and the
    * literal in the plan): the top-K by weight. Everything smaller
    * keeps every row — exact, and small enough to sort cheaply.
    */
  val MaxThresholdStrata = 1024

  /** The 64-bit hash image the threshold compares against: the first 16
    * hex chars of md5(id) — the same leading bytes the selection order
    * sorts on, so `prefix < t` carves an order-prefix per stratum.
    */
  def hashPrefix(idCol: Column): Column =
    substring(md5(idCol.cast("string").cast("binary")), 1, 16)

  /** `fraction` of the 64-bit hash space as a zero-padded 16-hex bound;
    * "g" (lexicographically above every hex string) means keep-all.
    */
  def hexThreshold(fraction: Double): String =
    if (!(fraction < 1.0)) "g"
    else if (fraction <= 0.0) "0000000000000000"
    else {
      val t = (BigDecimal(fraction) *
        BigDecimal(new BigInteger("1").shiftLeft(64))).toBigInt
      f"${t.longValue}%016x"
    }

  /** Column of per-stratum hex thresholds from a driver-side map keyed by
    * the stratum's string form; strata missing from the map (incl. null)
    * keep every row.
    */
  def thresholdCol(stratum: Column, byStratum: Map[String, String]): Column =
    if (byStratum.isEmpty) lit("g")
    else coalesce(
      element_at(typedLit(byStratum), stratum.cast("string")), lit("g"))

  /** The shared prefiltered-selection scaffold (one implementation for
    * sampling AND mixing — the two differ only in WEIGHT and NEED).
    *
    * @param skey        string stratum key (null ⇒ never thresholded)
    * @param weightAgg   per-stratum weight aggregate over input rows
    *                    (row count for quota sampling, token sum for
    *                    budget mixing) — reused for the survivor safety
    *                    pass
    * @param needOf      a stratum's needed weight (quota / token budget)
    * @param exactSelect the exact windowed selection, applied to the
    *                    survivor slice (safe strata) and to the rescued
    *                    strata's full rows
    */
  def select(df: DataFrame, skey: Column, weightAgg: Column,
      needOf: String => Long, idCol: String, margin: Double,
      exactSelect: DataFrame => DataFrame): DataFrame = {
    // counting pass, bounded: thresholds only for the heaviest strata
    val weighted = df.groupBy(skey.as("__graft_sp_sk"))
      .agg(weightAgg.as("__graft_sp_w"))
      .orderBy(col("__graft_sp_w").desc)
      .limit(MaxThresholdStrata)
      .collect()
    val thr = weighted.iterator.flatMap { r =>
      Option(r.getAs[String]("__graft_sp_sk")).flatMap { sk =>
        if (r.isNullAt(r.fieldIndex("__graft_sp_w"))) None
        else {
          val w = r.getAs[Long]("__graft_sp_w")
          val f = margin * needOf(sk) / w.toDouble
          if (w > 0 && f < 1.0) Some(sk -> hexThreshold(f)) else None
        }
      }
    }.toMap
    if (thr.isEmpty) return exactSelect(df)

    val surv = df.filter(hashPrefix(col(idCol)) < thresholdCol(skey, thr))
    // A thresholded stratum is safe exactly when its surviving weight
    // REACHES its need: survivors are an order prefix, so the selection
    // cut then falls inside the slice. A shortfall — including zero
    // survivors, invisible in any survivor-side frame — is caught by
    // left-joining the (driver-known, bounded) candidate set. All lazily
    // in-plan via broadcast joins of the normally-empty unsafe set.
    val spark = df.sparkSession
    import spark.implicits._
    val candidates = thr.keys.toSeq.toDF("__graft_sp_sk")
    val needMap = typedLit(thr.keys.map(s => s -> needOf(s)).toMap)
    val survWeights = surv.groupBy(skey.as("__graft_sp_sk"))
      .agg(weightAgg.as("__graft_sp_sw"))
    val unsafe = candidates
      .join(survWeights, Seq("__graft_sp_sk"), "left")
      .filter(coalesce(col("__graft_sp_sw"), lit(0L)) <
        element_at(needMap, col("__graft_sp_sk")))
      .select("__graft_sp_sk")
    def restrict(base: DataFrame, joinType: String): DataFrame =
      base.withColumn("__graft_sp_sk", skey)
        .join(broadcast(unsafe), Seq("__graft_sp_sk"), joinType)
        .drop("__graft_sp_sk")
    val safe = exactSelect(restrict(surv, "left_anti"))
    val rescued = exactSelect(restrict(df, "left_semi"))
    safe.unionByName(rescued)
  }
}
