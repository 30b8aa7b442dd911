package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Gates

/** Deterministic stratified sampling for corpus curation: keep up to
  * `quota` rows per stratum (e.g. per language / per source), chosen by a
  * stable hash order instead of `rand()` — the same rows are selected on
  * any engine, cluster size, or re-run, which makes corpus builds
  * reproducible and the operator oracle-checkable.
  *
  * Scale shape: one shuffle on the stratum key; output is bounded by
  * `quota × |strata|`. A stratum that dwarfs its quota would sort entirely
  * inside one window task, so past the [[graft.util.Gates.prefilters]]
  * size gate the selection runs the [[StratumPrefilter]]
  * engine — selection-identical by construction, pinned in
  * `SamplingSpec` along with survivor bounds and the rescue path.
  * (Spark 4's WindowGroupLimit already partial-limits a
  * `row_number ≤ quota` window map-side — visible in the spec's pinned
  * plan — so even the plain path never
  * shuffles more than `quota` rows per map partition; the prefilter
  * additionally bounds the per-task SORT input and the scan-to-shuffle
  * volume.)
  *
  * (The reference has no sampler beyond `LIMIT`; this extends SURVEY
  * §2f O3 for the training-data mandate.)
  */
object Sampling {

  /** Up to `quota` rows per stratum, by md5(id) order (ties broken by id;
    * md5 because every engine computes the identical hex digest). Past
    * the [[graft.util.Gates.prefilters]] size gate the selection runs the
    * hash-threshold prefilter, so test-scale inputs keep the plain
    * single-window plan.
    */
  def stratifiedHead(df: DataFrame, stratumCols: Seq[String],
      idCol: String, quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    if (!Gates.prefilters(df))
      exactHead(df, stratumCols, idCol, quota)
    else prefilteredHead(df, stratumCols, idCol, quota,
      StratumPrefilter.Margin)
  }

  /** Corpus-wide uniform deterministic k-sample — the whole-corpus
    * analogue of [[stratifiedHead]] and the scalable stand-in for
    * reservoir sampling: the first `k` rows in md5(id) order. Hash
    * order is uniform over ids, so the selection is a
    * uniform-without-replacement sample that is reproducible on any
    * engine, cluster size, or partitioning (no `rand()`, no reservoir
    * state). Spark plans `orderBy(limit)` as TakeOrderedAndProject —
    * per-partition top-k heaps merged on the driver, k·partitions rows
    * moved — never a full corpus sort (SamplingSpec pins the plan), so
    * the operator holds at any corpus size with bounded driver state.
    */
  def uniformHead(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.orderBy(md5(col(idCol).cast("string").cast("binary")),
        col(idCol))
      .limit(k)
  }

  /** The plain selection: rank within stratum, keep the head. */
  private def exactHead(df: DataFrame, stratumCols: Seq[String],
      idCol: String, quota: Int): DataFrame = {
    val w = Window.partitionBy(stratumCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("__graft_sp_rn", row_number().over(w))
      .filter(col("__graft_sp_rn") <= quota)
      .drop("__graft_sp_rn")
  }

  /** [[StratumPrefilter.select]] instantiated for quota sampling: a
    * stratum's weight is its ROW COUNT and its need is `quota`. `margin`
    * is a test seam (rescue-path coverage needs a margin small enough to
    * guarantee a survivor shortfall); production callers go through
    * [[stratifiedHead]], which passes [[StratumPrefilter.Margin]].
    */
  private[pipeline] def prefilteredHead(df: DataFrame,
      stratumCols: Seq[String], idCol: String, quota: Int,
      margin: Double): DataFrame =
    StratumPrefilter.select(df,
      // injective string key: to_json of the stratum struct distinguishes
      // null from "" and composes multi-column strata
      skey = to_json(struct(stratumCols.map(col): _*)),
      weightAgg = count(lit(1)),
      needOf = _ => quota.toLong,
      idCol = idCol, margin = margin,
      exactSelect = d => exactHead(d, stratumCols, idCol, quota))
}
