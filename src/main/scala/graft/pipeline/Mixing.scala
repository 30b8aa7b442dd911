package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Gates

/** Domain mixing for training-corpus assembly: select documents per
  * source up to a per-source token budget, in deterministic md5(id)
  * order — the step that turns per-domain weights into an actual
  * document selection, reproducible on any engine or cluster size.
  *
  * Greedy rule (same convention as [[Packing]]): docs are laid
  * end-to-end in md5(id) order within their source; a doc is selected if
  * it STARTS before the budget is exhausted, so a source can overflow by
  * at most one document and docs are never split.
  *
  * Scale shape: one cumulative-sum window per source — parallelism =
  * source count. A mega-source whose corpus dwarfs its budget
  * (CommonCrawl ≫ budget is the NORMAL case in a training mix) would
  * sort entirely in one window task, so past the
  * [[graft.util.Gates.prefilters]] size gate the
  * selection runs the [[StratumPrefilter]] engine — selection-identical by
  * construction, pinned in `MixingSpec` along with survivor bounds and
  * the rescue path.
  */
object Mixing {

  /** Rows of `df` selected under each source's token budget.
    *
    * @param budgets       per-source token budgets
    * @param defaultBudget budget for sources absent from `budgets`
    */
  def byTokenBudget(df: DataFrame, sourceCol: String, idCol: String,
      tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    if (!Gates.prefilters(df))
      exactMix(df, sourceCol, idCol, tokenCol, budgets, defaultBudget)
    else prefilteredMix(df, sourceCol, idCol, tokenCol, budgets,
      defaultBudget, StratumPrefilter.Margin)
  }

  /** Proportional mixing: budgets derived from target WEIGHT fractions of
    * a total token budget — how a training mix is actually specified
    * ("60% web, 20% code, 20% books"). Weights are normalized over the
    * map (they need not sum to 1); sources absent from `weights` get
    * weight 0 (excluded) — list every source you want in the mix.
    * Delegates to [[byTokenBudget]], so the prefilter and exactness
    * guarantees carry over unchanged.
    */
  def byWeights(df: DataFrame, sourceCol: String, idCol: String,
      tokenCol: String, weights: Map[String, Double], totalTokens: Long)
      : DataFrame = {
    require(weights.nonEmpty, "weights must name at least one source")
    require(weights.values.forall(_ >= 0) && weights.values.sum > 0,
      "weights must be non-negative and not all zero")
    require(totalTokens > 0, "totalTokens must be positive")
    val norm = weights.values.sum
    val budgets = weights.map { case (src, w) =>
      src -> math.round(totalTokens * (w / norm))
    }
    byTokenBudget(df, sourceCol, idCol, tokenCol, budgets,
      defaultBudget = 0L)
  }

  /** Temperature-scaled mixing — the multilingual/multi-domain
    * REBALANCING rule (the XLM-R sampling recipe, public work): each
    * source's token target is proportional to `n_src^(1/T)` of the
    * total budget, so T = 1 reproduces natural proportions and larger
    * T flattens the mix toward uniform, upweighting small sources
    * without hand-written weights. This operator fixes **T = 2**: the
    * exponent is then one correctly-rounded `sqrt`, keeping every
    * arithmetic step exactly SQL-replayable (a general `pow` is libm —
    * deterministic per engine but not bit-guaranteed across engines).
    *
    * All-dataflow (no driver round-trip): the per-source token frame is
    * |sources|-sized; its sqrt-mass normalizer accumulates as exact
    * DECIMAL(38,12) (partition-order-independent) with ONE cast back;
    * targets broadcast back onto the corpus and selection is the same
    * md5-order greedy window as [[byTokenBudget]] (a doc is selected if
    * it STARTS before its source's target).
    */
  def byTemperatureT2(df: DataFrame, sourceCol: String, idCol: String,
      tokenCol: String, totalTokens: Long): DataFrame = {
    require(totalTokens > 0, "totalTokens must be positive")
    val n = col(tokenCol).cast("long")
    // LAZY checkpoint: tot's broadcast build and the targets probe run
    // as concurrent futures, so the probe CAN scan src while the build
    // is still computing it — safe because the long-sum aggregate is
    // deterministic and BlockManager's getOrElseUpdate dedupes each
    // partition's compute, so both consumers see identical cached rows;
    // laziness saves the dedicated materialization job (r16; |sources|
    // rows)
    val src = df.groupBy(col(sourceCol)).agg(sum(n).as("__stok"))
      .localCheckpoint(false)
    val tot = src.agg(
      sum(sqrt(col("__stok")).cast("decimal(38,12)")).cast("double")
        .as("__zsum"))
    val targets = src.crossJoin(broadcast(tot))
      .select(col(sourceCol),
        floor(lit(totalTokens.toDouble) * sqrt(col("__stok")) /
          col("__zsum")).cast("long").as("__graft_mix_target"))
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("*"), (sum(n).over(w) - n).as("__graft_mix_cum"))
      .join(broadcast(targets), Seq(sourceCol))
      .filter(col("__graft_mix_cum") < col("__graft_mix_target"))
      .drop("__graft_mix_cum", "__graft_mix_target")
  }

  /** ROUTED temperature mixing — [[byTemperatureT2]] with an outer
    * routing axis (the per-LANGUAGE curation composition: route
    * documents by majority language, then rebalance sources within
    * each language under that language's own budget). Within each
    * route, per-source targets are `budget(route) · sqrt(stok) /
    * Σ_src sqrt(stok)` — the T = 2 rule applied independently per
    * route — and selection is the same md5-order greedy window,
    * partitioned by (route, source).
    *
    * One dataflow for ALL routes (no per-route driver loop): the
    * (route, source) token frame aggregates in one pass, normalizers
    * are a |routes|-sized exact-DECIMAL roll-up of that frame, the
    * joined targets broadcast back, and the corpus shuffles ONCE on
    * (route, source) for the selection window — the same shuffle
    * count as un-routed mixing at any corpus size. Routes absent from
    * `budgets` get `defaultBudget` (0 = excluded — list every route
    * you want in the mix).
    */
  def byTemperatureRoutedT2(df: DataFrame, routeCol: String,
      sourceCol: String, idCol: String, tokenCol: String,
      budgets: Map[String, Long], defaultBudget: Long = 0L)
      : DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0,
      "budgets must be non-negative")
    val n = col(tokenCol).cast("long")
    val grp = df.groupBy(col(routeCol), col(sourceCol))
      .agg(sum(n).as("__stok"))
      // LAZY: deterministic long-sum agg + block-level compute dedup
      // make concurrent consumers safe (the byTemperatureT2 rationale)
      .localCheckpoint(false)
    val tot = grp.groupBy(col(routeCol)).agg(
      sum(sqrt(col("__stok")).cast("decimal(38,12)")).cast("double")
        .as("__zsum"))
    val targets = grp.join(broadcast(tot), Seq(routeCol))
      .select(col(routeCol), col(sourceCol),
        floor(budgetCol(routeCol, budgets, defaultBudget)
            .cast("double") * sqrt(col("__stok")) / col("__zsum"))
          .cast("long").as("__graft_mix_target"))
    val w = Window.partitionBy(routeCol, sourceCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("*"), (sum(n).over(w) - n).as("__graft_mix_cum"))
      .join(broadcast(targets), Seq(routeCol, sourceCol))
      .filter(col("__graft_mix_cum") < col("__graft_mix_target"))
      .drop("__graft_mix_cum", "__graft_mix_target")
  }

  /** The per-language routed-curation funnel: each document of `docs`
    * routes to the majority language of its `textCol` lines
    * ([[graft.text.LangSegment.segment]], lines classified by
    * `langOf`), [[byTemperatureRoutedT2]] rebalances sources within
    * each language under `budgets`, and the result has one row per
    * (`lang`, source): routed `n_docs`/`lang_tokens` and selected
    * `n_selected`/`sel_tokens`, ordered by (lang, source).
    *
    * The corpus text is scanned once: the routed frame (id, source,
    * tokens, lang) is metadata-sized and checkpointed LAZILY — the
    * mixing aggregate, the selection window and the funnel join all
    * consume it inside the one final action, whose first scan stage
    * materializes the cache (block-level compute dedup covers the
    * concurrent window), so classification pays no dedicated job.
    */
  def routedFunnel(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, budgets: Map[String, Long],
      langOf: Column => Column = graft.text.TextAnalysis.langId)
      : DataFrame = {
    val base = docs
      .select(col(idCol), col(sourceCol),
        graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long")
          .as("n_tokens"))
      .join(graft.text.LangSegment.segment(docs, idCol, textCol, langOf)
        .select(col(idCol), col("majority_lang").as("lang")),
        Seq(idCol))
      .localCheckpoint(false)
    val sel = byTemperatureRoutedT2(
        base, "lang", sourceCol, idCol, "n_tokens", budgets)
      .select(col(idCol), lit(true).as("__sel"))
    base.join(sel, Seq(idCol), "left")
      .groupBy("lang", sourceCol).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("lang_tokens"),
        sum(when(col("__sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("__sel"), col("n_tokens")).otherwise(0L))
          .as("sel_tokens"))
      .orderBy("lang", sourceCol)
  }

  private def budgetCol(sourceCol: String, budgets: Map[String, Long],
      defaultBudget: Long): Column =
    coalesce(
      element_at(typedLit(budgets), col(sourceCol)), lit(defaultBudget))

  /** The plain selection: per-source cumulative token sum in hash order,
    * keep rows starting before the budget.
    */
  private def exactMix(df: DataFrame, sourceCol: String, idCol: String,
      tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // compute the working columns in a projection of our own making so a
    // caller frame that happens to contain __n/__cum is never clobbered
    val n = col(tokenCol).cast("long")
    df.select(col("*"), (sum(n).over(w) - n).as("__graft_mix_cum"))
      .filter(col("__graft_mix_cum") < budgetCol(sourceCol, budgets,
        defaultBudget))
      .drop("__graft_mix_cum")
  }

  /** [[StratumPrefilter.select]] instantiated for budget mixing: a
    * source's weight is its TOKEN SUM and its need is its budget.
    * `margin` is a test seam (rescue-path coverage needs a margin small
    * enough to guarantee a survivor shortfall); production callers go
    * through [[byTokenBudget]], which passes [[StratumPrefilter.Margin]].
    */
  private[pipeline] def prefilteredMix(df: DataFrame, sourceCol: String,
      idCol: String, tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long, margin: Double): DataFrame =
    StratumPrefilter.select(df,
      skey = col(sourceCol).cast("string"),
      weightAgg = sum(col(tokenCol).cast("long")),
      needOf = src => budgets.getOrElse(src, defaultBudget),
      idCol = idCol, margin = margin,
      exactSelect = d => exactMix(d, sourceCol, idCol, tokenCol, budgets,
        defaultBudget))
}
