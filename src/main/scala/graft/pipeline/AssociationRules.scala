package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Frames, Gates}

/** Market-basket association rules over item CO-OCCURRENCE — "users
  * who did X in a session also did Y" — the unordered-set complement of
  * [[graft.text.Collocations]] (adjacency in a sequence) and of
  * [[Funnel]] (strict order): here a basket is any grouping unit (a
  * user-day, a session, an order) and the signal is membership, not
  * position. Classic Apriori-at-depth-2: pair support, per-direction
  * confidence, and lift — the first pass every recommender /
  * cross-sell analysis runs, and at corpus scale the ONLY pass that
  * matters (depth ≥ 3 candidates explode combinatorially; mine pairs,
  * then let the analyst drill).
  *
  * Determinism: exact long counts; confidence and lift are fixed IEEE
  * division trees of exact operands, mirrored verbatim in the oracle
  * (the [[graft.text.Collocations]] ruling — no `ln`, ratios carry the
  * ranking).
  *
  * Scale shape: ONE map-side-combinable aggregation reduces the corpus
  * to the basket frame (sorted distinct item set per basket); pairs
  * expand MAP-SIDE from each basket's array (C(k,2) rows, k ≤
  * `maxBasket` — no self-join, no window, no second corpus shuffle);
  * item supports and the basket total are small broadcast joins onto
  * the report-sized pair frame. A pathological basket (one key with
  * thousands of items) is dropped whole at `maxBasket` — wider baskets
  * are telemetry noise, not transactions (the [[FuzzyJoin]]
  * heavy-hitter practice); dropping keeps supports CONSISTENT with the
  * pair counts, which an item-level cap could not.
  */
object AssociationRules {

  /** Pair rules with `pair_n >= minSupport` baskets: one row per
    * unordered pair `(item_a < item_b)` with both directions'
    * confidence. `lift > 1` ⇒ the pair co-occurs more than
    * independence predicts.
    *
    * Output: `(item_a, item_b, pair_n, a_n, b_n, baskets, conf_a_b,
    * conf_b_a, lift)` ordered by (lift desc, item_a, item_b).
    *
    * EAGER: the report-sized result is materialized
    * (`localCheckpoint`) so the basket frame — persisted because three
    * consumers (pair expansion, item supports, basket total) would
    * otherwise each re-aggregate the corpus — is released before
    * returning (the [[graft.text.Vocab]] lifecycle).
    */
  def pairRules(df: DataFrame, basketCols: Seq[String], itemCol: String,
      minSupport: Int = 2, maxBasket: Int = 256): DataFrame = {
    require(basketCols.nonEmpty, "need at least one basket column")
    require(maxBasket >= 2, "maxBasket must allow at least a pair")
    // null items are dropped EXPLICITLY (not by collect_set's silent
    // skip): "unknown item" is not a rule antecedent, and making the
    // policy a visible filter keeps the engine and any SQL replay
    // agreeing on basket size, supports, and the maxBasket cutoff
    val baskets = df
      .filter(col(itemCol).isNotNull)
      .groupBy(basketCols.map(col): _*)
      .agg(sort_array(collect_set(col(itemCol).cast("string")))
        .as("__items"))
      .filter(size(col("__items")) <= maxBasket)
    Frames.cached(baskets)(
      pairRulesPlan(_, minSupport).localCheckpoint(true))
  }

  /** The lazy plan over a materialized basket frame (`__items` sorted
    * distinct item arrays) — split out so the plan audit can pin the
    * map-side pair expansion and broadcast joins.
    */
  private[pipeline] def pairRulesPlan(baskets: DataFrame,
      minSupport: Int): DataFrame = {
    val pairs = baskets
      .filter(size(col("__items")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(__items) - 2), " +
          "i -> transform(sequence(i + 1, size(__items) - 1), " +
          "j -> struct(__items[i] AS item_a, __items[j] AS item_b))))"))
        .as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
    val itemN = baskets.select(explode(col("__items")).as("__i"))
      .groupBy("__i").agg(count(lit(1)).as("n"))
    val total = broadcast(baskets.agg(count(lit(1)).as("baskets")))
    // item-cardinality frames: a fixed-hint side (it grows with the
    // item catalog, which no count observes here)
    pairs
      .join(Gates.hinted(itemN.select(col("__i").as("item_a"),
        col("n").as("a_n"))), "item_a")
      .join(Gates.hinted(itemN.select(col("__i").as("item_b"),
        col("n").as("b_n"))), "item_b")
      .crossJoin(total)
      .select(col("item_a"), col("item_b"), col("pair_n"), col("a_n"),
        col("b_n"), col("baskets"),
        (col("pair_n").cast("double") / col("a_n").cast("double"))
          .as("conf_a_b"),
        (col("pair_n").cast("double") / col("b_n").cast("double"))
          .as("conf_b_a"),
        ((col("pair_n").cast("double") / col("baskets").cast("double"))
          / ((col("a_n").cast("double") / col("baskets").cast("double"))
            * (col("b_n").cast("double") / col("baskets").cast("double"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
  }
}
