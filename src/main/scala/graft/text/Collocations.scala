package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Frames, Gates}

/** Collocation (multi-word-expression) extraction: rank adjacent token
  * pairs by pointwise-mutual-information LIFT — how much more often the
  * pair occurs than its unigram frequencies predict. The corpus-analysis
  * complement to [[TermSalience]]'s per-document TF-IDF: salience asks
  * "which terms characterize THIS document", collocations ask "which
  * token pairs are a UNIT across the corpus" (the phrase-mining step
  * before tokenizer training or phrase-aware indexing; the reference's
  * glossary/metadata procedures name exactly this kind of vocabulary
  * curation, `Business_Glossory.sql:69-89`'s per-term loop being the
  * degenerate one-word case).
  *
  * Determinism: the report is exact integer counts plus ONE fixed IEEE
  * expression tree per row. Classic PMI is `ln` of the lift; `ln` is
  * libm (not correctly-rounded, engine-dependent — the [[graft.dq.Drift]]
  * PSI-vs-TV ruling), and `ln` is monotone, so the report carries the
  * lift itself: identical ranking, bit-identical doubles. Every operand
  * (count, total) is an exact long < 2^53, each division/multiplication
  * is written with the same association in the oracle SQL, so the hash
  * matches without rounding.
  *
  * Scale shape: one explode pass makes token rows (linear, no shuffle
  * until the count); unigram and bigram counts are map-side-combinable
  * hash aggregations; totals are single-row broadcast cross joins; the
  * unigram frame joins back onto the bigram frame twice — vocabulary-
  * sized, a fixed broadcast hint ([[graft.util.Gates.hinted]]; without
  * the hint the same plan shuffles). The final top-k is a deterministic
  * total order + limit → TakeOrderedAndProject, never a global sort.
  */
object Collocations {

  /** Top-k adjacent-pair collocations with `pair_count >= minCount`.
    *
    * Output: `(w1, w2, pair_count, w1_count, w2_count, lift)` ordered
    * by (lift desc, w1, w2) — a total order, so the limit boundary is
    * deterministic under ties.
    *
    * EAGER: the ≤k-row result is materialized (`localCheckpoint`) so
    * the doc-grain tokens frame — persisted because three consumers
    * (unigram counts, pair counts, totals) would otherwise each
    * re-tokenize the corpus — is released before returning (the
    * [[Vocab.coverage]] lifecycle).
    */
  def topBigrams(df: DataFrame, textCol: String, minCount: Int = 5,
      k: Int = 100): DataFrame = {
    // tokens materialized once per doc (the shingling lesson: an
    // inlined split() re-tokenizes per emitted element)
    Frames.cached(df.select(TextAnalysis.tokens(col(textCol)).as("__toks"))) {
      topBigramsPlan(_, minCount, k).localCheckpoint(true)
    }
  }

  /** The lazy plan over a materialized `(__toks)` frame — split out so
    * the plan audit can pin the TakeOrdered cut and broadcast joins
    * without the eager materialization hiding them behind an RDD scan.
    */
  private[graft] def topBigramsPlan(toks: DataFrame, minCount: Int,
      k: Int): DataFrame = {
    val words = toks.select(explode(col("__toks")).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("c"))
    val pairs = toks
      .filter(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    // scalar totals as single-row broadcasts (the Drift idiom) — token
    // total and pair total in one pass over the doc-grain frame
    val totals = broadcast(toks.agg(
      sum(size(col("__toks"))).as("t_tokens"),
      sum(greatest(size(col("__toks")) - 1, lit(0))).as("n_pairs")))
    val uniJ = Gates.hinted(uni)
    val out = big
      .join(uniJ.select(col("w").as("w1"), col("c").as("w1_count")), "w1")
      .join(uniJ.select(col("w").as("w2"), col("c").as("w2_count")), "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("pair_count"),
        col("w1_count"), col("w2_count"),
        // lift = P(w1,w2) / (P(w1)·P(w2)); association mirrored
        // verbatim in the oracle SQL
        ((col("pair_count").cast("double") / col("n_pairs").cast("double"))
          / ((col("w1_count").cast("double") / col("t_tokens").cast("double"))
            * (col("w2_count").cast("double") / col("t_tokens").cast("double"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
    out
  }
}

