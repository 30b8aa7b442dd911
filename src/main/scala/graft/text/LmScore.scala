package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Frames

/** Unigram language-model document scoring — the cheapest member of the
  * model-based quality-filter family (CCNet's wikipedia-LM perplexity
  * filter, Gopher's quality signals): score each document by the mean
  * corpus relative-frequency of its tokens. Fluent, typical text scores
  * high; gibberish, boilerplate-free code dumps and OOV-dense noise
  * score low. The score is `Σ cnt(token) / (n_tokens · total)` — every
  * operand an exact long, ONE IEEE division tree at the end — so it is
  * engine-portable without any log/exp (a true perplexity needs `ln`,
  * which is libm and deliberately not emitted; ranking order under the
  * mean-probability form is what the filter consumes).
  *
  * Scale shape: two corpus passes. Pass 1 tokenizes into the
  * map-side-combinable (token, cnt) frequency frame, from which the
  * top-V vocabulary (distributed TakeOrdered, the [[Vocab]] cut) and
  * the scalar total are EAGERLY materialized (≤V rows + 1 row,
  * `localCheckpoint`) and the vocabulary-sized counts frame is released
  * — the [[Vocab.coverage]] lifecycle, nothing cached survives the
  * call. Pass 2 re-tokenizes and aggregates per document against the
  * BROADCAST vocabulary; OOV tokens contribute zero by the left join.
  * The corpus never sorts and never shuffles beyond the doc-grain
  * count; at 100 TB the (token, cnt) frame is the standard reusable
  * frequency table and pass 1 amortizes across scoring runs.
  */
object LmScore {

  /** `(idCol, n_tokens, in_vocab, sum_cnt, lm_score)` per document —
    * one row out per row in (empty/null text scores null with
    * `n_tokens` 0). `sum_cnt` is the exact long numerator; `lm_score`
    * its mean relative frequency.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      topV: Int): DataFrame = {
    require(topV > 0, "need a positive vocabulary size")
    val tok = docs.select(col(idCol),
      explode_outer(TextAnalysis.tokens(col(textCol))).as("token"))
    Frames.cached(tok.filter(col("token").isNotNull)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))) { counts =>
      val vocab = counts
        .orderBy(col("cnt").desc, col("token").asc).limit(topV)
        .withColumnRenamed("cnt", "__vcnt")
        .localCheckpoint(true)
      val total = counts.agg(sum(col("cnt")).as("__total"))
        .localCheckpoint(true)
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col(idCol))
        .agg(count(col("token")).as("n_tokens"),
          count(col("__vcnt")).as("in_vocab"),
          coalesce(sum(col("__vcnt")), lit(0L)).as("sum_cnt"))
        .crossJoin(broadcast(total))
        .select(col(idCol), col("n_tokens"), col("in_vocab"),
          col("sum_cnt"),
          when(col("n_tokens") === 0, lit(null).cast("double"))
            .otherwise(col("sum_cnt").cast("double") /
              (col("n_tokens").cast("double") *
                col("__total").cast("double"))).as("lm_score"))
    }
  }
}
