package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Frames

/** Vocabulary induction for tokenizer prep: the top-V corpus tokens with
  * cumulative coverage — "how much of the token stream does a V-entry
  * vocabulary capture?" — the sizing curve every tokenizer build starts
  * from (the real BPE merge loop then runs on the byte level; this is
  * the word-level budget check that precedes it).
  *
  * Scale shape: ONE map-side-combinable count aggregation over the
  * exploded token stream reduces the corpus to the distinct-token frame
  * — which at web scale is NOT small (O(10⁹) distinct word-level tokens
  * in a 100 TB crawl: typos, URLs, numbers). The top-V cut therefore
  * runs as distributed TakeOrdered (`orderBy.limit` — each partition
  * contributes its local top V, the driver merges V·P rows) and the
  * denominator as a separate scalar sum (map-side combinable), so NO
  * stage ever sorts or windows the full vocabulary in one task. The
  * final rank/cumsum then runs over the ≤V-row CAPPED frame only — as a
  * triangular self-join for small V (plan-auditable: no Window operator
  * at all) and as a single window over the `limit(topV)` output above
  * [[TriangularMaxV]], where the triangular form's V²/2 predicate
  * evaluations would dominate (V = 256k ⇒ ~3.3·10¹⁰ pairs — minutes of
  * wasted work for what a one-task window over an input BOUNDED BY
  * CONSTRUCTION does in milliseconds). Ordering is the total
  * (count desc, token asc) order, so ranks and cumulative shares are
  * deterministic in either form.
  */
object Vocab {

  /** Crossover between the two rank/cumsum forms over the capped top-V
    * frame. At or under it the triangular self-join wins (V²/2 ≤ ~0.5M
    * broadcast-nested-loop pairs — cheap, and the stronger plan pin: no
    * Window operator anywhere); above it a single window over the
    * already-`limit(topV)`-capped frame wins — its one task reads at
    * most V rows BY CONSTRUCTION (the GlobalLimit is in the plan, which
    * is what [[graft.PlanAuditSpec]] pins), while the triangular join
    * would evaluate O(V²) predicates.
    */
  val TriangularMaxV = 1024

  /** The lazy rank/cumsum plan over a (token, cnt) counts frame — split
    * out so the plan audit can pin BOTH regime forms without the eager
    * materialization below hiding them behind an RDD scan.
    */
  private[graft] def coveragePlan(counts: DataFrame, topV: Int): DataFrame = {
    // Distributed top-V: plans as TakeOrderedAndProject (per-partition
    // local top V + driver merge), never a global sort of the
    // vocabulary. (count desc, token asc) is a total order — token is
    // the group key, hence unique — so the cut is deterministic.
    val top = counts
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topV)
    // Denominator: total occurrences INCLUDING mass beyond the cut — a
    // scalar aggregate with map-side partials, broadcast onto the
    // V-row frame (sum over zero rows is null → empty corpus yields an
    // empty result either way, since `top` is empty too).
    val total = counts.agg(sum(col("cnt")).as("total"))
    val ranked =
      if (topV <= TriangularMaxV) rankedTriangular(top)
      else rankedWindowed(top)
    ranked
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"),
        (col("cum").cast("double") / col("total")).as("cum_share"))
  }

  /** rank/cumsum with NO window at all: the classic triangular self-join
    * (count/sum of predecessors in the (cnt desc, token asc) total order
    * — token is unique, so the order is strict and rank = |{b ⪯ a}|
    * exactly, cum includes the row itself via the `<=`). V²/2 pairs at
    * V=50 is 1.3k broadcast-nested-loop rows — nothing.
    */
  private def rankedTriangular(top: DataFrame): DataFrame = {
    val preds = top.select(col("token").as("__bt"), col("cnt").as("__bc"))
    top.join(broadcast(preds),
        col("__bc") > col("cnt") ||
          (col("__bc") === col("cnt") && col("__bt") <= col("token")))
      .groupBy(col("token"), col("cnt"))
      .agg(count(lit(1)).as("rank"), sum(col("__bc")).as("cum"))
  }

  /** rank/cumsum as ONE unpartitioned window — correct at any V because
    * its input is the `limit(topV)` output, bounded by construction (the
    * r7 scale defect was a window over the FULL vocabulary; a window
    * over the capped frame is a one-task pass over ≤ V rows). The
    * running frame is RANGE UNBOUNDED PRECEDING..CURRENT ROW over the
    * strict (cnt desc, token asc) total order, so `cum` includes the
    * current row — identical to the triangular `<=`. The pmod partition
    * constant (the Growth idiom) states the one-partition choice
    * without the planner's move-everything warning.
    */
  private def rankedWindowed(top: DataFrame): DataFrame = {
    val w = Window.partitionBy(pmod(col("cnt"), lit(1L)))
      .orderBy(col("cnt").desc, col("token").asc)
    top.select(col("token"), col("cnt"),
      row_number().over(w).cast("long").as("rank"),
      sum(col("cnt")).over(w).as("cum"))
  }

  /** `(rank, token, cnt, cum_share)` for the `topV` most frequent
    * tokens; `cum_share` = cumulative count ÷ TOTAL token occurrences
    * (including beyond the cut), an exact-integer division.
    *
    * EAGER: the ≤V-row result is materialized (`localCheckpoint`) so the
    * vocabulary-sized counts frame — persisted because three consumers
    * (the top-V cut, its rank copy, the total) would otherwise each
    * re-scan and re-tokenize the CORPUS — is released before returning.
    * A long-lived session therefore leaks nothing per call (the
    * scrubSpans/lshKnnGraph lifecycle); at 100 TB the counts frame is
    * the standard materialized token-frequency table, written to
    * storage for reuse across tokenizer-sizing runs instead.
    */
  def coverage(docs: DataFrame, textCol: String, topV: Int): DataFrame = {
    val counts = docs
      .select(TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    Frames.cached(counts)(coveragePlan(_, topV).localCheckpoint(true))
  }
}
