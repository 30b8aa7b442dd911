package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT repeated-substring detection — the deduplicate-text-datasets
  * role (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", public work): find every token span of length ≥ L
  * that occurs MORE THAN ONCE anywhere in the corpus (across
  * documents or within one), and report per document how much of it
  * is covered by such repeats — the signal used to cut memorization
  * by trimming or dropping the covered spans.
  *
  * The suffix-array construction of the paper is a single-machine
  * design; the distributed re-expression is ANCHORED L-GRAMS: a
  * maximal repeated substring of length M ≥ L is covered by exactly
  * its M − L + 1 constituent L-grams, each of which repeats — so the
  * union of positions of globally-repeated L-grams IS the exact token
  * set lying inside some length-≥L repeat. No suffix array, no
  * all-pairs: one gram-keyed exchange.
  *
  * Dataflow (three exchanges, all key-bounded):
  *  1. tokenize once, slide the L-window per doc (`posexplode` of a
  *     map-side transform), hash each gram to the md5-derived 60-bit
  *     base — grams never shuffle as strings;
  *  2. count occurrences per gram hash (map-side partial → one
  *     exchange on the hash); hashes with count ≥ 2 are repeated, and
  *     the join back to (doc, pos) REUSES the same hash partitioning
  *     (no second gram shuffle);
  *  3. per-doc interval merge: repeated positions sort inside one
  *     doc-keyed window; a new span starts where `pos > lag(pos) +
  *     L − 1` (the previous gram's coverage ends before this one
  *     begins), merged coverage = Σ (span_max − span_min + L). All
  *     integer arithmetic — a SQL oracle replays every step.
  *
  * Documents shorter than L tokens carry no L-gram and emit
  * `n_grams = 0` rows with zero coverage (they cannot participate in
  * a length-≥L repeat). 60-bit hashing makes two DIFFERENT grams
  * collide with probability ~2⁻⁶⁰ per pair — the same trade every
  * hash-keyed dedup here makes, documented rather than hidden.
  */
object SubstringDedup {

  /** `(idCol, n_tokens, __gh)` — per doc, the md5-base hash of every
    * sliding L-gram (empty for docs shorter than L). PERSIST this
    * frame before [[reportFromArrays]] — the same contract as
    * [[graft.text.Decontam.docGramArrays]]: exploding an
    * unmaterialized gram expression re-derives the whole slide per
    * emitted element in the Generate path (measured 4× the lane).
    */
  def gramArrays(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2 tokens")
    // __t rides along for [[scrubFromArrays]]'s text rebuild (the
    // report path prunes it out of its own projections; the persist
    // caches it, which the scrub needs anyway)
    df.select(col(idCol), Dedup.tokensOf(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        size(col("__t")).as("n_tokens"),
        when(size(col("__t")) >= minLen,
          transform(sequence(lit(0), size(col("__t")) - minLen),
            i => graft.dedup.Dedup.md5Base(
              concat_ws(" ", slice(col("__t"), i + 1, lit(minLen))))))
          .otherwise(array().cast("array<bigint>")).as("__gh"))
  }

  /** SELF-SCRUB — the actionable form of [[reportFromArrays]] (what
    * Lee et al. actually do to the corpus): every repeated length-≥L
    * span keeps its GLOBALLY FIRST occurrence (minimal `(doc, pos)` —
    * deterministic, engine-portable) and is removed everywhere else.
    * Gram rule: an occurrence `(d, p)` of a gram with global count ≥ 2
    * is REMOVABLE iff it is not the gram's minimal occurrence; a token
    * is removed iff some removable occurrence covers it — so a
    * first-copy document (all its grams minimal) keeps everything, a
    * later full copy scrubs entirely, and partial overlaps resolve
    * token-by-token.
    *
    * Output per doc: `(idCol, n_tokens, removed_tokens, kept_tokens,
    * clean_md5)` — `clean_md5` hashes the space-rejoined surviving
    * tokens in document order (md5("") for fully-scrubbed/empty docs,
    * the [[graft.text.Decontam.scrubSpans]] convention).
    *
    * The minimal occurrence compares as the exact integer
    * `doc_id · 2²⁰ + pos` (token positions must stay below 2²⁰ ≈ 1M
    * tokens/doc — enforced loud; ids must be non-negative), so both
    * engines take the same min without struct-ordering semantics.
    * `arrays` is a PERSISTED [[gramArrays]] frame.
    */
  def scrubFromArrays(arrays: DataFrame, idCol: String,
      minLen: Int): DataFrame =
    scrubAgainstFirsts(arrays,
      firstsOf(gramPartials(arrays, idCol)), idCol, minLen)

  /** The exact-integer first-occurrence key `doc · 2²⁰ + pos`, with
    * the loud domain guard (token positions below 2²⁰, non-negative
    * ids; assert_true returns NULL on pass).
    */
  private def keyOf(idCol: String) =
    col(idCol) * lit(1048576L) + col("pos") +
      coalesce(assert_true(col("pos") < lit(1048576) &&
        col(idCol) >= 0).cast("long"), lit(0L))

  /** Per-gram partial aggregate of a [[gramArrays]] frame:
    * `(gh, __n, __minkey)` — occurrence count and minimal
    * first-occurrence key. The partials COMMUTE under
    * ([[foldGramPartials]]: sum, min), which is what makes the
    * maintained streaming index batch-cut-independent.
    */
  def gramPartials(arrays: DataFrame, idCol: String): DataFrame =
    arrays.select(col(idCol),
        posexplode(col("__gh")).as(Seq("pos", "gh")))
      .groupBy(col("gh")).agg(
        count(lit(1)).as("__n"),
        min(keyOf(idCol)).as("__minkey"))

  /** Fold partials from several corpus slices into corpus-grain
    * totals — `sum`/`min` over the same columns ([[gramPartials]] of a
    * union ≡ fold of per-slice partials).
    */
  def foldGramPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col("gh")).agg(
      sum(col("__n")).as("__n"),
      min(col("__minkey")).as("__minkey"))

  /** The first-occurrence index of REPEATED grams (count ≥ 2) from a
    * partials frame — what each streaming micro-batch probes.
    */
  def firstsOf(partials: DataFrame): DataFrame =
    partials.filter(col("__n") >= 2)
      .select(col("gh"), col("__minkey"))

  /** `starts` (`idCol`, `pos`: gram start positions) plus `__span`, the
    * per-document id of the merged span each start falls in: a start
    * more than `minLen - 1` past its predecessor opens a new span.
    */
  private def withSpanIds(starts: DataFrame, idCol: String,
      minLen: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("pos"))
    starts
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + (minLen - 1), 1L)
          .otherwise(0L))
      .withColumn("__span", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The scrub body against a PRECOMPUTED first-occurrence index —
    * the shared core of the batch lane ([[scrubFromArrays]]) and the
    * streaming twin ([[graft.streaming.StreamingPipelines
    * .substringScrubStream]]), which is what licenses the streaming
    * gate's oracle to be the batch lane's SQL verbatim.
    */
  def scrubAgainstFirsts(arrays: DataFrame, firsts: DataFrame,
      idCol: String, minLen: Int): DataFrame = {
    val key = keyOf(idCol)
    val occ = arrays.select(col(idCol),
      posexplode(col("__gh")).as(Seq("pos", "gh")))
    val removable = occ
      .join(firsts, Seq("gh"))
      .filter(key =!= col("__minkey"))
      .select(col(idCol), col("pos"))
    val spans = withSpanIds(removable, idCol, minLen)
      .groupBy(col(idCol), col("__span"))
      .agg(min(col("pos")).as("__a"),
        (max(col("pos")) + (minLen - 1)).as("__b"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__a"), col("__b"))).as("__spans"),
        sum(col("__b") - col("__a") + 1).as("removed_tokens"))
    arrays.select(col(idCol), col("__t"), size(col("__t"))
        .as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") -
          coalesce(col("removed_tokens"), lit(0L))).as("kept_tokens"),
        md5(concat_ws(" ",
          when(col("__spans").isNull, col("__t")).otherwise(
            filter(col("__t"), (_, i) => !exists(col("__spans"),
              s => i >= s.getField("__a") && i <= s.getField("__b")))))
          .cast("binary")).as("clean_md5"))
  }

  /** `(idCol, n_tokens, n_grams, n_spans, repeated_tokens,
    * repeated_frac)` — one row per input document; `repeated_tokens`
    * is the exact size of the union of all length-≥L repeated spans,
    * `repeated_frac` the single IEEE division by `n_tokens` (0 for
    * empty docs). `arrays` is a PERSISTED [[gramArrays]] frame.
    */
  def reportFromArrays(arrays: DataFrame, idCol: String,
      minLen: Int): DataFrame = {
    val base = arrays
    val grams = base.select(col(idCol),
      posexplode(col("__gh")).as(Seq("pos", "gh")))
    val repeated = grams
      .groupBy(col("gh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("gh"))
    val marked = grams
      .join(repeated, Seq("gh"), "left_semi")
      .select(col(idCol), col("pos"))
    val spans = withSpanIds(marked, idCol, minLen)
      .groupBy(col(idCol), col("__span"))
      .agg(min(col("pos")).as("__a"), max(col("pos")).as("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__b") - col("__a") + minLen).as("repeated_tokens"))
    // n_grams is a pure function of n_tokens — derived analytically
    // instead of carrying gram arrays into the report branch
    base.select(col(idCol), col("n_tokens"),
        greatest(col("n_tokens") - (minLen - 1), lit(0))
          .cast("int").as("n_grams"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("repeated_tokens"), lit(0L))
          .as("repeated_tokens"),
        (coalesce(col("repeated_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1))).as("repeated_frac"))
  }
}
