package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.{Frames, Gates}

/** Benchmark decontamination for training-data pipelines: flag corpus
  * documents that share word n-grams with a held-out evaluation set —
  * the standard train/test-overlap sweep run before every corpus release
  * (GPT-3 §5 / PaLM-style 8-13-gram overlap; n is a parameter here).
  *
  * Scale design (the 100 TB shape):
  *   - the EVAL side is benchmark suites — MBs against a corpus of TBs —
  *     so its distinct-gram set is **broadcast**: matching is a map-side
  *     hash probe fused with the corpus scan, no shuffle of corpus grams.
  *   - per-document totals ride the same single projection (grams are
  *     computed once per row); the only exchange is the final
  *     groupBy(doc_id) over MATCHED grams, which is bounded by the
  *     contamination volume, not the corpus size.
  *   - gram semantics reuse [[Dedup.wordShingles]] (a doc shorter than n
  *     words contributes its whole text as one gram — a tiny doc equal to
  *     an eval fragment IS contamination).
  *
  * The reference has no decontamination surface; this extends its DQ
  * family (SURVEY §2d) per the training-data mandate.
  */
object Decontam {

  /** One row per document: (idCol, __grams = distinct n-gram array).
    *
    * Persist THIS frame before feeding it to [[overlapReportFromArrays]]:
    * the join above the explode makes Catalyst infer a
    * `size(grams)>0 AND isnotnull(grams)` filter and push it below the
    * scan's exchange, where it re-derives the full shingling expression
    * per row in the (unsplittable single-file) scan task — measured 2.5×
    * the whole query. A persisted array frame is a barrier: the inferred
    * filter probes the cached array instead of recomputing it.
    */
  def docGramArrays(df: DataFrame, idCol: String, textCol: String, n: Int)
      : DataFrame =
    // tokens materialize in their own projection (see the
    // wordShinglesFromTokens scaladoc — an inlined split re-tokenizes
    // once per emitted gram inside the interpreted transform lambda)
    df.select(col(idCol), Dedup.tokensOf(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(Dedup.wordShinglesFromTokens(col("__toks"), n))
          .as("__grams"))

  /** Contamination report over `corpus` against `eval`: for every corpus
    * document sharing at least one distinct n-gram with the eval set,
    * emit (idCol, matched_grams, total_grams, contamination_ratio).
    *
    * `matched_grams` counts the document's distinct grams that appear
    * anywhere in the eval set; callers threshold the ratio (or the raw
    * count) to drop or audit documents.
    *
    * Convenience composition for tests/small frames — it does NOT persist
    * the gram frames, so it takes the slow path the [[docGramArrays]]
    * scaladoc warns about. Production callers persist both array frames
    * and use [[overlapReportFromArrays]] (see the registered
    * `decontam_overlap_documents` query for the pattern).
    */
  def overlapReport(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame =
    overlapReportFromArrays(docGramArrays(corpus, idCol, textCol, n),
      docGramArrays(eval, idCol, textCol, n), idCol)

  /** The report over precomputed (id, __grams) frames — persist BOTH
    * first (see [[docGramArrays]]; exploding an unmaterialized gram
    * expression re-derives it per element in the interpreted Generate
    * path — measured 10× the cost of building the arrays themselves).
    * The corpus is shingled exactly once: the per-doc total rides
    * through the explode as a carried column, so totals need no second
    * scan and no re-join against a second gram computation.
    *
    * The distinct eval gram set is a fixed-hint broadcast
    * ([[graft.util.Gates.hinted]]) — the right shape while eval suites
    * are MBs against a TB corpus (map-side probe, zero corpus-gram
    * shuffle). Without the hint both sides hash-partition on the gram
    * key — one shuffle of each side's distinct grams, still never an
    * all-pairs comparison.
    */
  def overlapReportFromArrays(corpusArrays: DataFrame,
      evalArrays: DataFrame, idCol: String): DataFrame = {
    val evalSet = evalArrays
      .select(explode(col("__grams")).as("gram")).distinct()
    corpusArrays
      .select(col(idCol),
        size(col("__grams")).cast("long").as("total_grams"),
        explode(col("__grams")).as("gram"))
      .join(Gates.hinted(evalSet), "gram")
      .groupBy(col(idCol), col("total_grams"))
      .agg(count(lit(1)).as("matched_grams"))
      .select(col(idCol), col("matched_grams"), col("total_grams"),
        (col("matched_grams").cast("double") / col("total_grams"))
          .as("contamination_ratio"))
  }

  /** EVAL-ITEM EXPOSURE — the REVERSE view of
    * [[overlapReportFromArrays]], the report a benchmark maintainer
    * reads: per EVAL document, how much of it leaks in the training
    * corpus — how many of its distinct n-grams occur anywhere in the
    * corpus (`matched_grams`) and how many distinct corpus documents
    * carry at least one of them (`exposed_docs`). High exposure means
    * the eval item cannot measure generalization against models
    * trained on this corpus, whichever side does the filtering.
    *
    * Scale shape mirrors the forward report with the roles kept: the
    * EVAL side is still the small one, so its exploded grams
    * BROADCAST and the corpus grams stream map-side through the join —
    * no corpus-gram shuffle; the aggregation is eval-doc-grain.
    * Output: `(idCol, n_grams, matched_grams, exposed_docs,
    * exposure_frac)`, one row per eval doc (zero-exposure docs
    * included).
    */
  def exposureReportFromArrays(evalArrays: DataFrame,
      corpusArrays: DataFrame, idCol: String): DataFrame = {
    val evalG = evalArrays
      .select(col(idCol), explode(col("__grams")).as("gram"))
    val corpusG = corpusArrays
      .select(col(idCol).as("__cid"), explode(col("__grams")).as("gram"))
    val hits = Gates.hinted(evalG)
      .join(corpusG, Seq("gram"))
      .groupBy(col(idCol)).agg(
        countDistinct(col("gram")).as("matched_grams"),
        countDistinct(col("__cid")).as("exposed_docs"))
    evalArrays
      .select(col(idCol), size(col("__grams")).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("matched_grams"), lit(0L)).as("matched_grams"),
        coalesce(col("exposed_docs"), lit(0L)).as("exposed_docs"),
        (coalesce(col("matched_grams"), lit(0L)).cast("double") /
          greatest(col("n_grams"), lit(1))).as("exposure_frac"))
  }

  /** SURGICAL (span-level) decontamination: instead of dropping a
    * contaminated document wholesale, remove only the tokens covered by
    * any n-gram shared with the eval set and rebuild the text — the
    * higher-recall release treatment when the corpus is precious.
    *
    * Per-doc output: `(doc_id, n_tokens, kept_tokens, removed_tokens,
    * clean_md5)` where clean_md5 hashes the space-rejoined surviving
    * tokens (md5("") for fully-scrubbed or empty docs). Window
    * semantics mirror [[docGramArrays]]: a doc shorter than n tokens is
    * one whole-doc window — if it matches, everything scrubs.
    *
    * Scale shape: the eval gram set broadcasts (map-side probe fused
    * with the corpus scan — the [[overlapReportFromArrays]] rationale);
    * HIT windows only are exploded to covered positions (bounded by
    * contamination volume, not corpus size); the rebuild is one
    * doc-keyed aggregation over the anti-joined token stream. Per-row
    * window hashing stays in whole-stage codegen (explode the int
    * starts first — the SpanDedup lesson).
    */
  def scrubSpans(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    // the eval ARRAY frame is cached per the docGramArrays contract (the
    // join above the explode otherwise re-derives the shingling per row);
    // released once the result is materialized
    Frames.cached(docGramArrays(eval, idCol, textCol, n)) { evalArrays =>
      val evalSet = evalArrays
        .select(explode(col("__grams")).as("__eg")).distinct()
      // cached: three consumers (window pass, token stream, totals)
      // would otherwise re-scan and re-tokenize the corpus each — measured
      // 5.4 → 1.9s at sf0.1. The result is localCheckpoint-materialized
      // below so BOTH caches release before returning (the lshKnnGraph
      // lifecycle — a long-lived session scrubbing many corpora must not
      // accumulate two leaked cached frames per call); a caller scrubbing
      // a 100 TB corpus should persist to DISK via StorageLevel instead.
      Frames.cached(corpus
          .select(col(idCol).as("doc_id"),
            Dedup.tokensOf(col(textCol)).as("toks"))
          .select(col("doc_id"), col("toks"),
            size(col("toks")).cast("long").as("n_tokens"))) { base =>
        val spans = base
          .filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("toks"), col("n_tokens"),
            explode(sequence(lit(1),
              greatest(size(col("toks")) - (n - 1), lit(1)))).as("i"))
          .select(col("doc_id"), col("n_tokens"),
            (col("i") - 1).cast("long").as("pos"),
            concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("__g"))
        val hits = spans
          .join(Gates.hinted(evalSet), col("__g") === col("__eg"))
          .select(col("doc_id"), col("pos"), col("n_tokens"))
        val covered = hits
          .select(col("doc_id"), explode(sequence(col("pos"),
            least(col("pos") + (n - 1), col("n_tokens") - 1))).as("pos"))
          .distinct()
        val toks = base
          .select(col("doc_id"),
            posexplode(col("toks")).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("tok"))
        val rebuilt = toks
          .join(covered, Seq("doc_id", "pos"), "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("kept_tokens"),
            md5(concat_ws(" ",
              transform(array_sort(collect_list(
                  struct(col("pos"), col("tok")))),
                x => x.getField("tok"))).cast("binary")).as("clean_md5"))
        base.select("doc_id", "n_tokens")
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
            (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
              .as("removed_tokens"),
            coalesce(col("clean_md5"),
              md5(lit("").cast("binary"))).as("clean_md5"))
          // one row per doc: materialize on the executors while both
          // caches are live (never collected through the driver), then
          // release them
          .localCheckpoint(true)
      }
    }
  }
}
