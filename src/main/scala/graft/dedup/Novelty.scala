package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Frames

/** N-gram novelty / memorization-contribution audit: for every
  * document, the fraction of its distinct k-word shingles whose
  * corpus-wide FIRST OWNER (minimum document id) is the document
  * itself. A near-duplicate of an earlier document scores ~0 (it
  * contributes nothing the corpus does not already have); fresh
  * content scores ~1 — the per-document complement of the pairwise
  * dedup lanes, and the report a curation pipeline uses to rank
  * sources by marginal contribution or to flag verbatim-memorization
  * risk before training.
  *
  * Scale shape: one shingle explode + per-doc distinct (the span-dedup
  * frame), then TWO combinable aggregations over it — per-doc gram
  * counts, and per-gram min-id ownership re-aggregated by owner — with
  * no gram-keyed join back (ownership counting IS the second
  * aggregation); the gram frame is persisted across its two consumers
  * and released before returning (the Vocab lifecycle). Deterministic
  * by construction: min-id ownership and exact counts, one IEEE
  * division per doc.
  */
object Novelty {

  /** `(idCol, n_grams, n_novel, novelty)` per document — one row out
    * per row in; docs without shingles (empty text) carry 0 grams and
    * a null novelty.
    */
  def firstOwnership(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "need a positive shingle width")
    Frames.cached(docs
        .select(col(idCol), Dedup.tokensOf(col(textCol)).as("__t"))
        .select(col(idCol),
          explode(Dedup.wordShinglesFromTokens(col("__t"), k)).as("g"))
        .distinct()) { grams =>
      val perDoc = grams.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_grams"))
      val novel = grams.groupBy(col("g"))
        .agg(min(col(idCol)).as(idCol))
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
      // DOC-GRAIN output: materialized with localCheckpoint (never a
      // driver collect) so the gram cache can release on return
      docs.select(col(idCol))
        .join(perDoc, Seq(idCol), "left")
        .join(novel, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(coalesce(col("n_grams"), lit(0L)) === 0,
            lit(null).cast("double"))
            .otherwise(coalesce(col("n_novel"), lit(0L)).cast("double")
              / col("n_grams").cast("double")).as("novelty"))
        .localCheckpoint(true)
    }
  }
}
