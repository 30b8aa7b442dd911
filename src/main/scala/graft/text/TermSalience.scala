package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Gates

/** Per-document salient-term extraction — TF-IDF-shaped ranking kept in
  * EXACT integer arithmetic: terms rank by (term frequency DESC, document
  * frequency ASC, term ASC). The float idf = log(N/df) is a monotone
  * transform of df, so for a fixed tf the float and integer rankings
  * agree — but the integer form is engine-portable (no libm ulp drift)
  * and therefore hash-oracle-able. Salient terms feed topic tagging and
  * domain-classification features in corpus curation.
  *
  * Scale shape: tokenize → explode → two hash aggregations (tf on
  * (doc, term), df on term — both map-side combinable) → a term-keyed
  * join of tf against the (vocabulary-sized, much smaller) df frame →
  * one doc-keyed window for the top-k cut. No frame ever carries more
  * than (doc, term) pairs; the vocabulary side of the join is a
  * candidate for broadcast when the dictionary fits.
  */
object TermSalience {

  val DefaultK = 3
  val MinTermLen = 3

  /** `(doc_id, term, tf, df, rank)` for the top-`k` salient terms of
    * each doc; stopwords and terms shorter than [[MinTermLen]] are
    * excluded. Docs with no qualifying terms are absent.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultK): DataFrame = {
    val stops = array(TextAnalysis.Stopwords.map(lit): _*)
    // materialize the token array before exploding (interpreted HOF +
    // explode re-derivation — the shared shingling lesson)
    val terms = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(length(col("term")) >= MinTermLen &&
        !array_contains(stops, col("term")))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    // df is vocabulary-sized (sublinear in the corpus) — broadcast it so
    // the (doc, term)-sized tf side is never re-shuffled onto term; the
    // only remaining exchange is the window's doc_id partition. Without
    // the hint this degrades to a co-partitioned shuffle join, not a
    // different algorithm.
    tf.join(Gates.hinted(df), "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "rank")
  }
}
