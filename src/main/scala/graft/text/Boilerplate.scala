package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Gates

/** Per-source boilerplate-line removal — the C4/CCNet cleanup step that
  * precedes dedup in every web-scale pretraining pipeline: a line that
  * recurs across many documents of the SAME source (navigation chrome,
  * cookie banners, footers) is template, not content, and repeats
  * millions of times in the token stream if left in. The unit is the
  * line and the scope is the source because that is how templates
  * exist: a crawl's host-level chrome is near-identical across that
  * host's pages and meaningless across hosts.
  *
  * A line is boilerplate when it occurs in at least
  * `max(minDocs, ceil(minFrac · sourceDocs))` DISTINCT documents of its
  * source — the frequency is document frequency, not occurrence count,
  * so a single page repeating a line cannot promote it. Removal
  * preserves the relative order of surviving lines; a fully-templated
  * document survives as an empty string (dropping rows is the
  * downstream curation filter's decision, not the cleaner's).
  *
  * Determinism: strings, exact counts, and integer thresholds only —
  * no floating point beyond the `minFrac · sourceDocs` product feeding
  * `ceil` (exact for any plausible document count), so the oracle
  * replays bit-for-bit.
  *
  * Scale shape: the `posexplode` line stream is PRODUCED TWICE — once
  * for the document-frequency count, once for the rebuild join — a
  * deliberate recompute-over-cache call: splitting strings is cheap
  * codegen'd scan work, while persisting a corpus-sized line frame at
  * 100 TB would evict everything else (contrast [[Collocations]],
  * whose persisted frame feeds THREE consumers and is token-sized
  * before any explode multiplies it). The per-(source, line) document
  * frequency is a distinct + map-side-combinable count whose output is
  * template-cardinality-sized; the boilerplate set (lines that CLEARED
  * the threshold — far smaller still) broadcasts onto the line stream
  * as a fixed hint ([[graft.util.Gates.hinted]]; without the hint the
  * same plan shuffles); reassembly is ONE shuffle by document id. The
  * corpus text itself is never joined against anything corpus-sized.
  * At 100 TB the only sizing dial is the line-frequency frame:
  * host-level grouping keeps it bounded by templates-per-host, the
  * exact shape CCNet runs at crawl scale.
  */
object Boilerplate {

  /** `(idCol, sourceCol, n_lines, n_removed, clean_text)` — one row per
    * input document; `clean_text` is the surviving lines re-joined with
    * `\n` in original order (empty string when everything was
    * template).
    */
  def removeCommonLines(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, minFrac: Double = 0.5,
      minDocs: Int = 2): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, "minFrac must be in (0, 1]")
    // null text → empty text BEFORE the explode: posexplode of a null
    // array emits no rows, which would silently DROP the document from
    // the output — breaking the one-row-per-document contract this
    // scaladoc promises. An empty string explodes to one empty line,
    // keeping the row (and, like any line, an empty line only becomes
    // template if enough documents of the source share it).
    val lines = docs.select(col(idCol), col(sourceCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__pos", "__line")))
    val srcSizes = docs.groupBy(col(sourceCol))
      .agg(countDistinct(col(idCol)).as("__src_docs"))
    // document frequency per (source, line): distinct docs, then count
    val lineDf = lines.select(col(sourceCol), col("__line"), col(idCol))
      .distinct()
      .groupBy(col(sourceCol), col("__line"))
      .agg(count(lit(1)).as("__docs"))
    val common = lineDf.join(srcSizes, sourceCol)
      .filter(col("__docs") >= greatest(lit(minDocs.toLong),
        ceil(col("__src_docs") * minFrac)))
      .select(col(sourceCol), col("__line"), lit(true).as("__bp"))
    val flagged = lines.join(Gates.hinted(common),
      Seq(sourceCol, "__line"), "left")
    flagged.groupBy(col(idCol), col(sourceCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__bp"), 1L).otherwise(0L)).as("n_removed"),
        // collect_list drops the nulls the `when` leaves for boilerplate
        // lines; struct sort restores original position order
        array_join(transform(
          array_sort(collect_list(when(col("__bp").isNull,
            struct(col("__pos"), col("__line"))))),
          x => x("__line")), "\n").as("clean_text"))
  }
}
