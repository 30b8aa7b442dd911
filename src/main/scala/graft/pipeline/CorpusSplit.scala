package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Frames

/** Deterministic train/val/test corpus split + duplicate-leakage audit —
  * the release gate every training-data pipeline runs before cutting an
  * eval set: assign each document to a split by seeded hash (stable
  * across runs, engines and corpus growth — a document's split never
  * changes when other documents arrive), then audit whether DUPLICATED
  * CONTENT straddles the boundary (a doc whose fingerprint also appears
  * in another split leaks train signal into eval — the within-corpus
  * complement of benchmark decontamination, [[graft.text.Decontam]]).
  *
  * Split assignment: `md5(seed ':' id)` first 4 hex nibbles compared as
  * strings against hex cut points. Lowercase-hex string order is
  * numeric order, so `prefix < "cccc"` is exactly `v < 0xcccc` —
  * fractions are quantized to n/65536 (0.8 → 52428/65536 ≈ 0.79999),
  * which keeps the rule engine-portable with zero arithmetic: DuckDB
  * replays the comparison verbatim. Stateless per-row expression — no
  * shuffle, no RNG state, re-splitting with a new seed is a pure
  * recompute (the [[Sharding]] determinism story).
  *
  * Leakage audit shape at 100 TB: ONE corpus-sized map-side-combinable
  * aggregation `groupBy(fingerprint, split)`; everything after operates
  * on the fingerprint-cardinality frame (per-fingerprint distinct-split
  * counts, then a per-split roll-up). The corpus is never joined or
  * shuffled a second time.
  */
object CorpusSplit {

  val DefaultSeed = "split42"

  /** 0xcccc/0x10000 ≈ 0.8 and 0xe666/0x10000 ≈ 0.9: 80/10/10. */
  val TrainCut = "cccc"
  val ValCut = "e666"

  /** Adds a `split` column (`train`/`val`/`test`) keyed on
    * `md5(seed ':' id)`.
    */
  def assign(docs: DataFrame, idCol: String,
      seed: String = DefaultSeed, trainCut: String = TrainCut,
      valCut: String = ValCut): DataFrame = {
    require(trainCut < valCut,
      s"cut points must be ordered hex, got $trainCut >= $valCut")
    val prefix = substring(
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))
        .cast("binary")), 1, 4)
    docs.withColumn("split",
      when(prefix < trainCut, lit("train"))
        .when(prefix < valCut, lit("val"))
        .otherwise(lit("test")))
  }

  /** The ONE corpus-sized pass of the audit: per-(fingerprint, split)
    * doc counts — a map-side-combinable aggregate whose output is
    * fingerprint-cardinality-sized. Split out so [[leakageAudit]] can
    * persist it (four lazy consumers below would otherwise each
    * re-scan the corpus — the defect CorpusSplitSpec's plan pin
    * caught) and so the spec can pin the single-scan shape.
    */
  private[graft] def fingerprintSplitCounts(assigned: DataFrame,
      fpCol: String): DataFrame =
    assigned.groupBy(col(fpCol).as("__fp"), col("split"))
      .agg(count(lit(1)).as("__docs"))

  /** Fingerprint-cardinality report algebra over a
    * [[fingerprintSplitCounts]] frame — every branch here re-reads that
    * frame, never the corpus.
    */
  private[graft] def leakageAuditFrom(fpSplit: DataFrame): DataFrame = {
    // in how many splits does each fingerprint occur
    val perFp = fpSplit.groupBy("__fp")
      .agg(count(lit(1)).as("__n_splits"))
    val flagged = fpSplit.join(perFp, "__fp")
    val report = flagged.groupBy("split")
      .agg(sum(col("__docs")).as("n_docs"),
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("__n_splits") >= 2, col("__docs")).otherwise(0L))
          .as("leaked_docs"))
    val total = broadcast(report.agg(sum(col("n_docs")).as("__total")))
    report.crossJoin(total)
      .select(col("split"), col("n_docs"), col("n_fingerprints"),
        col("leaked_docs"),
        (col("leaked_docs").cast("double") / col("n_docs").cast("double"))
          .as("leak_frac"),
        (col("n_docs").cast("double") / col("__total").cast("double"))
          .as("split_frac"))
      .orderBy("split")
  }

  /** Per-split audit over an assigned frame with a content fingerprint
    * column: `(split, n_docs, n_fingerprints, leaked_docs, leak_frac,
    * split_frac)` ordered by split. A doc is LEAKED when its fingerprint
    * also occurs in at least one OTHER split; `split_frac` is the
    * split's share of the corpus. Both fractions are single IEEE
    * divisions of exact longs (hash-stable).
    *
    * EAGER (the [[graft.text.Vocab.coverage]] lifecycle): the
    * fingerprint-split counts persist across the report's four
    * consumers — one corpus scan total — and the splits-sized result
    * localCheckpoints so the cache releases before return.
    */
  def leakageAudit(assigned: DataFrame, fpCol: String): DataFrame = {
    Frames.cached(fingerprintSplitCounts(assigned, fpCol))(
      leakageAuditFrom(_).localCheckpoint(true))
  }
}
