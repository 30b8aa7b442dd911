package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 embedding quantization — the standard 4× memory cut for
  * ANN at scale (a 100 TB float32 embedding store drops to 25 TB of
  * codes + 2 doubles per dimension; brute/IVF scoring then decodes on
  * the fly). Affine per-dimension scheme: code = ⌊(v − lo_d) · 255 /
  * (hi_d − lo_d)⌋ with (lo_d, hi_d) the corpus min/max of dimension d —
  * every step (float→double widen, subtract, multiply, divide, floor)
  * is a deterministic IEEE operation, so codes are bit-identical in any
  * engine and the calibration report hash-oracles exactly.
  *
  * Scale shape: calibration is explode → ONE map-side-combinable
  * min/max aggregation to a dims-sized frame (64 rows); the code audit
  * joins the exploded values against the BROADCAST stats (dims-sized —
  * never data-sized); encoding is a per-row array expression against
  * the collected stats arrays (no shuffle at all).
  */
object Quantize {

  val Levels = 255 // codes 0..255; v = hi lands exactly on 255

  /** Per-dimension calibration + code audit:
    * `(dim, lo, hi, n_values, min_code, max_code, avg_code)` — lo/hi
    * are the corpus min/max (the quantizer parameters), the code stats
    * audit the resulting distribution (a collapsed dimension — hi = lo
    * — codes everything to 0). `avg_code` is one IEEE division of an
    * exact integer sum.
    */
  def int8Report(emb: DataFrame, vecCol: String): DataFrame = {
    val vals = emb.select(posexplode(col(vecCol).cast("array<double>"))
      .as(Seq("dim", "v")))
    val stats = vals.groupBy("dim")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val code = codeExpr(col("v"), col("lo"), col("hi"))
    vals.join(broadcast(stats), "dim")
      .select(col("dim"), col("lo"), col("hi"), code.as("code"))
      .groupBy("dim", "lo", "hi")
      .agg(count(lit(1)).as("n_values"),
        min(col("code")).as("min_code"),
        max(col("code")).as("max_code"),
        (sum(col("code")).cast("double") / count(lit(1)))
          .as("avg_code"))
      .select(col("dim").cast("long").as("dim"), col("lo"), col("hi"),
        col("n_values"), col("min_code"), col("max_code"),
        col("avg_code"))
  }

  private def codeExpr(v: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0L))
      .otherwise(floor((v - lo) * Levels.toDouble / (hi - lo))
        .cast("long"))

  /** Encode every vector to its int8 code array using a calibration
    * frame from [[int8Report]] (or any `(dim, lo, hi)` frame). The
    * stats COLLECT to two dims-length arrays (bounded by the embedding
    * width, never by the corpus) and ride into a single per-row
    * transform — zero shuffles, zero joins. Returns the input plus
    * `<vecCol>_q` (array<long> of 0..255 codes).
    */
  def encode(emb: DataFrame, vecCol: String, stats: DataFrame): DataFrame =
    emb.withColumn(s"${vecCol}_q",
      zip_with(col(vecCol).cast("array<double>"), calibration(stats),
        (v, lh) => when(lh.getField("h") === lh.getField("l"), lit(0L))
          .otherwise(floor((v - lh.getField("l")) * Levels.toDouble /
            (lh.getField("h") - lh.getField("l"))).cast("long"))))

  /** A `(dim, lo, hi)` calibration frame collected into one literal
    * array of `(l, h)` structs in dim order.
    */
  private def calibration(stats: DataFrame): Column = {
    val s = stats.select(col("dim").cast("int"), col("lo"), col("hi"))
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .toMap
    val dims = s.keys.toSeq.sorted
    require(dims == dims.indices.toList,
      s"calibration must cover dims 0..${dims.size - 1} contiguously")
    zip_with(
      array(dims.map(d => lit(s(d)._1)): _*),
      array(dims.map(d => lit(s(d)._2)): _*),
      (l, h) => struct(l.as("l"), h.as("h")))
  }

  /** The input plus `<vecCol>_dec`: each vector quantized THROUGH the
    * int8 codes and decoded back (v̂ = lo + ⌊…⌋·(hi−lo)/255; a collapsed
    * dimension decodes to lo exactly) — the value a scorer reading the
    * 4×-smaller code store actually sees. Same zero-shuffle literal-
    * array shape as [[encode]].
    */
  def decodedView(emb: DataFrame, vecCol: String,
      stats: DataFrame): DataFrame =
    emb.withColumn(s"${vecCol}_dec",
      zip_with(col(vecCol).cast("array<double>"), calibration(stats),
        (v, lh) => {
          val (l, h) = (lh.getField("l"), lh.getField("h"))
          when(h === l, l).otherwise(
            l + floor((v - l) * Levels.toDouble / (h - l)) *
              (h - l) / Levels.toDouble)
        }))

  /** Brute-force top-k where the CORPUS side scores through its int8
    * codes (asymmetric distance: float queries vs decoded corpus) — the
    * memory-cut ANN configuration at 100 TB: the store holds codes +
    * 2 doubles/dim, scoring decodes on the fly, and ranking error is
    * bounded by the per-dim quantization step. Delegates the scoring/
    * ranking to [[Similarity.bruteForceTopK]] over the decoded view.
    */
  def topKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, stats: DataFrame): DataFrame =
    Similarity.bruteForceTopK(
      decodedView(corpus, vecCol, stats)
        .select(col(idCol), col(s"${vecCol}_dec").as(vecCol)),
      queries, idCol, vecCol, k)
}
