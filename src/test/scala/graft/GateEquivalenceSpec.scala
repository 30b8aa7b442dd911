package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.util.{DeferredCleanup, Gates}

/** Every registered lane whose builder reaches a [[Gates]] decision
  * returns the same rows past its gates: run once normally and once with
  * every decision forced to its large-input branch (and Spark's own
  * auto-broadcast off), at sf0.01. A gate picks a plan, never a result.
  */
class GateEquivalenceSpec extends SparkSpec {

  private val dir = SparkSpec.corpusDir("0.01")

  for (name <- GateEquivalenceSpec.Lanes)
    test(s"$name: the same rows past every gate") {
      val normal = GateEquivalenceSpec.rowsOf(spark, name, dir)
      val before = Gates.flips
      val forced = GateEquivalenceSpec.pastGates(spark) {
        GateEquivalenceSpec.rowsOf(spark, name, dir)
      }
      assert(Gates.flips > before,
        "the forced run must leave the default branch of some gate")
      GateEquivalenceSpec.difference(normal, forced).foreach(d => fail(d))
    }
}

object GateEquivalenceSpec {

  /** The lanes whose builders reach a [[Gates]] decision: every
    * registered lane that turned one under the switch at sf0.01.
    */
  val Lanes: Seq[String] = Seq(
    "graph_closure_customers", "graph_components_parts",
    "graph_pagerank_parts", "mdm_golden_customers",
    "text_bpe_encode_documents", "dedup_incremental_documents",
    "dedup_incremental_minhash_documents",
    "stream_neardup_documents", "stream_decontam_documents",
    "stream_substring_scrub_documents",
    "text_topterms_documents", "text_collocations_documents",
    "text_boilerplate_documents",
    "decontam_overlap_documents", "decontam_exposure_documents",
    "decontam_scrub_spans_documents", "corpus_decontam_pipeline_documents",
    "events_assoc_rules", "corpus_mix_documents",
    "corpus_mix_weighted_documents", "corpus_sample_documents")

  /** `body` past every gate, with auto-broadcast off; both restored. */
  def pastGates[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try Gates.pastGates(body) finally spark.conf.set(key, prev)
  }

  /** A lane's result, columns sorted by name, rows canonicalized and
    * sorted (the `tools/verify_local.py` compare); caches released.
    */
  def rowsOf(spark: SparkSession, name: String,
      dir: String): (Seq[String], Seq[Seq[Any]]) =
    try {
      val df: DataFrame = SparkEntry.queries(name)(spark, dir)
      val cols = df.columns.toSeq.sorted
      (cols, df.select(cols.map(col): _*).collect().toSeq
        .map(r => r.toSeq.map(canon)).sortBy(_.toString))
    } finally {
      spark.catalog.clearCache()
      DeferredCleanup.drain()
    }

  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_.toString)
    case s: scala.collection.Seq[_] => s.toSeq.map(canon)
    case x => x
  }

  /** None when the two results match exactly, or within `rtol` 1e-9 /
    * `atol` 1e-12 on floating values; else what differs.
    */
  def difference(a: (Seq[String], Seq[Seq[Any]]),
      b: (Seq[String], Seq[Seq[Any]])): Option[String] =
    if (a._1 != b._1) Some(s"columns ${a._1} vs ${b._1}")
    else if (a._2.size != b._2.size)
      Some(s"rows ${a._2.size} vs ${b._2.size}")
    else if (a._2 == b._2) None
    else a._2.zip(b._2).collectFirst {
      case (x, y) if !close(x, y) => s"row $x vs $y"
    }

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) =>
      (p.isNaN && q.isNaN) || p == q ||
        math.abs(p - q) <= 1e-12 + 1e-9 * math.abs(q)
    case (p: Float, q: Float) => close(p.toDouble, q.toDouble)
    case (p: Seq[_], q: Seq[_]) =>
      p.size == q.size && p.zip(q).forall { case (i, j) => close(i, j) }
    case (p: Product, q: Product) =>
      close(p.productIterator.toSeq, q.productIterator.toSeq)
    case _ => x == y
  }
}
