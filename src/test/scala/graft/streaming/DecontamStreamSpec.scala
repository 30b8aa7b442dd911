package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Decontam

/** Pins [[StreamingPipelines.decontamStream]]: the per-doc sink equals
  * the batch operator under any micro-batch cut (contamination is a
  * pure function of (doc, eval set)), the maintained ledger carries
  * exact corpus totals, and its per-batch partials compact under the
  * [[BatchState]] protocol.
  */
class DecontamStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val N = 3
  // eval doc plants one 3-gram ("e1 e2 e3"); corpus docs either carry
  // it mid-text (contaminated) or not
  private def evalDocs = Seq((100L, "e1 e2 e3 tail words here"))
    .toDF("doc_id", "text")
  private def corpus = (0L until 12L).map { i =>
    val base = (0 until 8).map(j => s"c${i}_$j")
    val text =
      if (i % 3 == 0) (base.take(4) ++ Seq("e1", "e2", "e3") ++
        base.drop(4)).mkString(" ")
      else base.mkString(" ")
    (i, text)
  }.toDF("doc_id", "text")

  private def run(files: Int, compactEvery: Int = 16)
      : (Set[(Long, Long, Long)], Seq[Any], String) = {
    val (src, report, ledger, state, ckpt) = (tmpDir("dcs_src"),
      tmpDir("dcs_report"), tmpDir("dcs_ledger"), tmpDir("dcs_state"),
      tmpDir("dcs_ckpt"))
    (0 until files).foreach { i =>
      corpus.filter(pmod(col("doc_id"), lit(files)) === i)
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(30)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.decontamStream(stream, "doc_id", "text",
        Decontam.docGramArrays(evalDocs, "doc_id", "text", N), N,
        report, ledger, state, ckpt, compactEvery = compactEvery)
      .awaitTermination()
    val sink = StreamingPipelines.decontamReports(spark, report)
      .select("doc_id", "matched_grams", "total_grams")
      .as[(Long, Long, Long)].collect().toSet
    val led = spark.read.parquet(ledger).collect().toSeq
    (sink, led, state)
  }

  test("sink equals the batch operator under any micro-batch cut; " +
      "ledger carries exact corpus totals") {
    val cg = Decontam.docGramArrays(corpus, "doc_id", "text", N)
      .persist()
    val batch = Decontam.overlapReportFromArrays(cg,
        Decontam.docGramArrays(evalDocs, "doc_id", "text", N), "doc_id")
      .select("doc_id", "matched_grams", "total_grams")
      .as[(Long, Long, Long)].collect().toSet
    cg.unpersist(blocking = false)
    assert(batch.map(_._1) === Set(0L, 3L, 6L, 9L),
      "fixture sanity: exactly the planted docs are contaminated")
    val (one, ledOne, _) = run(1)
    val (five, ledFive, _) = run(5)
    assert(one === batch, "single drain must equal the batch operator")
    assert(five === batch, "5-batch drain must equal the batch operator")
    assert(ledOne === ledFive, "ledger must be cut-independent")
    val r = ledOne.head.asInstanceOf[org.apache.spark.sql.Row]
    assert(r.getLong(0) === 12L)            // n_docs
    assert(r.getLong(1) === 4L)             // contaminated_docs
    assert(r.getDouble(4) === 4.0 / 12.0)   // contaminated_frac
  }

  test("ledger partials compact into one generation (12 batches, " +
      "compactEvery = 4)") {
    val (sink, led, state) = run(12, compactEvery = 4)
    assert(sink.map(_._1) === Set(0L, 3L, 6L, 9L))
    val r = led.head.asInstanceOf[org.apache.spark.sql.Row]
    assert(r.getLong(0) === 12L && r.getLong(1) === 4L,
      "compaction must not change the maintained totals")
    val marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$state/_compacted_upto"))).trim
    assert(marker === "12", s"marker must read 12, got $marker")
    val entries = Option(new java.io.File(state).listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    assert(entries.filter(_.startsWith("compacted_g")) ===
      Set("compacted_g12"), "exactly one live generation")
    assert(!entries.exists(n => n.startsWith("b") &&
      n.drop(1).forall(_.isDigit)),
      s"folded partials must be dropped: $entries")
  }
}
