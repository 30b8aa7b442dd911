package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.dedup.IncrementalNearDup

/** The persisted state of [[StreamingPipelines.nearDupStream]] IS the
  * batch operator's corpus index: one micro-batch over the sf0.01
  * `documents` lands `b0/sets` and `b0/bands` rows equal to
  * [[IncrementalNearDup.buildOracled]] over the same documents, so a
  * drained stream's state can be probed by the batch operator (and the
  * other way round) without a re-drain.
  */
class NearDupStreamIndexSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def assertSameRows(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    assert(got.count() === want.count(), s"$what: row count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$what: rows differ from the batch index")
  }

  test("one drained file persists the batch operator's md5 index") {
    val (src, state, out, ckpt) = (tmpDir("ndix_src"),
      tmpDir("ndix_state"), tmpDir("ndix_out"), tmpDir("ndix_ckpt"))
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text", state,
        out, ckpt)
      .awaitTermination()
    val index = IncrementalNearDup.buildOracled(docs, "doc_id", "text")
    assertSameRows(spark.read.parquet(s"$state/b0/sets"),
      index.sets, "b0/sets")
    assertSameRows(spark.read.parquet(s"$state/b0/bands"),
      index.bands, "b0/bands")
  }
}
