package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingPipelines

/** Corpus micro-batches: one call drains one seeded sequence of ordered
  * batch files through StreamingPipelines.nearDupStream with its own
  * persisted state. The call's units are its micro-batches; per-batch
  * latency is the progress report's `triggerExecution` time.
  */
final class NearDupSequences(statePartitions: Int) {
  import Main._

  val addBatch = mutable.ArrayBuffer.empty[Double]
  val walCommit = mutable.ArrayBuffer.empty[Double]
  val stateBytes = mutable.ArrayBuffer.empty[Double]

  def clear(): Unit = { addBatch.clear(); walCommit.clear(); stateBytes.clear() }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(); ()
  }

  /** Drain sequence `s`, keeping the stream's state, matches and
    * checkpoint under `base` (removed afterwards). The stream runs in a
    * session of its own whose shuffle width is sized to the micro-batch,
    * as the engine's registered streaming queries do.
    */
  def run(spark: SparkSession, t: Tracer, s: Manifest, base: String)
      : Call = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    val in = str(s, "dir")
    val call = timed("neardup", str(s, "id")) {
      val schema = iso.read.parquet(in).schema
      val src = t.span("io", "readStream.parquet")(
        iso.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in))()
      val q = t.span("streaming", "StreamingPipelines.nearDupStream")(
        StreamingPipelines.nearDupStream(src, "doc_id", "text",
          s"$base/state", s"$base/matches", s"$base/ckpt")) { q =>
        q.awaitTermination(); q
      }
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      progress.foreach { p =>
        val d = p.durationMs.asScala
        def sec(k: String) = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
        addBatch += sec("addBatch")
        walCommit += sec("walCommit") + sec("commitOffsets")
      }
      (progress.map(_.durationMs.get("triggerExecution").doubleValue / 1e3),
        progress.size)
    } { case (batchSeconds, n) =>
      Js.obj("batches" -> Js.num(n),
        "batch_s" -> Js.arr(batchSeconds.map(Js.num)),
        "matches" -> rowsJs(StreamingPipelines
          .nearDupMatches(iso, s"$base/matches")
          .select("batch_id", "dup_of", "jaccard")))
    }
    stateBytes += dirBytes(new java.io.File(s"$base/state")).toDouble
    delete(new java.io.File(base))
    call.copy(units = num(s, "files").toInt)
  }
}
