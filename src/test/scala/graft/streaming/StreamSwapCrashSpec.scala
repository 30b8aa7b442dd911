package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec
import graft.io.Tables
import graft.pipeline.{Actives, Scd1}

/** Local filesystem under the `crashswap:` scheme whose renames onto
  * [[CrashSwapFs.target]] are counted; the one numbered
  * [[CrashSwapFs.failAt]] fails (returns false), so a micro-batch dies
  * between losing its old target dir and gaining the new one.
  */
class CrashSwapFs extends RawLocalFileSystem {
  override def getScheme: String = "crashswap"
  override def getUri: java.net.URI = java.net.URI.create("crashswap:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val ontoTarget = dst.toUri.getPath == CrashSwapFs.target.get
    if (ontoTarget &&
        CrashSwapFs.renamesOnto.incrementAndGet() == CrashSwapFs.failAt) false
    else super.rename(src, dst)
  }
}

object CrashSwapFs {
  val target = new AtomicReference[String]("")
  val renamesOnto = new AtomicInteger(0)
  /** Batch 0's swap is rename 1, batch 1's is rename 2. */
  val failAt = 2

  /** Arm the crash for `dir` and return it as a `crashswap:` path. */
  def arm(dir: String): String = {
    renamesOnto.set(0)
    target.set(dir)
    s"crashswap:$dir"
  }
}

/** A crash inside the whole-dir swap of `incrementalScd1` and
  * `activesStream`: the rename of the merged dir onto the target fails
  * once, on batch 1, after the old target left its place. A restart on
  * the same checkpoint replays batch 1 and must end at the same state as
  * an uninterrupted run — nothing from batch 0 may be lost.
  */
class StreamSwapCrashSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `ts` grows with `event_id` in the fixture, so thirds of the id
    * range are arrival waves in event time: a stream of SCD1 upserts
    * over them ends at the latest row per key.
    */
  private val WaveSize = 334

  /** The fixture's events with users 0-4 stopping after the first
    * third: their rows exist only before the crashed batch.
    */
  private def events(cols: String*): DataFrame =
    Tables.load(spark, sf, "events")
      .filter(col("user_id") >= 5 || col("event_id") < WaveSize)
      .select(cols.map(col): _*)

  /** `events` staged as 3 one-file waves under a fresh source dir. */
  private def waves(events: DataFrame): String = {
    val src = tmpDir("graft_swapcrash_src")
    (0 until 3).foreach { w =>
      events.filter(floor(col("event_id") / WaveSize) === w).coalesce(1)
        .write.mode("append").parquet(src)
    }
    src
  }

  /** Start `run` on a one-file-per-batch stream: it must die on the armed
    * rename; a second start on the same checkpoint drains the rest.
    */
  private def crashAndRestart(events: DataFrame, src: String)(
      run: DataFrame => StreamingQuery): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashswap.impl", classOf[CrashSwapFs].getName)
    def stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val crashed = run(stream)
    intercept[StreamingQueryException](crashed.awaitTermination(120000))
    assert(CrashSwapFs.renamesOnto.get >= CrashSwapFs.failAt,
      "the armed swap rename never ran")
    assert(run(stream).awaitTermination(120000), "restart timed out")
  }

  test("incrementalScd1 resumes a swap that crashed mid-rename without " +
      "losing the earlier batches") {
    val events = this.events("event_id", "user_id", "event_type", "ts",
      "value")
    val src = waves(events)
    val target = CrashSwapFs.arm(tmpDir("graft_swapcrash_scd1") + "/t")
    val ckpt = tmpDir("graft_swapcrash_scd1_ckpt")
    crashAndRestart(events, src) { stream =>
      StreamingPipelines.incrementalScd1(stream, target,
        keys = Seq("user_id"), orderCol = "ts",
        tieBreakers = Seq("event_id"), checkpoint = ckpt)
    }
    val got = spark.read.parquet(target)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Scd1.latestPerKey(events, Seq("user_id"), "ts",
        tieBreakers = Seq("event_id"))
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(!new java.io.File(s"${target.stripPrefix("crashswap:")}.bak")
      .exists(), "the swap backup must be consumed")
  }

  test("activesStream resumes a state swap that crashed mid-rename " +
      "without losing the earlier batches") {
    val events = this.events("event_id", "user_id", "ts")
    val src = waves(events)
    val state = CrashSwapFs.arm(tmpDir("graft_swapcrash_act") + "/state")
    val report = tmpDir("graft_swapcrash_act_out")
    val ckpt = tmpDir("graft_swapcrash_act_ckpt")
    crashAndRestart(events, src) { stream =>
      StreamingPipelines.activesStream(stream, "user_id", "ts", 7,
        state, report, ckpt)
    }
    val pairs = Actives.pairs(events, "user_id", "ts")
    val gotState = spark.read.parquet(state)
    assert(gotState.count() === pairs.count())
    assert(gotState.exceptAll(pairs).isEmpty &&
      pairs.exceptAll(gotState).isEmpty)
    assert(spark.read.parquet(report).orderBy("day").collect().toSeq ===
      Actives.rolling(events, "user_id", "ts", 7).orderBy("day")
        .collect().toSeq)
  }
}
