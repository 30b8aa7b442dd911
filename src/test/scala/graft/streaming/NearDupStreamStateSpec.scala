package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Pins the r12-directed state layer of
  * [[StreamingPipelines.nearDupStream]]:
  *
  *  1. the state path resolves through the Hadoop FileSystem API, so a
  *     NON-`file:` scheme ([[TestFs]]) yields the exact same matches a
  *     local path does — the r12 defect (`java.io.File` enumeration)
  *     silently emptied the probe index and reported zero duplicates
  *     on any such scheme;
  *  2. periodic compaction folds the per-batch band/set subdirs into
  *     one `compacted_g<upto>` generation in the persisted
  *     [[graft.dedup.IncrementalNearDup.Index]] layout, keeping the
  *     per-batch listing bounded by `compactEvery` tail dirs + 1
  *     generation on an arbitrarily long stream, without changing a
  *     single emitted match.
  */
class NearDupStreamStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** 40-word doc from vocabulary group `g`; one mid-word mutation keeps
    * jaccard ≈ 0.854 ≥ 0.8 (the StreamingPipelinesSpec fixture).
    */
  private def doc(g: Int, mut: Boolean = false): String =
    (0 until 40).map(i =>
      if (mut && i == 20) s"v${g}_$i" else s"w${g}_$i").mkString(" ")

  /** Write `waves` as mtime-ordered single files and drain them as
    * one-file micro-batches through nearDupStream.
    */
  private def drain(waves: Seq[Seq[(Long, String)]], statePath: String,
      compactEvery: Int = 16): (String, String) = {
    val (src, out, ckpt) =
      (tmpDir("ndst_src"), tmpDir("ndst_out"), tmpDir("ndst_ckpt"))
    waves.foreach { w =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text",
      statePath, out, ckpt, compactEvery = compactEvery)
      .awaitTermination()
    (out, ckpt)
  }

  test("non-file:// state scheme produces the same matches as a " +
      "local path (Hadoop FS resolution, the r12 X97 fix)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.testfs.impl", classOf[TestFs].getName)
    val waves = Seq(
      Seq(1L -> doc(1), 2L -> doc(2)),
      Seq(3L -> doc(1, mut = true), 4L -> doc(3)),
      Seq(5L -> doc(3), 6L -> doc(2)))
    val localState = tmpDir("ndst_state_fs")
    // the state path the stream sees carries the testfs: scheme — the
    // r12 java.io.File enumeration returns exists=false for every such
    // path, which silently emptied the probe index (zero matches)
    val (out, _) = drain(waves, s"testfs:$localState")
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L), (5L, 4L), (6L, 2L)),
      s"non-local scheme must probe the full index: $got")
    // the state physically landed under the local dir via TestFs
    assert(new java.io.File(s"$localState/b0/sets").isDirectory,
      "testfs: state must resolve to the backing local directory")
  }

  test("state and checkpoint survive a QUERY RESTART: a two-phase " +
      "drain (6 waves, stop, 6 more waves, new query, same " +
      "checkpoint/state) equals the single drain") {
    val run = new NearDupRun(spark, "ndrs", compactEvery = 4)
    run.write(0L until 6L)
    run.drain() // phase 1: checkpoint commits batches 0..5
    run.write(6L until 12L)
    run.drain() // RESTART: a new query resumes from the checkpoint
    assert(run.matches === NearDupRun.allPairs(12),
      "a restarted query must see the full pre-restart index and " +
        "emit exactly the single-drain matches")
    // the restart continued batch numbering, so compaction kept its
    // schedule: upto 8, tail b8..b11
    assert(run.marker === Some("8"))
  }

  test("a crash after a compaction generation lands but BEFORE its " +
      "marker is written resumes to the single-drain matches") {
    val run = new NearDupRun(spark, "ndcw", compactEvery = 4)
    run.write(0L until 4L)
    run.drain() // batches 0..3: the tail is not yet compactEvery long
    // the crash window inside batch 4: compacted_g4 (the union of
    // batches 0..3) landed, writeMarker never started — no marker, no
    // tmp, every partial still in place
    Seq("sets", "bands").foreach { l =>
      spark.read.parquet((0 until 4).map(i => s"${run.state}/b$i/$l"): _*)
        .write.parquet(s"${run.state}/compacted_g4/$l")
    }
    assert(run.marker.isEmpty &&
      !new java.io.File(s"${run.state}/_compacted_upto.tmp").exists())
    run.write(4L until 8L)
    run.drain() // RESTART on the same checkpoint and state
    assert(run.matches === NearDupRun.allPairs(8),
      "the restart must resume from the intact partial chain")
    assert(run.marker === Some("4"))
  }

  test("compaction bounds the state listing and preserves every " +
      "match (12 micro-batches, compactEvery = 4)") {
    // one identical doc per wave: batch i matches every earlier batch
    val waves = (0L until 12L).map(i => Seq(i -> doc(1)))
    val state = tmpDir("ndst_state_cpt")
    val (out, _) = drain(waves, state, compactEvery = 4)
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    val want = (for (a <- 0L until 12L; b <- 0L until a)
      yield (a, b)).toSet
    assert(got === want,
      "compaction must not change a single emitted match")
    // schedule: upto 0→4 at batch 4, 4→8 at batch 8; batches 8..11
    // remain as the per-batch tail
    val marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$state/_compacted_upto"))).trim
    assert(marker === "8", s"marker must read 8, got $marker")
    def subdirs(p: String): Set[String] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet
    val tail = Set("b8", "b9", "b10", "b11")
    assert(subdirs(state).filter(_.matches("b\\d+")) === tail,
      "folded per-batch dirs must be dropped")
    tail.foreach(b => assert(subdirs(s"$state/$b") === Set("sets", "bands"),
      s"$b must keep both its set and band layers"))
    assert(subdirs(state).filter(_.startsWith("compacted_g")) ===
      Set("compacted_g8"), "exactly one live generation")
    // the generation holds the folded batches' full index
    assert(spark.read.parquet(s"$state/compacted_g8/sets")
      .select("doc_id").as[Long].collect().toSet ===
      (0L until 8L).toSet)
    assert(spark.read.parquet(tail.toSeq.map(b => s"$state/$b/sets"): _*)
      .count() === 4L)
  }
}

/** One near-dup stream whose source, state, sink and checkpoint
  * outlive its queries: [[write]] appends one-doc single-file waves
  * (doc id = wave, every doc identical), [[drain]] runs a NEW query over
  * whatever is unread — a restart on the same checkpoint and state.
  */
private[streaming] final class NearDupRun(spark: SparkSession,
    prefix: String, compactEvery: Int) {
  import spark.implicits._
  private def tmpDir(suffix: String): String =
    Files.createTempDirectory(s"${prefix}_$suffix").toString
  val (src, state, out, ckpt) =
    (tmpDir("src"), tmpDir("state"), tmpDir("out"), tmpDir("ckpt"))

  def write(waves: Seq[Long]): Unit = waves.foreach { i =>
    Seq(i -> (0 until 40).map(j => s"w1_$j").mkString(" "))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(src)
    Thread.sleep(30)
  }

  def drain(): Unit = {
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text", state,
        out, ckpt, compactEvery = compactEvery)
      .awaitTermination()
  }

  def matches: Set[(Long, Long)] =
    StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet

  def marker: Option[String] = {
    val m = java.nio.file.Paths.get(s"$state/_compacted_upto")
    if (Files.exists(m)) Some(new String(Files.readAllBytes(m)).trim)
    else None
  }
}

object NearDupRun {
  /** Every (later, earlier) pair of `n` identical one-doc waves. */
  def allPairs(n: Long): Set[(Long, Long)] =
    (for (a <- 0L until n; b <- 0L until a) yield (a, b)).toSet
}
