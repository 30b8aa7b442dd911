package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Pins the crash-safety contract of the compaction-marker I/O
  * ([[BatchState.writeMarker]]/readMarker — the r13 ADVICE
  * item): the update is temp-file-then-swap, reads drain the stream to
  * EOF, and every crash window either recovers to a definite horizon
  * or fails LOUD — never a bare `"".toLong` NumberFormatException,
  * never a silent wrong horizon.
  */
class MarkerSpec extends SparkSpec {

  private def fixture(): (org.apache.hadoop.fs.FileSystem, String) = {
    val dir = Files.createTempDirectory("marker").toString
    (new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration), dir)
  }

  private def put(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  test("write-then-read round-trips and consumes the tmp file") {
    val (fs, dir) = fixture()
    BatchState.writeMarker(fs, dir, 12L)
    assert(BatchState.readMarker(fs, dir) === 12L)
    assert(!fs.exists(new Path(s"$dir/_compacted_upto.tmp")))
    BatchState.writeMarker(fs, dir, 16L) // overwrite path
    assert(BatchState.readMarker(fs, dir) === 16L)
  }

  test("absent marker with no generation dirs reads as 0 " +
      "(no compaction yet)") {
    val (fs, dir) = fixture()
    assert(BatchState.readMarker(fs, dir) === 0L)
  }

  test("crash between swap delete and rename self-heals from the tmp " +
      "file and completes the swap") {
    val (fs, dir) = fixture()
    // simulate: tmp holds the new value, the old marker is deleted
    put(fs, new Path(s"$dir/_compacted_upto.tmp"), "8")
    fs.mkdirs(new Path(s"$dir/compacted_g8"))
    assert(BatchState.readMarker(fs, dir) === 8L)
    // the recovery finished the rename: marker durable, tmp gone
    assert(fs.exists(BatchState.markerPath(dir)))
    assert(!fs.exists(new Path(s"$dir/_compacted_upto.tmp")))
    assert(BatchState.readMarker(fs, dir) === 8L)
  }

  test("an EMPTY marker file fails loud (the r13 in-place write's " +
      "crash artifact), never NumberFormatException") {
    val (fs, dir) = fixture()
    put(fs, BatchState.markerPath(dir), "")
    val e = intercept[IllegalStateException] {
      BatchState.readMarker(fs, dir)
    }
    assert(e.getMessage.contains("unreadable"))
  }

  test("a garbled marker fails loud; absent marker WITH generation " +
      "dirs and a BROKEN partial chain fails loud") {
    val (fs, dir) = fixture()
    put(fs, BatchState.markerPath(dir), "12x")
    intercept[IllegalStateException] {
      BatchState.readMarker(fs, dir)
    }
    // gens present, b0 gone: partials were cleaned under a now-lost
    // marker — no safe horizon exists
    val (fs2, dir2) = fixture()
    fs2.mkdirs(new Path(s"$dir2/compacted_g4"))
    fs2.mkdirs(new Path(s"$dir2/b4"))
    val e = intercept[IllegalStateException] {
      BatchState.readMarker(fs2, dir2)
    }
    assert(e.getMessage.contains("b0 partial is gone"))
  }

  test("crash between a landed compaction and its marker tmp (gens " +
      "present, no marker, b0.. chain intact) recovers to upto = 0") {
    // the one no-marker/no-tmp window the protocol itself creates:
    // compacted_g landed, writeMarker never started, cleanup never
    // ran — every partial from b0 still exists, so 0 is a safe horizon
    val (fs, dir) = fixture()
    fs.mkdirs(new Path(s"$dir/compacted_g4"))
    (0 to 3).foreach(i => fs.mkdirs(new Path(s"$dir/b$i")))
    assert(BatchState.readMarker(fs, dir) === 0L)
  }

  test("a stale tmp from a crash BEFORE the swap is ignored while the " +
      "real marker exists, and overwritten by the next update") {
    val (fs, dir) = fixture()
    BatchState.writeMarker(fs, dir, 4L)
    put(fs, new Path(s"$dir/_compacted_upto.tmp"), "99")
    assert(BatchState.readMarker(fs, dir) === 4L)
    BatchState.writeMarker(fs, dir, 8L)
    assert(BatchState.readMarker(fs, dir) === 8L)
    assert(!fs.exists(new Path(s"$dir/_compacted_upto.tmp")))
  }
}
