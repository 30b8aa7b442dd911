package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec

/** Pins the fail-loud paths and the sweep of [[BatchState]], the state
  * protocol all six compacting stream pipelines share: `open` refuses
  * every state the marker implies but cannot find, in every named
  * sublayer, and `compact` leaves exactly the live tail plus one
  * generation.
  */
class BatchStateSpec extends SparkSpec {

  private def fixture(): (FileSystem, String) = {
    val dir = Files.createTempDirectory("batchstate").toString
    (BatchState.fsOf(spark, dir), dir)
  }

  private def mkdirs(fs: FileSystem, dir: String, names: String*): Unit =
    names.foreach(n => fs.mkdirs(new Path(s"$dir/$n")))

  private def refused(dir: String, end: Long, layers: String*): String =
    intercept[IllegalStateException] {
      BatchState.open(spark, dir, end, compactEvery = 4, layers: _*)
    }.getMessage

  private def entries(fs: FileSystem, dir: String): Set[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet

  test("a marker ahead of the horizon fails loud") {
    val (fs, dir) = fixture()
    BatchState.writeMarker(fs, dir, 8L)
    mkdirs(fs, dir, "compacted_g8")
    assert(refused(dir, end = 5L).contains("ahead of horizon 5"))
    // at the horizon itself (a replayed, already-folded batch) it opens
    assert(BatchState.open(spark, dir, 8L, 4).parts ===
      Seq(s"$dir/compacted_g8"))
  }

  test("a marker whose generation is missing fails loud") {
    val (fs, dir) = fixture()
    BatchState.writeMarker(fs, dir, 4L)
    mkdirs(fs, dir, "b4")
    assert(refused(dir, end = 5L).contains("generation dir is missing"))
  }

  test("a missing tail partial fails loud") {
    val (fs, dir) = fixture()
    mkdirs(fs, dir, "b0", "b2")
    assert(refused(dir, end = 3L).contains("state for batch 1"))
  }

  test("a partial or generation missing one of its sublayers fails loud") {
    val (fs, dir) = fixture()
    mkdirs(fs, dir, "b0/sets", "b0/bands", "b1/sets")
    assert(refused(dir, 2L, "sets", "bands").contains("state for batch 1"))
    val (fs2, dir2) = fixture()
    BatchState.writeMarker(fs2, dir2, 4L)
    mkdirs(fs2, dir2, "compacted_g4/sets", "b4/sets", "b4/bands")
    assert(refused(dir2, 5L, "sets", "bands")
      .contains("generation dir is missing"))
  }

  test("compact writes the generation, moves the marker and sweeps to " +
      "exactly b<upto..> plus one generation") {
    val (fs, dir) = fixture()
    // b4 is a batch past the horizon (the near-dup batch's own
    // partial); compacted_g2 is an orphan of an earlier crash window
    mkdirs(fs, dir, "b0", "b1", "b2", "b3", "b4", "compacted_g2")
    val notDue = BatchState.open(spark, dir, 3L, 4)
    assert(!notDue.due)
    notDue.compact(_ => fail("compact must not write before it is due"))
    val st = BatchState.open(spark, dir, 4L, 4)
    assert(st.due && st.parts === (0 until 4).map(i => s"$dir/b$i"))
    st.compact(g => mkdirs(fs, g, "sets"))
    assert(BatchState.readMarker(fs, dir) === 4L)
    assert(entries(fs, dir) === Set("b4", "compacted_g4", "_compacted_upto"))
    assert(BatchState.open(spark, dir, 5L, 4).parts ===
      Seq(s"$dir/compacted_g4", s"$dir/b4"))
  }

  test("a near-dup state dir in the old sets/b<i> layout fails loud " +
      "instead of probing an empty index") {
    val run = new NearDupRun(spark, "ndold", compactEvery = 16)
    run.write(0L until 3L)
    run.drain()
    // rewrite the state into the old layout: sets/b<i>, bands/b<i>
    val fs = BatchState.fsOf(spark, run.state)
    fs.mkdirs(new Path(s"${run.state}/sets"))
    fs.mkdirs(new Path(s"${run.state}/bands"))
    (0 until 3).foreach { i =>
      Seq("sets", "bands").foreach(l => assert(fs.rename(
        new Path(s"${run.state}/b$i/$l"), new Path(s"${run.state}/$l/b$i"))))
      fs.delete(new Path(s"${run.state}/b$i"), true)
    }
    run.write(Seq(3L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run.drain()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("state for batch 0")),
      s"expected the missing-partial refusal, got: ${e.getMessage}")
  }
}
