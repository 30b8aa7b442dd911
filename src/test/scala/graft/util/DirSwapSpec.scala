package graft.util

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** [[DirSwap]] over hand-built crash states: after [[DirSwap.recover]]
  * the destination holds the old or the new rows — never missing, never
  * empty — and no backup is left behind. Every case runs on a plain
  * local path and on its `file:` URI.
  */
class DirSwapSpec extends SparkSpec {
  import spark.implicits._

  private val Old = Set(1L, 2L, 3L)
  private val New = Set(10L, 11L, 12L, 13L)

  /** A fresh `(dst, staged, backup)` triple, as local paths and URIs. */
  private def triples(): Seq[(String, String, String)] =
    Seq(false, true).map { uri =>
      val dir = java.nio.file.Files.createTempDirectory("graft_dirswap")
      val base = if (uri) dir.toUri.toString.stripSuffix("/")
        else dir.toString
      (s"$base/t", s"$base/t.tmp", s"$base/t.bak")
    }

  private def write(rows: Set[Long], path: String): Unit =
    rows.toSeq.toDF("id").write.mode("overwrite").parquet(path)

  private def rows(path: String): Set[Long] =
    spark.read.parquet(path).as[Long].collect().toSet

  private def swapCase(name: String)(
      build: (String, String, String) => Unit)(
      want: Set[Long]): Unit =
    test(name) {
      triples().foreach { case (dst, staged, backup) =>
        build(dst, staged, backup)
        val fs = DirSwap.fsOf(spark, dst)
        DirSwap.recover(fs, new Path(dst), new Path(staged),
          new Path(backup))
        assert(rows(dst) === want, dst)
        assert(!fs.exists(new Path(backup)), s"$backup left behind")
      }
    }

  swapCase("dst renamed aside with a committed staged dir rolls forward") {
    (dst, staged, backup) =>
      write(Old, backup)
      write(New, staged)
  }(New)

  swapCase("dst renamed aside with an uncommitted staged dir rolls back") {
    (dst, staged, backup) =>
      write(Old, backup)
      write(New, staged)
      val fs = DirSwap.fsOf(spark, staged)
      assert(fs.delete(new Path(staged, "_SUCCESS"), false))
  }(Old)

  swapCase("dst renamed aside before any staged dir rolls back") {
    (dst, staged, backup) => write(Old, backup)
  }(Old)

  swapCase("a present dst keeps its rows and loses the leftover backup") {
    (dst, staged, backup) =>
      write(New, dst)
      write(Old, backup)
  }(New)

  test("replace swaps the staged rows in, with or without a dst") {
    triples().foreach { case (dst, staged, backup) =>
      val fs = DirSwap.fsOf(spark, dst)
      val (d, s, b) = (new Path(dst), new Path(staged), new Path(backup))
      write(Old, staged)
      DirSwap.replace(fs, d, s, b)
      assert(rows(dst) === Old)
      write(New, staged)
      DirSwap.replace(fs, d, s, b)
      assert(rows(dst) === New)
      assert(!fs.exists(s) && !fs.exists(b))
    }
  }

  test("replace throws when the staged dir cannot be renamed in") {
    triples().foreach { case (dst, staged, backup) =>
      val fs = DirSwap.fsOf(spark, dst)
      write(Old, dst)
      intercept[java.io.IOException](DirSwap.replace(fs, new Path(dst),
        new Path(staged), new Path(backup)))
      // the old rows stay recoverable from the backup
      DirSwap.recover(fs, new Path(dst), new Path(staged), new Path(backup))
      assert(rows(dst) === Old)
    }
  }
}
