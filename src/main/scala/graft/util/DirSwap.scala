package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The crash-safe directory swap behind every read-modify-write of a
  * whole parquet dir ([[graft.catalog.Glossary]], each touched
  * partition of [[graft.pipeline.PrunedMerge]], the targets of
  * `StreamingPipelines.incrementalScd1`/`activesStream`): plain parquet
  * has no transactional table, so the new contents are written to a
  * staged dir and swapped in with renames. The caller names the three
  * paths; `dst` is never deleted while it holds the rows' only copy.
  *
  * Protocol, given a fully written `staged` ([[replace]]): rename `dst`
  * aside to `backup` (if it exists), rename `staged` to `dst`, delete
  * `backup`. Every crash window is finished by [[recover]] on the next
  * entry, before anything reads `dst`:
  *  - `dst` missing, `staged` committed (it has `_SUCCESS`) — the new
  *    contents roll forward;
  *  - `dst` missing otherwise — `backup` (the old contents) rolls back;
  *  - `dst` present — a leftover `backup` is a finished swap's and goes.
  * A staged dir without its own `_SUCCESS` (a partition dir under a
  * partitioned write) therefore always rolls back. Renames are atomic on
  * HDFS and local filesystems; an object store would commit through a
  * table format's pointer swap instead.
  */
object DirSwap {

  /** The Hadoop `FileSystem` of `path` under the session's Hadoop conf
    * (the conf the session's own writers use), so an `hdfs://`, `s3a://`
    * or `file:` path resolves like the writes that land there.
    */
  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sessionState.newHadoopConf())

  /** A whole-dir target's swap paths: `(dir, <dir>.tmp, <dir>.bak)`. */
  def siblings(dir: String): (Path, Path, Path) =
    (new Path(dir), new Path(s"$dir.tmp"), new Path(s"$dir.bak"))

  /** Swap the fully written `staged` dir in as `dst`. */
  def replace(fs: FileSystem, dst: Path, staged: Path, backup: Path): Unit = {
    val hadDst = fs.exists(dst)
    if (hadDst) rename(fs, dst, backup)
    rename(fs, staged, dst)
    if (hadDst && !fs.delete(backup, true))
      throw new java.io.IOException(s"swap backup delete failed: $backup")
  }

  /** Finish a [[replace]] that crashed (see the object doc). */
  def recover(fs: FileSystem, dst: Path, staged: Path, backup: Path): Unit = {
    if (!fs.exists(dst)) {
      if (fs.exists(new Path(staged, "_SUCCESS"))) rename(fs, staged, dst)
      else if (fs.exists(backup)) rename(fs, backup, dst)
    }
    if (fs.exists(dst) && fs.exists(backup) && !fs.delete(backup, true))
      throw new java.io.IOException(s"stale swap backup delete failed: $backup")
  }

  /** Delete a staging root whose staged dirs have all been swapped in
    * (best effort: a leftover is replaced by the next overwrite).
    */
  def discard(fs: FileSystem, dir: Path): Unit = { fs.delete(dir, true); () }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"swap rename failed: $from -> $to")
}
