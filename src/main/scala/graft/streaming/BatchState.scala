package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The persisted-state protocol of the six compacting stream pipelines
  * ([[StreamingPipelines.qualityStream]], `curateStream`,
  * `decontamStream`, `simhashStream`, `substringScrubStream`,
  * `nearDupStream`) — the only code that knows the layout under a state
  * path:
  *
  *  - `b<i>[/<layer>]` — micro-batch `i`'s partial, written
  *    `mode(overwrite)` by the pipeline (a checkpoint-replayed batch is
  *    idempotent); a pipeline with several sublayers names them;
  *  - `compacted_g<n>[/<layer>]` — the generation folding batches
  *    `[0, n)`;
  *  - `_compacted_upto` — the marker holding `n`; absent means 0.
  *
  * Every path resolves through the Hadoop `FileSystem` of the state
  * path's scheme, so an `hdfs://`/`s3a://` state path behaves exactly
  * like a local one (`java.io.File` reports nothing-exists for any
  * non-local scheme, which silently empties the state).
  *
  * The one difference between pipelines is the exclusive horizon `end`
  * passed to [[open]]: the fold-inclusive pipelines pass `batchId + 1`
  * (their own partial is already written and belongs to the fold); the
  * probe-before-merge near-dup index passes `batchId` (it probes
  * strictly earlier batches only). The ahead check, the compaction
  * trigger and the sweep all follow from `end`.
  */
private[streaming] object BatchState {

  /** The state path's Hadoop `FileSystem` ([[graft.util.DirSwap.fsOf]]). */
  def fsOf(s: SparkSession, path: String): FileSystem =
    graft.util.DirSwap.fsOf(s, path)

  /** Where micro-batch `batchId` writes its partial. */
  def partial(statePath: String, batchId: Long): String =
    s"$statePath/b$batchId"

  private val BatchDir = "b(\\d{1,18})".r

  private def generation(statePath: String, n: Long): String =
    s"$statePath/compacted_g$n"

  def markerPath(statePath: String): Path =
    new Path(s"$statePath/_compacted_upto")

  private def markerTmpPath(statePath: String): Path =
    new Path(s"$statePath/_compacted_upto.tmp")

  /** The state a micro-batch reads: the live generation (if any)
    * followed by the partials `b<i>` for `i` in `[upto, end)`.
    */
  final class Opened private[BatchState] (fs: FileSystem,
      statePath: String, upto: Long, end: Long, compactEvery: Int,
      val parts: Seq[String]) {

    /** Whether [[compact]] will fold this batch's state. */
    val due: Boolean = end - upto >= compactEvery

    /** `parts` narrowed to one sublayer. */
    def layer(name: String): Seq[String] = parts.map(p => s"$p/$name")

    /** When [[due]]: write generation `end` through `write` (given the
      * generation dir), move the marker to `end`, then sweep `b<i>` for
      * `i < end` and every other generation. Generation first, marker
      * second, sweep third: a crash before the marker leaves the old
      * marker and an intact partial chain (the orphan generation is
      * swept by the next compaction, or rewritten by the replay); a
      * crash after it leaves only leftovers the next sweep collects.
      */
    def compact(write: String => Unit): Unit =
      if (due) {
        val g = generation(statePath, end)
        write(g)
        writeMarker(fs, statePath, end)
        fs.listStatus(new Path(statePath)).foreach { st =>
          val stale = st.getPath.getName match {
            case BatchDir(i) => i.toLong < end
            case n =>
              n.startsWith("compacted_g") && n != s"compacted_g$end"
          }
          if (stale) { fs.delete(st.getPath, true); () }
        }
      }
  }

  /** Open the state under `statePath` for a micro-batch with exclusive
    * horizon `end`, failing loud on any state the marker implies but
    * is missing (in every named sublayer) — a pipeline never reports
    * from, or probes, partial state.
    */
  def open(s: SparkSession, statePath: String, end: Long,
      compactEvery: Int, layers: String*): Opened = {
    val fs = fsOf(s, statePath)
    def present(dir: String): Boolean =
      if (layers.isEmpty) fs.exists(new Path(dir))
      else layers.forall(l => fs.exists(new Path(s"$dir/$l")))
    val upto = readMarker(fs, statePath)
    // upto == end on a replay of a batch the last compaction already
    // folded: the generation carries it and the tail below is empty
    if (upto > end)
      throw new IllegalStateException(
        s"compaction marker $upto is ahead of horizon $end under " +
          s"$statePath — state belongs to a different stream or a " +
          "corrupted checkpoint")
    val gen =
      if (upto > 0) {
        val g = generation(statePath, upto)
        if (!present(g))
          throw new IllegalStateException(
            s"marker says batches [0, $upto) are folded at $g but the " +
              "generation dir is missing — refusing to read partial state")
        Seq(g)
      } else Nil
    val tail = (upto until end).map { i =>
      val p = partial(statePath, i)
      if (!present(p))
        throw new IllegalStateException(
          s"state for batch $i (implied by horizon $end and marker " +
            s"$upto) is missing under $statePath — refusing to read " +
            "partial state")
      p
    }
    new Opened(fs, statePath, upto, end, compactEvery, gen ++ tail)
  }

  /** Full contents of a (small) state file — `InputStream.read` may
    * legally return a short read on non-local FS implementations, so
    * loop to EOF; None when the file does not exist.
    */
  private def readSmallFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { acc.write(buf, 0, n); n = in.read(buf) }
        Some(new String(acc.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }

  private def parseMarker(c: String): Option[Long] =
    if (c.nonEmpty && c.length <= 18 && c.forall(_.isDigit))
      Some(c.toLong)
    else None

  /** Crash-safe marker read. The update protocol is
    * temp-then-swap ([[writeMarker]]), so every crash window recovers:
    * crash before the swap leaves the old marker intact (the stale tmp
    * is overwritten by the next update); crash BETWEEN delete and
    * rename leaves the new value in the tmp file, and the read
    * completes the swap. One crash window the protocol itself creates
    * must also recover: a crash AFTER a compaction lands its
    * `compacted_g` dir but BEFORE [[writeMarker]] creates the tmp
    * leaves generations with no marker and no tmp — the sweep only runs
    * after the marker swap succeeds, so the `b0..` partial chain is
    * still complete and resuming at `upto = 0` is safe (the orphan
    * generation is swept as stale by the next compaction). So: an
    * ABSENT marker (no tmp either) + generations + `b0` present → 0;
    * a GARBLED (unreadable) marker always fails loud at the parse —
    * it never reaches the `b0` recovery branch (garbled means state
    * was mutated outside the protocol, which no automatic horizon
    * guess can repair). The absent case WITHOUT `b0` means partials
    * were cleaned under a now-lost marker, i.e. state was mutated
    * outside the protocol — fail loud rather than read the wrong
    * horizon. An absent marker with NO generations is simply "no
    * compaction yet".
    */
  def readMarker(fs: FileSystem, statePath: String): Long = {
    val m = markerPath(statePath)
    val tmp = markerTmpPath(statePath)
    readSmallFile(fs, m).map(c => parseMarker(c).getOrElse(
      throw new IllegalStateException(
        s"compaction marker $m is unreadable ('$c') — state was " +
          "mutated outside the marker protocol; restore " +
          "_compacted_upto to the current generation id"))
    ).orElse {
      // marker absent: a crash between the swap's delete and rename
      // leaves the NEW value in the tmp file — finish the swap
      readSmallFile(fs, tmp).flatMap(parseMarker).map { v =>
        if (!fs.rename(tmp, m))
          throw new IllegalStateException(
            s"marker recovery rename failed: $tmp -> $m")
        v
      }
    }.getOrElse {
      val sp = new Path(statePath)
      val hasGen = fs.exists(sp) && fs.listStatus(sp)
        .exists(_.getPath.getName.startsWith("compacted_g"))
      if (hasGen && !fs.exists(new Path(partial(statePath, 0))))
        throw new IllegalStateException(
          s"compaction marker under $statePath is missing, generation " +
            "dirs exist, and the b0 partial is gone (partials were " +
            "cleaned under a now-lost marker) — state was mutated " +
            "outside the marker protocol; restore _compacted_upto to " +
            "the current generation id")
      // gens + intact b0.. chain = the crash window between a landed
      // compaction and its marker tmp: resume from the partials
      0L
    }
  }

  /** Temp-file-then-swap marker update: the value lands durably in the
    * tmp file BEFORE the old marker is touched, so no crash window can
    * leave an empty/truncated marker (an in-place create-then-write
    * does: a crash between create(overwrite) and write leaves "" and
    * every later batch dies on `"".toLong`).
    */
  def writeMarker(fs: FileSystem, statePath: String, upto: Long): Unit = {
    val m = markerPath(statePath)
    val tmp = markerTmpPath(statePath)
    val out = fs.create(tmp, true)
    try out.write(upto.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(m) && !fs.delete(m, false))
      throw new IllegalStateException(s"marker swap delete failed: $m")
    if (!fs.rename(tmp, m))
      throw new IllegalStateException(
        s"marker swap rename failed: $tmp -> $m")
    ()
  }
}
