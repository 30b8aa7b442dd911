package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{DirSwap, Frames}

/** PARTITION-PRUNED SCD1 merge sink — the X64 repair-scope ruling
  * applied to the write side of the reference's MERGE
  * (`/root/reference/CODE_GENERATOR.sql:41-59`): a daily upsert into a
  * 100 TB target must not rewrite the whole table ([[Scd1.merge]] +
  * a full overwrite is correct and crash-safe but pays O(table) I/O
  * per batch); it rewrites ONLY the partition directories that contain
  * touched keys.
  *
  * Layout: the target is a parquet table hash-partitioned on the merge
  * key into `nParts` fixed directories (`__p=<k>`, `k = pmod(
  * xxhash64(keys), nParts)`). Because a key's partition is a pure
  * function of the key, a batch's keys touch exactly
  * `distinct __p(latest)` partitions — and the anti-join against ONLY
  * those partitions is complete: a target row outside them cannot
  * share a key with any source row. That is the pruning argument, and
  * it is what `replaceWhere`-style sinks (Delta/Iceberg, public
  * designs) exploit; here it is built on plain parquet + Hadoop
  * FileSystem renames.
  *
  * Batch protocol ([[mergeInto]]):
  *  1. source collapses to its latest-per-key rows ([[Scd1
  *     .latestPerKey]] — the reference's CREATED_AT dedup with
  *     deterministic tie-breakers) and gains `__p`;
  *  2. the touched-partition list is the distinct `__p` set —
  *     BOUNDED by `nParts` (a config constant, never corpus-sized),
  *     so collecting it is a report-sized driver read;
  *  3. ONE dataflow computes `touched-target ⟕anti latest ∪ latest`
  *     (the [[Scd1.merge]] relation restricted to touched partitions)
  *     and writes it `partitionBy(__p)`, rebalanced by `__p` so each
  *     partition lands as one file, into a batch-owned temp dir —
  *     all temp data is durable BEFORE any target mutation;
  *  4. each touched `__p=k` dir is swapped in from the temp
  *     ([[graft.util.DirSwap.replace]]). Untouched directories are
  *     never read, written, or renamed — their files and mtimes are
  *     bit-identical after the merge ([[PrunedMergeSpec]] pins this).
  *
  * Crash safety is IDEMPOTENCE, not atomicity (the temp-then-swap
  * contract every sink here honors): a crash mid-swap leaves some
  * partitions merged and some not; re-running the SAME batch
  * converges, because upserting `latest` into an already-merged
  * partition is a fixed point (`merged ⟕anti latest = merged minus
  * source keys`, and re-unioning `latest` restores exactly the merged
  * rows). The stale temp dir is removed and rebuilt by the re-run.
  *
  * Each partition swap is a [[graft.util.DirSwap]] through a hidden
  * `.__swap_backup_p<k>` sibling (dot-prefixed, so Spark's partition
  * discovery skips it), never a delete-then-rename (the r15 ADVICE
  * window). (Re)entry recovers every backup BEFORE touching the stale
  * temp — a temp partition dir has no `_SUCCESS` of its own, so a
  * backup whose partition is missing always rolls back — and no window
  * exists in which target rows live only in a dir the re-run deletes.
  *
  * Scale shape: per batch, I/O is O(touched partitions) + O(batch),
  * never O(table); the anti-join shuffles only touched-partition rows
  * on the key (or broadcasts a small `latest` — AQE decides); the
  * touched list is the only driver-side collect and is ≤ `nParts`.
  */
object PrunedMerge {

  /** The fixed key→partition map: `pmod(xxhash64(keys…), nParts)`. */
  def partitionOf(keys: Seq[String], nParts: Int)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(keys.map(col): _*), lit(nParts))

  /** Initial partitioned stage of a target table. */
  def stage(df: DataFrame, targetPath: String, keys: Seq[String],
      nParts: Int): Unit = {
    require(nParts > 0, "nParts must be positive")
    writeByPartition(df.withColumn("__p", partitionOf(keys, nParts)),
      targetPath)
  }

  /** Write `partitionBy(__p)` with rows rebalanced by `__p` first, so
    * each partition dir gets one file (AQE's rebalance still splits a
    * skewed partition into advisory-size files, which a
    * `repartition(__p)` would pin to a single task).
    */
  private def writeByPartition(df: DataFrame, path: String): Unit =
    df.hint("rebalance", col("__p"))
      .write.mode("overwrite").partitionBy("__p").parquet(path)

  /** Read the table back without the layout column. */
  def readTable(s: SparkSession, targetPath: String): DataFrame =
    s.read.parquet(targetPath).drop("__p")

  private def tmpOf(targetPath: String): String = s"${targetPath}__merge_tmp"

  /** Hidden prefix (Spark's partition discovery skips dot-prefixed
    * dirs) of the sibling that holds partition `k`'s previous contents
    * for the duration of one swap.
    */
  private val BackupPrefix = ".__swap_backup_p"

  /** Partition `k`'s dir, its merged temp and its swap backup. */
  private def swapPaths(targetPath: String, k: Long): (Path, Path, Path) =
    (new Path(s"$targetPath/__p=$k"),
      new Path(s"${tmpOf(targetPath)}/__p=$k"),
      new Path(s"$targetPath/$BackupPrefix$k"))

  /** Finish every partition swap that crashed ([[DirSwap.recover]] per
    * backup found). Runs on every [[mergeInto]] entry, BEFORE the stale
    * temp is overwritten, so no crash window can orphan target rows.
    */
  private def recoverPendingSwaps(fs: FileSystem, targetPath: String)
      : Unit = {
    val root = new Path(targetPath)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      val suffix = nm.drop(BackupPrefix.length)
      // nonEmpty + length cap: an empty suffix passes a vacuous forall
      // and "".toLong throws; >18 digits overflows Long — either would
      // wedge every subsequent mergeInto until the dir is removed
      if (nm.startsWith(BackupPrefix) && suffix.nonEmpty &&
          suffix.length <= 18 && suffix.forall(_.isDigit)) {
        val (dst, staged, bak) = swapPaths(targetPath, suffix.toLong)
        DirSwap.recover(fs, dst, staged, bak)
      }
    }
  }

  /** Upsert `source` into the partitioned target at `targetPath`,
    * rewriting only touched partition dirs. Returns the touched
    * partition ids (sorted — report-sized by construction).
    */
  def mergeInto(s: SparkSession, targetPath: String, source: DataFrame,
      keys: Seq[String], orderCol: String,
      tieBreakers: Seq[String] = Nil, nParts: Int = 256): Seq[Long] = {
    require(nParts > 0, "nParts must be positive")
    val fs = DirSwap.fsOf(s, targetPath)
    // heal any crashed swap BEFORE reading target partitions or
    // overwriting the stale temp — a backup may hold a partition's only
    // copy (the r15 ADVICE crash window)
    recoverPendingSwaps(fs, targetPath)
    // cached: read by the touched-list collect AND the merge
    Frames.cached(Scd1.latestPerKey(source, keys, orderCol, tieBreakers)
        .withColumn("__p", partitionOf(keys, nParts))) { latest =>
      val touched = latest.select("__p").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      if (touched.nonEmpty) {
        val existing = touched
          .map(k => s"$targetPath/__p=$k")
          .filter(p => fs.exists(new Path(p)))
        val target =
          if (existing.isEmpty) None
          // partition discovery infers __p as int — re-widen to the
          // long the partition expression produces before the union
          else Some(s.read.option("basePath", targetPath)
            .parquet(existing: _*)
            .withColumn("__p", col("__p").cast("long")))
        val merged = target match {
          case Some(t) =>
            t.join(latest.select(keys.map(col): _*), keys, "left_anti")
              .unionByName(latest)
          case None => latest.toDF()
        }
        // all temp data lands before any target mutation; the overwrite
        // replaces a crashed run's stale temp
        val tmp = tmpOf(targetPath)
        writeByPartition(merged, tmp)
        touched.foreach { k =>
          val (dst, staged, bak) = swapPaths(targetPath, k)
          if (!fs.exists(staged))
            throw new IllegalStateException(
              s"merged temp is missing partition __p=$k under $tmp")
          DirSwap.replace(fs, dst, staged, bak)
        }
        DirSwap.discard(fs, new Path(tmp))
      }
      touched
    }
  }
}
