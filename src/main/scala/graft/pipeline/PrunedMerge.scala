package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  4. each touched `__p=k` dir is swapped (delete old, rename temp
  *     in). Untouched directories are never read, written, or
  *     renamed — their files and mtimes are bit-identical after the
  *     merge ([[PrunedMergeSpec]] pins this).
  *
  * Crash safety is IDEMPOTENCE, not atomicity (the temp-then-swap
  * contract every sink here honors): a crash mid-swap leaves some
  * partitions merged and some not; re-running the SAME batch
  * converges, because upserting `latest` into an already-merged
  * partition is a fixed point (`merged ⟕anti latest = merged minus
  * source keys`, and re-unioning `latest` restores exactly the merged
  * rows). The stale temp dir is removed and rebuilt by the re-run.
  *
  * The swap itself goes through a BACKUP RENAME, never a delete-then-
  * rename (the r15 ADVICE window): each touched `__p=k` renames to a
  * hidden `.__swap_backup_p<k>` sibling (invisible to Spark's
  * partition discovery — dot-prefixed), the temp partition renames in,
  * and only then is the backup deleted. Every window is recoverable:
  * a crash between the two renames leaves the partition's rows intact
  * in the backup, and (re)entry restores any backup whose primary dir
  * is missing BEFORE touching the stale temp — so no window exists in
  * which target rows live only in a dir the re-run deletes. Renames
  * are atomic on HDFS and local filesystems (the same primitive the
  * other temp-swap sinks rely on).
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

  /** Hidden (dot-prefixed — Spark's partition discovery skips it)
    * sibling that holds partition `k`'s previous contents for the
    * duration of one swap.
    */
  private def backupOf(targetPath: String, k: Long): Path =
    new Path(s"$targetPath/.__swap_backup_p$k")

  private val BackupPrefix = ".__swap_backup_p"

  /** Restore any partition whose swap crashed between the backup
    * rename and the temp rename-in: a backup dir whose primary
    * `__p=k` is MISSING holds the partition's only copy — rename it
    * back before anything else runs. A backup whose primary exists is
    * a completed swap's leftover (crash before backup delete) and is
    * removed. Runs on every [[mergeInto]] entry, BEFORE the stale
    * temp delete, so no crash window can orphan target rows.
    */
  private def recoverPendingSwaps(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String): Unit = {
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
        val k = suffix.toLong
        val primary = new Path(s"$targetPath/__p=$k")
        if (!fs.exists(primary)) {
          if (!fs.rename(st.getPath, primary))
            throw new IllegalStateException(
              s"crash recovery failed: ${st.getPath} -> $primary")
        } else if (!fs.delete(st.getPath, true))
          throw new IllegalStateException(
            s"stale swap backup delete failed: ${st.getPath}")
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
    val fs = new Path(targetPath).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    // heal any crashed swap BEFORE reading target partitions or
    // deleting the stale temp — a backup may hold a partition's only
    // copy (the r15 ADVICE crash window)
    recoverPendingSwaps(fs, targetPath)
    val latest = Scd1.latestPerKey(source, keys, orderCol, tieBreakers)
      .withColumn("__p", partitionOf(keys, nParts))
      .persist() // read by the touched-list collect AND the merge
    try {
      val touched = latest.select("__p").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      if (touched.isEmpty) return Seq.empty
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
      // all temp data lands before any target mutation
      val tmp = s"${targetPath}__merge_tmp"
      fs.delete(new Path(tmp), true) // stale temp from a crashed run
      writeByPartition(merged, tmp)
      touched.foreach { k =>
        val dst = new Path(s"$targetPath/__p=$k")
        val src = new Path(s"$tmp/__p=$k")
        if (!fs.exists(src))
          throw new IllegalStateException(
            s"merged temp is missing partition __p=$k under $tmp")
        // backup-rename swap: the old partition is never deleted while
        // it is the rows' only copy — rename it aside (atomic), rename
        // the merged temp in, then drop the backup. Either crash
        // window recovers on re-entry via recoverPendingSwaps.
        val bak = backupOf(targetPath, k)
        if (fs.exists(dst) && !fs.rename(dst, bak))
          throw new IllegalStateException(
            s"swap backup rename failed: $dst -> $bak")
        if (!fs.rename(src, dst))
          throw new IllegalStateException(
            s"swap rename failed: $src -> $dst")
        if (fs.exists(bak) && !fs.delete(bak, true))
          throw new IllegalStateException(
            s"swap backup delete failed: $bak")
      }
      fs.delete(new Path(tmp), true)
      touched
    } finally { latest.unpersist(blocking = false); () }
  }
}
