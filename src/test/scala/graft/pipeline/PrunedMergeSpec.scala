package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[PrunedMerge]] — the partition-pruned SCD1 sink:
  *
  *  - relation equality: the mutated table equals [[Scd1.merge]] of
  *    the same (target, source) — pruning is invisible in the data;
  *  - the FS pin: untouched partition dirs keep their FILES and
  *    MTIMES bit-identical (never read, written, or renamed), while
  *    touched dirs are swapped;
  *  - repair scope: the touched list is exactly the batch keys'
  *    partitions;
  *  - crash-rerun fixed point: re-running the same batch against the
  *    already-merged table leaves the relation unchanged (the
  *    idempotence that makes mid-swap crashes safe);
  *  - new keys create their partition dirs.
  */
class PrunedMergeSpec extends SparkSpec {
  import spark.implicits._

  private val P = 16

  private def tmpTarget(): String =
    s"${Files.createTempDirectory("pruned_merge").toString}/t"

  // target: keys 1..40, one row each; source: updates for keys 2 and
  // 7 (two versions of key 7 — the latest must win) and a brand-new
  // key 1000
  private def targetRows = (1 to 40)
    .map(k => (k.toLong, s"old$k", 100L + k))
    .toDF("user_id", "payload", "ts")

  private def sourceRows = Seq(
    (2L, "new2", 500L),
    (7L, "stale7", 400L), (7L, "new7", 600L),
    (1000L, "new1000", 500L))
    .toDF("user_id", "payload", "ts")

  private def partDirs(tgt: String): Map[String, Long] =
    Option(new java.io.File(tgt).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("__p="))
      .map(f => f.getName -> f.lastModified()).toMap

  private def filesUnder(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .map(f => f.getName -> f.lastModified()).toMap

  test("pruned merge equals the full-rewrite relation, touches only " +
      "the batch keys' partitions, and leaves untouched dirs " +
      "bit-stable (files + mtimes)") {
    val tgt = tmpTarget()
    PrunedMerge.stage(targetRows, tgt, Seq("user_id"), P)
    val before = partDirs(tgt)
    val beforeFiles = before.keySet.map(d =>
      d -> filesUnder(new java.io.File(s"$tgt/$d"))).toMap
    Thread.sleep(1100) // mtime granularity can be a full second
    val touched = PrunedMerge.mergeInto(spark, tgt, sourceRows,
      Seq("user_id"), "ts", nParts = P)
    // repair scope: exactly the partitions of keys {2, 7, 1000}
    val wantTouched = Seq(2L, 7L, 1000L).toDF("user_id")
      .select(PrunedMerge.partitionOf(Seq("user_id"), P))
      .as[Long].collect().toSet
    assert(touched.toSet === wantTouched)
    // relation equality vs the full rewrite
    val got = PrunedMerge.readTable(spark, tgt)
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    val want = Scd1.merge(targetRows, sourceRows, Seq("user_id"), "ts")
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === want)
    assert(got.exists(r => r._1 === 7L && r._2 === "new7"),
      "latest-per-key must win inside the batch")
    // FS pin: untouched dirs keep mtime AND file listing; touched
    // dirs were swapped (fresh mtime)
    val after = partDirs(tgt)
    val untouchedDirs = before.keySet -- touched.map(k => s"__p=$k")
    assert(untouchedDirs.nonEmpty, "fixture must leave some dirs alone")
    untouchedDirs.foreach { d =>
      assert(after(d) === before(d), s"untouched $d mtime changed")
      assert(filesUnder(new java.io.File(s"$tgt/$d")) ===
        beforeFiles(d), s"untouched $d files changed")
    }
    touched.foreach { k =>
      val d = s"__p=$k"
      assert(!before.get(d).contains(after(d)),
        s"touched $d must have been swapped")
    }
    // the new key's partition dir exists even if absent before
    assert(after.keySet.contains(
      s"__p=${wantTouched.intersect(touched.toSet).head}"))
  }

  test("re-running the same batch is a fixed point (the crash-rerun " +
      "safety argument) and no temp dir is left behind") {
    val tgt = tmpTarget()
    PrunedMerge.stage(targetRows, tgt, Seq("user_id"), P)
    PrunedMerge.mergeInto(spark, tgt, sourceRows, Seq("user_id"),
      "ts", nParts = P)
    val once = PrunedMerge.readTable(spark, tgt)
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    PrunedMerge.mergeInto(spark, tgt, sourceRows, Seq("user_id"),
      "ts", nParts = P)
    val twice = PrunedMerge.readTable(spark, tgt)
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    assert(twice === once)
    assert(!new java.io.File(s"${tgt}__merge_tmp").exists())
  }

  test("a crash between the backup rename and the temp rename-in " +
      "loses no rows: re-entry restores the backup before merging " +
      "(the r15 ADVICE window)") {
    val tgt = tmpTarget()
    PrunedMerge.stage(targetRows, tgt, Seq("user_id"), P)
    // pick the partition key 2 lands in and find a co-resident key
    // that is NOT in the batch — the row the old code lost
    val k2 = Seq(2L).toDF("user_id")
      .select(PrunedMerge.partitionOf(Seq("user_id"), P))
      .as[Long].head()
    val coResident = (1 to 40).map(_.toLong)
      .toDF("user_id")
      .withColumn("__p", PrunedMerge.partitionOf(Seq("user_id"), P))
      .filter(col("__p") === k2 && col("user_id") =!= 2L)
      .as[(Long, Long)].collect().map(_._1)
    assert(coResident.nonEmpty,
      "fixture must co-locate an untouched key with key 2")
    // simulate the crash window: the swap renamed __p=k2 aside and
    // died before renaming the temp in — the partition's ONLY copy
    // now lives in the hidden backup dir
    val dst = new java.io.File(s"$tgt/__p=$k2")
    val bak = new java.io.File(s"$tgt/.__swap_backup_p$k2")
    assert(dst.exists())
    assert(dst.renameTo(bak), "fixture rename failed")
    assert(!dst.exists() && bak.exists())
    // re-run the batch: recovery must restore the backup first, so
    // co-resident non-batch rows survive the merge
    PrunedMerge.mergeInto(spark, tgt, sourceRows, Seq("user_id"),
      "ts", nParts = P)
    assert(!bak.exists(), "backup must be consumed by recovery")
    val got = PrunedMerge.readTable(spark, tgt)
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    val want = Scd1.merge(targetRows, sourceRows, Seq("user_id"), "ts")
      .orderBy("user_id", "payload")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === want,
      "recovered merge must equal the full-rewrite relation — " +
        "co-resident rows outside the batch must survive")
    coResident.foreach { u =>
      assert(got.exists(_._1 == u), s"non-batch key $u was lost")
    }
  }

  test("stage and merge write one parquet file per partition dir") {
    val tgt = tmpTarget()
    // several scan partitions, each holding rows of many __p values
    PrunedMerge.stage(targetRows.repartition(4), tgt, Seq("user_id"), P)
    val touched = PrunedMerge.mergeInto(spark, tgt,
      sourceRows.repartition(3), Seq("user_id"), "ts", nParts = P)
    assert(touched.nonEmpty)
    partDirs(tgt).keySet.foreach { d =>
      val parquet = filesUnder(new java.io.File(s"$tgt/$d")).keySet
        .filter(_.endsWith(".parquet"))
      assert(parquet.size === 1, s"$d holds ${parquet.size} files")
    }
  }

  test("an empty batch touches nothing") {
    val tgt = tmpTarget()
    PrunedMerge.stage(targetRows, tgt, Seq("user_id"), P)
    val before = partDirs(tgt)
    val touched = PrunedMerge.mergeInto(spark, tgt,
      sourceRows.filter(lit(false)), Seq("user_id"), "ts", nParts = P)
    assert(touched.isEmpty)
    assert(partDirs(tgt) === before)
  }
}
