package graft.io

import org.apache.spark.sql.graft.{PathSchemas, PathSchemasMemo}

import graft.SparkSpec

/** Parquet-backed Tables behaviors: footer row counts and the
  * file-source schema memo (keyed by the listing of every leaf file — a
  * rewritten table must never be served a stale schema).
  */
class TablesIoSpec extends SparkSpec {

  test("rowCount sums footer counts across a multi-file table directory") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_rc").toString
    import spark.implicits._
    (1L to 300L).toDF("id").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val parts = new java.io.File(s"$dir/t.parquet")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(parts >= 2, "fixture must produce a multi-file table")
    assert(Tables.rowCount(spark, dir, "t") === 300L)
  }

  test("rowCount above the driver bound distributes footer reads " +
      "as one metadata job and agrees with the driver path") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_rcd").toString
    import spark.implicits._
    (1L to 300L).toDF("id").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    // driverBound = 1 forces the >bound (distributed) path on a 3-file
    // table; it must agree exactly with the driver-side footer sum.
    assert(Tables.rowCount(spark, dir, "t", driverBound = 1) === 300L)
    assert(Tables.rowCount(spark, dir, "t", driverBound = 1) ===
      Tables.rowCount(spark, dir, "t"))
  }

  test("schema cache is a capped LRU: eldest untouched entry ages out, " +
      "a touched entry survives, no wholesale flush") {
    val memo = PathSchemasMemo()
    val max = PathSchemas.SchemaCacheMax
    val st = Some(new org.apache.spark.sql.types.StructType())
    val keys = (0 until max + 10).map(i => ("parquet", s"lru_k$i", "d"))
    memo.clear()
    keys.foreach(memo.put(_, st))
    // Touch the eldest survivor so access order (not insert order) rules.
    val touched = keys(10)
    assert(memo.get(touched) ne null)
    memo.put(("parquet", "lru_extra", "d"), st)
    assert(memo.size() === max,
      "cache must stay at its cap, not flush to zero")
    assert(memo.get(touched) ne null,
      "recently-accessed entry must survive the next eviction")
    assert(memo.get(keys(11)) eq null,
      "the eldest untouched entry is the one evicted")
    memo.clear()
  }

  test("parallelize gate engages through a Hadoop FS path " +
      "(file:// URI java.io.File cannot stat)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_par").toString
    import spark.implicits._
    // single data-sized FILE (the corpus shape: `name.parquet` is a
    // plain file, not a writer-output directory): write one part, then
    // move the part file up as `t.parquet`
    (1L to 40000L).map(i => (i, ("x" * 64) + i))
      .toDF("id", "pad").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/staged")
    val part = new java.io.File(s"$dir/staged")
      .listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/t.parquet"))
    assert(new java.io.File(s"$dir/t.parquet").length >= 256L * 1024,
      "fixture must be one data-sized parquet file")
    // file: URI — resolvable by Hadoop's FileSystem, NOT by
    // java.io.File (File("file:/...").length() == 0). The gate must
    // still engage: it reads the Hadoop FileStatus, not the File API.
    val uriDir = s"file:$dir"
    assert(Tables.load(spark, uriDir, "t", parallelize = true)
      .rdd.getNumPartitions === Tables.ScanParallelism,
      "gate must engage via Hadoop FileStatus on a file:// URI")
    // dimension-sized file stays single-partition
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/small.parquet")
    assert(Tables.load(spark, uriDir, "small", parallelize = true)
      .rdd.getNumPartitions < Tables.ScanParallelism)
  }

  test("schema cache invalidates when the table file is rewritten") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_sc").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t").schema.fieldNames.toSet
    assert(first === Set("id", "v"))
    Thread.sleep(1100) // ensure a distinct mtime on coarse filesystems
    Seq((1L, "a", 2.0)).toDF("id", "v", "extra")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t").schema.fieldNames.toSet
    assert(second === Set("id", "v", "extra"),
      "a rewritten table must never be served the stale cached schema")
  }

  test("a partition file rewritten in place is loaded with its new " +
      "schema") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_part").toString
    import spark.implicits._
    Seq((1L, "a", 1)).toDF("id", "v", "k")
      .write.partitionBy("k").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSet ===
      Set("id", "v", "k"))
    // the root dir's own status stays as it was: only k=1/ changes
    rewriteInPlace(s"$dir/t.parquet/k=1",
      Seq((1L, "a", 2.0)).toDF("id", "v", "extra"))
    assert(Tables.load(spark, dir, "t").columns.toSet ===
      Set("id", "v", "extra", "k"))
  }
}
