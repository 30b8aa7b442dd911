package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PathSchemas
import org.apache.spark.sql.types.LongType

/** Parquet-backed table resolution for the test corpus.
  *
  * The reference resolves 1/2/3-part table names against session defaults
  * (`/root/reference/Data_Quality_Table.sql:20-33`) and reads them via
  * `session.table` (`/root/reference/Data_Security.sql:47`). Here a "table"
  * is a parquet path under a scale-factor directory; on a cluster the same
  * API is backed by the session catalog.
  */
object Tables {
  /** Files at or above this size get their scan parallelized when the
    * caller opts in (see load).
    */
  private val ParallelizeBytes = 256L * 1024

  /** Fixed fan-out for the opt-in scan repartition. A literal, not
    * `defaultParallelism`: double moments (avg/stddev) accumulate in
    * partition order, so a core-count-dependent partition count would make
    * oracle-compared aggregates host-dependent. 32 matches the driver's
    * executor-thread count; on a real cluster the loader's file splits
    * make the repartition a no-op anyway.
    */
  val ScanParallelism = 32

  /** Digest of a corpus source's listing — the shared memo-key
    * ingredient for the staging layers ([[graft.pipeline.BucketedStage]],
    * [[PartitionedStage]]): a memo must never serve artifacts staged
    * from a rewritten corpus, and an unlistable source must never
    * memoize (the nanoTime fallback makes every call a fresh key).
    */
  def sourceStamp(spark: SparkSession, dir: String, name: String): String =
    PathSchemas.listing(spark, s"$dir/$name.parquet").map(_.digest)
      .getOrElse(s"nostat:${System.nanoTime()}")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, parallelize = false)

  /** The table's frame, with the schema the one file-source memo
    * ([[PathSchemas]]) holds for its current files: a parquet read with a
    * given schema skips the footer-inference job, so repeat loads of an
    * unchanged table (every query loads at least one) build their plans
    * with no job, and a table whose files changed infers again. The
    * listing goes through the path's Hadoop `FileSystem` (on s3a:// or
    * hdfs:// `java.io.File` reads 0 for every path); an unlistable path
    * reads as Spark reads it.
    *
    * @param parallelize restore split-equivalent parallelism for
    *   data-sized single-file tables (see below). Opt-IN, for pipelines
    *   whose heavy compute is fused with the scan (profiling aggregates,
    *   shingling/sketching, text stats) — measured 3-5x there. Leave it
    *   off (default) for shuffle-bound relational queries (joins,
    *   upserts, set ops): the exchange already spreads the work, and the
    *   extra round-robin shuffle is a pure tax (measured +0.4-1.0s per
    *   query at sf0.1), worst on small index-like tables (embeddings).
    */
  def load(spark: SparkSession, dir: String, name: String,
      parallelize: Boolean): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = PathSchemas.listing(spark, path)
    val raw = files.flatMap(PathSchemas.schema(spark, "parquet", _))
      .fold(spark.read)(spark.read.schema(_)).parquet(path)
    // Normalize every declared temporal column to TIMESTAMP (with local
    // time zone) regardless of how the corpus writer encoded it:
    //  - TIMESTAMP(NANOS) arrives as LongType under
    //    spark.sql.legacy.parquet.nanosAsLong (Spark has no ns timestamp
    //    type); restore µs precision by truncation — `div`, not `/`:
    //    column `/` is IEEE double division, which cannot represent
    //    ~1.7e18 ns exactly (53-bit mantissa).
    //  - Naive TIMESTAMP(MICROS) (isAdjustedToUTC=false) infers as
    //    TIMESTAMP_NTZ in Spark 4; cast to TIMESTAMP under the session's
    //    UTC zone — value-identical wall clock, and keeps every temporal
    //    function (unix_micros, watermarks, window()) on the one type the
    //    whole engine is written against.
    val temporal = Schemas.byTable.get(name)
      .map(_.filter(_.temporal).map(_.name).toSet).getOrElse(Set.empty)
    val typed = raw.schema.fields.foldLeft(raw) { (df, f) =>
      if (temporal(f.name) && f.dataType == LongType)
        df.withColumn(f.name,
          expr(s"timestamp_micros(`${f.name}` div 1000)"))
      else if (temporal(f.name) &&
          f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else df
    }
    // A production table scan parallelizes via file splits; each corpus
    // table is ONE single-row-group parquet file, which no engine can
    // split — so every stage fused with the scan (profiling aggregates,
    // shingling, sketching) would run in a single task. Restore the
    // parallelism a multi-split scan would have had with an explicit
    // round-robin repartition; at cluster scale the loader's splits make
    // this a no-op, and dimension-sized files stay single-partition
    // (they broadcast). Measured 3-5x on every scan-fused pipeline.
    // The size gate reuses the memo key's Hadoop listing —
    // java.io.File.length() is 0 for every non-local path (s3a://,
    // hdfs://, even file:// URIs), which would silently disable the gate
    // off-localhost. Directory tables (multi-part) skip the repartition:
    // their file splits already parallelize the scan.
    if (parallelize && files.exists(f =>
        f.root.isFile && f.root.getLen >= ParallelizeBytes))
      typed.repartition(ScanParallelism)
    else typed
  }

  /** Files up to this count have their footers read on the driver
    * (concurrently, ForkJoin common pool — a listing this size completes
    * in well under a second). A 100 TB table is ~10⁵ files; a driver
    * footer loop there is a stall, so past the bound the footer reads
    * ship as ONE metadata-only Spark job over the file list — each task
    * opens footers, no data pages are touched.
    */
  private[io] val FooterDriverBound = 1024

  /** Exact row count from parquet footer metadata — NO Spark job at or
    * below [[FooterDriverBound]] files, one metadata-only job above it.
    * The sizing input for index builds (LSH hash width, IVF nlist): an
    * ANN query should not pay a count job before its real work. On a
    * catalog-backed cluster deployment the same number comes from table
    * statistics before either path runs; here it is the sum of the
    * footers' row-group counts, which parquet stores exactly.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCount(spark, dir, name, FooterDriverBound)

  private[io] def rowCount(spark: SparkSession, dir: String, name: String,
      driverBound: Int): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = s"$dir/$name.parquet"
    val files = PathSchemas.listing(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(path))
      .files.map(_.getPath).filter(_.getName.endsWith(".parquet")).toArray
    def footerCount(p: org.apache.hadoop.fs.Path,
        c: org.apache.hadoop.conf.Configuration): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, c))
      try r.getRecordCount finally r.close()
    }
    if (files.length <= driverBound)
      java.util.Arrays.stream(files).parallel()
        .mapToLong(footerCount(_, conf)).sum()
    else {
      // Hadoop Configuration is not serializable; ship its entries and
      // rebuild per partition so non-local filesystems (s3a://, hdfs://)
      // keep their credentials/endpoint settings in the tasks.
      import scala.jdk.CollectionConverters._
      val entries = conf.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
      val paths = files.map(_.toString).toSeq
      spark.sparkContext
        .parallelize(paths, math.min(256, 1 + paths.length / 64))
        .mapPartitions { it =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          entries.foreach { case (k, v) => c.set(k, v) }
          it.map(s => footerCount(new org.apache.hadoop.fs.Path(s), c))
        }.fold(0L)(_ + _)
    }
  }

  /** Resolve a 1/2/3-part name to its final segment (db/schema prefixes are
    * session-default noise on a path-backed catalog); mirrors the resolution
    * at `/root/reference/Data_Quality_Table.sql:20-33`. Quote-aware: dots
    * inside double-quoted segments don't split, and only UNQUOTED
    * identifiers are case-folded (quoted names keep their case, like the
    * reference's quoted resolution).
    */
  def resolve(name: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    name.foreach {
      case '"' => inQuote = !inQuote
        cur.append('"'): Unit
      case '.' if !inQuote => parts += cur.result(); cur.clear()
      case c => cur.append(c): Unit
    }
    parts += cur.result()
    require(!inQuote, s"unterminated quote in table name: $name")
    require(parts.forall(_.nonEmpty) && parts.length <= 3,
      s"table name must have 1-3 parts: $name")
    val last = parts.last
    if (last.startsWith("\"") && last.endsWith("\"") && last.length >= 2)
      last.substring(1, last.length - 1)
    else last.toLowerCase
  }
}
