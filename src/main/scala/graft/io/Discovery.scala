package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PathSchemas

import graft.types.TypeMapper

/** File discovery & ingestion: extension-dispatched distributed readers
  * with schema inference plus `file_definition` metadata — the Spark
  * equivalent of the reference's stage-fetch + pandas loaders
  * (`/root/reference/Data_Discovery_File.sql:317-349,361-373`).
  *
  * Spark readers take URIs directly, so the reference's
  * fetch-to-temp-dir step (S6, `:361-367`) collapses into path
  * resolution; readers stream splits in parallel instead of loading the
  * whole file on one node.
  */
object Discovery {

  final case class ColumnDef(columnName: String, `type`: String)
  final case class FileDefinition(fileName: String, fileType: String,
      fileSize: String, columns: Seq[ColumnDef])

  /** S2: pluggable readers for formats without a built-in Spark source.
    * A registered reader takes precedence over the built-in dispatch for
    * its extension — the integration point for a deployment that bundles
    * e.g. a full POI-based source. Neither Excel flavor needs a plug-in:
    * [[Xlsx]] (OOXML) and [[Biff]] (legacy BIFF8 .xls) cover the
    * reference's `pd.read_excel` branch (`:325-327`) end to end.
    */
  private val pluggable =
    scala.collection.concurrent.TrieMap[String, (SparkSession, String) => DataFrame]()

  def registerReader(ext: String,
      reader: (SparkSession, String) => DataFrame): Unit =
    pluggable.put(ext.toLowerCase, reader)

  def unregisterReader(ext: String): Unit =
    pluggable.remove(ext.toLowerCase)

  /** Extension-dispatched distributed load
    * (`Data_Discovery_File.sql:317-349`). Returns (df, fileType).
    * Both Excel flavors read through built-in readers ([[Xlsx]] for
    * OOXML, [[Biff]] for BIFF8) and report "excel" like the reference.
    */
  def load(spark: SparkSession, path: String): (DataFrame, String) = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    pluggable.get(ext).foreach { r => return (r(spark, path), ext) }
    ext match {
      case "csv" =>
        (spark.read.option("header", "true").option("inferSchema", "true")
          .csv(path), "csv")
      case "xlsx" =>
        // the reference reports both Excel flavors as 'excel' (`:327`)
        (Xlsx.read(spark, path), "excel")
      case "xls" =>
        (Biff.read(spark, path), "excel")
      case "json" =>
        // NDJSON first (Spark native), whole-file fallback (`:329-337`)
        val lines = spark.read.json(path)
        if (lines.columns.contains("_corrupt_record"))
          (spark.read.option("multiLine", "true").json(path), "json")
        else (lines, "json")
      case "xml" =>
        (spark.read.option("rowTag", "row").xml(path), "xml")
      case "parquet" => (spark.read.parquet(path), "parquet")
      // Beyond the reference's pandas formats: ORC is the other columnar
      // format a Spark-native lakehouse ingests, and the reader ships in
      // Spark core — same split/pushdown machinery as parquet.
      case "orc" => (spark.read.orc(path), "orc")
      // Row-oriented lake-landing counterpart (Kafka/connect exports):
      // splittable distributed scan via avro-mapred — see [[Avro]].
      case "avro" => (Avro.read(spark, path), "avro")
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported file format: .$other")
    }
  }

  /** F13: bytes → "N B" / "x.y KB" / "x.y MB"
    * (`Data_Discovery_File.sql:57-69`).
    */
  def formatSize(sizeBytes: Long): String =
    if (sizeBytes < 1024) s"$sizeBytes B"
    else if (sizeBytes < 1024L * 1024)
      s"${math.round(sizeBytes / 1024.0 * 100) / 100.0} KB"
    else s"${math.round(sizeBytes / (1024.0 * 1024) * 100) / 100.0} MB"

  /** `file_definition` metadata (`Data_Discovery_File.sql:73-93`). */
  def fileDefinition(spark: SparkSession, path: String): FileDefinition = {
    val (df, fileType) = load(spark, path)
    // the data files Spark reads, listed through the path's FileSystem
    // (java.io.File reads a `file:` URI as 0 bytes)
    val size = PathSchemas.listing(spark, path).map(_.bytes).getOrElse(0L)
    FileDefinition(
      fileName = path.split('/').last,
      fileType = fileType,
      fileSize = formatSize(size),
      columns = df.schema.fields.toSeq.map(f =>
        ColumnDef(f.name, TypeMapper.toEngineType(f.dataType))))
  }

  /** Schema rows as a DataFrame — the discovery result as a queryable
    * capability (column_name, engine type, ordinal).
    */
  def schemaFrame(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fd = fileDefinition(spark, path)
    fd.columns.zipWithIndex
      .map { case (c, i) => (c.columnName, c.`type`, i + 1) }
      .toDF("column_name", "data_type", "ordinal_position")
  }
}
