package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.interp.TextGenerator
import graft.util.DirSwap

/** Business-glossary CRUD over an immutable parquet-backed table
  * (`/root/reference/Business_Glossory.sql`).
  *
  * Plain parquet tables can't DELETE or per-row INSERT, so:
  *   - S12 delete → anti-delete: read, filter out, atomic swap rewrite.
  *   - S11 per-row INSERT loop (`:85-89`, one round-trip per column!) →
  *     ONE batched append of the whole definitions DataFrame.
  *
  * Definition text generation stays behind [[TextGenerator]] (the
  * reference's Cortex call, `:69-80`, is an external service); the prompt
  * is the reference's, verbatim.
  */
object Glossary {

  final case class Entry(TABLE_NAME: String, COLUMN_NAME: String,
      DATA_TYPE: String, BUSINESS_DEFINITION: String)

  /** S13: create-if-absent (`Business_Glossory.sql:19-26`), after
    * finishing any crashed swap ([[DirSwap.recover]]) so an interrupted
    * regenerate is never mistaken for an absent glossary.
    */
  def createIfAbsent(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val fs = DirSwap.fsOf(spark, path)
    val (dir, tmp, bak) = DirSwap.siblings(path)
    DirSwap.recover(fs, dir, tmp, bak)
    if (!fs.exists(dir))
      Seq.empty[Entry].toDF().write.mode(SaveMode.Overwrite).parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    createIfAbsent(spark, path)
    spark.read.parquet(path)
  }

  /** Previous entries, optionally for one table (`:29-33`). */
  def previousEntries(spark: SparkSession, path: String,
      tableName: Option[String]): DataFrame = {
    val df = read(spark, path)
    tableName.fold(df)(t => df.filter(col("TABLE_NAME") === t.toUpperCase))
  }

  /** Previous-entry summary string (`:33`). */
  def previousSummary(spark: SparkSession, path: String,
      tableName: Option[String]): String = {
    val rows = previousEntries(spark, path, tableName)
      .select("TABLE_NAME", "COLUMN_NAME", "BUSINESS_DEFINITION")
      .collect()
    if (rows.isEmpty) "No previous entries found."
    else rows.map(r => s"${r.getString(0)}.${r.getString(1)}: " +
      s"${r.getString(2)}").mkString("\n")
  }

  /** The reference's per-column prompt (`:58-62`). */
  def definitionPrompt(table: String, column: String,
      dataType: String): String =
    s"Generate a short, clear, business-friendly definition for the " +
      s"column '$column' in the table '$table'. The data type is " +
      s"'$dataType'."

  /** Regenerate glossary entries for the given column metadata: clear the
    * filtered slice (`:47-50`), generate definitions, append as ONE batch
    * (vs the reference's per-row INSERT loop, `:85-89`). Write is
    * crash-safe: new content lands in `<path>.tmp` and swaps in through
    * `<path>.bak` ([[DirSwap]]); [[createIfAbsent]] finishes a crashed
    * swap on the next entry.
    *
    * @param metadata (tableName, columnName, dataType) rows, catalog order
    */
  def regenerate(spark: SparkSession, path: String,
      metadata: Seq[(String, String, String)], tableName: Option[String],
      gen: TextGenerator = TextGenerator.Stub): Unit = {
    import spark.implicits._
    val existing = read(spark, path)
    val kept = tableName match {
      case Some(t) => existing.filter(col("TABLE_NAME") =!= t.toUpperCase)
      case None => existing.limit(0)
    }
    val fresh = metadata.map { case (t, c, d) =>
      Entry(t.toUpperCase, c, d,
        gen.generate(definitionPrompt(t, c, d)))
    }.toDF()
    val merged = kept.unionByName(fresh)

    val (dir, tmp, bak) = DirSwap.siblings(path)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    DirSwap.replace(DirSwap.fsOf(spark, path), dir, tmp, bak)
  }

  /** Test hook: remove a glossary path and its swap siblings entirely. */
  def deleteForTest(path: String): Unit =
    Seq("", ".tmp", ".bak").foreach(sfx =>
      graft.util.Staging.deleteRecursively(new java.io.File(path + sfx)))
}
