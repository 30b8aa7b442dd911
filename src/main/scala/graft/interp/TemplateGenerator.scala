package graft.interp

/** Deterministic template codegen: a [[TextGenerator]] that emits REAL,
  * runnable Spark SQL (and sketch Scala) for the four pipeline shapes the
  * reference's LLM is prompted for (`/root/reference/CODE_GENERATOR.sql:
  * 39-119`). This makes the discovery → codegen → execution loop fully
  * executable and verifiable without a model: the prompts carry the task
  * intent, the metadata carries the schema, and the shapes themselves are
  * mechanical (the reference's prompt text IS a template specification).
  *
  * Conventions (documented, deterministic):
  *   - target table/view = first metadata key, extension stripped,
  *     non-identifier chars mapped to `_`
  *   - SCD1 key = first column; order column = CREATED_AT if present,
  *     else the last column; target rows are kept by `NOT EXISTS` (a
  *     NULL batch key must not empty the target, as `NOT IN` would)
  *   - aggregation groups by the first VARCHAR column; FLOAT measures are
  *     summed through DECIMAL(18,4) so results don't depend on partition
  *     summation order; NUMBER measures sum exactly
  *   - join uses the first two metadata tables on their first shared
  *     column name
  */
object TemplateGenerator extends TextGenerator {

  def generate(prompt: String): String =
    TextGenerator.Stub.generate(prompt)

  override def generate(prompt: String,
      metadata: Objective.Metadata): String = {
    val wantSql = prompt.contains("Output only SQL")
    val tables = metadata.toSeq.sortBy(_._1)
    if (tables.isEmpty) generate(prompt)
    else if (prompt.contains("SCD Type 1")) scd1(tables.head, wantSql)
    else if (prompt.contains("joining")) join(tables, wantSql)
    else if (prompt.contains("aggregation") || prompt.contains("groupBy"))
      aggregation(tables.head, wantSql)
    else if (prompt.contains("staged file")) ddlCopy(tables.head, wantSql)
    else generate(prompt)
  }

  private def ident(raw: String): String =
    raw.replaceAll("\\.[A-Za-z0-9]+$", "").replaceAll("[^A-Za-z0-9_]", "_")

  private def scd1(table: (String, Seq[(String, String)]),
      wantSql: Boolean): String = {
    val (name, cols) = table
    val t = ident(name)
    val key = cols.head._1
    val ord = cols.find(_._1.equalsIgnoreCase("CREATED_AT"))
      .map(_._1).getOrElse(cols.last._1)
    if (wantSql)
      s"""CREATE OR REPLACE TEMPORARY VIEW ${t}_latest AS
         |SELECT ${cols.map(_._1).mkString(", ")} FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY $key
         |    ORDER BY $ord DESC) AS __rn FROM ${t}_source) WHERE __rn = 1;
         |CREATE OR REPLACE TEMPORARY VIEW ${t}_merged AS
         |SELECT * FROM ${t}_target tgt
         |WHERE NOT EXISTS (SELECT 1 FROM ${t}_latest lt WHERE lt.$key = tgt.$key)
         |UNION ALL SELECT * FROM ${t}_latest;""".stripMargin
    else
      s"""val latest = Scd1.latestPerKey(source, Seq("$key"), "$ord")
         |val merged = Scd1.merge(target, source, Seq("$key"), "$ord")""".stripMargin
  }

  private def aggregation(table: (String, Seq[(String, String)]),
      wantSql: Boolean): String = {
    val (name, cols) = table
    val t = ident(name)
    val group = cols.find(_._2 == "VARCHAR").map(_._1)
      .getOrElse(cols.head._1)
    val measures = cols.filter(c => c._1 != group).collect {
      case (c, "NUMBER") => s"SUM($c) AS sum_$c"
      case (c, "FLOAT") =>
        s"CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) AS sum_$c"
    }
    val selects = (s"$group" +: "COUNT(*) AS cnt" +: measures)
      .mkString(", ")
    if (wantSql)
      s"SELECT $selects FROM $t GROUP BY $group ORDER BY $group;"
    else
      s"""df.groupBy("$group").agg(count(lit(1)).as("cnt"))""" // sketch
  }

  private def join(tables: Seq[(String, Seq[(String, String)])],
      wantSql: Boolean): String = {
    if (tables.length < 2) return aggregation(tables.head, wantSql)
    val (aName, aCols) = tables(0)
    val (bName, bCols) = tables(1)
    val (a, b) = (ident(aName), ident(bName))
    val shared = aCols.map(_._1).intersect(bCols.map(_._1))
      .headOption.getOrElse(aCols.head._1)
    if (wantSql)
      s"SELECT ${aCols.map(c => s"$a.${c._1}").mkString(", ")}, " +
        s"${bCols.filter(c => c._1 != shared)
          .map(c => s"$b.${c._1}").mkString(", ")} " +
        s"FROM $a JOIN $b ON $a.$shared = $b.$shared;"
    else
      s"""a.join(b, Seq("$shared"))"""
  }

  private def ddlCopy(table: (String, Seq[(String, String)]),
      wantSql: Boolean): String = {
    val (name, cols) = table
    val t = ident(name)
    val sqlTypeOf = Map("NUMBER" -> "BIGINT", "FLOAT" -> "DOUBLE",
      "VARCHAR" -> "STRING", "BOOLEAN" -> "BOOLEAN",
      "TIMESTAMP" -> "TIMESTAMP").withDefaultValue("STRING")
    if (wantSql)
      s"""CREATE TABLE IF NOT EXISTS $t (
         |  ${cols.map(c => s"${c._1} ${sqlTypeOf(c._2)}").mkString(",\n  ")}
         |) USING parquet;""".stripMargin
    else
      s"""spark.read.option("inferSchema", true).csv(path)
         |  .write.mode("overwrite").saveAsTable("$t")""".stripMargin
  }
}
