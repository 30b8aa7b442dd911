package graft.catalog

import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.interp.TextGenerator
import graft.io.Schemas
import graft.util.Staging

/** Registered glossary query: the full CRUD cycle (create-if-absent,
  * batched append, table-filtered delete + regenerate) run against a
  * scratch glossary, then read back as a relation. Regenerating `nation`
  * twice proves the filtered-delete path replaces rather than duplicates
  * (`/root/reference/Business_Glossory.sql:47-50,85-89`). The oracle is
  * the literal expected table — definitions come from the deterministic
  * stub, so every row is predictable.
  */
object GlossaryQueries extends QueryPack {

  private def meta(table: String): Seq[(String, String, String)] =
    Schemas.byTable(table).map(c => (table, c.name, c.engineType))

  private def stubDef(table: String, column: String,
      dataType: String): String =
    TextGenerator.Stub.generate(
      Glossary.definitionPrompt(table, column, dataType))

  private def glossaryQuery = QueryDef(
    "glossary_crud_cycle",
    (s, dir) => {
      val path = Staging.tmpPath("graft_glossary_q")
      Glossary.deleteForTest(path)
      Glossary.createIfAbsent(s, path)
      Glossary.regenerate(s, path, meta("region"), Some("region"))
      Glossary.regenerate(s, path, meta("nation"), Some("nation"))
      // second regenerate of the same table must REPLACE its slice
      Glossary.regenerate(s, path, meta("nation"), Some("nation"))
      Glossary.read(s, path)
        .orderBy("TABLE_NAME", "COLUMN_NAME")
    },
    Some {
      val rows = (meta("nation") ++ meta("region")).map { case (t, c, d) =>
        s"SELECT '${t.toUpperCase}' AS TABLE_NAME, '$c' AS COLUMN_NAME, " +
          s"'$d' AS DATA_TYPE, " +
          s"'${stubDef(t, c, d).replace("'", "''")}' AS BUSINESS_DEFINITION"
      }
      rows.mkString(" UNION ALL ") + " ORDER BY TABLE_NAME, COLUMN_NAME"
    })

  /** The 100-column metadata frame for the wide-batch lane: the shape of
    * a feature-store table, where the reference's per-column LLM loop
    * (`Business_Glossory.sql:69-89` — one Cortex round-trip and one
    * INSERT per column) degrades worst. Deterministic types alternate so
    * the definitions vary.
    */
  private[catalog] def wideMeta: Seq[(String, String, String)] =
    (0 until 100).map { i =>
      ("wide_features", f"col_$i%03d",
        if (i % 2 == 0) "BIGINT" else "DOUBLE")
    }

  /** Batched definitions at WIDE-TABLE scale: 100 columns generate and
    * append as ONE batch — one local definitions frame, one write job —
    * vs the reference's per-column generate+INSERT loop (100 LLM
    * round-trips and 100 single-row INSERT statements,
    * `Business_Glossory.sql:85-89`). GlossarySpec pins that the job
    * count does NOT scale with column count; the oracle is the literal
    * expected table (stub definitions are deterministic).
    */
  private def wideBatchQuery = QueryDef(
    "glossary_wide_batch",
    (s, dir) => {
      val path = Staging.tmpPath("graft_glossary_wide")
      Glossary.deleteForTest(path)
      Glossary.regenerate(s, path, wideMeta, None)
      Glossary.read(s, path).orderBy("COLUMN_NAME")
    },
    Some {
      val rows = wideMeta.map { case (t, c, d) =>
        s"SELECT '${t.toUpperCase}' AS TABLE_NAME, '$c' AS COLUMN_NAME, " +
          s"'$d' AS DATA_TYPE, " +
          s"'${stubDef(t, c, d).replace("'", "''")}' AS BUSINESS_DEFINITION"
      }
      rows.mkString(" UNION ALL ") + " ORDER BY COLUMN_NAME"
    })

  override def queries: Seq[QueryDef] = Seq(glossaryQuery, wideBatchQuery)
}
