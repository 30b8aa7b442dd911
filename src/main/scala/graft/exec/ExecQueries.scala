package graft.exec

import graft.{QueryDef, QueryPack}
import graft.io.Tables

/** Registered script-engine query: run a 3-statement script (with a
  * deliberately failing middle statement) over a temp view of `events` and
  * emit the audit rows. The oracle is the literal expected audit — the
  * engine's failure-isolation contract — while timing/preview behavior is
  * covered by ScriptEngineSpec.
  */
object ExecQueries extends QueryPack {

  private def scriptQuery = QueryDef(
    "exec_script_audit",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events").createOrReplaceTempView("exec_events")
      val report = ScriptEngine.run(s,
        """-- aggregate then fail then read
          |CREATE OR REPLACE TEMPORARY VIEW exec_top AS
          |  SELECT event_type, count(*) AS n FROM exec_events
          |  GROUP BY event_type;
          |SELECT * FROM this_table_does_not_exist;
          |SELECT * FROM exec_top;""".stripMargin)
      report.details
        .map(d => (d.step, d.status, d.error.isDefined))
        .toDF("step", "status", "failed")
        .orderBy("step")
    },
    Some("SELECT 1 AS step, 'SUCCESS' AS status, false AS failed " +
      "UNION ALL SELECT 2, 'FAILED', true " +
      "UNION ALL SELECT 3, 'SUCCESS', false ORDER BY step"))

  /** S8 + custom functions: the reference's users work in SQL text, so
    * the engine's native expressions must be callable from `spark.sql`.
    * This runs the embedding near-dup entirely as a SQL statement using
    * the registered `graft_cosine` — and hash-matches the same DuckDB
    * oracle as the Column-API variant (`dedup_embedding_blocked`),
    * proving the two surfaces are equivalent.
    */
  private def sqlVectorQuery = QueryDef(
    "sql_embedding_dedup",
    (s, dir) => {
      // idempotent — covers sessions built without the extensions conf
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      Tables.load(s, dir, "embeddings")
        .createOrReplaceTempView("sql_embeddings")
      s.sql(
        """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v,
          |  label FROM sql_embeddings),
          |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  graft_cosine(a.v, b.v) AS cosine
          |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
          |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
          |ORDER BY id_a, id_b""".stripMargin)
    },
    Some(graft.dedup.DedupQueries.embBlockedOracleSql))

  override def queries: Seq[QueryDef] = Seq(scriptQuery, sqlVectorQuery)
}
