package graft.orch

import graft.{QueryDef, QueryPack}
import graft.interp.TemplateGenerator
import graft.io.{Discovery, Tables}

/** End-to-end orchestration as a verifiable query: export a corpus slice
  * to csv → discovery infers the schema → the template codegen emits a
  * REAL aggregation SQL from the discovered metadata → the generated SQL
  * executes against the ingested view — the reference's
  * INGESTION_CODE_GENERATORS → EXECUTION_ENGINE loop
  * (`/root/reference/INGESTION_CODE_GENERATOR.sql:31-53` feeding
  * `Execution_Engine_Ingestion_Transformatio.sql:66`), with the LLM seam
  * filled by the deterministic [[TemplateGenerator]]. The oracle computes
  * the same aggregate over the original table.
  */
object OrchQueries extends QueryPack {

  private def ingestionQuery = QueryDef(
    "orch_ingestion_agg_events",
    (s, dir) => {
      // the per-JVM part is the parent dir: the generated SQL names its
      // table after the file
      val out =
        s"${graft.util.Staging.tmpPath("graft_orch")}/graft_orch_events.csv"
      // No scan repartition: this is a straight column-sliced export, not
      // scan-fused compute. parallelize=true (added incidentally in r4)
      // shuffled the table 32 ways into a 32-part CSV that discovery then
      // re-read twice (inferSchema) — 0.79s → 2.20s on the driver bench.
      // A single part file is also what the downstream discovery treats as
      // one logical upload, matching the reference's stage-file flow.
      Tables.load(s, dir, "events")
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").option("header", "true").csv(out)
      val res = Ingestion.run(s,
        "Build an aggregate summary of events by type", out,
        TemplateGenerator)
      require(res.status == "SUCCESS", s"orchestration failed: ${res.error}")
      val (df, _) = Discovery.load(s, out)
      df.createOrReplaceTempView("graft_orch_events")
      s.sql(res.sqlCode.get.stripSuffix(";"))
    },
    Some("SELECT event_type, COUNT(*) AS cnt, " +
      "SUM(event_id)::BIGINT AS sum_event_id, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
      "FROM events GROUP BY event_type ORDER BY event_type"))

  override def queries: Seq[QueryDef] = Seq(ingestionQuery)
}
