package graft.io

import org.apache.spark.sql.functions.{col, lit}

import graft.{QueryDef, QueryPack}

/** Registered discovery queries: file → inferred schema rows, checked
  * against the corpus's known column specs as a literal oracle. The
  * csv/json variants first export a slice of the corpus through Spark's
  * writers, then rediscover it through the inference path — exercising
  * reader + inference + TypeMapper end to end.
  *
  * Staged exports are capped at [[StageSample]] rows: discovery reads
  * only schema, and inferring from a bounded sample is the same
  * at-scale discipline as the readers' own `samplingRatio` options —
  * staging a full corpus to CSV/XML to learn 3 column types is wasted
  * I/O at any scale.
  */
object DiscoveryQueries extends QueryPack {

  private val StageSample = 10000

  private def specOracle(rows: Seq[(String, String, Int)]): String =
    rows.map { case (n, t, o) =>
      s"SELECT '$n' AS column_name, '$t' AS data_type, " +
        s"$o AS ordinal_position"
    }.mkString(" UNION ALL ") + " ORDER BY ordinal_position"

  /** Per-process staging path `name_<pid>.ext` under java.io.tmpdir
    * ([[graft.util.Staging.tmpPath]]): with a shared fixed name a
    * concurrent gate JVM shows up as a ZipException or a wrong-rows hash
    * mismatch in an otherwise green run.
    */
  private def stagePath(name: String, ext: String): String =
    graft.util.Staging.tmpPath(name, s".$ext")

  private def parquetQuery = QueryDef(
    "discovery_parquet_lineitem",
    (s, dir) => Discovery.schemaFrame(s, s"$dir/lineitem.parquet")
      .orderBy("ordinal_position"),
    Some(specOracle(Schemas.lineitem.zipWithIndex.map { case (c, i) =>
      (c.name, c.engineType, i + 1)
    })))

  private def csvQuery = QueryDef(
    "discovery_csv_events",
    (s, dir) => {
      val out = stagePath("graft_events", "csv")
      Tables.load(s, dir, "events", parallelize = false)
        .select("event_id", "event_type", "value").limit(StageSample)
        .write.mode("overwrite").option("header", "true").csv(out)
      Discovery.schemaFrame(s, out).orderBy("ordinal_position")
    },
    Some(specOracle(Seq(
      ("event_id", "NUMBER", 1), ("event_type", "VARCHAR", 2),
      ("value", "FLOAT", 3)))))

  private def jsonQuery = QueryDef(
    "discovery_json_documents",
    (s, dir) => {
      val out = stagePath("graft_docs", "json")
      Tables.load(s, dir, "documents", parallelize = false)
        .select("doc_id", "lang", "source").limit(StageSample)
        .write.mode("overwrite").json(out)
      Discovery.schemaFrame(s, out).orderBy("ordinal_position")
    },
    Some(specOracle(Seq(
      ("doc_id", "NUMBER", 1), ("lang", "VARCHAR", 2),
      ("source", "VARCHAR", 3)))))

  /** S4: Spark 4 ships a built-in XML source; the reference's
    * `pd.read_xml` branch (`Data_Discovery_File.sql:339-341`) maps to
    * `spark.read.xml` with a `rowTag`.
    */
  private def xmlQuery = QueryDef(
    "discovery_xml_events",
    (s, dir) => {
      val out = stagePath("graft_events", "xml")
      Tables.load(s, dir, "events", parallelize = false)
        .select("event_id", "event_type", "value").limit(StageSample)
        .write.mode("overwrite").option("rowTag", "row").xml(out)
      Discovery.schemaFrame(s, out).orderBy("ordinal_position")
    },
    Some(specOracle(Seq(
      ("event_id", "NUMBER", 1), ("event_type", "VARCHAR", 2),
      ("value", "FLOAT", 3)))))

  /** S2 (`pd.read_excel`, `Data_Discovery_File.sql:325-327`): stage a
    * deterministic events slice as a REAL .xlsx workbook through
    * [[Xlsx.write]], read it back through the built-in discovery branch,
    * and oracle the VALUES straight from the events table — pinning zip
    * packaging, worksheet XML parsing, shared-string resolution and
    * pandas-style column typing (long / string / double) end to end,
    * with no file dependence in the oracle. `Double.toString` text
    * round-trips exactly, so the hash compare is verbatim.
    */
  private val XlsxRows = 300L

  private def xlsxQuery = QueryDef(
    "discovery_xlsx_events",
    (s, dir) => {
      val out =
        stagePath("graft_events", "xlsx")
      val rows = Tables.load(s, dir, "events", parallelize = false)
        .select("event_id", "event_type", "value")
        .filter(org.apache.spark.sql.functions.col("event_id") <= XlsxRows)
        .orderBy("event_id").collect()
        .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq
      Xlsx.write(out, Seq("event_id", "event_type", "value"), rows)
      val (df, fileType) = Discovery.load(s, out)
      require(fileType == "excel", s"xlsx must report 'excel', got $fileType")
      df.orderBy("event_id")
    },
    Some("SELECT event_id, event_type, value FROM events " +
      s"WHERE event_id <= $XlsxRows ORDER BY event_id"))

  /** Legacy `.xls` (BIFF8) end to end — the other half of the
    * reference's `pd.read_excel` dispatch (`:325-327`): the same events
    * slice staged as a real BIFF8 workbook in an OLE2 container through
    * [[Biff.write]], read back through the built-in discovery branch,
    * values oracled straight from the events table. Pins the compound
    * file (FAT/directory), SST resolution (LABELSST), RK integer
    * packing, IEEE NUMBER cells, and pandas-style integral-column
    * typing. `Double.toString` text round-trips exactly via IEEE bits,
    * so the hash compare is verbatim.
    */
  private val XlsRows = 300L

  private def xlsQuery = QueryDef(
    "discovery_xls_events",
    (s, dir) => {
      val out = stagePath("graft_events", "xls")
      val rows = Tables.load(s, dir, "events", parallelize = false)
        .select("event_id", "event_type", "value")
        .filter(org.apache.spark.sql.functions.col("event_id") <= XlsRows)
        .orderBy("event_id").collect()
        .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq
      Biff.write(out, Seq("event_id", "event_type", "value"), rows)
      val (df, fileType) = Discovery.load(s, out)
      require(fileType == "excel", s"xls must report 'excel', got $fileType")
      df.orderBy("event_id")
    },
    Some("SELECT event_id, event_type, value FROM events " +
      s"WHERE event_id <= $XlsRows ORDER BY event_id"))

  /** ORC ingestion end to end: stage an events slice as a real ORC file
    * (Spark's built-in writer), read it back through the discovery
    * branch, and oracle the VALUES from the events table — the same
    * staging pattern as the xlsx gate. Columnar-to-columnar, so types
    * survive exactly (no text round-trip caveats).
    */
  private val OrcRows = 400L

  private def orcQuery = QueryDef(
    "discovery_orc_events",
    (s, dir) => {
      // directory carries the extension (a parquet-style multi-part
      // "file"); the staged subset is keyed, not limit()-ed — limit
      // without order is nondeterministic and would break the oracle
      val out = stagePath("graft_events", "orc")
      Tables.load(s, dir, "events", parallelize = false)
        .select("event_id", "event_type", "value")
        .filter(org.apache.spark.sql.functions.col("event_id") <= OrcRows)
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      val (df, fileType) = Discovery.load(s, out)
      require(fileType == "orc", s"orc must report 'orc', got $fileType")
      df.orderBy("event_id")
    },
    Some("SELECT event_id, event_type, value FROM events " +
      s"WHERE event_id <= $OrcRows ORDER BY event_id"))

  /** Avro ingestion end to end, BOTH directions distributed: stage an
    * events slice through the executor-side container sink
    * ([[Avro.writeDistributed]], Hadoop-FS streams, nullable-union
    * schema), read the directory back through the discovery branch's
    * `AvroInputFormat` scan, and oracle the VALUES from the events
    * table. Long/string/double survive the binary encoding exactly (no
    * text round-trip), so the hash compare is verbatim — pinning schema
    * translation both ways, union unwrapping, and executor-side
    * encode/decode.
    */
  private val AvroRows = 500L

  private def avroQuery = QueryDef(
    "discovery_avro_events",
    (s, dir) => {
      val out = stagePath("graft_events", "avro")
      Avro.writeDistributed(
        Tables.load(s, dir, "events", parallelize = false)
          .select("event_id", "event_type", "value")
          .filter(org.apache.spark.sql.functions.col("event_id") <= AvroRows)
          .coalesce(1),
        out)
      val (df, fileType) = Discovery.load(s, out)
      require(fileType == "avro", s"avro must report 'avro', got $fileType")
      df.orderBy("event_id")
    },
    Some("SELECT event_id, event_type, value FROM events " +
      s"WHERE event_id <= $AvroRows ORDER BY event_id"))

  /** Semi-structured promotion ([[SemiStructured.promote]]): the events
    * `props` JSON column promoted to a typed `k` with a validity flag —
    * codegen'd `from_json` with an explicit schema, no shuffle. Oracle
    * replays the extraction with DuckDB's JSON functions, so the hash
    * pins per-row parse + typing.
    */
  private def propsQuery = QueryDef(
    "events_props_promote",
    (s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      SemiStructured.promote(
          Tables.load(s, dir, "events", parallelize = false)
            .select("event_id", "event_type", "props"),
          "props", schema)
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("k"),
          org.apache.spark.sql.functions.col("props_valid"))
        .orderBy("event_id")
    },
    Some("SELECT event_id, event_type, " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, " +
      "(props IS NOT NULL AND json_valid(props)) AS props_valid " +
      "FROM events ORDER BY event_id"))

  /** S9: catalog scan as a relation, with the reference's CASE
    * length/precision dispatch (`Data_Quality_Table.sql:38-54`). Oracle =
    * literal expected rows from the corpus schema spec (NUMBER→38,
    * FLOAT→17 significant digits, VARCHAR→16 MB Snowflake default,
    * TIMESTAMP→µs precision 6).
    */
  private def catalogQuery(table: String) = QueryDef(
    s"catalog_columns_$table",
    (s, dir) => Catalog.tableColumns(s, dir, table),
    Some {
      val lenOf = Map("NUMBER" -> 38L, "FLOAT" -> 17L,
        "VARCHAR" -> 16777216L, "TIMESTAMP" -> 6L)
      Schemas.byTable(table).zipWithIndex.map { case (c, i) =>
        s"SELECT '${table.toUpperCase}' AS table_name, " +
          s"'${c.name.toUpperCase}' AS column_name, " +
          s"'${c.engineType}' AS data_type, 'YES' AS is_nullable, " +
          s"CAST(${lenOf(c.engineType)} AS BIGINT) " +
          "AS character_maximum_length, " +
          s"CAST(${i + 1} AS BIGINT) AS ordinal_position"
      }.mkString(" UNION ALL ") + " ORDER BY ordinal_position"
    })

  /** Schema-evolution audit ([[SchemaDrift.diff]]): the orders catalog
    * vs an in-query-mutated successor — one column dropped, one
    * retyped FLOAT→VARCHAR, one added non-nullable BOOLEAN — so every
    * status class except nullability_changed carries a row (that class
    * is spec-pinned instead). The oracle rebuilds both catalogs from
    * the literal schema spec and replays the same full-outer diff.
    */
  private def schemaDriftQuery = QueryDef(
    "catalog_schema_drift",
    (s, dir) => {
      val before = Tables.load(s, dir, "orders")
      val after = before
        .drop("o_orderpriority")
        .withColumn("o_totalprice", col("o_totalprice").cast("string"))
        .withColumn("o_fulfilled", lit(true))
      SchemaDrift.diff(
        Catalog.columnsFrame(s, before, "orders"),
        Catalog.columnsFrame(s, after, "orders"))
        .orderBy("column_name")
    },
    Some {
      def lits(rows: Seq[(String, String, String)]) = rows.map {
        case (n, t, nl) => s"SELECT '$n' AS column_name, " +
          s"'$t' AS data_type, '$nl' AS is_nullable"
      }.mkString(" UNION ALL ")
      val cols = Schemas.byTable("orders")
      val before = cols.map(c => (c.name.toUpperCase, c.engineType, "YES"))
      val after = cols.filterNot(_.name == "o_orderpriority").map { c =>
        val t = if (c.name == "o_totalprice") "VARCHAR" else c.engineType
        (c.name.toUpperCase, t, "YES")
      } :+ (("O_FULFILLED", "BOOLEAN", "NO"))
      s"WITH b AS (${lits(before)}), a AS (${lits(after)}) " +
        "SELECT column_name, " +
        "CASE WHEN a.data_type IS NULL THEN 'removed' " +
        "WHEN b.data_type IS NULL THEN 'added' " +
        "WHEN b.data_type <> a.data_type THEN 'type_changed' " +
        "WHEN b.is_nullable <> a.is_nullable THEN 'nullability_changed' " +
        "ELSE 'unchanged' END AS status, " +
        "b.data_type AS before_type, a.data_type AS after_type, " +
        "b.is_nullable AS before_nullable, " +
        "a.is_nullable AS after_nullable " +
        "FROM b FULL OUTER JOIN a USING (column_name) " +
        "ORDER BY column_name"
    })

  /** Declared FK-candidate audit pairs: the star schema's four true
    * FKs plus one deliberate NON-relationship (order keys inside
    * customer keys) so the gate shows the metric discriminating, not
    * just confirming.
    */
  private val FkPairs: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"))

  /** Candidate foreign-key audit ([[FkDiscovery]]) over the declared
    * pair list — inclusion-dependency + key-quality evidence per pair,
    * one lazy unioned plan.
    */
  private def fkQuery: QueryDef = QueryDef(
    "fk_discovery_tpch",
    (s, dir) => FkDiscovery.audit(FkPairs.map { case (cn, cc, pn, pc) =>
      FkDiscovery.Candidate(cn, Tables.load(s, dir, cn), cc,
        pn, Tables.load(s, dir, pn), pc)
    }),
    Some {
      val blocks = FkPairs.map { case (cn, cc, pn, pc) =>
        s"(WITH cv AS (SELECT DISTINCT $cc AS v FROM $cn " +
          s"WHERE $cc IS NOT NULL), " +
          s"pv AS (SELECT DISTINCT $pc AS pv FROM $pn " +
          s"WHERE $pc IS NOT NULL), " +
          "cj AS (SELECT count(*) AS child_distinct, count(pv) AS " +
          "contained FROM cv LEFT JOIN pv ON v = pv), " +
          s"ps AS (SELECT count(DISTINCT $pc) AS parent_distinct, " +
          s"count($pc) AS parent_rows FROM $pn) " +
          s"SELECT '$cn.$cc' AS child_col, '$pn.$pc' AS parent_col, " +
          "child_distinct, contained, " +
          "CASE WHEN child_distinct = 0 THEN 0.0 ELSE " +
          "CAST(contained AS DOUBLE) / CAST(child_distinct AS DOUBLE) " +
          "END AS containment, parent_distinct, " +
          "parent_distinct = parent_rows AS parent_unique " +
          "FROM cj, ps)"
      }
      "SELECT * FROM (" + blocks.mkString(" UNION ALL ") +
        ") ORDER BY child_col, parent_col"
    })

  /** Hive-partition pruning ([[PartitionedStage]]): the events table
    * staged once `partitionBy(event_type)`, then a per-day purchase
    * roll-up whose type predicate is satisfied at PLANNING time —
    * `PartitionFilters` on the scan, zero I/O for the four pruned
    * type directories (plan-pinned in `PlanAuditSpec`). The oracle
    * aggregates the raw table under the same predicate, so the hash
    * match proves layout-invariance of the result while the plan pin
    * carries the pruning evidence.
    *
    * `sum_value` is emitted as DOUBLE, not DECIMAL: the r9 driver gate
    * hash-failed this lane (locally bit-exact) and — like the melted
    * profile, the only other red row — its final schema carried a
    * DECIMAL column, which no passing lane does. The decimal
    * accumulator stays (order-independent exactness); only the emitted
    * value takes the one exact cast to DOUBLE, the idiom every passing
    * events lane uses.
    */
  private def partitionPrunedQuery = QueryDef(
    "scan_partition_pruned_events",
    (s, dir) => {
      val staged = PartitionedStage.ensure(s, dir)
      s.read.parquet(staged)
        .filter(col("event_type") === "purchase")
        .groupBy(org.apache.spark.sql.functions.expr(
          s"unix_micros(ts) DIV ${graft.pipeline.Actives.DayUs}L")
          .as("day"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(
            col("value").cast("decimal(18,4)")).cast("double")
            .as("sum_value"))
        .orderBy(col("day"))
    },
    Some("SELECT epoch_us(ts) // " +
      s"${graft.pipeline.Actives.DayUs} AS day, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS " +
      "sum_value FROM events WHERE event_type = 'purchase' " +
      "GROUP BY 1 ORDER BY 1"))

  override def queries: Seq[QueryDef] =
    Seq(parquetQuery, csvQuery, jsonQuery, xmlQuery, xlsxQuery, xlsQuery,
      orcQuery, avroQuery, propsQuery, catalogQuery("customer"),
      catalogQuery("lineitem"), schemaDriftQuery, fkQuery,
      partitionPrunedQuery)
}
