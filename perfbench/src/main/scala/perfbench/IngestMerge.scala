package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Glossary
import graft.exec.ScriptEngine
import graft.interp.{Objective, TemplateGenerator}
import graft.orch.Ingestion
import graft.pipeline.PrunedMerge
import graft.security.Pii
import graft.types.TypeMapper

/** `ingest_merge`: the reference's write path over seeded change batches,
  * plus the corpus arm of ingestion as streaming micro-batches. The
  * warm-up stages the target and applies batch 0, then drains sequence 0;
  * each loop cycle applies the next two batches (manifest `batches`, in
  * order) and drains the next corpus sequence through the near-dup stream
  * ([[NearDupSequences]], manifest `sequences`). Per batch the calls are:
  *  - `ingest`: Ingestion.run (discovery → codegen), then
  *    Objective.filterRequiredMetadata over the discovered columns;
  *  - `script`: ScriptEngine.run of the generated SCD1 script (load the
  *    batch and the target, latest-per-key, merged relation, merged row
  *    count);
  *  - `merge`: PrunedMerge.mergeInto of the batch into the target;
  *  - `mask`: Pii.apply over the target, written as `<T>_MASKED`;
  *  - `glossary`: Glossary.regenerate for the target's columns.
  * The target grows through the run (batches insert new keys).
  */
final class IngestMerge(m: Main.Manifest) extends Workload {
  import Main._

  private val work = str(m, "work_dir")
  private val nParts = num(m, "n_parts").toInt
  private val tm = m.get("target").asInstanceOf[Manifest]
  private val table = str(tm, "table")
  private val key = str(tm, "key")
  private val order = str(tm, "order")
  private val measure = str(tm, "measure")
  private val target = s"$work/$table"
  private val masked = s"$work/${table.toUpperCase}_MASKED"
  private val glossary = s"$work/glossary"
  private val objective = str(m, "objective")
  private val batches = list(m, "batches")
  private val sequences = list(m, "sequences")
  private val streams = new NearDupSequences(
    num(m, "state_partitions").toInt)
  private val stepSeconds = mutable.ArrayBuffer.empty[Double]
  private var statements = 0

  override def setup(spark: SparkSession): Unit = {
    // the warm-up's stream drains while the target is staged and the
    // warm-up batch runs: both only need their plans compiled and run, and
    // overlapping them shortens set-up
    val t = new Tracer(spark.sparkContext, false)
    try {
      val stream = Future(streams.run(spark, t, sequences.head,
        s"$work/stream_warm"))(ExecutionContext.global)
      PrunedMerge.stage(spark.read.parquet(str(tm, "base")), target,
        Seq(key), nParts)
      batch(spark, t, batches.head)
      Await.result(stream, Duration.Inf)
    } finally t.stop()
    extra(); () // drop the warm-up's measurements
  }

  override def next(spark: SparkSession, t: Tracer, i: Int): Seq[Call] = {
    val (cycle, k) = (i / 3, i % 3)
    if (k < 2) batch(spark, t, batches(1 + 2 * cycle + k))
    else {
      val s = sequences(1 + cycle)
      Seq(streams.run(spark, t, s, s"$work/stream${str(s, "id")}"))
    }
  }

  /** Count, distinct keys, key sum and measure sum (as a decimal string)
    * of a relation with the target's columns.
    */
  private def fingerprint(df: DataFrame): Seq[(String, Js)] = {
    val fp = df.agg(count(lit(1)), countDistinct(col(key)), sum(col(key)),
      sum(col(measure).cast("decimal(38,2)"))).head()
    Seq("rows" -> Js.num(fp.getLong(0)), "keys" -> Js.num(fp.getLong(1)),
      "key_sum" -> Js.num(fp.getLong(2)),
      "measure_sum" -> Js.str(fp.getDecimal(3).toPlainString))
  }

  private def batch(spark: SparkSession, t: Tracer, b: Manifest)
      : Seq[Call] = {
    val path = str(b, "path")
    val id = str(b, "id")
    val calls = mutable.ArrayBuffer.empty[Call]

    var generated: Option[String] = None
    calls += timed("ingest", id) {
      val res = t.span("orch", "Ingestion.run")(
        Ingestion.run(spark, objective, path, TemplateGenerator))()
      val meta: Objective.Metadata = Map(path.split('/').last ->
        res.columns.map(c => (c.columnName, c.`type`)))
      val kept = t.span("interp", "Objective.filterRequiredMetadata")(
        Objective.filterRequiredMetadata(objective, meta))()
      (res, kept)
    } { case (res, kept) =>
      generated = res.sqlCode
      Js.obj("status" -> Js.str(res.status),
        "task_type" -> Js.str(res.taskType.getOrElse("")),
        "columns" -> Js.arr(res.columns.map(c => Js.str(c.columnName))),
        "kept" -> Js.arr(kept.keys.toSeq.sorted.map(Js.str)))
    }

    // The generated SCD1 code reads `<file>_source` and `<file>_target`
    // and defines `<file>_merged`; the script loads both and forces the
    // merged relation.
    val ident = path.split('/').last.replaceAll("\\.[A-Za-z0-9]+$", "")
      .replaceAll("[^A-Za-z0-9_]", "_")
    val cols = strs(tm, "columns").mkString(", ")
    val merged = s"${ident}_merged"
    val script =
      s"CREATE OR REPLACE TEMPORARY VIEW ${ident}_source USING parquet " +
        s"OPTIONS (path '$path');\n" +
        s"CREATE OR REPLACE TEMPORARY VIEW ${ident}_target AS SELECT $cols " +
        s"FROM parquet.`$target`;\n" +
        generated.getOrElse("") + "\n" +
        s"SELECT count(*) AS n FROM $merged;"
    calls += timed("script", id) {
      t.span("exec", "ScriptEngine.run")(ScriptEngine.run(spark, script))()
    } { r =>
      stepSeconds ++= r.details.map(_.executionTimeSec)
      statements += r.totalStatements
      Js.obj(Seq("status" -> Js.str(r.status),
        "statements" -> Js.num(r.totalStatements),
        "succeeded" -> Js.num(r.successCount),
        "failed" -> Js.num(r.failedCount)) ++
        fingerprint(spark.table(merged)): _*)
    }

    calls += timed("merge", id) {
      t.span("pipeline", "PrunedMerge.mergeInto")(
        PrunedMerge.mergeInto(spark, target, spark.read.parquet(path),
          Seq(key), order, nParts = nParts))()
    } { touched =>
      Js.obj(("touched" -> Js.arr(touched.map(p => Js.num(p)))) +:
        fingerprint(PrunedMerge.readTable(spark, target)): _*)
    }

    calls += timed("mask", id) {
      val df = t.span("io", "PrunedMerge.readTable")(
        PrunedMerge.readTable(spark, target))()
      t.span("security", "Pii.apply")(
        Pii.apply(df).write.mode("overwrite").parquet(masked))()
    } { _ =>
      val out = spark.read.parquet(masked)
      val lineage =
        if (out.columns.contains("PII_MASKING_TYPE"))
          collect_set(col("PII_MASKING_TYPE"))
        else array().cast("array<string>")
      val r = out.agg(count(lit(1)), lineage, sum(when(
        col(str(tm, "pii_column")).rlike(str(tm, "pii_raw")), 1)
        .otherwise(0))).head()
      Js.obj("rows" -> Js.num(r.getLong(0)),
        "lineage" -> Js.arr(r.getSeq[String](1).sorted.map(Js.str)),
        "unmasked" -> Js.num(r.getLong(2)))
    }

    calls += timed("glossary", id) {
      t.span("catalog", "Glossary.regenerate") {
        val schema = spark.read.parquet(path).schema
        Glossary.regenerate(spark, glossary,
          schema.fields.toSeq.map(f =>
            (table, f.name, TypeMapper.toEngineType(f.dataType))),
          Some(table))
      }()
    } { _ =>
      rowsJs(Glossary.read(spark, glossary)
        .select(col("TABLE_NAME"), col("COLUMN_NAME"), col("DATA_TYPE"),
          (length(col("BUSINESS_DEFINITION")) > 0).as("defined")))
    }
    calls.toSeq
  }

  override def extra(): Js = {
    val js = Js.obj(
      "stmt_s" -> Js.arr(stepSeconds.toSeq.map(Js.num)),
      "statements" -> Js.num(statements),
      "add_batch_s" -> Js.arr(streams.addBatch.toSeq.map(Js.num)),
      "wal_commit_s" -> Js.arr(streams.walCommit.toSeq.map(Js.num)),
      "state_bytes" -> Js.arr(streams.stateBytes.toSeq.map(Js.num)))
    stepSeconds.clear(); statements = 0; streams.clear()
    js
  }
}
