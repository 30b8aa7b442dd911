package graft.exec

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  UnresolvedDataSource, UnresolvedWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PathSchemas
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{JobCounts, SparkSpec}
import graft.interp.{Objective, TemplateGenerator}
import graft.pipeline.PrunedMerge

/** Pure splitter/stripper properties — no Spark session needed. The
  * scalatest↔scalacheck bridge isn't in the offline cache, so generators
  * are driven manually with deterministic seeds.
  */
class SplitterSpec extends AnyFunSuite {

  private def forAllSeeded[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  test("splits on semicolons outside quotes") {
    assert(ScriptEngine.splitStatements("SELECT 1; SELECT 2;") ===
      Seq("SELECT 1", "SELECT 2"))
  }

  test("semicolons inside single quotes do not split") {
    assert(ScriptEngine.splitStatements("SELECT 'a;b'; SELECT 2") ===
      Seq("SELECT 'a;b'", "SELECT 2"))
  }

  test("semicolons inside double quotes do not split (reference bug fixed)") {
    assert(ScriptEngine.splitStatements("SELECT \"a;b\"; SELECT 2") ===
      Seq("SELECT \"a;b\"", "SELECT 2"))
  }

  test("backslash-escaped quote does not close the string") {
    assert(ScriptEngine.splitStatements("SELECT 'a\\';b'; SELECT 2") ===
      Seq("SELECT 'a\\';b'", "SELECT 2"))
  }

  test("comment stripping drops -- lines and blanks") {
    val in = "-- header\nSELECT 1;\n\n  -- mid\nSELECT 2;"
    assert(ScriptEngine.stripComments(in) === "SELECT 1;\nSELECT 2;")
  }

  test("a backticked path keeps its format prefix as one table name") {
    val t = ScriptEngine.detectTables(
      "SELECT * FROM parquet.`/data/t 1` JOIN `/raw` JOIN db.t2")
    assert(t === Seq("parquet.`/data/t 1`", "`/raw`", "db.t2"))
  }

  test("table detection finds from/join/into/update/table refs") {
    val t = ScriptEngine.detectTables(
      "INSERT INTO db.t1 SELECT * FROM t2 JOIN t3 ON x UPDATE t4")
    assert(t === Seq("db.t1", "t2", "t3", "t4"))
  }

  // property: for statements without semicolons/quotes/backslashes,
  // splitting the ';'-join recovers the trimmed non-empty statements
  private val plainStmt: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.const('\n')))
      .map(_.mkString)

  test("property: split is inverse of join for plain statements") {
    forAllSeeded(Gen.listOf(plainStmt)) { stmts =>
      val joined = stmts.mkString(";")
      val expected = stmts.map(_.trim).filter(_.nonEmpty)
      val got = ScriptEngine.splitStatements(joined)
      assert(got === expected)
    }
  }

  test("property: quoted semicolons never increase statement count") {
    val quoted = for {
      body <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(';')))
        .map(_.mkString)
      q <- Gen.oneOf("'", "\"")
    } yield s"SELECT $q$body$q"
    forAllSeeded(Gen.listOf(quoted)) { stmts =>
      val got = ScriptEngine.splitStatements(stmts.mkString(";"))
      assert(got.length === stmts.count(_.trim.nonEmpty))
    }
  }
}

class ScriptEngineSpec extends SparkSpec {

  test("runs statements in order with failure isolation") {
    val report = ScriptEngine.run(spark,
      """CREATE OR REPLACE TEMPORARY VIEW se_v AS SELECT 1 AS x;
        |SELECT broken FROM nowhere_at_all;
        |SELECT x FROM se_v;""".stripMargin)
    assert(report.status === "COMPLETED")
    assert(report.totalStatements === 3)
    assert(report.successCount === 2)
    assert(report.failedCount === 1)
    assert(report.details.map(_.status) ===
      Seq("SUCCESS", "FAILED", "SUCCESS"))
    assert(report.details(1).error.nonEmpty)
  }

  test("empty input fails fast") {
    assert(ScriptEngine.run(spark, "  ").status === "FAILED")
    assert(ScriptEngine.run(spark, null).status === "FAILED")
  }

  test("previews detected tables, capped at 5 rows") {
    ScriptEngine.run(spark,
      "CREATE OR REPLACE TEMPORARY VIEW se_w AS SELECT id FROM range(100)")
    val report = ScriptEngine.run(spark, "SELECT count(*) FROM se_w")
    assert(report.tablePreviews.contains("se_w"))
    report.tablePreviews("se_w") match {
      case Right(rows) => assert(rows.length === 5)
      case Left(err) => fail(s"preview failed: $err")
    }
  }

  test("preview strings equal toJSON across nested and typed columns") {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW se_types AS SELECT * FROM VALUES
        |  (1, CAST(NULL AS STRING), TIMESTAMP'2024-01-02 03:04:05.678',
        |   CAST(12.50 AS DECIMAL(10,2)), array(1, NULL), map('a', 1),
        |   named_struct('p', 1, 'q', 'x')),
        |  (2, 'v', NULL, CAST(-0.01 AS DECIMAL(10,2)), NULL,
        |   map('b', CAST(NULL AS INT)), named_struct('p', NULL, 'q', 'y'))
        |  AS t(id, s, ts, d, arr, m, st)""".stripMargin)
    val report = ScriptEngine.run(spark, "SELECT count(*) FROM se_types")
    val want = spark.table("se_types").toJSON.collect().toSeq.sorted
    assert(report.tablePreviews("se_types").map(_.sorted) === Right(want))
  }

  test("a DDL-only script posts no Spark job") {
    val (report, c) = JobCounts.of(spark, "graft-script-ddl-jobs") {
      ScriptEngine.run(spark,
        """CREATE OR REPLACE TEMPORARY VIEW se_ddl AS SELECT 1 AS x;
          |DROP VIEW IF EXISTS se_ddl_absent""".stripMargin)
    }
    assert(report.successCount === 2)
    assert(c.jobs === 0, s"script posted ${c.jobs} jobs")
  }

  test("classifying a statement over a cold path posts no job") {
    val p = Files.createTempDirectory("se_kind").toString + "/p"
    spark.range(3).write.parquet(p)
    val stmt = s"SELECT id FROM parquet.`$p`"
    val (kind, sorting) =
      JobCounts.of(spark, "graft-script-kind")(ScriptEngine.kindOf(stmt))
    assert(kind === ScriptEngine.Query)
    assert(sorting.jobs === 0)
    // the path stayed cold: its first read infers its schema
    val (_, read) = JobCounts.of(spark, "graft-script-kind-read") {
      spark.sql(stmt).collect()
    }
    assert(read.fanOutJobs === 1)
  }

  test("a preview bound before a write shows the rows from before it") {
    spark.sql("DROP TABLE IF EXISTS se_ins")
    spark.sql("CREATE TABLE se_ins (x INT) USING parquet")
    spark.sql("INSERT INTO se_ins VALUES (1), (2)")
    try {
      def previewed(write: String): Seq[String] = {
        val report = ScriptEngine.run(spark,
          s"SELECT count(*) FROM se_ins; $write")
        assert(report.successCount === 2)
        report.tablePreviews("se_ins").toOption.get.sorted
      }
      assert(previewed("INSERT INTO se_ins VALUES (3)") ===
        Seq("{\"x\":1}", "{\"x\":2}"))
      assert(previewed("INSERT OVERWRITE TABLE se_ins VALUES (9)") ===
        Seq("{\"x\":1}", "{\"x\":2}", "{\"x\":3}"))
      assert(spark.table("se_ins").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS se_ins")
  }

  test("a path-qualified source is previewed") {
    val dir = java.nio.file.Files.createTempDirectory("se_path").toString
    spark.range(3).write.mode("overwrite").parquet(s"$dir/t")
    val report = ScriptEngine.run(spark,
      s"SELECT count(*) FROM parquet.`$dir/t`")
    assert(report.tablePreviews(s"parquet.`$dir/t`").map(_.length) ===
      Right(3))
  }

  test("a failed query previews nothing and leaves its tables " +
      "previewable") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW se_f AS SELECT 1 AS a")
    val report = ScriptEngine.run(spark,
      """SELECT a, nope FROM se_f;
        |SELECT a FROM se_f""".stripMargin)
    assert(report.details.map(_.status) === Seq("FAILED", "SUCCESS"))
    assert(report.tablePreviews === Map("se_f" -> Right(Seq("{\"a\":1}"))))
  }

  test("unpreviewable table names degrade to an error entry") {
    val report = ScriptEngine.run(spark,
      "CREATE OR REPLACE TEMPORARY VIEW se_x AS SELECT 1 AS a FROM missing_tbl")
    // statement fails, so no preview attempted; now reference a weird name
    val r2 = ScriptEngine.run(spark, "SELECT 1 AS a -- from nothing")
    assert(r2.successCount === 1)
    assert(report.failedCount === 1)
  }

  /** Rows `[from, to)` with the SCD1 columns: key, order, measure. */
  private def events(from: Long, to: Long, day: Int): DataFrame =
    spark.range(from, to).select(col("id").as("event_id"),
      to_timestamp(lit(s"2024-01-0$day 00:00:00")).as("created_at"),
      (col("id") % 97 / 4.0).as("value"))

  /** The five statements `ingest_merge` sends per batch: the batch as a
    * `USING parquet` view, the target as a `parquet.` path view, the
    * generated SCD1 SQL (two views) and the merged row count.
    */
  private def scd1Script(batch: String, target: String): String = {
    val meta = Map("batch_001.parquet" -> Seq("event_id" -> "NUMBER",
      "created_at" -> "TIMESTAMP", "value" -> "FLOAT"))
    "CREATE OR REPLACE TEMPORARY VIEW batch_001_source USING parquet " +
      s"OPTIONS (path '$batch');\n" +
      "CREATE OR REPLACE TEMPORARY VIEW batch_001_target AS SELECT " +
      s"event_id, created_at, value FROM parquet.`$target`;\n" +
      Objective.generateCode("an incremental SCD1 load of events", meta,
        TemplateGenerator).sqlCode + "\n" +
      "SELECT count(*) AS n FROM batch_001_merged;"
  }

  test("the SCD1 script infers each file source once per run") {
    val dir = Files.createTempDirectory("se_scd1").toString
    val (target, batch) = (s"$dir/events", s"$dir/batch_001.parquet")
    PrunedMerge.stage(events(0, 2000, 1), target, Seq("event_id"), 16)
    events(1980, 2020, 2).coalesce(1).write.parquet(batch)
    val script = scd1Script(batch, target)
    def counted(i: Int): JobCounts = {
      val (report, c) = JobCounts.of(spark, s"graft-script-scd1-$i") {
        ScriptEngine.run(spark, script)
      }
      assert(report.details.map(_.status) === Seq.fill(5)("SUCCESS"))
      assert(report.tablePreviews.values.forall(_.isRight))
      c
    }
    // as in `ingest_merge`, each run reads a target merged since the
    // last one: one schema inference each for the batch file and the
    // target dir
    val merged = (1 to 5).map { i =>
      PrunedMerge.mergeInto(spark, target, events(i * 100, i * 100 + 10, 3),
        Seq("event_id"), "created_at", nParts = 16)
      counted(i)
    }
    assert(merged.map(_.fanOutJobs) === Seq.fill(5)(2))
    assert(merged.map(_.jobs) === Seq.fill(5)(15))
    // over an unchanged target a rerun reuses the target's schema; the
    // batch's `USING parquet` view infers once per definition
    val reruns = (6 to 8).map(counted)
    assert(reruns.map(_.fanOutJobs) === Seq.fill(3)(1))
    assert(reruns.map(_.jobs) === Seq.fill(3)(14))
    assert(spark.table("batch_001_merged").count() === 2020)
  }

  test("a partition file rewritten in place between runs is read with " +
      "its new schema") {
    val t = Files.createTempDirectory("se_inplace").toString + "/t"
    spark.range(5).withColumn("k", lit(1)).coalesce(1)
      .write.partitionBy("k").parquet(t)
    val stmt = s"SELECT * FROM parquet.`$t`"
    assert(ScriptEngine.run(spark, stmt).successCount === 1)
    rewriteInPlace(s"$t/k=1",
      spark.range(5).withColumn("extra", lit("x")))
    assert(spark.sql(stmt).columns.toSet === Set("id", "extra", "k"))
  }

  test("a write in a run makes the next read of its path infer again") {
    val p = Files.createTempDirectory("se_barrier").toString + "/p"
    spark.range(3).write.parquet(p)
    val report = ScriptEngine.run(spark,
      s"""SELECT id FROM parquet.`$p`;
         |INSERT OVERWRITE DIRECTORY '$p' USING parquet SELECT 'x' AS other;
         |SELECT other FROM parquet.`$p`""".stripMargin)
    assert(report.details.map(_.status) === Seq.fill(3)("SUCCESS"),
      report.details.flatMap(_.error))
  }

  test("a view a run defined over a path reads the files of each " +
      "later read") {
    val t = Files.createTempDirectory("se_live").toString + "/events"
    PrunedMerge.stage(events(0, 100, 1), t, Seq("event_id"), 16)
    val report = ScriptEngine.run(spark,
      s"CREATE OR REPLACE TEMPORARY VIEW se_live AS SELECT * FROM parquet.`$t`")
    assert(report.successCount === 1)
    PrunedMerge.mergeInto(spark, t, events(90, 140, 2), Seq("event_id"),
      "created_at", nParts = 16)
    val live = spark.table("se_live")
    assert(live.count() === 140)
    assert(live.filter(col("created_at") ===
      to_timestamp(lit("2024-01-02 00:00:00"))).count() === 50)
  }

  /** The error `stmt` fails with outside a run (Spark's own resolution)
    * and inside one.
    */
  private def errorsOf(stmt: String): (String, Option[String]) =
    (intercept[AnalysisException](spark.sql(stmt)).getMessage,
      ScriptEngine.run(spark, stmt).details.head.error)

  test("with SQL on files off a path relation fails as Spark reports it") {
    val p = Files.createTempDirectory("se_nofiles").toString + "/p"
    spark.range(1).write.parquet(p)
    spark.conf.set("spark.sql.runSQLOnFiles", "false")
    try {
      val (outside, inRun) = errorsOf(s"SELECT * FROM parquet.`$p`")
      assert(outside.contains("TABLE_OR_VIEW_NOT_FOUND"), outside)
      assert(inRun === Some(outside))
    } finally spark.conf.unset("spark.sql.runSQLOnFiles")
  }

  test("a missing path fails as Spark reports it") {
    val p = Files.createTempDirectory("se_missing").toString + "/absent"
    val (outside, inRun) = errorsOf(s"SELECT * FROM parquet.`$p`")
    assert(outside.contains("PATH_NOT_FOUND"), outside)
    assert(inRun === Some(outside))
  }

  test("only option-less batch path relations take the memo's schema") {
    val p = Files.createTempDirectory("se_opts").toString + "/p"
    spark.range(1).write.parquet(p)
    val parser = spark.sessionState.sqlParser
    def rewritten(plan: LogicalPlan): Boolean =
      plan.collectWithSubqueries {
        case _: UnresolvedDataSource => true
        case w: UnresolvedWith => w.cteRelations.exists(r => rewritten(r._2))
      }.contains(true)
    assert(rewritten(parser.parsePlan(s"SELECT * FROM parquet.`$p`")))
    assert(rewritten(parser.parsePlan(
      s"WITH c AS (SELECT * FROM parquet.`$p`) SELECT * FROM c")))
    assert(rewritten(parser.parsePlan(
      s"SELECT 1 WHERE EXISTS (SELECT 1 FROM parquet.`$p`)")))
    assert(!rewritten(parser.parsePlan(
      s"SELECT * FROM parquet.`$p` WITH ('mergeSchema' = 'true')")))
    assert(!rewritten(PathSchemas.rewrite(spark,
      UnresolvedRelation(Seq("parquet", p), isStreaming = true))))
    // a first part that names no file format is a table name
    assert(!rewritten(parser.parsePlan(s"SELECT * FROM default.`$p`")))
  }
}
