package graft.exec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

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
    val sc = spark.sparkContext
    val group = "graft-script-ddl-jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) seen.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ddl probe")
    try {
      val report = ScriptEngine.run(spark,
        """CREATE OR REPLACE TEMPORARY VIEW se_ddl AS SELECT 1 AS x;
          |DROP VIEW IF EXISTS se_ddl_absent""".stripMargin)
      assert(report.successCount === 2)
      // a marker job: its start arrives after every earlier job's
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (seen.size < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.size === 1, s"script posted ${seen.size - 1} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
}
