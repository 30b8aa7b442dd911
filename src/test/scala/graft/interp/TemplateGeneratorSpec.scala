package graft.interp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.exec.ScriptEngine

/** The template codegen must produce RUNNABLE Spark SQL for every task
  * shape — each test executes the generated code against temp views and
  * checks the relational result, not just the string.
  */
class TemplateGeneratorSpec extends SparkSpec {
  import spark.implicits._

  private val meta: Objective.Metadata = Map(
    "orders.csv" -> Seq(("ORDER_ID", "NUMBER"), ("REGION", "VARCHAR"),
      ("AMOUNT", "FLOAT"), ("CREATED_AT", "TIMESTAMP")))

  test("aggregation template groups by the varchar column and runs") {
    val code = Objective.generateCode(
      "aggregate summary of orders", meta, TemplateGenerator)
    assert(code.taskType === "aggregation")
    Seq((1L, "EU", 10.5), (2L, "EU", 2.0), (3L, "US", 1.0))
      .toDF("ORDER_ID", "REGION", "AMOUNT")
      .withColumn("CREATED_AT", current_timestamp())
      .createOrReplaceTempView("orders")
    val out = spark.sql(code.sqlCode.stripSuffix(";"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("EU", 2L), ("US", 1L)))
  }

  test("scd1 template dedups to latest per key and upserts") {
    val code = Objective.generateCode(
      "incremental scd1 load of orders", meta, TemplateGenerator)
    assert(code.taskType === "scd1_pipeline")
    // source has two versions of key 1; target has keys 1 and 9
    Seq((1L, "EU", 1.0, "2024-01-01 00:00:00"),
      (1L, "EU", 2.0, "2024-02-01 00:00:00"),
      (5L, "US", 3.0, "2024-01-15 00:00:00"))
      .toDF("ORDER_ID", "REGION", "AMOUNT", "CREATED_AT")
      .withColumn("CREATED_AT", col("CREATED_AT").cast("timestamp"))
      .createOrReplaceTempView("orders_source")
    Seq((1L, "EU", 0.5, "2023-01-01 00:00:00"),
      (9L, "AP", 9.0, "2023-01-01 00:00:00"))
      .toDF("ORDER_ID", "REGION", "AMOUNT", "CREATED_AT")
      .withColumn("CREATED_AT", col("CREATED_AT").cast("timestamp"))
      .createOrReplaceTempView("orders_target")
    val report = ScriptEngine.run(spark, code.sqlCode)
    assert(report.details.forall(_.status == "SUCCESS"),
      report.details.flatMap(_.error).mkString("; "))
    val merged = spark.table("orders_merged")
      .select("ORDER_ID", "AMOUNT").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(merged === Map(1L -> 2.0, 5L -> 3.0, 9L -> 9.0))
  }

  test("scd1 template keeps target rows when a batch key is NULL") {
    val code = Objective.generateCode(
      "incremental scd1 load of orders", meta, TemplateGenerator)
    def rows(keys: Option[Long]*) = keys
      .map(k => (k, "EU", 1.0, "2024-01-01 00:00:00"))
      .toDF("ORDER_ID", "REGION", "AMOUNT", "CREATED_AT")
      .withColumn("CREATED_AT", col("CREATED_AT").cast("timestamp"))
    rows(Some(1L), None).createOrReplaceTempView("orders_source")
    rows(Some(1L), Some(9L)).createOrReplaceTempView("orders_target")
    val report = ScriptEngine.run(spark, code.sqlCode)
    assert(report.details.forall(_.status == "SUCCESS"),
      report.details.flatMap(_.error).mkString("; "))
    // MERGE … ON key matches no NULL key: key 9 stays, NULL is inserted
    val keys = spark.table("orders_merged").select("ORDER_ID")
      .as[Option[Long]].collect().toSeq.sortBy(_.getOrElse(Long.MinValue))
    assert(keys === Seq(None, Some(1L), Some(9L)))
  }

  test("join template joins two tables on the shared column and runs") {
    val meta2: Objective.Metadata = Map(
      "a.csv" -> Seq(("K", "NUMBER"), ("X", "VARCHAR")),
      "b.csv" -> Seq(("K", "NUMBER"), ("Y", "FLOAT")))
    val code = Objective.generateCode(
      "join a and b for reporting", meta2, TemplateGenerator)
    assert(code.taskType === "join_query")
    Seq((1L, "x1"), (2L, "x2")).toDF("K", "X").createOrReplaceTempView("a")
    Seq((1L, 0.5)).toDF("K", "Y").createOrReplaceTempView("b")
    val out = spark.sql(code.sqlCode.stripSuffix(";"))
    assert(out.columns.toSeq === Seq("K", "X", "Y"))
    assert(out.count() === 1)
  }

  test("ddl_copy template emits a typed CREATE TABLE") {
    val code = Objective.generateCode(
      "filename: orders.csv stage: landing", meta, TemplateGenerator)
    assert(code.taskType === "ddl_copy")
    assert(code.sqlCode.contains("CREATE TABLE IF NOT EXISTS orders"))
    assert(code.sqlCode.contains("ORDER_ID BIGINT"))
    assert(code.sqlCode.contains("AMOUNT DOUBLE"))
    assert(code.sqlCode.contains("CREATED_AT TIMESTAMP"))
  }
}
