package graft.dq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Five-pillar data-quality scoring over a table profile.
  *
  * Semantics follow `/root/reference/Data_Quality_Table.sql:112-189`:
  *   - completeness = 1 − null_ratio (`:115-122`)
  *   - uniqueness   = distinct_ratio (`:124-131`)
  *   - validity     = numeric family: 1.0 if avg ≥ 0 else 0.5; other
  *                    families 1.0 (`:133-144`)
  *   - accuracy     = temporal family: 1 − future/total (0 when the table
  *                    is empty); other families 1.0 (`:146-161`)
  *   - consistency  = 1.0, hardcoded in the reference (`:163-170`)
  *   - column_score = mean of the five UNROUNDED pillar values, rounded to
  *                    3 (the reference accumulates `total_score` before
  *                    rounding, `:121,130,143,160,173`)
  *   - table_score  = mean of the ROUNDED column scores, rounded to 3
  *                    (`:178,188`)
  *
  * Every pillar is column arithmetic over [[graft.profile.Profiler]] output,
  * so a full table DQ report costs exactly ONE scan of the data (the
  * reference issues ≥ 2N+1 full-scan queries for an N-column table).
  *
  * Documented deviations from the reference (bug-for-bug parity rejected):
  *   - the reference's `"DATE" in data_type` test misses TIMESTAMP columns
  *     (Snowflake reports `TIMESTAMP_NTZ`); here the accuracy check applies
  *     to the whole temporal family, which is the stated intent ("no future
  *     dates").
  *   - an all-null numeric column yields `str(nan)` → validity 0.5 in the
  *     reference; here a null average counts as 0 (valid).
  */
object TableDq {

  private val numericTypes = Seq("NUMBER", "FLOAT")

  /** Per-column pillar scores from a profile frame (one row per column,
    * schema = [[graft.profile.Profiler.outputColumns]]).
    */
  def score(profile: DataFrame): DataFrame = {
    val isNumeric = col("data_type").isin(numericTypes: _*)
    val isTemporal = col("data_type") === "TIMESTAMP"

    val completeness = lit(1.0) - col("null_ratio")
    val uniqueness = col("distinct_ratio")
    val validity = when(!isNumeric, 1.0)
      .when(coalesce(col("avg_val"), lit(0.0)) >= 0, 1.0)
      .otherwise(0.5)
    val accuracy = when(!isTemporal, 1.0)
      .otherwise(lit(1.0) - when(col("count_all") > 0,
        col("future_count").cast("double") / col("count_all")).otherwise(0.0))
    val consistency = lit(1.0)

    val columnScore = round(
      (completeness + uniqueness + validity + accuracy + consistency) / 5, 3)

    profile.select(
      col("column_name"),
      round(completeness, 3).as("completeness"),
      round(uniqueness, 3).as("uniqueness"),
      round(validity, 3).as("validity"),
      round(accuracy, 3).as("accuracy"),
      round(consistency, 3).as("consistency"),
      columnScore.as("column_score"))
  }

  /** Whole-table roll-up: mean of rounded column scores, rounded to 3
    * (`/root/reference/Data_Quality_Table.sql:178,188`). One output row.
    */
  def tableScore(profile: DataFrame): DataFrame =
    score(profile).agg(round(avg("column_score"), 3).as("table_score"))

  /** The reference's VARIANT report document
    * (`Data_Quality_Table.sql:183-189`): target_table, catalog column
    * records, per-column profiling (incl. the `numeric_stats` sub-object,
    * `:80-104`), per-column pillar scores with rule texts (`:106-173`),
    * and the table score. One collect of each tiny per-column frame; the
    * data-sized work stays in the profiling jobs.
    */
  def document(profile: DataFrame, catalog: DataFrame,
      tableName: String): String = {
    import graft.util._
    val (profRows, scoreRows) = Frames.cached(profile) { prof =>
      (prof.orderBy("column_name").collect(),
        score(prof).orderBy("column_name").collect())
    }

    val columns = JArr(catalog.orderBy("ordinal_position").collect().toSeq
      .map { r =>
        JObj(Seq(
          "COLUMN_NAME" -> JValue.of(r.getAs[String]("column_name")),
          "DATA_TYPE" -> JValue.of(r.getAs[String]("data_type")),
          "IS_NULLABLE" -> JValue.of(r.getAs[String]("is_nullable")),
          "CHARACTER_MAXIMUM_LENGTH" -> JValue.of(
            Option(r.getAs[Any]("character_maximum_length")))))
      })

    def num(r: org.apache.spark.sql.Row, f: String): Option[Double] =
      Option(r.getAs[Any](f)).map(_.toString.toDouble)

    val profiling = JObj(profRows.toSeq.map { r =>
      val colName = r.getAs[String]("column_name")
      val numeric = num(r, "avg_val").isDefined || num(r, "min_val").isDefined
      val numStats: JValue =
        if (!numeric) JNull
        else JObj(Seq(
          "AVG_VAL" -> JValue.of(num(r, "avg_val").map(_.toString)),
          "MIN_VAL" -> JValue.of(num(r, "min_val")),
          "MAX_VAL" -> JValue.of(num(r, "max_val")),
          "STDDEV" -> JValue.of(num(r, "stddev_val"))))
      colName -> JObj(Seq(
        "count_all" -> JValue.of(r.getAs[Long]("count_all")),
        "count_distinct" -> JValue.of(r.getAs[Long]("count_distinct")),
        "count_nulls" -> JValue.of(r.getAs[Long]("count_nulls")),
        "null_ratio" -> JValue.of(r.getAs[Double]("null_ratio")),
        "distinct_ratio" -> JValue.of(r.getAs[Double]("distinct_ratio")),
        "data_type" -> JValue.of(r.getAs[String]("data_type")),
        "numeric_stats" -> numStats))
    })

    val pillarRules = Seq(
      "completeness" -> "should have minimal nulls",
      "uniqueness" -> "values should be unique or diverse",
      "validity" -> "must be within valid value ranges",
      "accuracy" -> "values should be correct (e.g., no future dates)",
      "consistency" -> "should align consistently with related columns")
    val dqResults = JObj(scoreRows.toSeq.map { r =>
      val colName = r.getAs[String]("column_name")
      colName -> JObj(
        pillarRules.map { case (pillar, ruleSuffix) =>
          pillar -> JObj(Seq(
            "rule" -> JValue.of(s"$colName $ruleSuffix"),
            "score" -> JValue.of(r.getAs[Double](pillar))))
        } :+ ("column_score" -> JValue.of(r.getAs[Double]("column_score"))))
    })

    val tblScore = BigDecimal(
      scoreRows.map(_.getAs[Double]("column_score")).sum /
        math.max(scoreRows.length, 1))
      .setScale(3, BigDecimal.RoundingMode.HALF_UP)

    JObj(Seq(
      "target_table" -> JValue.of(tableName),
      "columns" -> columns,
      "profiling" -> profiling,
      "dq_results" -> dqResults,
      "table_score" -> JDouble(tblScore.toDouble))).render
  }
}
