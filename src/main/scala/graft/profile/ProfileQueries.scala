package graft.profile

import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.{Schemas, Tables}
import graft.io.Schemas.ColSpec
import graft.util.Frames

/** Verifiable profiling queries (SURVEY §2d A1–A5, §3.3).
  *
  * The DuckDB oracle is generated from the same schema description so the
  * two sides stay in sync; DuckDB still computes the values independently.
  */
object ProfileQueries extends QueryPack {

  /** Injectable clock for the future-date check — a fixed literal so the
    * Spark run and the (later) DuckDB oracle run agree.
    */
  val FixedNow = "2030-01-01 00:00:00"

  /** DuckDB-side equivalent of [[Profiler.profile]] for one table: a
    * UNION ALL of per-column aggregates (the oracle may be slow; only the
    * Spark side is the engine under test).
    */
  private def profileOracle(table: String, cols: Seq[ColSpec]): String = {
    val selects = cols.map { c =>
      val q = c.name
      val (minMax, future) = valueStatsSql(c)
      s"SELECT '$q' AS column_name, '${c.engineType}' AS data_type, " +
        "COUNT(*) AS count_all, " +
        s"COUNT(DISTINCT $q) AS count_distinct, " +
        s"COUNT(*) - COUNT($q) AS count_nulls, " +
        s"(COUNT(*) - COUNT($q))::DOUBLE / GREATEST(COUNT(*), 1) " +
        "AS null_ratio, " +
        s"COUNT(DISTINCT $q)::DOUBLE / GREATEST(COUNT(*), 1) " +
        "AS distinct_ratio, " +
        s"$minMax, $future FROM $table"
    }
    selects.mkString(" UNION ALL ") + " ORDER BY column_name"
  }

  /** Column `c`'s value-stat selects: min/max/avg/stddev (NULL unless
    * numeric) and the future-date count (NULL unless temporal).
    */
  private def valueStatsSql(c: ColSpec): (String, String) = {
    val q = c.name
    val minMax =
      if (c.numeric)
        s"MIN($q)::DOUBLE AS min_val, MAX($q)::DOUBLE AS max_val, " +
          s"ROUND(AVG($q::DOUBLE), 4) AS avg_val, " +
          s"ROUND(STDDEV_SAMP($q::DOUBLE), 4) AS stddev_val"
      else
        "NULL::DOUBLE AS min_val, NULL::DOUBLE AS max_val, " +
          "NULL::DOUBLE AS avg_val, NULL::DOUBLE AS stddev_val"
    val future =
      if (c.temporal)
        s"CAST(SUM(CASE WHEN $q > TIMESTAMP '$FixedNow' THEN 1 ELSE 0 " +
          "END) AS BIGINT) AS future_count"
      else "NULL::BIGINT AS future_count"
    (minMax, future)
  }

  /** [[profileOracle]] wrapped with the streaming audit log's `batch_id`
    * column: an AvailableNow catch-up drains the whole staged corpus in
    * ONE micro-batch, so the incremental profile is batch 0 and must
    * equal the batch profile of the full input (the convergence claim
    * `stream_profile_events` gates).
    */
  private[graft] def profileOracleWithBatch(table: String): String = {
    val inner = profileOracle(table, Schemas.byTable(table))
      .stripSuffix(" ORDER BY column_name")
    s"SELECT p.*, CAST(0 AS BIGINT) AS batch_id FROM ($inner) p " +
      "ORDER BY column_name"
  }

  private def profileQuery(table: String): QueryDef =
    QueryDef(s"profile_$table",
      (s, dir) => Profiler
        .profile(Tables.load(s, dir, table, parallelize = true),
          now = lit(FixedNow).cast("timestamp"))
        .orderBy("column_name"),
      Some(profileOracle(table, Schemas.byTable(table))))

  /** The 100 TB profile configuration (HLL distinct counts, single scan,
    * no Expand): since r7 it is ORACLED on everything DuckDB can
    * reproduce — 10 of the 12 profile stats are exact regardless of the
    * distinct-count estimator, so the gate hashes those and folds the
    * two HLL-derived columns into one `distinct_sane` boolean
    * (0 < estimate ≤ 1.15 × count_all; the 1.15 headroom covers the
    * rsd-0.05 sketch's worst case on a distinct≈count_all column, where
    * a legitimate estimate may overshoot the row count). The estimator's
    * ±8% PRECISION stays pinned against exact counts in ProfilerSpec —
    * a value-level HLL oracle would need the exact melt pass inside this
    * query, destroying the single-scan plan the operator exists to
    * demonstrate (ruling per r6 verdict #8).
    */
  private def approxQuery = QueryDef(
    "profile_lineitem_approx",
    (s, dir) => Profiler
      .approxProfile(Tables.load(s, dir, "lineitem", parallelize = true),
        now = lit(FixedNow).cast("timestamp"))
      .select(col("column_name"), col("data_type"), col("count_all"),
        col("count_nulls"), col("null_ratio"), col("min_val"),
        col("max_val"), col("avg_val"), col("stddev_val"),
        col("future_count"),
        ((col("count_nulls") === col("count_all") &&
          col("count_distinct") === 0L) ||
          (col("count_distinct") >= 1L &&
            col("count_distinct") <= col("count_all") * 1.15))
          .as("distinct_sane"))
      .orderBy("column_name"),
    Some(approxProfileOracle("lineitem", Schemas.byTable("lineitem"))))

  /** DuckDB side of [[approxQuery]]: the exact-stat columns of
    * [[profileOracle]] plus `TRUE AS distinct_sane` — the literal the
    * Spark-side sanity bound must reproduce.
    */
  private def approxProfileOracle(table: String, cols: Seq[ColSpec])
      : String = {
    val selects = cols.map { c =>
      val q = c.name
      val (minMax, future) = valueStatsSql(c)
      s"SELECT '$q' AS column_name, '${c.engineType}' AS data_type, " +
        "COUNT(*) AS count_all, " +
        s"COUNT(*) - COUNT($q) AS count_nulls, " +
        s"(COUNT(*) - COUNT($q))::DOUBLE / GREATEST(COUNT(*), 1) " +
        "AS null_ratio, " +
        s"$minMax, $future, TRUE AS distinct_sane FROM $table"
    }
    selects.mkString(" UNION ALL ") + " ORDER BY column_name"
  }

  /** Percentile profile (median + p95 per numeric column): exact
    * interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the (1−f)·a + f·b definition; rounded to 4 to
    * absorb final-ulp differences. At 100 TB swap `percentile` for
    * `approx_percentile` (t-digest) the same way the distinct counts swap
    * to HLL.
    */
  private def quantileQuery(table: String): QueryDef = {
    val numCols = Schemas.byTable(table).filter(_.numeric).map(_.name)
    QueryDef(s"profile_quantiles_$table",
      (s, dir) => Profiler
        .quantiles(Tables.load(s, dir, table, parallelize = true), numCols,
          ps = Seq(0.5, 0.95), names = Seq("p50", "p95"))
        .select(col("column_name"),
          round(col("p50"), 4).as("p50"), round(col("p95"), 4).as("p95"))
        .orderBy("column_name"),
      Some(numCols.map { c =>
        s"SELECT '$c' AS column_name, " +
          s"ROUND(quantile_cont($c, 0.5), 4) AS p50, " +
          s"ROUND(quantile_cont($c, 0.95), 4) AS p95 FROM $table"
      }.mkString(" UNION ALL ") + " ORDER BY column_name"))
  }

  /** The 100 TB percentile configuration (t-digest, one scan): since r7
    * the gate is the RANK-WINDOW GUARANTEE itself, driver-hashed. The
    * sketch's estimates aren't DuckDB-reproducible, but its contract is
    * relational: `approx_percentile(c, p, acc)` must return an actual
    * data value whose exact rank lies within ±n/acc of p·n. The query
    * runs the production single-scan sketch, then one cheap comparison
    * pass counts each estimate's rank bracket [count(<v)+1, count(≤v)]
    * and emits per column whether p50/p95 land inside their windows —
    * which the oracle pins as literal TRUE. This is ProfilerSpec's pin
    * promoted into the driver gate (r6 verdict #8); the spec keeps the
    * tighter per-estimate diagnostics.
    */
  private def quantileApproxQuery = QueryDef(
    "profile_quantiles_approx",
    (s, dir) => {
      val numCols = Schemas.byTable("lineitem").filter(_.numeric).map(_.name)
      val acc = 1000
      // the CAST-TO-DOUBLE projection persists across the two passes
      // (the exact lane's cached projection, r12 directive 6): the
      // rank-check pass otherwise re-pays the parquet decode, the
      // scan-parallelism exchange AND the cast tree just to count
      // comparisons against 22 literals. Both passes read the cached
      // doubles, so estimate and rank bracket also see the identical
      // value space by construction.
      val df = Tables.load(s, dir, "lineitem", parallelize = true)
      Frames.cached(df.select(numCols.map(c =>
        col(c).cast("double").as(c)): _*)) { work =>
        val est = Profiler
          .approxQuantiles(work, numCols, ps = Seq(0.5, 0.95),
            names = Seq("p50", "p95"), accuracy = acc)
          .collect()
          .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
          .toMap // 11 rows — report-sized driver state
        // one comparison pass: per (column, percentile) the estimate's
        // rank bracket endpoints + the column's non-null count
        val aggs = numCols.flatMap { c =>
          val (p50, p95) = est(c)
          Seq(
            sum(when(col(c) < p50, 1L).otherwise(0L)).as(s"${c}__lt50"),
            sum(when(col(c) <= p50, 1L).otherwise(0L)).as(s"${c}__le50"),
            sum(when(col(c) < p95, 1L).otherwise(0L)).as(s"${c}__lt95"),
            sum(when(col(c) <= p95, 1L).otherwise(0L)).as(s"${c}__le95"),
            count(col(c)).as(s"${c}__n"))
        }
        val row = work.agg(aggs.head, aggs.tail: _*).collect()(0)
      def ok(c: String, p: Double, lt: Long, le: Long, n: Long): Boolean = {
        // Spark's documented bound: the returned value's exact rank is
        // within floor((p ± 1/acc)·n) of the target; the value's rank
        // bracket is [lt+1, le] (ties widen it).
        val lo = math.floor((p - 1.0 / acc) * n)
        val hi = math.ceil((p + 1.0 / acc) * n)
        le >= lo && (lt + 1) <= hi
      }
      import s.implicits._
      numCols.map { c =>
        val i = numCols.indexOf(c) * 5
        val (lt50, le50, lt95, le95, n) = (row.getLong(i), row.getLong(i + 1),
          row.getLong(i + 2), row.getLong(i + 3), row.getLong(i + 4))
        (c, ok(c, 0.5, lt50, le50, n), ok(c, 0.95, lt95, le95, n))
      }.toDF("column_name", "p50_rank_ok", "p95_rank_ok")
        .orderBy("column_name")
      }
    },
    Some(Schemas.byTable("lineitem").filter(_.numeric).map(_.name).map { c =>
      s"SELECT '$c' AS column_name, TRUE AS p50_rank_ok, " +
        "TRUE AS p95_rank_ok"
    }.mkString(" UNION ALL ") + " ORDER BY column_name"))

  /** Heavy-hitters profiling: top-10 l_partkey by frequency. The exact
    * relational form (groupBy + total-order limit) and the Misra–Gries
    * native aggregate ([[org.apache.spark.sql.graft.TopKSketch]]) are
    * registered against the SAME oracle: at capacity 32768 ≥ #distinct
    * parts the summary is provably exact, so the gate hash-pins the
    * aggregate's whole update/merge/serialize/eval path. The sub-capacity
    * sketch regime (the actual 100 TB configuration, where a fixed 32k
    * counters profile an unbounded column) is spec-pinned against exact
    * counts in `TopKSketchSpec`. Tie-breaks are on the STRING value in
    * both engines (ASCII byte order) so boundary ties hash-match.
    */
  private val TopKOracle =
    "SELECT CAST(l_partkey AS VARCHAR) AS value, COUNT(*) AS cnt " +
      "FROM lineitem GROUP BY 1 ORDER BY cnt DESC, value LIMIT 10"

  private def topkExactQuery = QueryDef(
    "profile_topk_lineitem",
    (s, dir) => Tables.load(s, dir, "lineitem", parallelize = true)
      .groupBy(col("l_partkey").cast("string").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("value"))
      .limit(10),
    Some(TopKOracle))

  private def topkSketchQuery = QueryDef(
    "profile_topk_sketch_lineitem",
    (s, dir) => Tables.load(s, dir, "lineitem", parallelize = true)
      .agg(graft.functions.VectorExpressions.approxTopK(
        col("l_partkey").cast("string"), 32768, 10).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.value").as("value"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("value")),
    Some(TopKOracle))

  /** GROUPED heavy hitters — `graft_topk` per partition key (top users
    * per event type), the per-domain curation report. Same exactness
    * argument as the global sketch gate: capacity ≥ distinct users per
    * group makes every group's Misra–Gries summary provably exact, and
    * eval's (count desc, value asc) cut is deterministic — so the
    * oracle replays it with a ranked window. At true scale the same
    * query runs with capacity ≪ distinct under the sketch guarantees
    * pinned in `TopKSketchSpec`.
    */
  private def topkGroupedQuery = QueryDef(
    "profile_topk_by_type",
    (s, dir) => Tables.load(s, dir, "events", parallelize = true)
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorExpressions.approxTopK(
        col("user_id").cast("string"), 32768, 5).as("tk"))
      .select(col("event_type"), explode(col("tk")).as("e"))
      .select(col("event_type"), col("e.value").as("value"),
        col("e.count").as("cnt"))
      .orderBy(col("event_type"), col("cnt").desc, col("value")),
    Some("SELECT event_type, value, cnt FROM (SELECT event_type, " +
      "CAST(user_id AS VARCHAR) AS value, COUNT(*) AS cnt, " +
      "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) " +
      "DESC, CAST(user_id AS VARCHAR)) AS rn FROM events GROUP BY 1, 2) " +
      "WHERE rn <= 5 ORDER BY event_type, cnt DESC, value"))

  /** Grouped percentiles — per-source length distribution, the curation
    * report a corpus QA pass starts from ("is the code slice's p95 doc
    * length drifting?"). Spark's exact `percentile` and DuckDB's
    * `quantile_cont` share the lo + frac·(hi − lo) interpolation, so the
    * oracle matches at round(…,4). Scale note: exact grouped percentile
    * sorts WITHIN each (source) group after one keyed exchange — fine
    * while groups fit a task (sources are few); the unbounded-group swap
    * is `approx_percentile` grouped (same t-digest trade as
    * `profile_quantiles_approx`), one line away.
    */
  private def groupedQuantileQuery = QueryDef(
    "profile_quantiles_by_source",
    (s, dir) => Tables.load(s, dir, "documents", parallelize = true)
      .groupBy(col("source"))
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.95)"), 4).as("p95_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy("source"),
    Some("SELECT source, " +
      "ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars, " +
      "ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_chars, " +
      "COUNT(*) AS n_docs FROM documents GROUP BY source ORDER BY source"))

  /** Correlation matrix ([[Correlation.matrix]]) over lineitem's numeric
    * measures. The formula tree (exact decimal moments → one IEEE
    * expression with correctly-rounded `sqrt`) is mirrored verbatim in
    * the SQL, so the doubles hash-match without tolerance.
    */
  private def corrQuery = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def m(x: String, y: String): String = {
      def d(c: String) = s"CAST(round(CAST($c AS DOUBLE), 2) " +
        s"AS DECIMAL(18,2))"
      val b = s"$x IS NOT NULL AND $y IS NOT NULL"
      s"count(CASE WHEN $b THEN 1 END) AS n_${x}_$y, " +
        s"CAST(sum(CASE WHEN $b THEN ${d(x)} END) AS DOUBLE) AS sx_${x}_$y, " +
        s"CAST(sum(CASE WHEN $b THEN ${d(y)} END) AS DOUBLE) AS sy_${x}_$y, " +
        s"CAST(sum(CASE WHEN $b THEN ${d(x)} * ${d(x)} END) AS DOUBLE) " +
        s"AS sxx_${x}_$y, " +
        s"CAST(sum(CASE WHEN $b THEN ${d(y)} * ${d(y)} END) AS DOUBLE) " +
        s"AS syy_${x}_$y, " +
        s"CAST(sum(CASE WHEN $b THEN ${d(x)} * ${d(y)} END) AS DOUBLE) " +
        s"AS sxy_${x}_$y"
    }
    def row(x: String, y: String): String = {
      val n = s"CAST(n_${x}_$y AS DOUBLE)"
      val varX = s"(($n * sxx_${x}_$y) - (sx_${x}_$y * sx_${x}_$y))"
      val varY = s"(($n * syy_${x}_$y) - (sy_${x}_$y * sy_${x}_$y))"
      val cov = s"(($n * sxy_${x}_$y) - (sx_${x}_$y * sy_${x}_$y))"
      s"SELECT '$x' AS col_x, '$y' AS col_y, n_${x}_$y AS n, " +
        s"CASE WHEN $varX > 0 AND $varY > 0 " +
        s"THEN $cov / (sqrt($varX) * sqrt($varY)) " +
        s"ELSE NULL END AS corr FROM m"
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    QueryDef("profile_corr_lineitem",
      // parallelize: the decimal moment sums are scan-fused heavy
      // compute — the single-file table would otherwise run them in
      // ONE task (measured 7.1s single-task vs sub-second spread)
      (s, dir) => Correlation.matrix(
        Tables.load(s, dir, "lineitem", parallelize = true), cols),
      Some("WITH m AS (SELECT " +
        pairs.map { case (x, y) => m(x, y) }.mkString(", ") +
        " FROM lineitem) " +
        pairs.map { case (x, y) => row(x, y) }.mkString(" UNION ALL ") +
        " ORDER BY col_x, col_y"))
  }

  /** Count-Min point-frequency estimates ([[Cms]] /
    * [[org.apache.spark.sql.graft.CmsSketch]]): ONE scalar aggregate
    * builds the 4×32 counter array, broadcast onto the key frame for
    * `min_d` lookups. The counters are exact slot sums (layout-
    * independent), and the md5 hash family replays in SQL, so the
    * oracle rebuilds every counter relationally and the hash match
    * pins the native update/merge/serialize/eval path end to end.
    * `exact_cnt` sits alongside so the report shows the (over-)estimate
    * against truth; at width 32 with a handful of event types the
    * estimates are collision-free and equal the exact counts.
    */
  private def cmsQuery = QueryDef(
    "profile_cms_events",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events", parallelize = true)
      val depth = 4
      val width = 32
      val ctr = ev.agg(graft.functions.VectorExpressions
        .cms(col("event_type"), depth, width).as("ctr"))
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(ctr))
        .select(col("event_type"), col("exact_cnt"),
          Cms.estimate(col("ctr"), col("event_type"), depth, width)
            .as("cms_est"))
        .orderBy("event_type")
    },
    Some("WITH ds AS (SELECT unnest(generate_series(0, 3)) AS d), " +
      "s AS (SELECT d, ('0x' || substr(md5(event_type), 1 + 8*d, 8))" +
      "::BIGINT % 32 AS slot FROM events CROSS JOIN ds), " +
      "ctr AS (SELECT d, slot, count(*) AS c FROM s GROUP BY 1, 2), " +
      "k AS (SELECT event_type, count(*) AS exact_cnt FROM events " +
      "GROUP BY 1), " +
      "ke AS (SELECT event_type, exact_cnt, d, ('0x' || " +
      "substr(md5(event_type), 1 + 8*d, 8))::BIGINT % 32 AS slot " +
      "FROM k CROSS JOIN ds) " +
      "SELECT event_type, exact_cnt, CAST(min(c) AS BIGINT) AS cms_est " +
      "FROM ke JOIN ctr USING (d, slot) GROUP BY 1, 2 ORDER BY 1"))

  /** Melted (long-form) profile: UNPIVOT the numeric measure columns
    * into `(metric, value)` rows, then ONE grouped aggregation over
    * the metric domain — the long-form dual of the per-column wide
    * aggregation `profile_lineitem` runs, and the shape SURVEY §4
    * names for all-pairs FD sweeps. Spark's native `unpivot`
    * (Expand-based — a map-side ×k row expansion, no shuffle before
    * the aggregation) replays in DuckDB as the equivalent UNION ALL
    * (its UNPIVOT lowers the same way). DECIMAL-exact sums; avg is
    * one IEEE division of the exact operands.
    *
    * Emitted values are DOUBLEs, never DECIMALs: the r9 driver gate
    * hash-failed this lane (locally bit-exact) and it was one of only
    * two lanes in the suite whose FINAL schema carried a DECIMAL
    * column — every passing lane casts the exact decimal accumulator
    * back to DOUBLE at the end (the `orch_ingestion_agg_events` /
    * streaming idiom), which survives whatever decimal→pandas
    * conversion the driver's oracle stack applies. The cast is exact
    * here: the scaled sum stays far below 2^53.
    */
  private def meltedQuery = QueryDef(
    "profile_melted_lineitem",
    (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      Tables.load(s, dir, "lineitem")
        .select(cols.map(col): _*)
        .unpivot(Array.empty, cols.map(col).toArray, "metric", "value")
        .groupBy(col("metric"))
        .agg(count(col("value")).as("n"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("sum_v"),
          (sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(col("value"))).as("avg_v"))
        .orderBy(col("metric"))
    },
    Some {
      val legs = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax").map(c =>
          s"SELECT '$c' AS metric, $c AS value FROM lineitem")
        .mkString(" UNION ALL ")
      s"WITH m AS ($legs) SELECT metric, " +
        "CAST(count(value) AS BIGINT) AS n, min(value) AS min_v, " +
        "max(value) AS max_v, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS sum_v, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / " +
        "count(value) AS avg_v FROM m GROUP BY 1 ORDER BY 1"
    })

  override def queries: Seq[QueryDef] =
    Seq(profileQuery("lineitem"), profileQuery("orders"), approxQuery,
      quantileQuery("lineitem"), quantileApproxQuery, topkExactQuery,
      topkSketchQuery, topkGroupedQuery, groupedQuantileQuery, corrQuery,
      cmsQuery, meltedQuery)
}
