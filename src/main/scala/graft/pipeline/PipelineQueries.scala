package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.Tables

/** Registered SCD1 / window-dedup queries with DuckDB oracles.
  *
  * Timestamps are emitted as BIGINT epoch-microseconds (`unix_micros` /
  * DuckDB `epoch_us`): the corpus stores events.ts at nanosecond precision,
  * which Spark reads truncated to µs while DuckDB keeps ns — raw timestamp
  * output would hash-mismatch on the sub-µs tail even when the query logic
  * agrees. All window ordering likewise uses the µs value on both sides so
  * tie-breaking is engine-independent.
  */
object PipelineQueries extends QueryPack {

  /** µs-aligned split point: `<`/`>=` against it commute with ns→µs
    * truncation (floor), so both engines partition rows identically.
    */
  val SplitTs = "2024-07-01 00:00:00"

  private val oracleProj =
    "event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props"

  private def latestQuery = QueryDef(
    "scd1_latest_events",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      Scd1.latestPerKey(events, Seq("user_id"), "ts",
          tieBreakers = Seq("event_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id")
    },
    Some(s"SELECT $oracleProj FROM events QUALIFY ROW_NUMBER() OVER " +
      "(PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) " +
      "= 1 ORDER BY user_id"))

  private def mergeQuery = QueryDef(
    "scd1_merge_events",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val split = lit(SplitTs).cast("timestamp")
      val target = events.filter(col("ts") < split)
      val source = events.filter(col("ts") >= split)
      Scd1.merge(target, source, Seq("user_id"), "ts",
          tieBreakers = Seq("event_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")
    },
    Some(mergeOracleSql))

  /** The SCD1 merge oracle, shared VERBATIM with the partition-pruned
    * sink lane — the pruned merge must be hash-equal to the
    * full-rewrite relation.
    */
  private def mergeOracleSql: String =
    s"""WITH tgt AS (SELECT * FROM events WHERE ts < TIMESTAMP '$SplitTs'),
       |src AS (SELECT * FROM events WHERE ts >= TIMESTAMP '$SplitTs'
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1)
       |SELECT $oracleProj FROM tgt
       |  WHERE user_id NOT IN (SELECT user_id FROM src)
       |UNION ALL SELECT $oracleProj FROM src
       |ORDER BY event_id""".stripMargin.replace("\n", " ")

  /** Partition-pruned SCD1 MERGE SINK ([[PrunedMerge]] — the X64
    * repair-scope ruling applied to the write side of
    * `CODE_GENERATOR.sql:41-59`): the pre-split events stage as a
    * key-hash-partitioned parquet target, the post-split batch merges
    * through [[PrunedMerge.mergeInto]] (touched partition dirs swap
    * temp-then-rename; untouched dirs are never read or written —
    * `PrunedMergeSpec` pins their mtimes and the crash-rerun fixed
    * point), and the lane reads the MUTATED TABLE back. The oracle is
    * the full-rewrite merge lane's SQL VERBATIM — pruning must be
    * invisible in the relation.
    */
  private def mergePrunedQuery = QueryDef(
    "scd1_merge_pruned_events",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val split = lit(SplitTs).cast("timestamp")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_pruned_merge").toString
      val tgt = s"$tmp/target"
      try {
        PrunedMerge.stage(events.filter(col("ts") < split), tgt,
          Seq("user_id"), nParts = 8)
        PrunedMerge.mergeInto(s, tgt, events.filter(col("ts") >= split),
          Seq("user_id"), "ts", tieBreakers = Seq("event_id"),
          nParts = 8)
        graft.util.Frames.localized(
          PrunedMerge.readTable(s, tgt)
            .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
              col("user_id"), col("event_type"), col("value"),
              col("props"))
            .orderBy("event_id"))
      } finally graft.util.Staging.deleteRecursively(new java.io.File(tmp))
    },
    Some(mergeOracleSql))

  /** Backward as-of join ([[AsofJoin]]): each purchase event paired with
    * the same user's latest click at-or-before it. DuckDB's native
    * `ASOF LEFT JOIN` is the oracle; both sides compare at µs (`ts::
    * TIMESTAMP` truncates DuckDB's ns read the same way Spark's load
    * does).
    */
  private def asofQuery = QueryDef(
    "asof_clicks_before_purchase",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val probe = events.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val build = events.filter(col("event_type") === "click")
        .select("user_id", "ts")
      AsofJoin.asof(probe, build, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts_us"),
          unix_micros(col("asof_ts")).as("click_ts_us"))
        .orderBy("event_id")
    },
    Some("WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts " +
      "FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events " +
      "WHERE event_type = 'click') " +
      "SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts_us, " +
      "epoch_us(c.ts) AS click_ts_us " +
      "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts " +
      "ORDER BY p.event_id"))

  /** Skew-spread exact distinct rollup ([[Salting]]): per event_type,
    * the exact distinct user count via two-level (key, salt) aggregation
    * — the explicit-salting shape for keys too hot for AQE (one
    * event_type holding more rows than an executor handles). The salt
    * never changes the result — only the shuffle layout, pinned in
    * PlanAuditSpec — so the oracle is a plain COUNT(DISTINCT).
    */
  /** CDC snapshot diff ([[SnapshotDiff]]): two deterministic orders
    * snapshots derived in-query (before drops key%11=0, after drops
    * key%13=0 and bumps totalprice on key%5=0), so all four change
    * classes appear and the oracle rebuilds both sides verbatim. The
    * +1.0 bump is exact IEEE on both engines.
    */
  /** [[SnapshotDiff]] over BUCKETED snapshots — the second
    * [[BucketedStage]] consumer (the staging layer's whole story is
    * amortization ACROSS queries): both snapshot sides derive from the
    * staged orderkey-bucketed orders table, so the full-outer key join
    * runs with ZERO exchanges (plan-pinned in PlanAuditSpec) — the
    * repeated-reconciliation shape where yesterday's and today's
    * snapshots land bucketed on the warehouse key and every daily diff
    * skips both shuffles. Same mutation recipe as
    * [[snapshotDiffQuery]] restricted to the staged columns (status
    * flips to the never-occurring 'X' on key%5=0), so all four change
    * classes appear and the oracle replays both sides off the raw
    * table verbatim.
    */
  private def snapshotDiffBucketedQuery = QueryDef(
    "snapshot_diff_bucketed",
    (s, dir) => {
      val (_, ot) = BucketedStage.ensure(s, dir)
      val proj = s.table(ot) // (o_orderkey, o_orderstatus) bucketed
      val before = proj.filter(col("o_orderkey") % 11 =!= 0)
      val after = proj.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 5 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      SnapshotDiff.diff(before, after, Seq("o_orderkey"),
          Seq("o_orderstatus"))
        .orderBy("o_orderkey")
    },
    Some("WITH proj AS (SELECT o_orderkey, o_orderstatus FROM orders), " +
      "b AS (SELECT * FROM proj WHERE o_orderkey % 11 != 0), " +
      "a AS (SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
      "ELSE o_orderstatus END AS o_orderstatus FROM proj " +
      "WHERE o_orderkey % 13 != 0), " +
      "j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey, " +
      "b.o_orderkey IS NOT NULL AS bp, a.o_orderkey IS NOT NULL AS ap, " +
      "list_filter([CASE WHEN b.o_orderstatus IS DISTINCT FROM " +
      "a.o_orderstatus THEN 'o_orderstatus' END], x -> x IS NOT NULL) " +
      "AS ch FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey) " +
      "SELECT o_orderkey, CASE WHEN NOT bp THEN 'added' WHEN NOT ap " +
      "THEN 'removed' WHEN len(ch) > 0 THEN 'changed' ELSE 'unchanged' " +
      "END AS change_type, CASE WHEN bp AND ap THEN " +
      "coalesce(array_to_string(ch, ','), '') ELSE '' END " +
      "AS changed_cols FROM j ORDER BY o_orderkey"))

  /** Ordered conversion funnel ([[Funnel]]): view → click-after-view →
    * purchase-after-click, ONE user-key exchange with all sequential
    * stage logic as stacked running windows over it (no per-stage
    * joins). The oracle replays the identical running-min windows in
    * DuckDB under the same (ts_us, event_id) total order; conversion is
    * one exact-integer IEEE division.
    */
  private def funnelQuery = QueryDef(
    "events_funnel",
    (s, dir) => Funnel.conversion(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("stage_idx"),
    Some(funnelOracleSql))

  /** The view → click → purchase funnel as DuckDB SQL — also the
    * oracle of the streaming twin `stream_funnel_events` (streaming
    * state machine ≡ batch running windows).
    */
  private[graft] val funnelOracleSql: String =
    "WITH e AS (SELECT user_id AS u, epoch_us(ts) AS ts, " +
      "event_id AS id, event_type AS t FROM events), " +
      "f0 AS (SELECT u, ts, id, t, min(CASE WHEN t = 'view' THEN ts END) " +
      "OVER w AS g0 FROM e WINDOW w AS (PARTITION BY u ORDER BY ts, id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "f1 AS (SELECT *, min(CASE WHEN t = 'click' AND g0 IS NOT NULL " +
      "THEN ts END) OVER w AS g1 FROM f0 WINDOW w AS (PARTITION BY u " +
      "ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT " +
      "ROW)), " +
      "f2 AS (SELECT *, min(CASE WHEN t = 'purchase' AND g1 IS NOT NULL " +
      "THEN ts END) OVER w AS g2 FROM f1 WINDOW w AS (PARTITION BY u " +
      "ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT " +
      "ROW)), " +
      "pu AS (SELECT u, bool_or(g0 IS NOT NULL) AS r0, " +
      "bool_or(g1 IS NOT NULL) AS r1, bool_or(g2 IS NOT NULL) AS r2 " +
      "FROM f2 GROUP BY u), " +
      "c AS (SELECT sum(CASE WHEN r0 THEN 1 ELSE 0 END)::BIGINT AS n0, " +
      "sum(CASE WHEN r1 THEN 1 ELSE 0 END)::BIGINT AS n1, " +
      "sum(CASE WHEN r2 THEN 1 ELSE 0 END)::BIGINT AS n2 FROM pu) " +
      "SELECT * FROM (" +
      "SELECT 'view' AS stage, 0::BIGINT AS stage_idx, n0 AS users, " +
      "CASE WHEN n0 = 0 THEN 0.0 ELSE n0::DOUBLE / n0 END AS conversion " +
      "FROM c UNION ALL " +
      "SELECT 'click', 1::BIGINT, n1, CASE WHEN n0 = 0 THEN 0.0 ELSE " +
      "n1::DOUBLE / n0 END FROM c UNION ALL " +
      "SELECT 'purchase', 2::BIGINT, n2, CASE WHEN n0 = 0 THEN 0.0 ELSE " +
      "n2::DOUBLE / n0 END FROM c) ORDER BY stage_idx"


  private def snapshotDiffQuery = QueryDef(
    "snapshot_diff_orders",
    (s, dir) => {
      val proj = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val before = proj.filter(col("o_orderkey") % 11 =!= 0)
      val after = proj.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      SnapshotDiff.diff(before, after, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("WITH proj AS (SELECT o_orderkey, o_orderstatus, o_totalprice " +
      "FROM orders), " +
      "b AS (SELECT * FROM proj WHERE o_orderkey % 11 != 0), " +
      "a AS (SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 5 " +
      "= 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice " +
      "FROM proj WHERE o_orderkey % 13 != 0), " +
      "j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey, " +
      "b.o_orderkey IS NOT NULL AS bp, a.o_orderkey IS NOT NULL AS ap, " +
      "list_filter([CASE WHEN b.o_orderstatus IS DISTINCT FROM " +
      "a.o_orderstatus THEN 'o_orderstatus' END, CASE WHEN " +
      "b.o_totalprice IS DISTINCT FROM a.o_totalprice THEN " +
      "'o_totalprice' END], x -> x IS NOT NULL) AS ch " +
      "FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey) " +
      "SELECT o_orderkey, CASE WHEN NOT bp THEN 'added' WHEN NOT ap " +
      "THEN 'removed' WHEN len(ch) > 0 THEN 'changed' ELSE 'unchanged' " +
      "END AS change_type, CASE WHEN bp AND ap THEN " +
      // DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
      "coalesce(array_to_string(ch, ','), '') ELSE '' END " +
      "AS changed_cols " +
      "FROM j ORDER BY o_orderkey"))

  /** Per-user sequence features from one keyed window ([[Features]]):
    * previous-event gap, 5-event rolling sum/count (DECIMAL-exact so the
    * sliding arithmetic is engine-portable), sequence position. Oracle
    * replays the identical window spec in DuckDB; ties break on
    * event_id, so the hash pins frame semantics end to end.
    */
  private def featuresQuery = QueryDef(
    "features_rolling_events",
    (s, dir) => Features.rollingEventFeatures(
        Tables.load(s, dir, "events"),
        "user_id", "ts", "value", "event_id")
      .orderBy("user_id", "ts_us", "event_id"),
    Some("SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
      "epoch_us(ts) - lag(epoch_us(ts)) OVER " +
      "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) " +
      "AS prev_gap_us, " +
      "(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id " +
      "ORDER BY epoch_us(ts), event_id ROWS BETWEEN 4 PRECEDING AND " +
      "CURRENT ROW))::DOUBLE AS roll_sum_5, " +
      "count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), " +
      "event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_cnt_5, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), " +
      "event_id) AS seq_no " +
      "FROM events ORDER BY user_id, ts_us, event_id"))

  /** Cohort retention ([[Retention.cohortRetention]]): users bucketed by
    * first-activity epoch-week, per-(cohort, offset) active counts, rate
    * as one IEEE division of exact longs. The corpus has every user
    * active in every week (one cohort, retention ≡ 1.0 — the report
    * would prove nothing), so the gate lane INJECTS deterministic
    * structure the same way `dq_drift_orders` injects drift: a user
    * joins `user_id % 3` weeks after the corpus anchor week and stays
    * `1 + user_id % 4` weeks, both as plain filters replayed verbatim
    * in the oracle — cohorts stagger and retention decays 1 → 3/4 →
    * 2/4 → 1/4. The anchor is the epoch week of 2024-01-01 (a constant
    * INSIDE the corpus range, the DqQueries FixedNow practice) written
    * as an expression, not a magic number.
    */
  private def retentionQuery = QueryDef(
    "events_retention_cohorts",
    (s, dir) => {
      val wk = expr(s"unix_micros(ts) DIV ${Retention.WeekUs}L")
      val anchor =
        expr(s"unix_micros(timestamp'2024-01-01') DIV ${Retention.WeekUs}L")
      val rel = wk - anchor
      val cohortAt = col("user_id") % 3
      val lifetime = col("user_id") % 4 + 1
      Retention.cohortRetention(
        Tables.load(s, dir, "events")
          .filter(rel >= cohortAt && rel < cohortAt + lifetime),
        "user_id", "ts")
    },
    Some(s"""WITH f AS (SELECT user_id, ts,
           |    epoch_us(ts) // ${Retention.WeekUs} -
           |    epoch_us(TIMESTAMP '2024-01-01') // ${Retention.WeekUs}
           |      AS rel FROM events),
           |fe AS (SELECT user_id, ts FROM f
           |    WHERE rel >= user_id % 3
           |      AND rel < user_id % 3 + user_id % 4 + 1),
           |wk AS (SELECT DISTINCT user_id,
           |    epoch_us(ts) // ${Retention.WeekUs} AS week FROM fe),
           |c AS (SELECT *, min(week) OVER (PARTITION BY user_id)
           |    AS cohort_week FROM wk),
           |counts AS (SELECT cohort_week, week - cohort_week AS
           |    week_offset, count(*) AS active_users FROM c GROUP BY 1, 2),
           |sizes AS (SELECT cohort_week, active_users AS cohort_users
           |    FROM counts WHERE week_offset = 0)
           |SELECT counts.cohort_week AS cohort_week, week_offset,
           |  active_users, cohort_users, CAST(active_users AS DOUBLE) /
           |  CAST(cohort_users AS DOUBLE) AS retention
           |FROM counts JOIN sizes ON counts.cohort_week = sizes.cohort_week
           |ORDER BY 1, 2""".stripMargin
      .replace("\n", " ")))

  /** Fixed-interval resampling + forward fill ([[Timeseries]]): per-user
    * 6-hour slots over the event log, last observation per slot, gaps
    * carried forward. ~45% of slots are gaps at the gate corpus, so the
    * fill path is exercised heavily; the oracle replays slotting,
    * QUALIFY dedup, generate_series grid and IGNORE NULLS fill.
    */
  private val ResampleStepUs = 6L * 3600L * 1000000L

  /** The resample oracles' CTEs over `s(user_id, slot, v, event_id,
    * ts_us)`, between spaces: `o`, each slot's last observation, and
    * `g`, every user's slot grid from first to last slot (via `b`).
    */
  private val resampleGridSql = " " +
    """o AS (SELECT user_id, slot, v FROM s QUALIFY row_number()
      |    OVER (PARTITION BY user_id, slot
      |    ORDER BY ts_us DESC, event_id DESC) = 1),
      |b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi
      |    FROM s GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS slot
      |    FROM b)""".stripMargin.replace("\n", " ")

  private def resampleQuery = QueryDef(
    "events_resample_ffill",
    (s, dir) => Timeseries.resampleFfill(
        Tables.load(s, dir, "events"), "user_id", "ts", "value",
        ResampleStepUs, "event_id")
      .orderBy("user_id", "slot"),
    Some(s"""WITH s AS (SELECT user_id,
           |    epoch_us(ts) // $ResampleStepUs AS slot, value AS v,
           |    event_id, epoch_us(ts) AS ts_us FROM events),"""
      .stripMargin.replace("\n", " ") + resampleGridSql + s"""
           |SELECT g.user_id, g.slot,
           |  g.slot * $ResampleStepUs AS slot_ts_us,
           |  last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id
           |    ORDER BY g.slot ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    CURRENT ROW) AS value,
           |  o.v IS NOT NULL AS observed
           |FROM g LEFT JOIN o ON g.user_id = o.user_id
           |  AND g.slot = o.slot
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")))

  /** Robust per-user anomaly detection over the per-slot deduped
    * series ([[Timeseries.robustAnomalies]]): modified z-score
    * (median/MAD, 4dp-rounded stats) on OBSERVED slots — synthetic
    * forward-fills are continuity for downstream features, not
    * measurements, so they are not scored. 352 naturally-flagged slots
    * at the gate corpus — no injection needed.
    */
  private def anomalyQuery = QueryDef(
    "events_anomaly_robust",
    // lastPerSlot, not resampleFfill(...).filter(observed): identical
    // frame, but without materializing and forward-filling the full
    // grid only to discard the fills (review finding, fourth pass)
    (s, dir) => Timeseries.robustAnomalies(
        Timeseries.lastPerSlot(
          Tables.load(s, dir, "events"), "user_id", "ts", "value",
          ResampleStepUs, "event_id"),
        "user_id", "slot", "value")
      .orderBy("user_id", "slot"),
    Some(s"""WITH s AS (SELECT user_id,
           |    epoch_us(ts) // $ResampleStepUs AS slot, value AS v,
           |    event_id, epoch_us(ts) AS ts_us FROM events),
           |o AS (SELECT user_id, slot, v::DOUBLE AS v FROM s QUALIFY
           |    row_number() OVER (PARTITION BY user_id, slot
           |    ORDER BY ts_us DESC, event_id DESC) = 1),
           |med AS (SELECT user_id, round(quantile_cont(v, 0.5), 4)
           |    AS med FROM o GROUP BY 1),
           |d AS (SELECT o.user_id, slot, v, med, abs(v - med) AS dev
           |    FROM o JOIN med USING (user_id)),
           |mad AS (SELECT user_id, round(quantile_cont(dev, 0.5), 4)
           |    AS mad FROM d GROUP BY 1)
           |SELECT d.user_id, slot, v AS value, d.med, mad.mad,
           |  CASE WHEN mad.mad = 0 THEN 0.0
           |    ELSE 0.6745 * dev / mad.mad END AS score
           |FROM d JOIN mad USING (user_id)
           |WHERE CASE WHEN mad.mad = 0 THEN 0.0
           |  ELSE 0.6745 * dev / mad.mad END > 3.5
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")))

  /** Change-point detection ([[Changepoint.meanShifts]]) composed on the
    * resampled series. Random event values have no level SHIFTS (spikes,
    * not steps), so the gate INJECTS deterministic steps the retention/
    * drift way: user `u` gains `(u % 5 + 1) · 200` from relative slot
    * `40 + u % 30` onward (anchor = the 2024-01-01 slot), replayed
    * verbatim in the oracle. Amplitudes are ≥ 4σ of the w=8 window-mean
    * contrast, the threshold ~5σ — the report carries the injected
    * steps, not noise, and the NMS suppresses the ramp around each.
    */
  private def changepointQuery = QueryDef(
    "events_changepoints",
    (s, dir) => {
      val slotOf = expr(s"unix_micros(ts) DIV ${ResampleStepUs}L")
      val anchor =
        expr(s"unix_micros(timestamp'2024-01-01') DIV ${ResampleStepUs}L")
      val injected = Tables.load(s, dir, "events")
        .withColumn("value", col("value") +
          when(slotOf - anchor >= lit(40) + col("user_id") % 30,
            (col("user_id") % 5 + 1) * 200.0).otherwise(0.0))
      Changepoint.meanShifts(
        Timeseries.resampleFfill(injected, "user_id", "ts", "value",
          ResampleStepUs, "event_id"),
        "user_id", "slot", "value", w = 8, threshold = 120.0)
        .orderBy("user_id", "slot")
    },
    Some(s"""WITH e AS (SELECT user_id, ts, event_id, value +
           |    CASE WHEN epoch_us(ts) // $ResampleStepUs -
           |      epoch_us(TIMESTAMP '2024-01-01') // $ResampleStepUs >=
           |      40 + user_id % 30
           |    THEN (user_id % 5 + 1) * 200.0 ELSE 0.0 END AS value
           |    FROM events),
           |s AS (SELECT user_id, epoch_us(ts) // $ResampleStepUs AS slot,
           |    value AS v, event_id, epoch_us(ts) AS ts_us FROM e),"""
      .stripMargin.replace("\n", " ") + resampleGridSql + s""",
           |r AS (SELECT g.user_id, g.slot,
           |    last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id
           |    ORDER BY g.slot ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    CURRENT ROW) AS value
           |    FROM g LEFT JOIN o ON g.user_id = o.user_id
           |      AND g.slot = o.slot),
           |d AS (SELECT user_id, slot, CAST(round(CAST(value AS DOUBLE), 4)
           |    AS DECIMAL(20,4)) AS v FROM r),
           |c AS (SELECT user_id, slot,
           |    sum(v) OVER wb AS sb, count(v) OVER wb AS cb,
           |    sum(v) OVER wa AS sa, count(v) OVER wa AS ca FROM d
           |    WINDOW wb AS (PARTITION BY user_id ORDER BY slot
           |      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
           |    wa AS (PARTITION BY user_id ORDER BY slot
           |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
           |k AS (SELECT user_id, slot, CAST(sb AS DOUBLE) / 8
           |      AS mean_before, CAST(sa AS DOUBLE) / 8 AS mean_after,
           |    (CAST(sa AS DOUBLE) / 8) - (CAST(sb AS DOUBLE) / 8) AS shift
           |    FROM c WHERE cb = 8 AND ca = 8),
           |f AS (SELECT * FROM k WHERE abs(shift) > 120.0),
           |p AS (SELECT *, max(abs(shift)) OVER (PARTITION BY user_id
           |    ORDER BY slot RANGE BETWEEN 7 PRECEDING AND 7 FOLLOWING)
           |    AS peak FROM f)
           |SELECT user_id, slot, mean_before, mean_after, shift FROM p
           |WHERE abs(shift) = peak ORDER BY 1, 2""".stripMargin
      .replace("\n", " ")))

  /** Incremental aggregate maintenance ([[IncrementalAgg]]): the engine
    * bootstraps per-type state from the BEFORE table and advances it
    * with a deterministic change batch (deletes = `event_id % 7 = 0`,
    * inserts = shifted copies of `event_id % 5 = 0`); the ORACLE
    * aggregates the assembled AFTER table directly. Hash equality is
    * therefore the incremental-view-maintenance invariant itself —
    * state + delta ≡ full recompute — checked bit-for-bit (decimal
    * sums make the equivalence exact, not approximate).
    */
  private def incrementalAggQuery = QueryDef(
    "agg_incremental_events",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (inserts, deletes) = aggChangeSet(ev)
      val state =
        IncrementalAgg.aggState(ev, Seq("event_type"), Seq("value"))
      IncrementalAgg.report(
        IncrementalAgg.applyDelta(state, inserts, deletes,
          Seq("event_type"), Seq("value")),
        Seq("event_type"), Seq("value"))
        .orderBy("event_type")
    },
    Some(incrementalAggOracleSql))

  /** The `agg_incremental_events` change set over `ev`: (inserts =
    * `event_id % 5 = 0` copies shifted by 1e9 ids and +100 value,
    * deletes = `event_id % 7 = 0`).
    */
  private def aggChangeSet(ev: DataFrame): (DataFrame, DataFrame) =
    (ev.filter(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 1000000000L)
      .withColumn("value", col("value") + 100.0),
      ev.filter(col("event_id") % 7 === 0))

  /** The incremental-aggregate oracles' shared head: the after table
    * `b` and its per-type select up to `avg_value`, without FROM.
    */
  private val aggAfterSelectSql =
    """WITH ins AS (SELECT event_type, value + 100.0 AS value
       |    FROM events WHERE event_id % 5 = 0),
       |b AS (SELECT event_type, value FROM events
       |    WHERE event_id % 7 <> 0
       |    UNION ALL SELECT event_type, value FROM ins)
       |SELECT event_type, count(*) AS cnt,
       |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 4)
       |    AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
       |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 4)
       |    AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_value"""
      .stripMargin.replace("\n", " ")

  /** The after table's per-type count, sum and avg — also the oracle of
    * the streaming twin `stream_incremental_agg_events` (micro-batched
    * maintenance ≡ full recompute of the after table).
    */
  private[graft] val incrementalAggOracleSql: String =
    aggAfterSelectSql + " FROM b GROUP BY 1 ORDER BY 1"

  /** Min/max incremental maintenance ([[IncrementalAgg.applyDeltaMinMax]]):
    * the same change set as `agg_incremental_events`, now with extremes
    * — inserts advance them for free, and only the groups whose stored
    * extreme a delete TOUCHED re-read the (in-query-assembled) after
    * table through a broadcast semi-join. The oracle again aggregates
    * the after table directly: hash equality proves the repair-scoped
    * path ≡ full recompute, extremes included.
    */
  private def incrementalMinMaxQuery = QueryDef(
    "agg_incremental_minmax_events",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (inserts, deletes) = aggChangeSet(ev)
      val base = ev.filter(col("event_id") % 7 =!= 0)
        .unionByName(inserts)
      val state = IncrementalAgg.aggStateMinMax(ev, Seq("event_type"),
        Seq("value"))
      IncrementalAgg.reportMinMax(
        IncrementalAgg.applyDeltaMinMax(state, inserts, deletes, base,
          Seq("event_type"), Seq("value")),
        Seq("event_type"), Seq("value"))
        .orderBy("event_type")
    },
    Some(aggAfterSelectSql +
      ",   min(CAST(value AS DOUBLE)) AS min_value,   " +
      "max(CAST(value AS DOUBLE)) AS max_value FROM b GROUP BY 1 ORDER BY 1"))

  /** First-order Markov transition matrix ([[Transitions.matrix]]) over
    * per-user event sequences, terminal transitions included — each
    * event emits exactly one (src, dst) pair so per-src probabilities
    * sum to 1. One user-keyed window exchange, then domain²-sized
    * aggregation; the oracle replays the lead() sequence verbatim.
    */
  private def transitionsQuery = QueryDef(
    "events_transitions",
    (s, dir) => Transitions.matrix(Tables.load(s, dir, "events"),
      "user_id", "event_type", Seq("ts", "event_id"))
      .orderBy("src", "dst"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |  coalesce(event_type, '__NULL__') AS st FROM events),
           |seq AS (SELECT st AS src,
           |  coalesce(lead(st) OVER (PARTITION BY user_id
           |    ORDER BY ts_us, event_id), '__END__') AS dst FROM e),
           |p AS (SELECT src, dst, count(*) AS cnt FROM seq GROUP BY 1, 2),
           |t AS (SELECT src, sum(cnt) AS total FROM p GROUP BY 1)
           |SELECT p.src, p.dst, p.cnt,
           |  CAST(p.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS prob
           |FROM p JOIN t USING (src) ORDER BY 1, 2""".stripMargin
      .replace("\n", " ")))

  /** First-/last-touch attribution ([[Attribution.firstLast]]):
    * purchases credited to the earliest/latest {click, view, signup}
    * touch of the same user inside a 7-day lookback. The struct-extreme
    * trick makes timestamp ties deterministic in both engines; the
    * oracle replays the same RANGE window verbatim.
    */
  private def attributionQuery = QueryDef(
    "events_attribution",
    (s, dir) => Attribution.firstLast(Tables.load(s, dir, "events"),
      "user_id", "event_type", "ts", "event_id", "purchase",
      Seq("click", "signup", "view"))
      .orderBy("channel"),
    Some("""WITH e AS (SELECT user_id, event_type,
           |    epoch_us(ts) AS ts_us, event_id FROM events),
           |t AS (SELECT *, CASE WHEN event_type IN
           |    ('click', 'signup', 'view') THEN
           |    {'t': ts_us, 'i': event_id, 'c': event_type}
           |    END AS tch FROM e),
           |wnd AS (SELECT user_id, event_type,
           |    min(tch) OVER w AS fst, max(tch) OVER w AS lst FROM t
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
           |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)),
           |conv AS (SELECT coalesce(fst.c, '(none)') AS first_ch,
           |    coalesce(lst.c, '(none)') AS last_ch FROM wnd
           |  WHERE event_type = 'purchase'),
           |u AS (SELECT first_ch AS channel, 1 AS f, 0 AS l FROM conv
           |  UNION ALL SELECT last_ch, 0, 1 FROM conv)
           |SELECT channel, CAST(sum(f) AS BIGINT) AS first_touch,
           |  CAST(sum(l) AS BIGINT) AS last_touch
           |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
      .replace("\n", " ")))

  /** Winsorized z-score standardization ([[Standardize.withZScore]])
    * reported as per-type clip counts, cuts and z extremes. The z
    * extremes hash-match because each row's z is a fixed two-op IEEE
    * tree over 4dp-rounded stats — the [[Binning]]/profile recipe.
    */
  private def standardizeQuery = QueryDef(
    "features_standardize",
    (s, dir) => {
      val z = Standardize.withZScore(Tables.load(s, dir, "events"),
        "event_type", "value")
      z.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("value") < col("lo_cut"), 1L).otherwise(0L))
            .as("n_lo"),
          sum(when(col("value") > col("hi_cut"), 1L).otherwise(0L))
            .as("n_hi"),
          min(col("lo_cut")).as("lo_cut"),
          max(col("hi_cut")).as("hi_cut"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy("event_type")
    },
    Some("""WITH cuts AS (SELECT event_type,
           |    round(quantile_cont(value, 0.01), 4) AS lo,
           |    round(quantile_cont(value, 0.99), 4) AS hi
           |  FROM events GROUP BY 1),
           |c AS (SELECT e.event_type, e.value,
           |    least(greatest(e.value, lo), hi) AS vc, lo, hi
           |  FROM events e JOIN cuts USING (event_type)),
           |m AS (SELECT event_type, round(avg(vc), 4) AS mean_c,
           |    round(stddev_samp(vc), 4) AS std_c FROM c GROUP BY 1)
           |SELECT c.event_type, count(*) AS cnt,
           |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_lo,
           |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hi,
           |  min(lo) AS lo_cut, max(hi) AS hi_cut,
           |  min(CASE WHEN std_c IS NULL OR std_c = 0 THEN NULL
           |    ELSE (vc - mean_c) / std_c END) AS z_min,
           |  max(CASE WHEN std_c IS NULL OR std_c = 0 THEN NULL
           |    ELSE (vc - mean_c) / std_c END) AS z_max
           |FROM c JOIN m USING (event_type) GROUP BY 1 ORDER BY 1"""
      .stripMargin.replace("\n", " ")))

  /** Quantile-bin feature discretization ([[Binning.withQuantileBins]])
    * reported as a per-(type, decile) histogram. Decile populations are
    * NOT uniform by construction — cuts are interpolated and values
    * tie — which is what makes the histogram discriminating rather
    * than trivially 10% everywhere.
    */
  private def binningQuery = QueryDef(
    "features_quantile_bins",
    (s, dir) => Binning.withQuantileBins(
        Tables.load(s, dir, "events"), "event_type", "value", k = 10)
      .groupBy(col("event_type"), col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("event_type", "bin"),
    Some(("WITH c AS (SELECT event_type, " +
      "list_transform(quantile_cont(value, " +
      "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]), " +
      "x -> round(x, 4)) AS cuts FROM events GROUP BY 1), " +
      "b AS (SELECT e.event_type, CASE WHEN e.value IS NULL THEN NULL " +
      "ELSE len(list_filter(c.cuts, x -> x < e.value)) + 1 END AS bin, " +
      "e.value FROM events e JOIN c ON e.event_type = c.event_type) " +
      "SELECT event_type, bin, count(*) AS cnt, min(value) AS min_v, " +
      "max(value) AS max_v FROM b GROUP BY 1, 2 ORDER BY 1, 2")))

  /** Z-order layout evaluation ([[ZOrder]]): both layouts get 64
    * equal-granularity files (z-buckets via `>> 4` on a 10-bit Morton
    * code vs 64 single-dim price slices); the report counts files and
    * rows a min/max-pruned scan must read for a 2D box predicate.
    * `rows_matched` is layout-invariant by construction — the built-in
    * self-check that both layouts saw the same data. Pure integer bit
    * arithmetic + one mirrored double bucketization → hash-EXACT.
    */
  private def zorderQuery = {
    val (loQ, hiQ, loP, hiP) = (0.0, 50.0, 0.0, 110000.0)
    def cellSql(v: String, lo: Double, hi: Double, bits: Int): String = {
      val cells = 1L << bits
      s"greatest(0, least(${cells - 1}, CAST(floor(((CAST($v AS DOUBLE) " +
        s"- $lo) / ${hi - lo}) * ${cells.toDouble}) AS BIGINT)))"
    }
    def interleaveSql(cx: String, cy: String, bits: Int): String =
      (0 until bits).map(i =>
        s"((($cx >> $i) & 1) << ${2 * i}) | " +
          s"((($cy >> $i) & 1) << ${2 * i + 1})").mkString("(", " | ", ")")
    val zSql = interleaveSql(cellSql("l_quantity", loQ, hiQ, 5),
      cellSql("l_extendedprice", loP, hiP, 5), 5)
    def layoutSql(name: String, fileSql: String): String =
      s"""SELECT '$name' AS layout, count(*) AS files_total,
         |  CAST(sum(CASE WHEN min_q <= 20.0 AND max_q >= 10.0 AND
         |    min_p <= 40000.0 AND max_p >= 20000.0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS files_scanned,
         |  CAST(sum(CASE WHEN min_q <= 20.0 AND max_q >= 10.0 AND
         |    min_p <= 40000.0 AND max_p >= 20000.0 THEN rws ELSE 0 END)
         |    AS BIGINT) AS rows_scanned,
         |  CAST(sum(hits) AS BIGINT) AS rows_matched
         |FROM (SELECT $fileSql AS f, min(l_quantity) AS min_q,
         |  max(l_quantity) AS max_q, min(l_extendedprice) AS min_p,
         |  max(l_extendedprice) AS max_p, count(*) AS rws,
         |  sum(CASE WHEN l_quantity >= 10.0 AND l_quantity <= 20.0 AND
         |    l_extendedprice >= 20000.0 AND l_extendedprice <= 40000.0
         |    THEN 1 ELSE 0 END) AS hits
         |  FROM lineitem GROUP BY 1)""".stripMargin.replace("\n", " ")
    QueryDef("layout_zorder_pruning",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_quantity"), col("l_extendedprice"))
        val overlap = col("min_q") <= 20.0 && col("max_q") >= 10.0 &&
          col("min_p") <= 40000.0 && col("max_p") >= 20000.0
        def layout(name: String, file: Column) =
          li.withColumn("__f", file)
            .groupBy("__f")
            .agg(min(col("l_quantity")).as("min_q"),
              max(col("l_quantity")).as("max_q"),
              min(col("l_extendedprice")).as("min_p"),
              max(col("l_extendedprice")).as("max_p"),
              count(lit(1)).as("rws"),
              sum(when(col("l_quantity") >= 10.0 &&
                col("l_quantity") <= 20.0 &&
                col("l_extendedprice") >= 20000.0 &&
                col("l_extendedprice") <= 40000.0, 1L).otherwise(0L))
                .as("hits"))
            .agg(count(lit(1)).as("files_total"),
              sum(when(overlap, 1L).otherwise(0L)).as("files_scanned"),
              sum(when(overlap, col("rws")).otherwise(0L))
                .as("rows_scanned"),
              sum(col("hits")).as("rows_matched"))
            .select(lit(name).as("layout"), col("files_total"),
              col("files_scanned"), col("rows_scanned"),
              col("rows_matched"))
        layout("zorder", shiftright(
            ZOrder.zValue(col("l_quantity"), loQ, hiQ,
              col("l_extendedprice"), loP, hiP, 5), 4))
          .unionByName(layout("linear",
            ZOrder.cell(col("l_extendedprice"), loP, hiP, 6)))
          .orderBy("layout")
      },
      Some(layoutSql("zorder", s"($zSql >> 4)") + " UNION ALL " +
        layoutSql("linear", cellSql("l_extendedprice", loP, hiP, 6)) +
        " ORDER BY layout"))
  }

  /** Bucketed range join ([[RangeJoin.pointInInterval]]): events joined
    * to three deterministic 36-hour maintenance windows per user
    * (staggered by `user_id % 7` days — windows discriminate per user)
    * with 24-hour buckets, rolled up per (user, window). The ORACLE
    * runs the raw inequality join — hash equality proves the bucketed
    * equi-join + residual is EXACTLY the containment join, while the
    * spec pins that the plan contains no nested-loop/cartesian.
    */
  private def rangeJoinQuery = {
    val dayUs = 86400000000L
    val anchor = "unix_micros(timestamp'2024-01-01')"
    QueryDef("range_join_events",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val intervals = ev.select(col("user_id")).distinct()
          .select(col("user_id"),
            explode(sequence(lit(0L), lit(2L))).as("window_id"))
          .withColumn("lo", expr(s"$anchor + (user_id % 7) * ${dayUs}L " +
            s"+ window_id * ${9 * dayUs}L"))
          .withColumn("hi", col("lo") + lit(36L * 3600L * 1000000L))
        val points = ev.select(col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("value"))
        RangeJoin.pointInInterval(points, intervals, Seq("user_id"),
            "t_us", "lo", "hi", widthUs = dayUs)
          .groupBy("user_id", "window_id")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value").cast("double"), 4)
              .cast("decimal(20,4)")).cast("double").as("value_sum"))
          .orderBy("user_id", "window_id")
      },
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
             |w AS (SELECT user_id, unnest(generate_series(0, 2))
             |    AS window_id FROM u),
             |iv AS (SELECT user_id, window_id,
             |    epoch_us(TIMESTAMP '2024-01-01') +
             |    (user_id % 7) * $dayUs + window_id * ${9 * dayUs}
             |      AS lo FROM w),
             |iv2 AS (SELECT user_id, window_id, lo,
             |    lo + ${36L * 3600L * 1000000L} AS hi FROM iv),
             |j AS (SELECT e.user_id, iv2.window_id, e.value FROM events e
             |    JOIN iv2 ON e.user_id = iv2.user_id
             |    AND iv2.lo <= epoch_us(e.ts)
             |    AND epoch_us(e.ts) < iv2.hi)
             |SELECT user_id, window_id, count(*) AS n_events,
             |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 4)
             |    AS DECIMAL(20,4))) AS DOUBLE) AS value_sum
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        .replace("\n", " ")))
  }

  /** Growth accounting ([[Growth.accounting]]) at daily buckets. Every
    * corpus user is active nearly every day (new-then-retained forever
    * — no churn to show), so the gate INJECTS periodic silence the
    * retention-lane way: a user sits out days where
    * `(day + user_id) % 4 = 0`, replayed verbatim in the oracle —
    * churn and resurrection appear every bucket and the ledger
    * identity carries real numbers.
    */
  private def growthQuery = {
    val dayUs = 86400000000L
    QueryDef("events_user_growth",
      (s, dir) => Growth.accounting(
        Tables.load(s, dir, "events")
          .filter((expr(s"unix_micros(ts) DIV ${dayUs}L")
            + col("user_id")) % 4 =!= 0),
        "user_id", "ts", dayUs),
      Some(s"""WITH e AS (SELECT user_id, ts FROM events
             |    WHERE ((epoch_us(ts) // $dayUs) + user_id) % 4 <> 0),
             |ub AS (SELECT DISTINCT user_id AS u,
             |    epoch_us(ts) // $dayUs AS b FROM e),
             |f AS (SELECT u, min(b) AS fb FROM ub GROUP BY 1),
             |fl AS (SELECT ub.b, CASE WHEN ub.b = f.fb THEN 'new'
             |    WHEN p.u IS NOT NULL THEN 'retained'
             |    ELSE 'resurrected' END AS s
             |    FROM ub JOIN f ON ub.u = f.u
             |    LEFT JOIN ub p ON p.u = ub.u AND p.b = ub.b - 1),
             |pb AS (SELECT b, count(*) AS active,
             |    CAST(sum(CASE WHEN s = 'new' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS new_users,
             |    CAST(sum(CASE WHEN s = 'retained' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS retained,
             |    CAST(sum(CASE WHEN s = 'resurrected' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS resurrected
             |    FROM fl GROUP BY 1)
             |SELECT b AS bucket, b * $dayUs AS bucket_ts_us, active,
             |  new_users, retained, resurrected,
             |  CAST(CASE WHEN lag(b) OVER (ORDER BY b) = b - 1
             |    THEN lag(active) OVER (ORDER BY b) - retained
             |    ELSE 0 END AS BIGINT) AS churned,
             |  CAST(sum(new_users) OVER (ORDER BY b
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |    AS cumulative_users
             |FROM pb ORDER BY bucket""".stripMargin
        .replace("\n", " ")))
  }

  /** Association rules ([[AssociationRules.pairRules]]) over user-day
    * event-type baskets. The lift/confidence division trees are
    * mirrored verbatim (exact longs in, fixed IEEE tree out — the
    * collocations ruling), and the DuckDB replay re-derives the
    * i < j pair expansion from the same sorted item lists.
    */
  private def assocQuery = {
    val dayUs = 86400000000L
    QueryDef("events_assoc_rules",
      (s, dir) => AssociationRules.pairRules(
        Tables.load(s, dir, "events")
          .select(col("user_id"),
            expr(s"unix_micros(ts) DIV ${dayUs}L").as("day"),
            col("event_type")),
        Seq("user_id", "day"), "event_type", minSupport = 5),
      Some(s"""WITH it AS (SELECT DISTINCT user_id,
             |    epoch_us(ts) // $dayUs AS day, event_type FROM events
             |    WHERE event_type IS NOT NULL),
             |bk AS (SELECT user_id, day, list_sort(list(event_type))
             |    AS items FROM it GROUP BY 1, 2),
             |ok AS (SELECT * FROM bk WHERE len(items) <= 256),
             |px AS (SELECT items, unnest(generate_series(1,
             |    len(items) - 1)) AS i FROM ok WHERE len(items) >= 2),
             |py AS (SELECT items, i, unnest(generate_series(i + 1,
             |    len(items))) AS j FROM px),
             |p AS (SELECT items[i] AS item_a, items[j] AS item_b FROM py),
             |pc AS (SELECT item_a, item_b, count(*) AS pair_n FROM p
             |    GROUP BY 1, 2 HAVING count(*) >= 5),
             |ic AS (SELECT i0, count(*) AS n FROM (SELECT unnest(items)
             |    AS i0 FROM ok) GROUP BY 1),
             |tot AS (SELECT count(*)::BIGINT AS baskets FROM ok)
             |SELECT item_a, item_b, pair_n, ia.n AS a_n, ib.n AS b_n,
             |  baskets,
             |  CAST(pair_n AS DOUBLE) / CAST(ia.n AS DOUBLE) AS conf_a_b,
             |  CAST(pair_n AS DOUBLE) / CAST(ib.n AS DOUBLE) AS conf_b_a,
             |  (CAST(pair_n AS DOUBLE) / CAST(baskets AS DOUBLE)) /
             |  ((CAST(ia.n AS DOUBLE) / CAST(baskets AS DOUBLE)) *
             |   (CAST(ib.n AS DOUBLE) / CAST(baskets AS DOUBLE))) AS lift
             |FROM pc JOIN ic ia ON pc.item_a = ia.i0
             |  JOIN ic ib ON pc.item_b = ib.i0 CROSS JOIN tot
             |ORDER BY lift DESC, item_a, item_b""".stripMargin
        .replace("\n", " ")))
  }

  private def saltedQuery = QueryDef(
    "salted_agg_events",
    (s, dir) => Salting.saltedDistinctCount(
        Tables.load(s, dir, "events"), "event_type", "user_id",
        buckets = 8)
      .orderBy("event_type"),
    Some("SELECT event_type, COUNT(DISTINCT user_id) AS distinct_count " +
      "FROM events GROUP BY event_type ORDER BY event_type"))

  /** Skew-spread JOIN ([[Salting.saltedJoin]]): events (big, skewed — a
    * handful of event_types hold everything) against a small per-type
    * dimension, joined on (event_type, salt) so one hot type spreads over
    * `buckets` tasks instead of one. The random salt never changes the
    * JOIN RESULT — each big-side row matches exactly its replica of the
    * dim row — so the oracle is the plain join; the salted shuffle layout
    * is pinned in PlanAuditSpec.
    */
  private def saltedJoinQuery = QueryDef(
    "salted_join_events",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val dim = events.groupBy("event_type")
        .agg(count(lit(1)).as("type_events"))
      Salting.saltedJoin(events, dim, Seq("event_type"), buckets = 8)
        .groupBy("event_type", "type_events")
        .agg(count(lit(1)).as("joined_rows"),
          sum("event_id").cast("long").as("sum_event_id"))
        .orderBy("event_type")
    },
    Some("WITH dim AS (SELECT event_type, COUNT(*) AS type_events " +
      "FROM events GROUP BY event_type) " +
      "SELECT e.event_type, d.type_events, COUNT(*) AS joined_rows, " +
      "SUM(e.event_id)::BIGINT AS sum_event_id " +
      "FROM events e JOIN dim d ON e.event_type = d.event_type " +
      "GROUP BY e.event_type, d.type_events ORDER BY e.event_type"))

  /** The SCD2 lanes' events: (event_id, ts, user_id, event_type,
    * value).
    */
  private def scd2Events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** An events history with µs interval bounds, ordered by (user,
    * valid_from_us, event_id).
    */
  private def historyRows(h: DataFrame): DataFrame =
    h.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        unix_micros(col(Scd2.ValidFrom)).as("valid_from_us"),
        unix_micros(col(Scd2.ValidTo)).as("valid_to_us"),
        col(Scd2.IsCurrent).as("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")

  /** SCD2 history build: the events change log historized per user in
    * one window pass. Interval bounds emitted as µs longs (same
    * representation rule as every ts column here); the oracle mirrors
    * the lead() with the identical (ts_us, event_id) tie-break.
    */
  private def scd2HistoryQuery = QueryDef(
    "scd2_history_events",
    (s, dir) => {
      val events = scd2Events(s, dir)
      Scd2.historize(events, Seq("user_id"), "ts",
          tieBreakers = Seq("event_id"))
        .transform(historyRows)
    },
    Some("""SELECT event_id, user_id, event_type, value,
           |  epoch_us(ts) AS valid_from_us,
           |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
           |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
           |  (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
           |    ORDER BY epoch_us(ts), event_id) IS NULL) AS is_current
           |FROM events
           |ORDER BY user_id, valid_from_us, event_id""".stripMargin))

  /** SCD2 point-in-time read ([[Scd2.asOf]]): the events history as of
    * the [[SplitTs]] instant — the time-travel query the history
    * exists for. A pure closed-open interval filter (no window, no
    * join); the oracle rebuilds the same history and applies the same
    * predicate.
    */
  private def scd2AsofQuery = QueryDef(
    "scd2_asof_events",
    (s, dir) => {
      val events = scd2Events(s, dir)
      Scd2.asOf(
          Scd2.historize(events, Seq("user_id"), "ts",
            tieBreakers = Seq("event_id")),
          lit(SplitTs).cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          unix_micros(col(Scd2.ValidFrom)).as("valid_from_us"))
        .orderBy("user_id")
    },
    Some(s"""WITH h AS (SELECT event_id, user_id, event_type, value,
           |  epoch_us(ts) AS valid_from_us,
           |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
           |    ORDER BY epoch_us(ts), event_id) AS valid_to_us
           |FROM events)
           |SELECT event_id, user_id, event_type, value, valid_from_us
           |FROM h
           |WHERE valid_from_us <= epoch_us(TIMESTAMP '$SplitTs')
           |  AND (valid_to_us IS NULL OR
           |    epoch_us(TIMESTAMP '$SplitTs') < valid_to_us)
           |ORDER BY user_id""".stripMargin.replace("\n", " ")))

  /** SCD2 merge: pre-split history + post-split batch. Only the latest
    * batch row per user is considered; it versions the user iff
    * event_type or value differs null-safely from the current version
    * (the no-op rule — an identical redelivery must NOT grow history).
    * The oracle replays the same decomposition in CTEs.
    */
  private def scd2MergeQuery = QueryDef(
    "scd2_merge_events",
    (s, dir) => {
      val events = scd2Events(s, dir)
      val split = lit(SplitTs).cast("timestamp")
      val target = Scd2.historize(events.filter(col("ts") < split),
        Seq("user_id"), "ts", tieBreakers = Seq("event_id"))
      val source = events.filter(col("ts") >= split)
      Scd2.merge(target, source, Seq("user_id"), "ts",
          attrs = Seq("event_type", "value"),
          tieBreakers = Seq("event_id"))
        .transform(historyRows)
    },
    Some(
      s"""WITH hist AS (
         |  SELECT event_id, user_id, event_type, value,
         |    epoch_us(ts) AS valid_from_us,
         |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS valid_to_us
         |  FROM events WHERE ts < TIMESTAMP '$SplitTs'),
         |histf AS (
         |  SELECT *, (valid_to_us IS NULL) AS is_current FROM hist),
         |src AS (
         |  SELECT event_id, user_id, event_type, value,
         |    epoch_us(ts) AS ts_us
         |  FROM events WHERE ts >= TIMESTAMP '$SplitTs'),
         |latest AS (
         |  SELECT * FROM src QUALIFY ROW_NUMBER() OVER
         |    (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC)
         |    = 1),
         |cur AS (SELECT * FROM histf WHERE is_current),
         |changed AS (
         |  SELECT l.* FROM latest l LEFT JOIN cur c
         |    ON l.user_id = c.user_id
         |  WHERE c.user_id IS NULL
         |    OR l.event_type IS DISTINCT FROM c.event_type
         |    OR l.value IS DISTINCT FROM c.value),
         |noncur AS (
         |  SELECT event_id, user_id, event_type, value, valid_from_us,
         |    valid_to_us, is_current
         |  FROM histf WHERE NOT is_current),
         |closed AS (
         |  SELECT c.event_id, c.user_id, c.event_type, c.value,
         |    c.valid_from_us, ch.ts_us AS valid_to_us,
         |    FALSE AS is_current
         |  FROM cur c JOIN changed ch ON c.user_id = ch.user_id),
         |untouched AS (
         |  SELECT event_id, user_id, event_type, value, valid_from_us,
         |    valid_to_us, is_current
         |  FROM cur WHERE user_id NOT IN (SELECT user_id FROM changed)),
         |newrows AS (
         |  SELECT event_id, user_id, event_type, value,
         |    ts_us AS valid_from_us, CAST(NULL AS BIGINT) AS valid_to_us,
         |    TRUE AS is_current
         |  FROM changed)
         |SELECT * FROM noncur UNION ALL SELECT * FROM closed
         |UNION ALL SELECT * FROM untouched UNION ALL
         |SELECT * FROM newrows
         |ORDER BY user_id, valid_from_us, event_id""".stripMargin))

  /** Two-proportion z-test ([[AbTest]]): conversion = any purchase
    * above value 150 (≈45% of users at both gate corpora — a
    * non-degenerate pool), variants = the seeded-md5 hex-prefix cut.
    * The z's IEEE tree (divisions + one multiply chain + one
    * correctly-rounded sqrt) is mirrored verbatim in the oracle, so
    * the score hash-compares bit-identically.
    */
  private def abTestQuery = QueryDef(
    "events_ab_test",
    (s, dir) => AbTest.twoProportionZ(
      Tables.load(s, dir, "events", parallelize = true), "user_id",
      expr("event_type = 'purchase' AND value > 150"), "exp1"),
    Some("WITH u AS (SELECT user_id, " +
      "CAST(max(CASE WHEN event_type = 'purchase' AND value > 150 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS converted FROM events " +
      "GROUP BY 1), " +
      "a AS (SELECT converted, substring(md5('exp1:' || " +
      "user_id::VARCHAR), 1, 4) < '8000' AS is_a FROM u), " +
      // the arm tests are explicit =true/=false so a NULL user (NULL
      // md5 prefix → NULL is_a) lands in NEITHER arm, matching the
      // Spark side's three-valued when(isA)/when(!isA)
      "g AS (SELECT " +
      "CAST(sum(CASE WHEN is_a = true THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_a, " +
      "CAST(sum(CASE WHEN is_a = false THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_b, " +
      "CAST(sum(CASE WHEN is_a = true THEN converted ELSE 0 END) " +
      "AS BIGINT) AS conv_a, " +
      "CAST(sum(CASE WHEN is_a = false THEN converted ELSE 0 END) " +
      "AS BIGINT) AS conv_b FROM a) " +
      "SELECT n_a, n_b, conv_a, conv_b, " +
      "CASE WHEN n_a = 0 THEN NULL ELSE " +
      "CAST(conv_a AS DOUBLE) / n_a END AS rate_a, " +
      "CASE WHEN n_b = 0 THEN NULL ELSE " +
      "CAST(conv_b AS DOUBLE) / n_b END AS rate_b, " +
      "CASE WHEN n_a = 0 OR n_b = 0 OR " +
      "sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 / n_a + 1.0 / n_b)) = 0.0 THEN NULL ELSE " +
      "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) / " +
      "sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 / n_a + 1.0 / n_b)) END AS z_score FROM g"))

  /** Rolling 7-day distinct actives ([[Actives]]): DAU/WAU/stickiness
    * per observed day; each active (user, day) expands map-side to the
    * ≤7 report days it serves — never a range join. Oracle replays the
    * expansion with generate_series.
    */
  /** Shared by the batch lane and `stream_actives_events` — the
    * streaming maintainer's equality-to-batch claim IS the identical
    * oracle.
    */
  private[graft] def activesOracleSql(window: Int): String =
    "WITH ud AS (SELECT DISTINCT user_id AS u, " +
      s"epoch_us(ts) // ${Actives.DayUs} AS day FROM events), " +
      "b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud), " +
      "dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud " +
      "GROUP BY 1), " +
      "w AS (SELECT DISTINCT u, day FROM (SELECT u, " +
      s"unnest(generate_series(day, day + ${window - 1})) AS day " +
      "FROM ud)), " +
      "wau AS (SELECT day, CAST(count(*) AS BIGINT) AS " +
      "rolling_actives FROM w GROUP BY 1) " +
      "SELECT wau.day, coalesce(dau.dau, 0) AS dau, rolling_actives, " +
      "CAST(coalesce(dau.dau, 0) AS DOUBLE) / rolling_actives AS " +
      "stickiness FROM wau LEFT JOIN dau ON wau.day = dau.day, b " +
      "WHERE wau.day BETWEEN b.lo AND b.hi ORDER BY 1"

  private def activesQuery = QueryDef(
    "events_active_users",
    (s, dir) => Actives.rolling(
        Tables.load(s, dir, "events", parallelize = true),
        "user_id", "ts", 7)
      .orderBy("day"),
    Some(activesOracleSql(7)))

  /** Golden-record entity resolution ([[GoldenRecord]]): customers get
    * collision-sparse 8-hex md5 names; every 10th customer plants a
    * DIRTY twin (id offset past the key space, last name char typo'd to
    * the non-hex 'x' — a guaranteed d=1 substitution — acctbal bumped,
    * segment nulled). FuzzyJoin d=1 finds the twins, Components closes
    * clusters (2 rounds: the planted clusters are pairs — diameter 1,
    * converged after round 1; round 2 is the margin round. Each extra
    * round is a full relax+jump over the label frame on BOTH engines,
    * ~0.4s of gate wall-clock for nothing — r10 trimmed 3 → 2),
    * survivorship merges:
    * max(acctbal) takes the bump, max(mktsegment) skips the NULL,
    * min(id)/min(nationkey) keep the parent. Report = merged clusters
    * only. The oracle replays match (brute levenshtein — proving
    * blocked ≡ brute again), the unrolled component rounds, and the
    * same aggregates.
    */
  private def goldenQuery = QueryDef(
    "mdm_golden_customers",
    (s, dir) => {
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("id"),
          substring(md5(concat(lit("c:"),
            col("c_custkey").cast("string")).cast("binary")), 1, 8)
            .as("name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val dirty = base.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("name"), 1, 7), lit("x")).as("name"),
          col("c_nationkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit(null).cast("string").as("c_mktsegment"))
      GoldenRecord.resolve(base.unionByName(dirty), "id", "name",
          maxDist = 1, rounds = 2,
          rules = Seq("c_nationkey" -> "min", "c_acctbal" -> "max",
            "c_mktsegment" -> "max"))
        .filter(col("n_members") >= 2)
        .orderBy("cluster_name")
    },
    Some {
      val header =
        "WITH r AS MATERIALIZED (SELECT c_custkey AS id, " +
          "substring(md5('c:' || c_custkey::VARCHAR), 1, 8) AS name, " +
          "c_nationkey, c_acctbal, c_mktsegment FROM customer " +
          "UNION ALL SELECT c_custkey + 1000000, " +
          "substring(md5('c:' || c_custkey::VARCHAR), 1, 7) || 'x', " +
          "c_nationkey, c_acctbal + 100.0, NULL FROM customer " +
          "WHERE c_custkey % 10 = 0), " +
          "nm AS (SELECT DISTINCT name FROM r), " +
          "p AS MATERIALIZED (SELECT a.name AS na, b.name AS nb " +
          "FROM nm a JOIN nm b ON a.name < b.name " +
          "AND levenshtein(a.name, b.name) <= 1), " +
          "ep AS MATERIALIZED (SELECT na AS src, nb AS dst FROM p " +
          "UNION ALL SELECT nb, na FROM p), " +
          "c0 AS MATERIALIZED (SELECT node, node AS lbl FROM " +
          "(SELECT DISTINCT src AS node FROM ep))"
      val rounds = (1 to 2).map { k =>
        s"ca$k AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM " +
          s"(SELECT c.node, c.lbl FROM c${k - 1} c UNION ALL " +
          s"SELECT e.dst, c.lbl FROM ep e JOIN c${k - 1} c " +
          "ON e.src = c.node) GROUP BY 1), " +
          s"c$k AS MATERIALIZED (SELECT x.node, y.lbl FROM ca$k x " +
          s"JOIN ca$k y ON x.lbl = y.node)"
      }.mkString(", ")
      header + ", " + rounds + ", " +
        "j AS (SELECT r.*, coalesce(c2.lbl, r.name) AS cluster_name " +
        "FROM r LEFT JOIN c2 ON r.name = c2.node) " +
        "SELECT cluster_name, CAST(count(*) AS BIGINT) AS n_members, " +
        "min(id) AS golden_id, min(c_nationkey) AS c_nationkey, " +
        "max(c_acctbal) AS c_acctbal, max(c_mktsegment) AS " +
        "c_mktsegment FROM j GROUP BY 1 HAVING count(*) >= 2 " +
        "ORDER BY cluster_name"
    })

  private val MarkovIters = 12

  /** Markov removal-effect attribution ([[MarkovAttribution]]):
    * journeys = touches before the first qualifying purchase (the
    * X75 conversion cut, so both CONV and NULL absorb), value
    * iteration in exact BIGINT picoprob — the oracle unrolls the same
    * [[MarkovIters]] steps as MATERIALIZED CTEs over the same
    * per-edge `cnt·p DIV total` rule, so everything up to the final
    * share division hash-compares as integers.
    */
  private def markovQuery = QueryDef(
    "events_markov_attribution",
    (s, dir) => MarkovAttribution.removalEffects(
      MarkovAttribution.transitions(
        Tables.load(s, dir, "events", parallelize = true),
        "user_id", "ts", "event_id", "event_type",
        expr("event_type = 'purchase' AND value > 150")),
      MarkovIters).orderBy("channel"),
    Some {
      val header =
        "WITH b AS (SELECT user_id AS u, ts, event_id AS id, " +
          "event_type AS ch, " +
          "(event_type = 'purchase' AND value > 150) AS c FROM events), " +
          "m AS (SELECT *, row_number() OVER (PARTITION BY u " +
          "ORDER BY ts, id) AS rn FROM b), " +
          "cp AS (SELECT u, min(rn) AS crn FROM m WHERE c GROUP BY 1), " +
          "t AS (SELECT m.*, cp.crn FROM m LEFT JOIN cp USING (u)), " +
          "tch AS (SELECT u, ch, rn, crn FROM t WHERE NOT c AND " +
          "ch IS NOT NULL AND ch NOT IN ('__START__', '__CONV__', " +
          "'__NULL__') AND (crn IS NULL OR rn < crn)), " +
          "sq AS (SELECT *, row_number() OVER (PARTITION BY u " +
          "ORDER BY rn) AS trn, lead(ch) OVER (PARTITION BY u " +
          "ORDER BY rn) AS nxt FROM tch), " +
          "se AS (SELECT '__START__' AS src, ch AS dst FROM sq " +
          "WHERE trn = 1), " +
          "st AS (SELECT ch AS src, coalesce(nxt, CASE WHEN crn IS " +
          "NOT NULL THEN '__CONV__' ELSE '__NULL__' END) AS dst " +
          "FROM sq), " +
          "ej AS (SELECT '__START__' AS src, CASE WHEN conv = 1 THEN " +
          "'__CONV__' ELSE '__NULL__' END AS dst FROM (SELECT u, " +
          "max(CASE WHEN NOT c AND ch IS NOT NULL AND ch NOT IN " +
          "('__START__', '__CONV__', '__NULL__') AND (crn IS NULL " +
          "OR rn < crn) THEN 1 ELSE 0 END) AS hast, " +
          "max(CASE WHEN c THEN 1 ELSE 0 END) AS conv FROM t " +
          "GROUP BY 1) WHERE hast = 0), " +
          "tr AS MATERIALIZED (SELECT src, dst, " +
          "CAST(count(*) AS BIGINT) AS cnt FROM (SELECT * FROM se " +
          "UNION ALL SELECT * FROM st UNION ALL SELECT * FROM ej) " +
          "GROUP BY 1, 2), " +
          "chs AS (SELECT DISTINCT ch FROM (SELECT src AS ch FROM tr " +
          "UNION ALL SELECT dst FROM tr) WHERE ch NOT IN " +
          "('__START__', '__CONV__', '__NULL__')), " +
          "vars AS (SELECT ch AS variant FROM chs " +
          "UNION ALL SELECT '__BASE__'), " +
          "tot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS total " +
          "FROM tr GROUP BY 1), " +
          "ed AS MATERIALIZED (SELECT v.variant, t.src, t.dst, t.cnt, " +
          "tot.total FROM vars v CROSS JOIN tr t JOIN tot " +
          "ON t.src = tot.src WHERE v.variant = '__BASE__' OR " +
          "(t.src <> v.variant AND t.dst <> v.variant)), " +
          "sts AS MATERIALIZED (SELECT v.variant, s.state FROM vars v " +
          "CROSS JOIN (SELECT ch AS state FROM chs UNION ALL " +
          "SELECT unnest(['__START__', '__CONV__', '__NULL__'])) s), " +
          "p0 AS MATERIALIZED (SELECT variant, state, " +
          "CAST(CASE WHEN state = '__CONV__' THEN 1000000000000 " +
          "ELSE 0 END AS BIGINT) AS p FROM sts)"
      val iters = (1 to MarkovIters).map { k =>
        s"q$k AS (SELECT e.variant, e.src AS state, " +
          "CAST(sum(CAST(e.cnt AS HUGEINT) * p.p // e.total) " +
          "AS BIGINT) AS pc " +
          s"FROM ed e JOIN p${k - 1} p ON e.variant = p.variant " +
          "AND e.dst = p.state GROUP BY 1, 2), " +
          s"p$k AS MATERIALIZED (SELECT s.variant, s.state, " +
          "CAST(CASE WHEN s.state = '__CONV__' THEN 1000000000000 " +
          s"ELSE coalesce(q.pc, 0) END AS BIGINT) AS p FROM sts s " +
          s"LEFT JOIN q$k q ON s.variant = q.variant " +
          "AND s.state = q.state)"
      }.mkString(", ")
      header + ", " + iters + ", " +
        "ast AS (SELECT variant, p FROM " + s"p$MarkovIters" +
        " WHERE state = '__START__'), " +
        "bs AS (SELECT p AS conv_base_pico FROM ast " +
        "WHERE variant = '__BASE__'), " +
        "re AS (SELECT variant AS channel, " +
        "(SELECT conv_base_pico FROM bs) AS conv_base_pico, " +
        "p AS conv_removed_pico, " +
        "(SELECT conv_base_pico FROM bs) - p AS removal_effect_pico " +
        "FROM ast WHERE variant <> '__BASE__'), " +
        "tt AS (SELECT CAST(sum(removal_effect_pico) AS BIGINT) AS " +
        "tot FROM re) " +
        "SELECT channel, conv_base_pico, conv_removed_pico, " +
        "removal_effect_pico, CASE WHEN tot = 0 OR tot IS NULL THEN " +
        "NULL ELSE CAST(removal_effect_pico AS DOUBLE) / tot END AS " +
        "share FROM re, tt ORDER BY channel"
    })

  override def queries: Seq[QueryDef] =
    Seq(latestQuery, mergeQuery, mergePrunedQuery, asofQuery,
      featuresQuery, funnelQuery,
      retentionQuery, resampleQuery, anomalyQuery, changepointQuery,
      incrementalAggQuery, incrementalMinMaxQuery, transitionsQuery,
      attributionQuery, standardizeQuery, binningQuery, zorderQuery,
      rangeJoinQuery,
      growthQuery, assocQuery, snapshotDiffQuery,
      snapshotDiffBucketedQuery, saltedQuery, saltedJoinQuery,
      scd2HistoryQuery, scd2MergeQuery, scd2AsofQuery, abTestQuery,
      activesQuery, goldenQuery, markovQuery)
}
