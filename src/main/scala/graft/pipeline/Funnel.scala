package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Ordered conversion-funnel analysis over an event stream — the
  * event-analytics staple ("how many users VIEWED, then CLICKED after
  * viewing, then PURCHASED after clicking?"). Stages must occur in
  * order: a click before the user's first view does not count, a
  * purchase before the first qualifying click does not count.
  *
  * Scale shape: ONE shuffle on the user key, then ALL per-user
  * sequential logic as stacked running-frame window functions over that
  * single partitioning — stage i's "first qualifying timestamp so far"
  * is a running `min` that reads stage i−1's running column, so Catalyst
  * plans consecutive Window operators over the SAME distribution (one
  * exchange, one sort, no joins, no per-stage re-shuffle — compare the
  * naive agg-join chain, which shuffles once per stage). The final
  * roll-up is a map-side-combinable count of per-user flags. Ordering is
  * (ts_us, event_id) — a total order, so same-microsecond ties resolve
  * identically in any engine.
  */
object Funnel {

  /** `(stage, stage_idx, users)` — users reaching each ordered stage
    * prefix, plus `conversion` = users ÷ stage-1 users (exact-integer
    * IEEE division; 0-user funnels report 0.0). One row per stage, in
    * funnel order.
    *
    * @param stages event-type names in funnel order (≥ 2)
    */
  def conversion(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least two stages")
    val running = Window.partitionBy(col("__u"))
      .orderBy(col("__ts"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // stage 0: running earliest occurrence of the entry event; stage i:
    // running earliest occurrence AT OR AFTER stage i-1's running first —
    // "at or after" is implied by the running frame (the prior stage's
    // min is visible at this row only if it happened at/before it), so
    // each qualifying condition is just "prior stage reached so far".
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(tsCol)).as("__ts"), col(idCol).as("__id"),
      col(typeCol).as("__t"))
    val withFirsts = stages.zipWithIndex.foldLeft(base) {
      case (df, (stage, i)) =>
        val qualifies =
          if (i == 0) col("__t") === stage
          else col("__t") === stage && col(s"__f${i - 1}").isNotNull
        df.withColumn(s"__f$i",
          min(when(qualifies, col("__ts"))).over(running))
    }
    val reached = stages.indices.map(i =>
      max(col(s"__f$i").isNotNull).as(s"__r$i"))
    val perUser = withFirsts.groupBy(col("__u"))
      .agg(reached.head, reached.tail: _*)
    // coalesce: a global aggregate over ZERO users still returns one
    // row, with NULL sums — an empty event stream must report 0 users
    // per stage, not nulls (property-test find)
    val stageCounts = stages.indices.map(i =>
      coalesce(sum(when(col(s"__r$i"), 1L).otherwise(0L)), lit(0L))
        .as(s"__n$i"))
    funnelRows(perUser.agg(stageCounts.head, stageCounts.tail: _*), stages)
  }

  /** Unpivots the one stage-counts row (`__n<i>` per stage) into funnel
    * order: `(stage, stage_idx, users, conversion)`. No driver collect
    * and no window — conversion is computed against the stage-0 column
    * while it is still a sibling column.
    */
  private def funnelRows(counts: DataFrame, stages: Seq[String])
      : DataFrame = {
    val stageRows: Seq[Column] = stages.zipWithIndex.map { case (s, i) =>
      struct(lit(s).as("stage"), lit(i.toLong).as("stage_idx"),
        col(s"__n$i").as("users"),
        when(col("__n0") === 0L, lit(0.0))
          .otherwise(col(s"__n$i").cast("double") / col("__n0"))
          .as("conversion"))
    }
    counts.select(explode(array(stageRows: _*)).as("e"))
      .select(col("e.stage"), col("e.stage_idx"), col("e.users"),
        col("e.conversion"))
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp,
      event_id: Long, event_type: String)

  /** Per-user stage progress carried between micro-batches: epoch-µs of
    * each stage's first QUALIFYING occurrence, [[Unreached]] where the
    * stage hasn't happened yet. Per-user state is `stages.size` longs —
    * tiny — but user CARDINALITY is unbounded, so a long-running
    * deployment bounds the store with [[statefulReach]]'s
    * `evictAfterMs` (watermark-driven event-time eviction); without it
    * state is kept forever (the exact-funnel semantics).
    */
  final case class ReachState(firstUs: Seq[Long])

  final case class UserReach(user_id: Long, deepest: Int)

  val Unreached: Long = Long.MinValue

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Explicit-state streaming form of [[conversion]]'s per-user logic:
    * `flatMapGroupsWithState` tracking each stage's first qualifying
    * timestamp, emitting the user's deepest reached stage (−1 = none)
    * every trigger in Update mode — the roll-up takes max per user.
    *
    * Semantics match the batch running-window form EXACTLY when each
    * user's events arrive in event-time order across triggers (each
    * trigger's group iterator is sorted by (ts, event_id) internally, so
    * in-batch disorder is fine — the registered gate drains the whole
    * corpus in ONE AvailableNow batch, where equality is unconditional).
    * The per-call sort buffers ONE user's events for one trigger (batch
    * execution: one user's whole history — the Sessionize caveat: pick
    * the window form when that might not fit an executor).
    * Cross-trigger LATE data is the documented approximation: a late
    * entry-stage event cannot retroactively qualify an already-processed
    * later-stage event — the streaming funnel under-counts exactly where
    * any incremental funnel must, and a deployment bounds that with a
    * source watermark.
    *
    * STATE EVICTION (`evictAfterMs`): per-user state is tiny but user
    * cardinality is unbounded, so a long-running deployment must bound
    * the store. With `evictAfterMs = Some(d)` (requires a watermark on
    * the input — `events.withWatermark("ts", …)` — Spark's
    * EventTimeTimeout contract), a user's state is REMOVED once the
    * watermark passes d ms beyond their latest event: an idle-for-d
    * user no longer occupies the store. A user who reappears AFTER
    * eviction restarts from empty state — they degrade exactly like the
    * documented cross-trigger late-data approximation (their earlier
    * stages are forgotten, so later-stage events no longer qualify
    * until the funnel re-enters at stage 0), and their earlier
    * emissions still carry the pre-eviction deepest for
    * [[reachSummary]]'s per-user max. Eviction emits nothing — progress
    * already emitted in Update mode stands.
    */
  def statefulReach(events: Dataset[FunnelEvent], stages: Seq[String],
      evictAfterMs: Option[Long] = None): Dataset[UserReach] = {
    require(stages.size >= 2, "a funnel needs at least two stages")
    require(evictAfterMs.forall(_ > 0), "evictAfterMs must be positive")
    import events.sparkSession.implicits._
    val timeoutConf =
      if (evictAfterMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ReachState, UserReach](
        OutputMode.Update(), timeoutConf) {
        (user: Long, it: Iterator[FunnelEvent],
         state: GroupState[ReachState]) =>
          if (state.hasTimedOut) {
            // watermark passed the eviction horizon with no new data:
            // drop the state (the store stays bounded); nothing new to
            // emit — the user's deepest was emitted when it last moved
            state.remove()
            Iterator.empty
          } else {
            val first = state.getOption
              .map(_.firstUs.toArray)
              .getOrElse(Array.fill(stages.size)(Unreached))
            // sorted processing = the batch frame order, so "prior stage
            // already recorded" ⇔ "prior stage at-or-before this row"
            val sorted = it.toIndexedSeq
              .sortBy(e => (micros(e.ts), e.event_id))
            sorted.foreach { e =>
              val i = stages.indexOf(e.event_type)
              if (i >= 0 && first(i) == Unreached &&
                  (i == 0 || first(i - 1) != Unreached)) {
                first(i) = micros(e.ts)
              }
            }
            state.update(ReachState(first.toSeq))
            evictAfterMs.foreach { d =>
              // horizon = latest event seen THIS trigger + d; the
              // timestamp must sit past the current watermark (Spark
              // rejects an already-expired horizon), which also gives
              // an idle grace of ≥ d from the stream's frontier
              val maxMs = micros(sorted.last.ts) / 1000L
              state.setTimeoutTimestamp(
                math.max(maxMs + d, state.getCurrentWatermarkMs() + d))
            }
            val deepest = first.lastIndexWhere(_ != Unreached)
            Iterator.single(UserReach(user, deepest))
          }
      }
  }

  /** Roll a [[statefulReach]] output (one or more emissions per user —
    * progress only ever deepens, so max is exact) up to the same
    * `(stage, stage_idx, users, conversion)` frame as [[conversion]].
    */
  def reachSummary(reach: DataFrame, stages: Seq[String]): DataFrame = {
    val perUser = reach.groupBy(col("user_id"))
      .agg(max(col("deepest")).as("deepest"))
    // coalesce: zero users → 0 per stage, not a null row (see conversion)
    val stageCounts = stages.indices.map(i =>
      coalesce(sum(when(col("deepest") >= i, 1L).otherwise(0L)), lit(0L))
        .as(s"__n$i"))
    funnelRows(perUser.agg(stageCounts.head, stageCounts.tail: _*), stages)
  }
}
