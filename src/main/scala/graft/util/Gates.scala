package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** The one owner of every size gate that picks a plan. A gate chooses
  * between a small-input plan (broadcast a join side, keep a
  * micro-batch's arrival partitioning, sort each stratum whole) and a
  * large-input plan (shuffle the side, spread the batch, prefilter the
  * strata). Both plans return the same rows: a gate picks a plan, never
  * a result.
  *
  * Each decision reads a size the caller already has (a count the
  * caller runs anyway, or the optimizer's byte estimate), so no gate
  * adds a job. Sides with no observed size take [[hinted]], which
  * broadcasts unconditionally.
  *
  * [[pastGates]] is the test switch: inside it every decision takes the
  * large-input branch. It is a global, not a thread-local, because a
  * stream's `foreachBatch` runs on the stream's own thread.
  */
object Gates {

  /** Largest join side that broadcasts, in rows. A `localCheckpoint`ed
    * frame carries no size statistics, so without a hint Catalyst plans
    * a SortMergeJoin and re-sorts the other side on every use; past this
    * count a broadcast would risk the driver and the 8 GB broadcast cap.
    */
  val MaxBroadcastRows: Long = 4000000L

  /** Micro-batches below this many input bytes keep their arrival
    * partitioning on the byte-gated stream lanes: their heavy work fans
    * out through their own aggregate exchanges, so a repartition is a
    * pure tax there.
    */
  val SpreadMinBytes: Long = 1L << 20

  /** Inputs above this optimizer size estimate run the per-stratum
    * head selections through the hash-threshold prefilter; below it the
    * single-window plan is already fine.
    */
  val PrefilterAutoEngageBytes: Long = 1L << 30

  @volatile private var forced = false
  private val flipped = new AtomicLong

  /** `small` unless the switch is on, counting each decision it turns. */
  private def decide(small: Boolean): Boolean =
    if (forced && small) { flipped.incrementAndGet(); false }
    else small

  /** Whether a join side of `rows` rows broadcasts. */
  def broadcasts(rows: Long): Boolean = decide(rows <= MaxBroadcastRows)

  /** `df` with a broadcast hint when `small` (the hint
    * `functions.broadcast` adds), else left to the planner.
    */
  def side(small: Boolean, df: DataFrame): DataFrame =
    if (small) df.hint("broadcast") else df

  /** A side with no observed size that is expected to stay small (a
    * vocabulary, an eval gram set, item supports): broadcast unless the
    * switch is on.
    */
  def hinted(df: DataFrame): DataFrame = side(decide(true), df)

  /** Whether a micro-batch of `bytes` input bytes is spread. */
  def spreads(bytes: BigInt): Boolean = !decide(bytes < SpreadMinBytes)

  /** Whether a per-stratum head selection over `df` runs the prefilter. */
  def prefilters(df: DataFrame): Boolean = !decide(
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      PrefilterAutoEngageBytes)

  /** Run `body` with every decision forced to its large-input branch. */
  private[graft] def pastGates[T](body: => T): T = {
    val prev = forced
    forced = true
    try body finally forced = prev
  }

  /** Decisions the switch has turned in this JVM so far. */
  private[graft] def flips: Long = flipped.get
}
