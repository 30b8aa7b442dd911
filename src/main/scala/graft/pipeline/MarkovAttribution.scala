package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Markov-chain multi-touch attribution (removal effects) in exact
  * fixed-point integer arithmetic — the data-driven upgrade of
  * first/last-touch credit ([[Attribution]]): model user journeys as a
  * first-order chain over channels with absorbing CONV/NULL states,
  * and credit each channel by how much the chain's conversion
  * probability DROPS when that channel is removed (Anderl et al.'s
  * removal effect).
  *
  * Determinism contract (the [[graft.graph.PageRank]] trick applied to
  * absorbing-chain probabilities): conversion probabilities live as
  * BIGINT "picoprob" units (1.0 = [[TotalPico]]); one value-iteration
  * step is, per edge, `cnt(s→t) · p(t) DIV total(s)` — an integer
  * product and floor division — summed exactly per state. No float
  * enters until the final attribution shares, so the whole iteration
  * is bit-identical under any layout and replays verbatim in a SQL
  * oracle with the iterations unrolled as CTEs. Truncation only ever
  * UNDERSTATES a probability (floor per edge), bounded by one pico per
  * edge per iteration.
  *
  * Scale shape: ONE corpus-sized pass builds per-user journeys (the
  * [[Transitions]] window idiom: one user-key exchange, lead() for the
  * next touch, first-purchase cutoff) and reduces them to the
  * (channel-domain)² transition-count frame. Removal variants are a
  * domain-sized cross-multiply (variant column = 'base' + one per
  * channel, removed edges dropped, denominators UNCHANGED — removed
  * mass falls to NULL, which is the point), and the value iteration
  * runs over the variants×domain frame — a few dozen rows regardless
  * of corpus size. Everything after the first aggregation is
  * broadcast-grade.
  */
object MarkovAttribution {

  /** 1.0 of absorption probability, in pico units. */
  val TotalPico: Long = 1000000000000L

  /** Start/absorbing state names (channels must not collide; the
    * journey builder filters them out defensively).
    */
  val Start = "__START__"
  val Conv = "__CONV__"
  val Null = "__NULL__"

  /** Per-(src, dst) journey transition counts over `events`: per user,
    * touches (rows whose `channelCol` is not null and not an absorbing
    * name) strictly before the first row where `convExpr` holds — by
    * (`tsCol`, `idCol`) order — then START→first, touch→touch,
    * last→CONV/NULL edges. Users whose journey has no touches still
    * contribute their START→end edge.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, channelCol: String, convExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col(userCol).as("u"),
      col(tsCol).as("__ts"), col(idCol).as("__id"),
      col(channelCol).as("ch"), convExpr.as("__c"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("__ts"), col("__id"))
    // first conversion point per user carried to every row, and the
    // touch predicate materialized ONCE (both consumers below read the
    // same column — the oracle-parity contract cannot tolerate the two
    // copies drifting apart)
    val marked = base
      .withColumn("__cts", min(when(col("__c"),
        struct(col("__ts"), col("__id")))).over(w
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("__isTouch",
        !col("__c") && col("ch").isNotNull &&
          !col("ch").isin(Start, Conv, Null) &&
          (col("__cts").isNull ||
            struct(col("__ts"), col("__id")) < col("__cts")))
    val seq = marked.filter(col("__isTouch"))
      .select(col("u"), col("ch"),
        row_number().over(w).as("__rn"),
        lead(col("ch"), 1).over(w).as("__next"),
        col("__cts"))
    val endOf = when(col("__cts").isNotNull, lit(Conv)).otherwise(lit(Null))
    val startEdges = seq.filter(col("__rn") === 1)
      .select(lit(Start).as("src"), col("ch").as("dst"))
    val stepEdges = seq.select(col("ch").as("src"),
      coalesce(col("__next"), endOf).as("dst"))
    // users with zero touches: START straight to their end state
    val emptyJourneys = marked
      .groupBy(col("u"))
      .agg(max(when(col("__isTouch"), lit(1)).otherwise(lit(0)))
          .as("__hasTouch"),
        max(when(col("__c"), lit(1)).otherwise(lit(0))).as("__conv"))
      .filter(col("__hasTouch") === 0)
      .select(lit(Start).as("src"),
        when(col("__conv") === 1, lit(Conv)).otherwise(lit(Null))
          .as("dst"))
    startEdges.unionByName(stepEdges).unionByName(emptyJourneys)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
  }

  /** Removal-effect attribution report, one row per channel:
    * `(channel, conv_base_pico, conv_removed_pico,
    * removal_effect_pico, share)` ordered by channel. `share` is the
    * one IEEE division at the end (NULL when total effect is 0).
    * `iters` value-iteration steps (absorption converges
    * geometrically; the oracle replays the same count).
    */
  def removalEffects(transIn: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one value-iteration step")
    // the ONE corpus-derived frame, materialized once — domain²-sized;
    // every consumer below is broadcast-grade
    val trans = transIn.localCheckpoint(true)
    val channels = trans.select(col("src").as("ch"))
      .unionByName(trans.select(col("dst").as("ch")))
      .filter(!col("ch").isin(Start, Conv, Null))
      .distinct()
      .localCheckpoint(true)
    // variants = base + one removal per channel; removed edges drop,
    // denominators stay (lost mass IS the removal semantics)
    val variants = channels.select(col("ch").as("variant"))
      .unionByName(channels.sparkSession.range(1)
        .select(lit("__BASE__").as("variant")))
    val totals = trans.groupBy(col("src"))
      .agg(sum(col("cnt")).as("total"))
    // edges/states are consumed by every iteration step — checkpointed
    // (leaving them lazy measured SLOWER: the per-checkpoint-boundary
    // recomputes outweigh their one-time materialization jobs)
    val edges = variants.crossJoin(broadcast(trans.join(totals, "src")))
      .filter(col("variant") === "__BASE__" ||
        (col("src") =!= col("variant") && col("dst") =!= col("variant")))
      .localCheckpoint(true)
    val absorbing = channels.sparkSession.range(1)
      .select(explode(array(lit(Start), lit(Conv), lit(Null)))
        .as("state"))
    val states = variants.crossJoin(broadcast(
        channels.select(col("ch").as("state")).unionByName(absorbing)))
      .localCheckpoint(true)
    // p0: CONV = 1.0, everything else 0
    var p = states.select(col("variant"), col("state"),
      when(col("state") === Conv, lit(TotalPico)).otherwise(lit(0L))
        .as("p"))
    var k = 0
    while (k < iters) {
      // NOTE (r16 A/B): broadcasting the (variants × states)-sized p /
      // stepped sides was tried and measured SLOWER at gate scale
      // (2.90 → 3.5 with both hints, 3.0 with p only): each broadcast
      // build is its own collect job, serializing the iteration
      // pipeline that the lazy sort-merge form overlaps. Both joins are
      // pinned to sort-merge: left to the planner, AQE turned one or
      // both into a broadcast of a finished shuffle depending on which
      // stage ended first, so the lane ran 55-60 jobs from one run to
      // the next; pinned, it runs 41 every time (BenchOne --jobs, sf0.01).
      val stepped = edges
        .join(p.select(col("variant"),
          col("state").as("dst"), col("p").as("pt")).hint("merge"),
          Seq("variant", "dst"))
        // the product runs in DECIMAL(38,0): cnt is a raw corpus-scale
        // transition count and pt ≤ 10¹², so a Long product overflows
        // past cnt ≈ 9.2·10⁶ (ANSI would throw, non-ANSI would wrap
        // picoprobs negative); integral DIV back to Long is exact
        .select(col("variant"), col("src").as("state"),
          expr("CAST(CAST(cnt AS DECIMAL(38,0)) * pt AS DECIMAL(38,0)) " +
            "DIV total").as("c"))
        .groupBy(col("variant"), col("state"))
        .agg(sum(col("c")).as("pc"))
      val next = states
        .join(stepped.hint("merge"), Seq("variant", "state"), "left")
        .select(col("variant"), col("state"),
          when(col("state") === Conv, lit(TotalPico))
            .otherwise(coalesce(col("pc"), lit(0L))).as("p"))
      // LAZY (r17): p has exactly one consumer per iteration (the
      // stepped join) and the final frame's first consumer is the
      // basePico broadcast build, so every checkpoint is materialized
      // inside a job that runs anyway — 65 → 60 scheduled jobs on the
      // gate lane (2.38 → 2.31s BenchOne min); lineage still truncates
      // on the same every-3rd cadence once each checkpoint computes.
      // (The r16 lazy A/B that measured SLOWER was edges/states — the
      // multi-consumer setup frames — not the rank frame.)
      p = if (k % 3 == 2 || k == iters - 1) next.localCheckpoint(false)
          else next
      k += 1
    }
    val atStart = p.filter(col("state") === Start)
      .select(col("variant"), col("p"))
    val basePico = atStart.filter(col("variant") === "__BASE__")
      .select(col("p").as("conv_base_pico"))
    val re = atStart.filter(col("variant") =!= "__BASE__")
      .crossJoin(broadcast(basePico))
      .select(col("variant").as("channel"), col("conv_base_pico"),
        col("p").as("conv_removed_pico"),
        (col("conv_base_pico") - col("p")).as("removal_effect_pico"))
    val totalRe = re.agg(
      sum(col("removal_effect_pico")).as("__tot"))
    re.crossJoin(broadcast(totalRe))
      .select(col("channel"), col("conv_base_pico"),
        col("conv_removed_pico"), col("removal_effect_pico"),
        when(col("__tot") === 0 || col("__tot").isNull,
          lit(null).cast("double"))
          .otherwise(col("removal_effect_pico").cast("double") /
            col("__tot")).as("share"))
  }
}
