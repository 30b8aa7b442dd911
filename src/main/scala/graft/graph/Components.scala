package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Frames, Gates}

/** Distributed connected components via min-label propagation with
  * POINTER JUMPING: each round (a) relaxes — every node takes the
  * minimum of its own and its neighbors' labels (one edge join + one
  * map-side-combinable min) — and (b) jumps — every node re-reads the
  * label OF its current label (one node-sized self-join). Relax alone
  * needs diameter-many rounds; the jump doubles how far the minimum
  * has effectively travelled, so convergence is O(log diameter) — the
  * difference between 10 and 1000 synchronous rounds on a 100 TB
  * web-graph-shaped corpus. Labels only ever decrease, and every label
  * is itself a node id of the same component (induction: relax takes a
  * neighbor's id, jump takes a label's label), so the fixed point is
  * exactly the per-component minimum id.
  *
  * Same dataflow contract as [[PageRank]]: edges mirrored/deduped and
  * persisted once, the relaxed label frame re-materialized per round
  * (`localCheckpoint`, node-sized) so lineage stays bounded, label
  * sides of joins broadcast under the [[graft.util.Gates.broadcasts]]
  * gate (checkpointed frames carry no size statistics — Catalyst
  * would SMJ-re-sort the cached edge frame every round), everything
  * persisted released before returning. All operations are integer /
  * equality, so a SQL oracle replays the rounds verbatim as unrolled
  * CTEs.
  *
  * Self-loops are dropped and isolated nodes (no surviving edge) are
  * absent — components are defined over edge endpoints, as in
  * [[Triangles]].
  */
object Components {

  /** Edge preparation under the caller contracts (the [[PageRank]]
    * r12 treatment): `assumeMirrored` skips the union-mirror leg (the
    * caller guarantees both directions present and no self-loops, e.g.
    * a map-side explode of canonical pairs), `assumeDistinct` skips
    * the edge-level distinct — one exchange over the FULL mirrored
    * edge set, which a caller that deduped at the canonical-pair level
    * (half the volume) has already paid more cheaply. Duplicate edges
    * would not change the fixed point (relax takes a min), so the
    * flags are pure plan trims, never correctness risks.
    */
  private def prepared(edges: DataFrame, assumeDistinct: Boolean,
      assumeMirrored: Boolean): DataFrame = {
    val base = edges.select(col("src"), col("dst"))
    val m =
      if (assumeMirrored) base
      else {
        val pairs = base.filter(col("src") =!= col("dst"))
        pairs.unionByName(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
      }
    if (assumeDistinct) m else m.distinct()
  }

  /** Relax: every node takes the minimum of its own and its
    * neighbors' labels — one edge join + one map-side-combinable min.
    * The result is CHECKPOINTED by the caller before the jump: it
    * feeds both sides of the jump self-join, and a lazy broadcast
    * side would re-run the whole edge join + aggregation (measured 2×
    * the lane).
    */
  private def relax(dir: DataFrame, l: DataFrame,
      side: DataFrame => DataFrame): DataFrame = dir
    .join(side(l.withColumnRenamed("node", "src")), Seq("src"))
    .select(col("dst").as("node"), col("lbl"))
    .unionByName(l)
    .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))

  /** Jump: label of label — `relaxed` covers every node and labels
    * are node ids, so the self-join is total. Deliberately LAZY on
    * the broadcast path: over a checkpointed `relaxed` it is one
    * node-sized broadcast hash join the next round's consumers
    * recompute far cheaper than the checkpoint job a materialization
    * costs (dropping the per-round jump checkpoint cut the gate lane
    * ~25%); the shuffle path checkpoints in [[run]] because there the
    * re-computation is a real exchange.
    */
  private def jump(relaxed: DataFrame,
      side: DataFrame => DataFrame): DataFrame = relaxed
    .join(side(relaxed.select(col("node").as("__ln"),
      col("lbl").as("__ll"))), col("lbl") === col("__ln"))
    .select(col("node"), col("__ll").as("lbl"))

  private def run(edges: DataFrame, rounds: Int,
      stopWhenStable: Boolean, jumps: Int = 1,
      assumeDistinct: Boolean = false,
      assumeMirrored: Boolean = false): DataFrame = {
    require(rounds >= 1, "need at least one round")
    require(jumps >= 1, "need at least one jump per round")
    Frames.cached(prepared(edges, assumeDistinct, assumeMirrored)) { dir =>
      // the persist-materializing count doubles as the broadcast gate:
      // mirrored-edge count ≥ node count, so edges ≤ threshold is a
      // CONSERVATIVE broadcast decision (no separate node-count job)
      val m = dir.count()
      val small = Gates.broadcasts(m)
      def side(df: DataFrame) = Gates.side(small, df)
      def afterJump(relaxed: DataFrame): DataFrame = {
        var j = relaxed
        var k = 0
        while (k < jumps) {
          // a second (or later) jump re-reads labels through the frame
          // the previous jump produced: on the broadcast path the lazy
          // composition is a stack of node-sized broadcast hash joins
          // over ONE checkpointed frame; on the shuffle path each jump
          // checkpoints so the self-join input is materialized
          j = jump(j, side)
          if (!small) j = j.localCheckpoint(true)
          k += 1
        }
        j
      }
      // On the broadcast path the relax checkpoint is LAZY: the jump's
      // broadcast build is the next action to scan it and materializes
      // it as part of a job that runs anyway (the r16 Closure/Mixing
      // gate-fusion idiom — one fewer job per round); the probe side
      // then reads the cached blocks (deterministic agg + block-level
      // compute dedup make the concurrent-consumer window safe). On
      // the shuffle path it stays EAGER: no broadcast build exists to
      // act as the per-round materialization barrier, and the jump SMJ
      // would otherwise scan the same unmaterialized frame from two
      // concurrent stages, compounding per round (the r16 Closure
      // lesson).
      val eagerCp = !small
      // Round 1's relax FOLDED into initialization: with l0 = identity
      // labels, relax1(node) = min(node, min of node's neighbors) —
      // one aggregation over the mirrored frame (every node appears as
      // src), replacing the nodes-distinct, the edge join and the
      // union of the general round.
      var relaxed = dir
        .groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
        .localCheckpoint(eagerCp)
      var l = afterJump(relaxed)
      // labels only decrease, so the exact label sum strictly
      // decreases iff ANY label changed — one scalar aggregate per
      // round instead of a change-count join (numeric ids required
      // for the stability check; the fixed-round form has no such
      // constraint)
      var prevSum: java.math.BigDecimal = null
      var i = 1
      var stable = false
      if (stopWhenStable) {
        prevSum = l.agg(sum(col("lbl").cast("decimal(38,0)")))
          .head().getDecimal(0)
      }
      while (i < rounds && !stable) {
        relaxed = relax(dir, l, side).localCheckpoint(eagerCp)
        l = afterJump(relaxed)
        if (stopWhenStable) {
          val s = l.agg(sum(col("lbl").cast("decimal(38,0)")))
            .head().getDecimal(0)
          stable = prevSum != null && s.compareTo(prevSum) == 0
          prevSum = s
        }
        i += 1
      }
      l
    }
  }

  /** `(node, lbl)` after exactly `rounds` relax + `jumps`-fold jump
    * rounds — the oracle-replayable form (deterministic round count;
    * correct when the minimum can reach every node — each extra jump
    * per round squares the pointer compression, so fewer edge-sized
    * relax rounds buy the same reach: (jumps+1)^rounds ≳ diameter).
    * `assumeDistinct`/`assumeMirrored` are the [[prepared]] caller
    * contracts; `ComponentsSpec` pins flagged ≡ unflagged on a
    * mirrored fixture.
    */
  def labels(edges: DataFrame, rounds: Int, jumps: Int = 1,
      assumeDistinct: Boolean = false,
      assumeMirrored: Boolean = false): DataFrame =
    run(edges, rounds, stopWhenStable = false, jumps = jumps,
      assumeDistinct = assumeDistinct, assumeMirrored = assumeMirrored)

  /** The production form: rounds until the label assignment is stable
    * (true components), bounded by `maxRounds`. Requires numeric node
    * ids (the stability check sums labels exactly).
    */
  def converged(edges: DataFrame, maxRounds: Int = 64,
      jumps: Int = 1, assumeDistinct: Boolean = false,
      assumeMirrored: Boolean = false): DataFrame =
    run(edges, maxRounds, stopWhenStable = true, jumps = jumps,
      assumeDistinct = assumeDistinct, assumeMirrored = assumeMirrored)
}
