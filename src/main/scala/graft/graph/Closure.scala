package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Gates

/** Transitive ancestor closure with depths — the recursive-CTE
  * capability Spark SQL lacks natively (org charts, bill-of-materials
  * explosions, category trees), done scale-first by PATH DOUBLING:
  * round k joins the closure-so-far with itself (`a.ancestor = b.descendant`,
  * depths add), so paths up to length 2^rounds materialize in
  * O(log depth) self-joins instead of one join per level — the
  * difference between 5 and 40 rounds on a deep product taxonomy.
  *
  * Multiple routes to the same ancestor (DAGs) collapse per round to
  * the MINIMUM depth (`groupBy(descendant, ancestor).min(depth)`), which also
  * makes the fixed-round form TERMINATE on cyclic inputs — the pair
  * frame is bounded by nodes², unlike a naive recursive CTE whose
  * UNION ALL diverges on a cycle. Everything is integer/equality, so
  * a SQL oracle replays the closure either as the identical doubling
  * rounds or (on acyclic input, as the gate does) as a genuine
  * `WITH RECURSIVE` — matching the recursive oracle additionally
  * PROVES the fixed rounds converged to the true closure.
  *
  * Dataflow contract as [[PageRank]]/[[Components]]: the depth-1 frame
  * is checkpointed once, each round's result re-materializes
  * (node-pair-sized), joins broadcast under the conservative
  * [[graft.util.Gates.broadcasts]] pair-count gate.
  */
object Closure {

  /** `(descendant, ancestor, depth)` for every ancestor reachable in ≤ 2^rounds
    * parent steps from `edges` rows `(child, parent)`; `depth` is the
    * minimum step count. Self-pairs are not emitted.
    */
  def ancestors(edges: DataFrame, childCol: String, parentCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // LAZY checkpoint + count: the broadcast-gate count is the action
    // that materializes each round's checkpoint, so one job does both
    // (the eager-checkpoint-then-count form paid two jobs per round —
    // ~⅓ of this lane's gate wall-clock was those extra job launches)
    var p = edges
      .select(col(childCol).as("descendant"), col(parentCol).as("ancestor"))
      .filter(col("descendant") =!= col("ancestor"))
      .distinct()
      .select(col("descendant"), col("ancestor"), lit(1).as("depth"))
      .localCheckpoint(false)
    // the broadcast gate re-evaluates EVERY round on the materialized
    // closure frame: unlike PageRank/Components, whose broadcast sides
    // are node-bounded, this frame GROWS (keys·log depth, nodes² on
    // dense DAGs) — a once-at-entry decision on the depth-1 count
    // would keep broadcasting long after the frame outgrew the driver
    var small = Gates.broadcasts(p.count())
    def side(df: DataFrame) = Gates.side(small, df)
    var k = 0
    while (k < rounds) {
      val hops = p
        .join(side(p.select(col("descendant").as("__mid"),
          col("ancestor").as("__anc2"), col("depth").as("__d2"))),
          col("ancestor") === col("__mid"))
        .select(col("descendant"), col("__anc2").as("ancestor"),
          (col("depth") + col("__d2")).as("depth"))
      p = p.unionByName(hops)
        .filter(col("descendant") =!= col("ancestor")) // cycles fold to self-pairs
        .groupBy(col("descendant"), col("ancestor"))
        .agg(min(col("depth")).as("depth"))
        .localCheckpoint(false)
      // the count runs UNCONDITIONALLY: it is the action that
      // materializes this round's lazy checkpoint, and it must keep
      // firing after the broadcast gate closes (past the gate the
      // self-join runs as SMJ with the SAME frame on both sides — two
      // concurrent scan stages would otherwise each recompute the full
      // un-checkpointed lineage, compounding per remaining round)
      val pairs = p.count()
      small = small && Gates.broadcasts(pairs)
      k += 1
    }
    p
  }
}
