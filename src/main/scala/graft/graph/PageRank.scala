package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Frames, Gates}

/** Distributed PageRank in exact fixed-point integer arithmetic — the
  * graph-centrality ranking a curation pipeline runs over similarity /
  * co-occurrence graphs ("which documents/products sit at the center of
  * the corpus?"). The novelty here is the determinism contract: ranks
  * live as BIGINT "picorank" units (total mass = [[TotalPico]]), every
  * per-iteration operation is integer division/multiplication/addition
  * — no float anywhere, no libm — so the result is bit-identical under
  * any partition layout AND fully replayable by a SQL oracle with the
  * iterations unrolled as CTEs. Mass leaks only through floor division
  * (bounded by one pico per edge per iteration), the standard
  * fixed-point trade.
  *
  * Update rule per iteration (damping d = `dampNum/dampDen`, default
  * 85/100), mirrored verbatim in the oracle:
  * {{{
  *   contrib(dst) = Σ_{src→dst} r(src) DIV outdeg(src)
  *   danglingPer  = (Σ_{src: outdeg=0} r(src)) DIV N
  *   r'(node)     = (((dampDen−dampNum)·TotalPico) DIV (dampDen·N))
  *                  + ((contrib(node) + danglingPer) · dampNum) DIV dampDen
  * }}}
  *
  * Scale shape (the GraphX/Pregel dataflow in plain DataFrames): the
  * edge+outdeg frame and the node frame are computed ONCE and persisted;
  * each iteration is one join of the node-sized rank frame against the
  * edges (shuffle on src), one map-side-combinable sum (shuffle on dst)
  * and a scalar dangling aggregate — the rank frame is re-materialized
  * every second iteration (`localCheckpoint`) so lineage stays bounded
  * no matter the iteration count (the r9 MaintainedAgg ruling).
  * Iteration 1 is FOLDED into initialization (the r11 components
  * treatment): r0 is a constant, so its contribution sum reads straight
  * off the degree frame with no rank join and its dangling term is
  * driver arithmetic. Everything persisted is released before returning
  * (the Vocab lifecycle).
  */
object PageRank {

  /** Total rank mass: 10¹² picoranks. */
  val TotalPico: Long = 1000000000000L

  /** `(node, rank_pico)` after `iters` synchronous iterations over the
    * directed `edges` (`src`, `dst` columns of any atomic type, which
    * the node ids inherit; parallel edges are collapsed). Nodes are
    * every endpoint of any edge. Prefer INTEGER node ids: every
    * construction shuffle and per-iteration join keys on them, and
    * packed longs measured ~2× cheaper than concatenated strings on
    * the gate graph.
    *
    * Caller contracts that trim construction work the operator cannot
    * infer — both default OFF (the generic directed-graph path):
    *
    * @param assumeDistinct the caller guarantees `edges` carries no
    *        duplicate (src, dst) rows — e.g. a mirror of a DISTINCT
    *        pair frame over disjoint id spaces. Skips the edge-level
    *        distinct (one exchange over the full edge set) and, when
    *        the caller deduped at the PAIR level, the second source
    *        scan the union-mirror would pay.
    * @param assumeMirrored the caller guarantees every edge's reverse
    *        is present. Then every node occurs as a src, so the node
    *        frame is `distinct src` (half the union-distinct input)
    *        and NO node is dangling — the setup stats job collapses to
    *        a plain count and the dangling machinery is skipped
    *        outright. PageRankSpec pins flagged ≡ unflagged on a
    *        mirrored fixture.
    */
  def ranks(edges: DataFrame, iters: Int, dampNum: Int = 85,
      dampDen: Int = 100, assumeDistinct: Boolean = false,
      assumeMirrored: Boolean = false): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampNum > 0 && dampNum < dampDen,
      "damping must be a proper fraction")
    // e is cached so the three consumers below (outdeg, nodes,
    // edgesDeg) all read the cached deduped frame instead of re-running
    // the distinct
    val e0 = edges.select(col("src"), col("dst"))
    Frames.cached(if (assumeDistinct) e0 else e0.distinct()) { e =>
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      def withDegrees(outdeg: DataFrame): DataFrame =
        Frames.cached(e.join(outdeg, Seq("src"))) { edgesDeg =>
          // mirrored: every node occurs as a src, so the node set IS
          // outdeg's key set — a projection of the (cached) degree
          // frame, not a second union-distinct exchange
          Frames.cached(
              if (assumeMirrored) outdeg.select(col("src").as("node"))
              else e.select(col("src").as("node"))
                .union(e.select(col("dst").as("node")))
                .distinct()) { nodes =>
            iterate(nodes, outdeg, edgesDeg, iters, dampNum, dampDen,
              assumeMirrored)
          }
        }
      if (assumeMirrored) Frames.cached(deg)(withDegrees)
      else withDegrees(deg)
    }
  }

  /** The rank iterations of [[ranks]] over its cached frames. */
  private def iterate(nodes: DataFrame, outdeg: DataFrame,
      edgesDeg: DataFrame, iters: Int, dampNum: Int, dampDen: Int,
      assumeMirrored: Boolean): DataFrame = {
    // the DANGLING NODE SET is static across iterations (it depends on
    // edges, not ranks) — materialize it once; when it is empty (every
    // bidirectional graph), the per-iteration dangling aggregate, its
    // broadcast and its cross join are skipped outright
    // ONE stats job answers both setup questions (node count +
    // dangling presence): nodes left-joined to outdeg, aggregated —
    // instead of a count job plus a checkpointed anti-join job. On
    // the mirrored contract the join side drops too: every node IS
    // a src, so dangling is impossible and the job is a plain count.
    val Array(n, danglingCount) =
      if (assumeMirrored) Array(nodes.count(), 0L)
      else nodes
        .join(outdeg, nodes("node") === outdeg("src"), "left")
        .agg(count(lit(1)), count(when(col("deg").isNull, lit(1))))
        .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
        .head() match { case (a, b) => Array(a, b) }
    require(n > 0, "empty graph")
    val hasDangling = danglingCount > 0
    lazy val danglingNodes = nodes
      .join(outdeg, nodes("node") === outdeg("src"), "left_anti")
      .localCheckpoint(true)
    val small = Gates.broadcasts(n)
    def ranksSide(df: DataFrame) = Gates.side(small, df)
    // Rank-frame checkpoints are LAZY on the broadcast path: the next
    // iteration's `ranksSide(r)` broadcast build is the first action
    // to scan r and materializes the checkpoint inside a job that
    // runs anyway (r16 gate-fusion idiom — one fewer job per
    // checkpointed iteration; the returned frame's checkpoint is
    // materialized by the caller's first action the same way). EAGER
    // on the shuffle path: there r feeds the contrib SMJ and, on
    // dangling graphs, the dangling aggregate with no broadcast build
    // to act as the materialization barrier (the r16 Closure lesson).
    val eagerCp = !small
    val base = ((dampDen - dampNum).toLong * TotalPico) /
      (dampDen.toLong * n)
    val per = TotalPico / n
    // Iteration 1 FOLDED into initialization (the r11 components
    // treatment): r0 is the same literal `per` at every node, so
    // (a) contrib1 needs NO rank join — `per DIV deg` reads straight
    // off the persisted edge+degree frame — and (b) the dangling
    // aggregate collapses to driver arithmetic: every dangling node
    // holds exactly `per`, so dper1 = (danglingCount·per) DIV n, the
    // identical integer the general rule's sum-then-divide produces.
    // One edge join, one scalar job and the r0 construction all
    // disappear from the first iteration.
    val dper1 = if (hasDangling) (danglingCount * per) / n else 0L
    val contrib1 = edgesDeg
      .select(col("dst"), expr(s"${per}L DIV deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    var r = nodes
      .join(ranksSide(contrib1), nodes("node") === contrib1("dst"),
        "left")
      .select(nodes("node"),
        (lit(base) +
          expr(s"(coalesce(s, 0L) + ${dper1}L) * ${dampNum}L DIV " +
            s"${dampDen}L")).as("r"))
    if (iters == 1) r = r.localCheckpoint(eagerCp)
    var i = 1
    while (i < iters) {
      val contrib = edgesDeg
        .join(ranksSide(r), edgesDeg("src") === r("node"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val joined = nodes
        .join(ranksSide(contrib), nodes("node") === contrib("dst"),
          "left")
      val withDangling =
        if (!hasDangling) joined.withColumn("dper", lit(0L))
        else joined.crossJoin(broadcast(
          r.join(broadcast(danglingNodes.select(
              col("node").as("__dn"))),
            col("node") === col("__dn"), "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
            .select(expr(s"dm DIV ${n}L").as("dper"))))
      val next = withDangling
        .select(nodes("node"),
          (lit(base) +
            expr(s"(coalesce(s, 0L) + dper) * ${dampNum}L DIV " +
              s"${dampDen}L")).as("r"))
      // checkpoint every THIRD iteration (and at the end) — each
      // checkpoint is a whole scheduled job, and on the broadcast
      // path a lazy rank frame is consumed exactly once per iteration
      // (inside the next broadcast build), so chaining up to three
      // lazy iterations duplicates no work while cutting the
      // materialization jobs (re-measured r12: the every-2nd cadence
      // paid one extra job at the gate's 3 iterations for no reuse);
      // lineage still truncates on a fixed rhythm at any iters
      r = if (i % 3 == 2 || i == iters - 1) next.localCheckpoint(eagerCp)
          else next
      i += 1
    }
    r
  }
}
