package graft.graph

import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.Tables

/** Registered graph-analytics queries.
  *
  * The PageRank oracle is the integer update rule unrolled: one CTE
  * pair (contribution sum + dangling scalar) per iteration, generated
  * by the same loop the engine runs — every operation integer, so the
  * hash match pins the whole iterative dataflow bit-exactly.
  */
object GraphQueries extends QueryPack {

  private val Iters = 3

  /** The mirrored order-part edges of lineitem rows `li`: distinct
    * (order `2·orderkey`, part `2·partkey+1`) pairs, each emitted in
    * both directions map-side (explode, not a second-scan union). o is
    * even and p odd, so mirrored edges cannot collide: the
    * `assumeDistinct`/`assumeMirrored` contracts of [[PageRank.ranks]]
    * hold by construction, and it skips the edge re-distinct, the dst
    * union leg and the dangling machinery.
    */
  private[graft] def orderPartEdges(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    li.select(
        (col("l_orderkey") * 2).cast("long").as("o"),
        (col("l_partkey") * 2 + 1).cast("long").as("p"))
      .distinct()
      .select(explode(array(
        struct(col("o").as("src"), col("p").as("dst")),
        struct(col("p").as("src"), col("o").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** PageRank over the bipartite order↔part co-occurrence graph (both
    * directions of every lineitem pair), 3 iterations, top-20 by rank.
    * At 100 TB this is the product-affinity centrality ranking; the
    * bidirectional construction means no dangling mass here (the
    * dangling term is exercised by `PageRankSpec`'s directed fixture).
    *
    * The GATE graph is the `l_partkey % 8 = 0` category slice — an
    * eighth of the part catalog with all its orders, the per-category
    * affinity run a curation pipeline schedules per slice; the FULL
    * unfiltered graph is what the scale probe measures (x1–x10,
    * `graph_pagerank` row). Node ids are packed longs
    * (`2·orderkey` / `2·partkey+1`) — integer keys, not concatenated
    * strings, because every shuffle in the operator keys on them. Edges
    * come from [[orderPartEdges]].
    */
  private def pagerankQuery = QueryDef(
    "graph_pagerank_parts",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem", parallelize = true)
        .filter(col("l_partkey") % 8 === 0)
      PageRank.ranks(orderPartEdges(li), Iters, assumeDistinct = true,
        assumeMirrored = true)
        .select(col("node"), col("r").as("rank_pico"))
        .orderBy(col("rank_pico").desc, col("node"))
        .limit(20)
    },
    Some {
      val header =
        "WITH pairs AS (SELECT DISTINCT CAST(l_orderkey * 2 AS BIGINT) " +
          "AS o, CAST(l_partkey * 2 + 1 AS BIGINT) AS p " +
          "FROM lineitem WHERE l_partkey % 8 = 0), " +
          "edges AS (SELECT o AS src, p AS dst FROM pairs " +
          "UNION ALL SELECT p, o FROM pairs), " +
          "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg " +
          "FROM edges GROUP BY 1), " +
          "nodes AS (SELECT src AS node FROM edges " +
          "UNION SELECT dst FROM edges), " +
          "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
          "r0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r " +
          "FROM nodes CROSS JOIN nn)"
      val iters = (1 to Iters).map { k =>
        s"c$k AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s " +
          s"FROM edges e JOIN outdeg d ON e.src = d.src " +
          s"JOIN r${k - 1} r ON e.src = r.node GROUP BY 1), " +
          s"g$k AS (SELECT coalesce(sum(r.r), 0) // " +
          s"(SELECT n FROM nn) AS dper FROM r${k - 1} r " +
          "LEFT JOIN outdeg d ON r.node = d.src WHERE d.src IS NULL), " +
          s"r$k AS (SELECT n2.node, CAST((SELECT (100 - 85) * " +
          "1000000000000 // (100 * n) FROM nn) + " +
          s"(coalesce(c.s, 0) + (SELECT dper FROM g$k)) * 85 // 100 " +
          s"AS BIGINT) AS r FROM nodes n2 " +
          s"LEFT JOIN c$k c ON n2.node = c.node)"
      }.mkString(", ")
      header + ", " + iters +
        s" SELECT node, r AS rank_pico FROM r$Iters " +
        "ORDER BY rank_pico DESC, node LIMIT 20"
    })

  /** Every within-basket pair `(src, dst)` of the order-part frame
    * `t(o, p)`, src < dst, by the AssociationRules nested-transform
    * idiom (C(k,2) per basket, no self-join).
    */
  private def basketPairs(t: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    t.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(x AS src, y AS dst))))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Triangle participation over the part co-purchase projection
    * (parts sharing an order, order-sliced to every fourth order so
    * baskets stay WHOLE — slicing parts would thin the very cliques
    * the measurement is about). Basket pairs expand MAP-SIDE via the
    * AssociationRules nested-transform idiom (C(k,2) bounded by basket
    * size — no self-join of the order-part relation on the Spark
    * side); the oracle builds the same edge set with the plain
    * self-join and replays orientation + wedge + closing joins
    * verbatim. Top-20 parts by (tri_cnt desc, node asc).
    */
  private def trianglesQuery = QueryDef(
    "graph_triangles_parts",
    (s, dir) => {
      // no pre-distinct (collect_set IS the dedupe) and no scan
      // repartition — the lane is shuffle-bound, both measured pure
      // tax here (same trim as the components lane, r11)
      val t = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("o"),
          col("l_partkey").cast("long").as("p"))
      Triangles.perNode(basketPairs(t))
        .orderBy(col("tri_cnt").desc, col("node"))
        .limit(20)
    },
    Some("WITH t AS (SELECT DISTINCT l_orderkey AS o, " +
      "CAST(l_partkey AS BIGINT) AS p FROM lineitem " +
      "WHERE l_orderkey % 4 = 0), " +
      "e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM t a " +
      "JOIN t b ON a.o = b.o AND a.p < b.p), " +
      "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1), " +
      "o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg " +
      "AND e.a < e.b) THEN e.a ELSE e.b END AS u, " +
      "CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b) " +
      "THEN e.b ELSE e.a END AS v " +
      "FROM e JOIN deg da ON e.a = da.node " +
      "JOIN deg db ON e.b = db.node), " +
      "wdg AS (SELECT o1.u, o1.v, o2.v AS w FROM o o1 " +
      "JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v), " +
      "tri AS (SELECT wdg.u, wdg.v, wdg.w FROM wdg WHERE EXISTS " +
      "(SELECT 1 FROM e WHERE e.a = wdg.v AND e.b = wdg.w)), " +
      "x AS (SELECT unnest([u, v, w]) AS node FROM tri) " +
      "SELECT node, count(*) AS tri_cnt FROM x GROUP BY 1 " +
      "ORDER BY tri_cnt DESC, node LIMIT 20"))

  /** Fixed round/jump counts for the components gate lane — see
    * [[componentsQuery]]. `CcRoundsConvergenceSpec` pins
    * `labels(pairs, CcRounds, CcJumps) == converged(pairs)` on BOTH
    * gate corpora, so corpus drift that would under-close components
    * fails `sbt test` loudly instead of staying silently green against
    * an equally-under-closed oracle. Exposed (package-private) so the
    * spec and the round probe replay the exact gate form.
    */
  private[graft] val CcRounds = 5
  private[graft] val CcJumps = 2

  /** The gate lane's basket-pair edge construction, shared with the
    * convergence spec and probe: no pre-`distinct` (collect_set IS the
    * within-basket dedupe) and no scan repartition (the lane is
    * shuffle-bound, not scan-fused — both measured pure tax here).
    * Cross-basket dedup happens at the CANONICAL-PAIR level (src < dst
    * by the sorted collect_set, so the distinct shuffles HALF the
    * mirrored volume), then both directions expand map-side — distinct
    * canonical pairs cannot collide after mirroring, so the frame
    * satisfies [[Components]]' `assumeDistinct`/`assumeMirrored`
    * contracts by construction (the r12 PageRank treatment).
    */
  private[graft] def ccPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    basketPairs(Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 16 === 0)
        .select(col("l_orderkey").as("o"),
          col("l_partkey").cast("long").as("p")))
      .distinct()
      .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Connected components over the part co-purchase projection
    * (`l_orderkey % 16` slice — sparse enough that the graph is NOT one
    * giant blob: 42 components at sf0.1), top-20 components by size.
    * Fixed [[CcRounds]] relax rounds with [[CcJumps]] pointer jumps
    * each so the DuckDB oracle replays the exact schedule as unrolled
    * MATERIALIZED CTEs; [[Components.converged]] is the production
    * stop rule, spec-pinned equal. (5, 2) is the measured minimum that
    * converges on BOTH corpora (r11 `CcRoundsProbe`: single-jump needs
    * 6 rounds at sf0.1 — 3 nodes still mislabeled at k=5 — while the
    * second node-sized jump closes them; relax is the edge-sized cost,
    * so trading one relax round for two cheap jumps wins ~0.6s);
    * `CcRoundsConvergenceSpec` guards the zero-margin choice. Basket
    * pairs expand map-side as in the triangles lane; [[Components]]
    * mirrors directions internally, the oracle mirrors via
    * `a.p <> b.p`.
    */
  private def componentsQuery = QueryDef(
    "graph_components_parts",
    (s, dir) =>
      Components.labels(ccPairs(s, dir), CcRounds, jumps = CcJumps,
          assumeDistinct = true, assumeMirrored = true)
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("component"))
        .limit(20),
    Some {
      val header =
        "WITH t AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, " +
          "CAST(l_partkey AS BIGINT) AS p FROM lineitem " +
          "WHERE l_orderkey % 16 = 0), " +
          "ep AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst " +
          "FROM t a JOIN t b ON a.o = b.o AND a.p <> b.p), " +
          "r0 AS MATERIALIZED (SELECT node, node AS lbl FROM " +
          "(SELECT DISTINCT src AS node FROM ep))"
      val rounds = (1 to CcRounds).map { k =>
        val relax =
          s"a${k}j0 AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM " +
            s"(SELECT r.node, r.lbl FROM r${k - 1} r UNION ALL " +
            s"SELECT e.dst, r.lbl FROM ep e JOIN r${k - 1} r " +
            "ON e.src = r.node) GROUP BY 1)"
        val jumps = (1 to CcJumps).map { j =>
          val out = if (j == CcJumps) s"r$k" else s"a${k}j$j"
          s"$out AS MATERIALIZED (SELECT x.node, y.lbl " +
            s"FROM a${k}j${j - 1} x JOIN a${k}j${j - 1} y " +
            "ON x.lbl = y.node)"
        }
        (relax +: jumps).mkString(", ")
      }.mkString(", ")
      header + ", " + rounds +
        " SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes " +
        s"FROM r$CcRounds GROUP BY 1 " +
        "ORDER BY n_nodes DESC, component LIMIT 20"
    })

  /** Hierarchy flattening over the synthetic binary org tree
    * `parent(k) = k DIV 2` on customer keys (≈14 levels at sf0.1):
    * full ancestor closure with minimum depths in 5 path-doubling
    * rounds (2⁵ = 32 covers a 4-billion-key tree — depth-correct at
    * any realistic corpus multiple, incl. the ×10 probe's 18 levels). The oracle is a genuine
    * `WITH RECURSIVE` — hash-matching it proves the fixed doubling
    * rounds converged to the TRUE closure, not merely that both
    * engines ran the same loop.
    */
  private def closureQuery = QueryDef(
    "graph_closure_customers",
    (s, dir) => Closure.ancestors(
        Tables.load(s, dir, "customer")
          .filter(col("c_custkey") >= 1)
          .select(col("c_custkey").as("child"),
            expr("c_custkey DIV 2").as("parent")),
        "child", "parent", rounds = 5)
      .orderBy(col("descendant"), col("depth")),
    Some("WITH RECURSIVE e AS (SELECT c_custkey AS child, " +
      "c_custkey // 2 AS parent FROM customer WHERE c_custkey >= 1), " +
      "r AS (SELECT child AS descendant, parent AS ancestor, 1 AS depth " +
      "FROM e UNION ALL SELECT r.descendant, e.parent, r.depth + 1 " +
      "FROM r JOIN e ON r.ancestor = e.child) " +
      "SELECT descendant, ancestor, CAST(min(depth) AS INT) AS depth " +
      "FROM r WHERE descendant <> ancestor GROUP BY 1, 2 " +
      "ORDER BY descendant, depth"))

  override def queries: Seq[QueryDef] =
    Seq(pagerankQuery, trianglesQuery, componentsQuery, closureQuery)
}
