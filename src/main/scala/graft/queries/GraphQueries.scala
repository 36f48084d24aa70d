package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Bfs, Components, GraphCatalog, Hits, KCore, LinkGraph, Lpa, PageRank, PageRankGraphX, Sssp, Walks}

/** The reference's core surface — link graph + PageRank — as driver
  * queries over the TPC-H-ish tables (graph: customers cite suppliers
  * they bought from; see [[LinkGraph.tpchEdges]]). Oracles are ANSI SQL
  * for DuckDB; the 8 PageRank iterations are unrolled as chained CTEs
  * (DuckDB's recursive CTEs can't aggregate in the recursive term).
  *
  * All graph queries share the [[GraphCatalog]] materialized link graph
  * and rank vector — computed once per (session, dir), like the
  * reference's linear DAG where each job reuses the previous job's HDFS
  * output (PageRank.java:455-497).
  */
object GraphQueries {

  /** Shared SQL fragments for the graph CTEs. */
  private val graphCtes =
    """pages AS (
         SELECT 'c' || CAST(c_custkey AS VARCHAR) AS page FROM customer
         UNION ALL
         SELECT 's' || CAST(s_suppkey AS VARCHAR) AS page FROM supplier),
       edges AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       good AS (
         SELECT e.src, e.dst FROM edges e
         WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst))"""

  private def pagerankSql(iters: Int, select: String): String =
    PageRankOracle.sql(graphCtes, iters, select)

  /** Warm-restart iteration count (q_pagerank_incremental): the error
    * after i iterations is ∝ ‖seed − fixpoint‖·0.85ⁱ, and the standing
    * vector is a far closer seed than uniform when the dump is a ~10%
    * append — half the cold budget measurably beats cold-at-equal-
    * iterations on this corpus (PageRankWarmSpec pins it). A
    * deployment picks this from its dump-size/Δ-tolerance telemetry;
    * the gate pins the warm-start LAW, not the constant. */
  private[graft] val WarmIters = 4

  /** Rebuild bound on the dump's edge-churn fraction
    * (|new edges| / |standing edges|): past it, the standing seed is
    * far enough from the new fixed point that the warm budget's
    * savings vanish — recompute cold. Chosen so the GATE CORPORA
    * exercise both branches (the q_ann_maintain discipline): sf0.01's
    * dump churns 9.2% → WARM, sf0.1's churns 10.9% → COLD rebuild. A
    * deployment tunes this to its own dump telemetry; the gate pins
    * the decision LAW, not the constant. */
  private[graft] val ChurnBound = 0.10

  /** The rebuild-or-warm decision: true iff the dump's directed
    * edge-churn fraction exceeds [[ChurnBound]]. Two 1-row counts
    * (N-counter contract), memoized. */
  private[graft] def maintainRebuild(s: SparkSession, d: String): Boolean = {
    graft.plans.Lineage.perContext("churn", s, d) {
      val g = GraphCatalog.tpch(s, d)
      val thr = GraphCatalog.tpchOrderThreshold(s, d)
      val ns = LinkGraph.removeRedLinks(
        LinkGraph.tpchEdges(s, d, maxOrder = Some(thr)), g.pages).count()
      val nf = g.edges.count()
      // ADVICE r17: an empty standing set would make churn = ∞ (or
      // NaN) and SILENTLY pick the cold branch — fixture drift must
      // surface as an error, not an implicit decision
      require(ns > 0,
        s"q_pagerank_maintain: empty standing edge set under $d — no " +
          "churn fraction to decide on")
      (nf - ns).toDouble / ns.toDouble > ChurnBound
    }
  }

  /** [[graphCtes]] plus the STANDING edge set (orders below the
    * high-water mark — GraphCatalog.tpchOrderThreshold's rule inlined
    * as the thr CTE) for the warm-start oracle, both SYMMETRIZED into
    * the co-engagement graph the gate ranks (dgood/dsgood are the
    * directed halves; the prefix flip makes the union collision-free). */
  private val warmGraphCtes =
    """pages AS (
         SELECT 'c' || CAST(c_custkey AS VARCHAR) AS page FROM customer
         UNION ALL
         SELECT 's' || CAST(s_suppkey AS VARCHAR) AS page FROM supplier),
       edges AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       dgood AS (
         SELECT e.src, e.dst FROM edges e
         WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst)),
       good AS (
         SELECT src, dst FROM dgood
         UNION ALL
         SELECT dst AS src, src AS dst FROM dgood),
       thr AS (SELECT MAX(o_orderkey) - MAX(o_orderkey) // 10 AS t
               FROM orders),
       sedges AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < (SELECT t FROM thr)),
       dsgood AS (
         SELECT e.src, e.dst FROM sedges e
         WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst)),
       sgood AS (
         SELECT src, dst FROM dsgood
         UNION ALL
         SELECT dst AS src, src AS dst FROM dsgood)"""

  /** Graph-family takedown rule (VERDICT r18 item 6 — the missing leg
    * of the otherwise-uniform store lifecycle matrix: dedup, pHash and
    * ANN all forget; a taken-down page stayed in the rank vector
    * forever): supplier pages whose numeric key matches the shared
    * 10%-of-ids shape ([[DedupQueries.DedupDeleteRule]] applied to the
    * page universe). A pure STRING predicate, so removing a vertex and
    * its incident edges is a narrow filter — no join, no shuffle. */
  private[graft] def graphTombstoned(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    c.startsWith("s") && substring(c, 2, 20).cast("long") % 10 === 3

  /** The same rule as a DuckDB fragment — one definition per engine,
    * matched textually across the oracle's three uses. */
  private[graft] def graphTombSql(c: String): String =
    s"($c LIKE 's%' AND CAST(substring($c, 2) AS BIGINT) % 10 = 3)"

  /** The rank store after a MIXED pass (q_pipeline_mixed): the
    * takedown ([[graphTombstoned]] pages leave the graph, vertex +
    * incident edges + seed rows — q_graph_delete's three narrow
    * filters) and the dump's new edges arrive in ONE pass; the rank
    * vector warm-starts over the survivor FULL graph seeded from the
    * standing store restricted to survivors, and is persisted
    * bucketed on page like the standing store. Teleport mass
    * renormalizes over the survivor count (PageRank.run recounts the
    * page set it is given). Final population = survivor pages. */
  private[graft] def rankStoreMixed(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_rank_mx_") { tbl =>
      val g = GraphCatalog.tpch(s, d)
      val survivorPages = g.pages.filter(!graphTombstoned(col("page")))
      val survivorFull = GraphCatalog.symmetrized(g.edges).filter(
        !graphTombstoned(col("src")) && !graphTombstoned(col("dst")))
      PageRank.run(survivorPages, survivorFull,
          iters = WarmIters,
          initRanks = Some(GraphCatalog.tpchStandingRanks(s, d)
            .filter(!graphTombstoned(col("page")))))
        .write.bucketBy(8, "page").sortBy("page")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** [[warmGraphCtes]] plus the survivor page set and the survivor
    * standing edges (both endpoints alive) for the warm-after-delete
    * oracle. */
  private lazy val delGraphCtes = warmGraphCtes + s""",
       pages2 AS (SELECT page FROM pages
                  WHERE NOT ${graphTombSql("page")}),
       gdel AS (SELECT src, dst FROM sgood
                WHERE NOT ${graphTombSql("src")}
                  AND NOT ${graphTombSql("dst")})"""

  /** [[warmGraphCtes]] plus the MID edge set (orders below the
    * ADVANCED mark — GraphCatalog.tpchOrderMid's thr + (max − thr)/2
    * rule inlined as the midk CTE) for the twice-warmed oracle,
    * symmetrized like the other two sets. */
  private val warm2GraphCtes = warmGraphCtes + """,
       midk AS (SELECT (SELECT t FROM thr)
                       + (MAX(o_orderkey) - (SELECT t FROM thr)) // 2 AS m
                FROM orders),
       medges AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < (SELECT m FROM midk)),
       dmgood AS (
         SELECT e.src, e.dst FROM medges e
         WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst)),
       mgood AS (
         SELECT src, dst FROM dmgood
         UNION ALL
         SELECT dst AS src, src AS dst FROM dmgood)"""

  /** Weighted graph CTEs: `good(src, dst, w)` with w = purchase-line
    * multiplicity — the COUNT(*) group replaces [[graphCtes]]'s
    * DISTINCT, exactly like [[graft.graph.LinkGraph.tpchWeightedEdges]]
    * replaces tpchEdges. */
  private val weightedGraphCtes =
    """pages AS (
         SELECT 'c' || CAST(c_custkey AS VARCHAR) AS page FROM customer
         UNION ALL
         SELECT 's' || CAST(s_suppkey AS VARCHAR) AS page FROM supplier),
       wedges AS (
         SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst,
                COUNT(*) AS w
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1, 2),
       good AS (
         SELECT e.src, e.dst, e.w FROM wedges e
         WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst))"""

  /** Oracle replay of [[triangleCounts]] over the l_quantity > 45
    * co-occurrence projection: CTE chain ending at
    * `tc(supplier, n_tri)` (plus `und`, the undirected edge view) —
    * shared by the q_graph_triangles and q_graph_clustering oracles. */
  private val triangleSqlCtes =
    """li AS (SELECT l_orderkey, l_suppkey FROM lineitem
              WHERE l_quantity > 45),
       e AS (SELECT DISTINCT x.l_suppkey AS s1, y.l_suppkey AS s2
             FROM li x JOIN li y
               ON x.l_orderkey = y.l_orderkey
                  AND x.l_suppkey < y.l_suppkey),
       und AS (SELECT s1, s2 FROM e UNION ALL SELECT s2, s1 FROM e),
       deg AS (SELECT s1 AS v, COUNT(*) AS dg FROM und GROUP BY 1),
       o AS (SELECT CASE WHEN (da.dg, e.s1) > (db.dg, e.s2)
                         THEN e.s2 ELSE e.s1 END AS lo,
                    CASE WHEN (da.dg, e.s1) > (db.dg, e.s2)
                         THEN e.s1 ELSE e.s2 END AS hi
             FROM e JOIN deg da ON da.v = e.s1
                    JOIN deg db ON db.v = e.s2),
       tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
               FROM o e1 JOIN o e2 ON e1.hi = e2.lo
               JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
       x AS (SELECT a AS supplier FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri),
       tc AS (SELECT supplier, COUNT(*) AS n_tri FROM x
              GROUP BY supplier)"""

  /** q_pagerank_top threshold multiplier. The reference hard-codes 5.0
    * (PageRank.java:336,346) but on the TPC-H citation graph max rank
    * ≈ 2.3/N, so 5/N selects nothing at any SF (ADVICE r1 item 2) — the
    * catalog query uses 1.2/N so the filter+sort path is actually
    * exercised; [[PageRank.topRanks]] keeps 5.0 as its default for
    * reference parity (tested on a closed-form graph in ScalaTest). The
    * cut compares the 6-dp *rounded* rank on both engines so membership
    * can never flip on a last-ulp difference.
    */
  private val TopMultiplier = 1.2

  /** BFS round budget, shared verbatim by the engine loop and the
    * oracle's recursion guard so the reachable set is cap-identical on
    * both engines (the graph's undirected diameter is ~6 at every SF,
    * so both converge well under the cap and it never binds). */
  private val BfsMaxRounds = 16

  /** Walk length for q_graph_walks, shared by the engine loop and the
    * oracle's unrolled step CTEs. 3 steps crosses the bipartite
    * customer→supplier graph twice — every walk that can move does. */
  private val WalkSteps = 3

  /** k-core gate parameters, shared by the engine loop and the oracle's
    * unrolled round CTEs (fixed-round contract — exact at any
    * convergence state, see [[graft.graph.KCore]]). */
  private val KCoreK = 2
  private val KCoreRounds = 4

  /** SSSP relaxation-round budget, shared by the engine loop and the
    * oracle's unrolled round CTEs ([[graft.graph.Sssp]] fixed-round
    * contract). */
  private val SsspRounds = 6

  /** LPA synchronous-round budget, shared engine/oracle
    * ([[graft.graph.Lpa]] — exact at any oscillation state). */
  private val LpaRounds = 3

  /** |supplier| — the vertex bound for the co-occurrence-graph loops'
    * small-state scope ([[graft.plans.LoopExec]]): every coEdges /
    * coWeightedUnd endpoint is a supplier key, so the supplier row
    * count bounds those loops' per-round state. 1-row count, memoized
    * — the N-counter contract. */
  private def supplierCount(s: SparkSession, d: String): Long =
    graft.plans.Lineage.perSession("supplierCount", s, d)(
      graft.Tables.supplier(s, d).count())

  /** Supplier co-occurrence edges (s1 < s2, distinct) above a quantity
    * cut — the sparse undirected-graph projection shared by the
    * triangle / k-core / clustering / LPA family (the cut keeps the
    * per-order expansion bounded; see q_graph_triangles). */
  private def coEdges(s: SparkSession, d: String, minQty: Int): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
      .filter(col("l_quantity") > minQty)
      .select(col("l_orderkey"), col("l_suppkey"))
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .select(col("x.l_suppkey").as("s1"), col("y.l_suppkey").as("s2"))
      .distinct()
  }

  /** Weighted undirected supplier co-occurrence view: w = number of
    * distinct orders in which the pair co-occurs (the interaction
    * multiplicity, [[graft.graph.LinkGraph.tpchWeightedEdges]]'s idiom
    * on the co-occurrence projection). Both edge directions, so
    * traversals see an undirected weighted graph. */
  private def coWeightedUnd(s: SparkSession, d: String,
      minQty: Int): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
      .filter(col("l_quantity") > minQty)
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    val w = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .groupBy(col("x.l_suppkey").as("s1"), col("y.l_suppkey").as("s2"))
      .agg(count(lit(1)).as("w"))
    w.select(col("s1").as("src"), col("s2").as("dst"), col("w"))
      .unionAll(
        w.select(col("s2").as("src"), col("s1").as("dst"), col("w")))
  }

  /** Per-vertex triangle counts with degree-ordered orientation (the
    * classic MapReduce-era trick, Suri-Vassilvitskii'11): orient every
    * edge from its (degree, id)-smaller endpoint to the larger, so each
    * triangle is counted exactly once and — crucially at scale — the
    * out-neighbor list used in the wedge join is bounded by the number
    * of HIGHER-degree neighbors (≤ √(2·|E|)), bounding per-wedge
    * expansion at the middle vertex (the in-degree side of a hub is
    * not bounded, but each arriving edge fans out ≤ √(2·|E|) ways).
    * Shared by q_graph_triangles and q_graph_clustering.
    * @param e distinct undirected edges as DataFrame["s1","s2"], s1 < s2
    * @return DataFrame["supplier","n_tri"], supplier-ordered */
  private def triangleCounts(e: DataFrame): DataFrame = {
    val und = e.unionAll(e.select(col("s2").as("s1"), col("s1").as("s2")))
    val deg = und.groupBy(col("s1").as("v")).agg(count(lit(1)).as("dg"))
    // deg is vertex-sized (data-scaled): no broadcast hint — AQE picks.
    // Struct fields aliased identically on both sides: BinaryComparison
    // requires sameType, which for structs has historically included
    // field names (ADVICE r3 item 1 — (dg,s1) vs (dg,s2) was fragile).
    val flip = struct(col("da.dg").as("d"), col("s1").as("v")) >
      struct(col("db.dg").as("d"), col("s2").as("v"))
    val oriented = e
      .join(deg.as("da"), col("s1") === col("da.v"))
      .join(deg.as("db"), col("s2") === col("db.v"))
      .select(when(flip, col("s2")).otherwise(col("s1")).as("lo"),
        when(flip, col("s1")).otherwise(col("s2")).as("hi"))
      // cache, not localCheckpoint: all three self-join copies read the
      // same InMemoryRelation (one computation), and — unlike a local
      // checkpoint's RDD-level blocks, which Dataset.unpersist cannot
      // reach — the cache CAN be dropped deterministically below
      .persist()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.hi") === col("e2.lo"))
      .join(oriented.as("e3"),
        col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
        col("e2.hi").as("c"))
    // Materialize the (vertex-sized) result NOW so the |E|-sized
    // oriented-edge cache can be dropped deterministically; the small
    // checkpoint itself is registered as scratch so the harness frees
    // it after the gate reads it (ADVICE r7 — the residual leak).
    val counts = graft.plans.Lineage.scratchCheckpoint(tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("supplier"))
      .groupBy("supplier").agg(count(lit(1)).as("n_tri"))
      .orderBy("supplier"))
    oriented.unpersist(blocking = true)
    counts
  }

  /** Memoized [[triangleCounts]] per (session, dir, quantity cut) —
    * the most expensive join in the graph family feeds BOTH
    * q_graph_triangles and q_graph_clustering; without memoization the
    * 3-way wedge join runs end-to-end once per consumer (the kmMemo
    * rationale, code-review r13). The internal checkpoint is PINNED so
    * harness scratch-freeing after the first consumer can't poison the
    * second's read. */
  private def triangleCountsMemo(s: SparkSession, d: String,
      minQty: Int): DataFrame =
    graft.plans.Lineage.perSession("triangleCounts", s, (d, minQty)) {
      val t = triangleCounts(coEdges(s, d, minQty))
      graft.plans.Lineage.pin(t)
      t
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1: red-link removal — edges surviving the existence semi-join.
    "q_graph_edges" -> ((s, d) => {
      GraphCatalog.tpch(s, d).edges.orderBy(col("src"), col("dst"))
    }),

    // A1: adjacency lists; outlinks rendered as a sorted CSV string so the
    // oracle compare is array-free and order-deterministic. Dangling pages
    // (all suppliers) appear with n_out=0 and outs=''.
    "q_graph_adjacency" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      LinkGraph.adjacency(g.edges, g.pages)
        .select(col("page"), size(col("outlinks")).cast("long").as("n_out"),
          array_join(col("outlinks"), ",").as("outs"))
        .orderBy(col("page"))
    }),

    // A2: N (page count) as a one-row result.
    "q_graph_count" -> ((s, d) => {
      import s.implicits._
      Seq(GraphCatalog.tpch(s, d).n).toDF("n")
    }),

    // Flagship: 8 reference-convention PageRank iterations, every page.
    "q_pagerank" -> ((s, d) => {
      GraphCatalog.tpchRanks(s, d)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // Job12 gate: ranks after iteration 1 ONLY — the reference writes a
    // rank snapshot at exactly this point (i==0, PageRank.java:480-487);
    // this pins the iteration-1 vector against the unrolled-CTE oracle.
    "q_pagerank_iter1" -> ((s, d) => {
      GraphCatalog.tpchRanks(s, d, iters = 1)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // Same ranks via GraphX runWithOptions(normalized=false) — the scale
    // path; checked against the identical DuckDB oracle (ADVICE r1 item 1).
    "q_pagerank_graphx" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      PageRankGraphX.run(g.pages, g.edges)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // UNmemoized 8-iteration loop (VERDICT r4 item 3): q_pagerank times
    // a persisted rank vector after the catalog warm-up, so a regression
    // in PageRank.run itself would be invisible in the bench. This entry
    // reruns the full DataFrame loop on every call — only the input
    // graph is shared — making iterative compute bench-visible again.
    "q_pagerank_cold" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      PageRank.run(g.pages, g.edges)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // INCREMENTAL PageRank maintenance — the lifecycle pattern the
    // ANN/dedup stores follow, brought to the graph family: a
    // production interaction graph is re-ranked on a dump cadence,
    // and recomputing from the uniform seed wastes the standing
    // vector. The graph is the SYMMETRIZED co-engagement form
    // ([[GraphCatalog.symmetrized]] — BiRank/co-visitation ranking;
    // chosen structurally: the directed catalog graphs are layered
    // DAGs on which PageRank converges exactly in depth+1 iterations,
    // which would make a warm-start law vacuous). The STANDING rank
    // store ([[GraphCatalog.tpchStandingRanks]] — 8 reference-
    // convention iterations over the pre-dump symmetrized edges,
    // built once and persisted like the annStoreStanding artifact)
    // seeds [[WarmIters]] = 4 iterations over the APPENDED graph
    // (the dump = orders above the high-water mark, a range predicate
    // the standing build's scan prunes). Error after i iterations ∝
    // ‖seed − fix‖·0.85ⁱ, so the close seed halves the iteration
    // budget while landing closer to the appended graph's fixed point
    // than even the full cold budget (PageRankWarmSpec measures
    // both). Same per-iteration loop, shuffles and checkpoint
    // discipline as q_pagerank — warm start changes r0, never the
    // operator.
    "q_pagerank_incremental" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      PageRank.run(g.pages, GraphCatalog.symmetrized(g.edges),
          iters = WarmIters,
          initRanks = Some(GraphCatalog.tpchStandingRanks(s, d)))
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // GRAPH TOMBSTONES — the takedown leg for the rank store (VERDICT
    // r18 item 6): a taken-down page must leave the standing graph
    // (vertex + ALL incident edges) and the rank vector must warm-
    // start over the SURVIVOR set — never a cold rebuild per takedown,
    // and never a tombstoned page in any served rank row. The rule is
    // a string predicate ([[graphTombstoned]]), so deletion is a
    // narrow filter on pages, edges AND the bucketed rank-store seed —
    // zero joins, zero store rewrites (the q_dedup_delete
    // filter-inside-the-probe shape brought to the graph). Teleport
    // mass renormalizes automatically: PageRank.run recounts N over
    // the survivor pages it is given, exactly as the oracle's survivor
    // chain divides by the survivor count. The oracle unrolls the
    // standing 8-iteration chain, restricts its vector to survivors,
    // and runs the 4 warm iterations over the survivor graph — one
    // statement for store + takedown + warm re-run. Gate-only in the
    // bench: the serve is q_pagerank_incremental's (benched) warm
    // 4-iteration class with three narrow filters added.
    "q_graph_delete" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      val thr = GraphCatalog.tpchOrderThreshold(s, d)
      val standing = GraphCatalog.symmetrized(LinkGraph.removeRedLinks(
        LinkGraph.tpchEdges(s, d, maxOrder = Some(thr)), g.pages))
      val survivorPages = g.pages.filter(!graphTombstoned(col("page")))
      val survivorEdges = standing.filter(
        !graphTombstoned(col("src")) && !graphTombstoned(col("dst")))
      PageRank.run(survivorPages, survivorEdges, iters = WarmIters,
          initRanks = Some(GraphCatalog.tpchStandingRanks(s, d)
            .filter(!graphTombstoned(col("page")))))
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // RE-ENTRANT warm maintenance — TWO successive dumps (VERDICT r18
    // item 1, graph family): q_pagerank_incremental proves ONE warm
    // re-run off the standing store; a production pipeline warms
    // nightly, each run reading the store the PREVIOUS run wrote.
    // Here the order dump splits at the shared midpoint
    // ([[GraphCatalog.tpchOrderMid]]) and the mark advances twice:
    // pass 1 warms 4 iterations over the mid graph seeded from the
    // standing store and PERSISTS the vector as its own bucketed
    // catalog table ([[GraphCatalog.tpchStandingRanks2]] — parquet
    // doubles round-trip exactly, so no precision leaks between
    // passes); pass 2 warms 4 iterations over the full graph seeded
    // from THAT store. The oracle unrolls all three chains (8 standing
    // + 4 mid + 4 full) in one statement — a mark that failed to
    // advance, a store written lossily, or a seed read from the wrong
    // side hash-mismatches. Gate-only in the bench: both legs are
    // q_pagerank_incremental's (benched) warm-iteration plan class —
    // the same 1-2 pinned shuffles/iteration over the bucketed seed;
    // the composition adds a second instance of that class, not a new
    // plan shape.
    "q_pagerank_inc2" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      PageRank.run(g.pages, GraphCatalog.symmetrized(g.edges),
          iters = WarmIters,
          initRanks = Some(GraphCatalog.tpchStandingRanks2(s, d)))
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // GRAPH MAINTENANCE DECISION — the monitor→actuator loop
    // q_ann_maintain closes for the ANN store, closed for the graph
    // family: a dump arrives, and the pipeline decides WARM (seed the
    // stored vector, half the budget — q_pagerank_incremental's path)
    // vs COLD rebuild (uniform seed, full budget) by the dump's
    // edge-churn fraction against [[ChurnBound]] — a large-churn dump
    // moves the fixed point far enough that the warm savings vanish.
    // The decision is two 1-row counts (N-counter contract); the
    // emitted `rebuilt` flag states it, and the gate corpora exercise
    // BOTH branches (sf0.01 warm, sf0.1 cold). The oracle replays the
    // churn, BOTH chains and the selection in one statement.
    "q_pagerank_maintain" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      val rebuilt = maintainRebuild(s, d)
      val ranks =
        if (rebuilt)
          PageRank.run(g.pages, GraphCatalog.symmetrized(g.edges))
        else
          PageRank.run(g.pages, GraphCatalog.symmetrized(g.edges),
            iters = WarmIters,
            initRanks = Some(GraphCatalog.tpchStandingRanks(s, d)))
      ranks.select(col("page"), round(col("rank"), 6).as("pr"),
          lit(rebuilt).as("rebuilt"))
        .orderBy(col("page"))
    }),

    // STREAMING maintenance TRIGGER for the graph family (VERDICT r17
    // item 7) — the churn fraction computed AT INGEST TIME, closing
    // the last monitor→actuator asymmetry between the ANN and graph
    // lifecycles (q_stream_maintain fires the retrain decision from
    // the vector stream; this fires [[maintainRebuild]]'s decision
    // from the edge stream): the dump's candidate edges (orders at or
    // above the high-water mark — [[LinkGraph.tpchEdges]]' minOrder
    // range slice) replay through a MemoryStream; per micro-batch a
    // stream-static left-semi screens red links against the page
    // universe and a stream-static left-outer against the
    // CHECKPOINTED standing edge set keeps only NOVEL edges; one
    // update-mode count per (src, dst) is the only stateful operator
    // (state ∝ distinct new edges — dump-sized). The emitted table's
    // distinct key set IS the churn numerator (chunking-invariant);
    // with the standing count (one 1-row agg, the N-counter contract)
    // the gate emits exactly the (n_new, n_standing, rebuilt) decision
    // q_pagerank_maintain actuates — StreamGraphMaintainSpec pins
    // streamed ≡ maintainRebuild and exercises the fired branch on a
    // constructed high-churn feed. Serving the chosen branch stays
    // q_pagerank_maintain's job. The oracle replays churn + decision
    // from the shared warm-graph CTEs in one statement.
    "q_stream_graph_maintain" -> ((s, d) => {
      import s.implicits._
      val thr = GraphCatalog.tpchOrderThreshold(s, d)
      val g = GraphCatalog.tpch(s, d)
      val standing = graft.plans.Lineage.scratchCheckpoint(
        LinkGraph.removeRedLinks(
          LinkGraph.tpchEdges(s, d, maxOrder = Some(thr)), g.pages))
      val ns = standing.count()
      require(ns > 0,
        s"q_stream_graph_maintain: empty standing edge set under $d")
      val chunks = EventQueries.cachedChunks(s, d, "graphmaint")(
        EventQueries.sortedFeed(
          LinkGraph.tpchEdges(s, d, minOrder = Some(thr))
            .as[(String, String)], "src"))
      val emitted = EventQueries.replayToTable(s, chunks,
          outputMode = "update")(stream =>
        graft.streaming.GraphStreams.churnStream(
          stream.toDF.toDF("src", "dst"), standing, g.pages))
      val nNew = emitted.select("src", "dst").distinct().count()
      val rebuilt = nNew.toDouble / ns.toDouble > ChurnBound
      Seq((nNew, ns, rebuilt)).toDF("n_new", "n_standing", "rebuilt")
    }),

    // Personalized PageRank: all teleport mass seeded at one page (the
    // deterministic MIN(src)) — ranks become proximity-to-source
    // scores, the standard seeded-relevance / related-pages variant.
    // Same loop and shuffles as q_pagerank (the teleport is a per-row
    // CASE, no extra join); gated against the unrolled-CTE oracle with
    // the indicator-vector r0 and 0.15·[page = src] teleport.
    "q_pagerank_personalized" -> ((s, d) => {
      GraphCatalog.tpchPersonalizedRanks(s, d)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // WEIGHTED PageRank — edge weight = purchase-line multiplicity
    // (how many line items the customer bought from that supplier), the
    // production norm for interaction graphs: contribution is
    // rank·w/Σw instead of the reference's uniform rank/deg split
    // (which is exactly the w = 1 special case — PageRank.run with
    // weightCol = None stays the bit-equal reference path). Same loop,
    // same shuffles; oracle replays the weighted recurrence.
    "q_pagerank_weighted" -> ((s, d) => {
      GraphCatalog.tpchWeightedRanks(s, d)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // Opt-in dangling-mass redistribution (VERDICT r4 missing #2): the
    // standard remedy for the reference's deliberate rank-mass loss —
    // every page receives damping·(dangling mass)/N each iteration, so
    // total rank stays exactly 1 (PageRankProperties proves the
    // invariant; this gate proves the values against an oracle replaying
    // the same recurrence).
    "q_pagerank_redistributed" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      PageRank.run(g.pages, g.edges, redistributeDangling = true)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .orderBy(col("page"))
    }),

    // Single-source BFS hop distances ([[graft.graph.Bfs]]) — the
    // traversal member of the graph family. Source: the deterministic
    // MIN(page). Undirected view: the citation graph is bipartite
    // (customers → suppliers only), so a directed BFS would stop at hop
    // 1; undirected hop distance is the "link distance from X"
    // crawl-scheduling / neighborhood-radius signal. Gated against a
    // DuckDB RECURSIVE walk closure capped at the same round budget
    // (UNION-dedup keeps the enumerated (page, depth) set finite;
    // MIN(d) per page equals the BFS level).
    "q_graph_bfs" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      val src = g.pages.agg(min(col("page"))).first().getString(0)
      Bfs.hopDistances(g.pages, g.edges, src, maxRounds = BfsMaxRounds,
          knownVertexCount = Some(g.n))
        .orderBy(col("page"))
    }),

    // Fixed-round HashMin connected components (3 rounds) — the
    // deterministic partial-CC whose oracle replays the same rounds.
    "q_graph_components" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      Components.labelPropagation(g.pages, g.edges, rounds = 3,
        knownVertexCount = Some(g.n))
        .orderBy(col("page"))
    }),

    // Components to CONVERGENCE (the production form whose round count
    // the data decides) via large-star/small-star contraction — gated
    // against a DuckDB RECURSIVE transitive-closure oracle, which is
    // round-count-independent. Runs on a sparse supplier co-occurrence
    // graph (l_quantity > 49 cut: ~0.5k pair-edges at sf0.1) whose
    // chain-shaped components are exactly the case where HashMin pays
    // one eager round per hop and contraction pays O(log²).
    "q_components_converged" -> ((s, d) => {
      val e = coEdges(s, d, 49)
        .select(col("s1").as("src"), col("s2").as("dst"))
      val pages = graft.Tables.supplier(s, d)
        .select(col("s_suppkey").as("page"))
      Components.componentsStarContraction(pages, e)
        .orderBy(col("page"))
    }),

    // Fixed-round k-core peeling ([[graft.graph.KCore]]) — iterative
    // subgraph filtering on the supplier co-occurrence graph (same
    // l_quantity > 45 projection as q_graph_triangles, whose triangles
    // guarantee a non-empty 2-core). 4 peel rounds at k = 2; the oracle
    // replays the identical rounds unrolled, so the gate is exact
    // whether or not the peel converged (q_graph_components philosophy).
    "q_graph_kcore" -> ((s, d) => {
      KCore.peel(coEdges(s, d, 45)
          .select(col("s1").as("src"), col("s2").as("dst")),
          k = KCoreK, rounds = KCoreRounds,
          knownVertexCount = Some(supplierCount(s, d)))
        .select(col("page").as("supplier"), col("deg"))
        .orderBy(col("supplier"))
    }),

    // Degree distribution — the graph-health histogram every pipeline
    // checks before running PageRank (hub detection, skew planning).
    // Two small aggregations; dangling pages appear as out_deg = 0.
    "q_graph_degrees" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      g.pages
        .join(g.edges.groupBy(col("src").as("page"))
          .agg(count(lit(1)).as("deg")), Seq("page"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("out_deg"))
        .groupBy("out_deg").agg(count(lit(1)).as("n_pages"))
        .orderBy("out_deg")
    }),

    // Triangle counting with degree-ordered orientation
    // ([[triangleCounts]] — Suri-Vassilvitskii'11) on the supplier
    // co-occurrence graph (the l_quantity > 45 cut keeps the
    // per-order expansion sparse).
    "q_graph_triangles" -> ((s, d) =>
      triangleCountsMemo(s, d, 45).orderBy(col("supplier"))),

    // Local clustering coefficient — cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)),
    // the per-vertex "how clique-like is my neighborhood" signal next to
    // the raw triangle counts (community cohesion, spam-ring detection).
    // Composes [[triangleCounts]] (same oriented wedge join) with the
    // undirected degree aggregation; vertices without triangles get 0 via
    // the left join, deg < 2 is defined as 0. The double is ONE division
    // over exactly-represented integers, so both engines compute the same
    // value bit-for-bit (rounded anyway, the house float contract).
    "q_graph_clustering" -> ((s, d) => {
      val e = coEdges(s, d, 45)
      val und = e.unionAll(e.select(col("s2").as("s1"), col("s1").as("s2")))
      val deg = und.groupBy(col("s1").as("supplier"))
        .agg(count(lit(1)).as("deg"))
      deg.join(triangleCountsMemo(s, d, 45), Seq("supplier"), "left")
        .select(col("supplier"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(when(col("deg") >= 2,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("deg") * (col("deg") - 1)))
            .otherwise(lit(0.0)), 6).as("cc"))
        .orderBy(col("supplier"))
    }),

    // Weighted single-source shortest paths ([[graft.graph.Sssp]]) —
    // frontier Bellman-Ford over the weighted co-occurrence graph
    // (w = co-purchase multiplicity), source = the deterministic
    // MIN(src). Fixed SsspRounds relaxation rounds, oracle-unrolled;
    // distances are exact long sums, no float anywhere. The weighted
    // edge view is persisted for the loop (each round's relax join
    // re-reads it) and released once the distance vector materializes.
    "q_graph_sssp" -> ((s, d) => {
      val und = coWeightedUnd(s, d, 45)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // totality: an empty co-occurrence projection has no source —
      // return the empty distance table instead of NPE-ing on the NULL
      // min (the oracle's IS NOT NULL filter states the same)
      val srcRow = und.agg(min(col("src"))).first()
      val out =
        if (srcRow.isNullAt(0))
          und.select(col("src").as("supplier"),
            col("w").cast("long").as("dist")).limit(0)
        else
          Sssp.distances(und, srcRow.getLong(0), rounds = SsspRounds,
              knownVertexCount = Some(supplierCount(s, d)))
            .select(col("page").as("supplier"), col("dist"))
            .orderBy(col("supplier"))
      und.unpersist()
      out
    }),

    // Label-propagation communities ([[graft.graph.Lpa]]) — the
    // MODE-label variant (most frequent neighbor label, ties to the
    // smallest), vs q_graph_components' MIN-label flooding. Fixed
    // LpaRounds synchronous rounds, oracle-unrolled — exact at any
    // oscillation state. Isolated suppliers keep their own label.
    "q_graph_lpa" -> ((s, d) => {
      val pages = graft.Tables.supplier(s, d)
        .select(col("s_suppkey").as("page"))
      Lpa.communities(pages,
          coEdges(s, d, 45)
            .select(col("s1").as("src"), col("s2").as("dst")),
          rounds = LpaRounds,
          knownVertexCount = Some(supplierCount(s, d)))
        .select(col("page").as("supplier"), col("lbl").as("community"))
        .orderBy(col("supplier"))
    }),
    // HITS hubs & authorities (Kleinberg) — the companion link-analysis
    // score the reference's users would expect next to PageRank: on the
    // customer→supplier citation graph authorities are the suppliers
    // many well-connected customers buy from, hubs the customers
    // spanning many authoritative suppliers. Same per-iteration cost
    // profile as a PageRank step ([[graft.graph.Hits]] scaladoc);
    // gated against the unrolled-CTE oracle with end L2 normalization.
    "q_graph_hits" -> ((s, d) => {
      GraphCatalog.tpchHits(s, d)
        .select(col("page"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
        .orderBy(col("page"))
    }),

    // F1+O1+M2: threshold cut + global descending sort.
    "q_pagerank_top" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      GraphCatalog.tpchRanks(s, d)
        .select(col("page"), round(col("rank"), 6).as("pr"))
        .filter(col("pr") > lit(TopMultiplier) / lit(g.n.toDouble))
        .orderBy(col("pr").desc, col("page"))
    }),

    // Deterministic hash-greedy random walks ([[graft.graph.Walks]]) —
    // the DeepWalk/node2vec sampling primitive: one WalkSteps-step walk
    // per vertex over the undirected view, the "random" neighbor at
    // step t drawn by md5-argmin over (start, t, neighbor). The oracle
    // unrolls the identical draw per step (ROW_NUMBER over (h, nxt)).
    "q_graph_walks" -> ((s, d) => {
      val g = GraphCatalog.tpch(s, d)
      Walks.hashGreedy(g.pages, g.edges, steps = WalkSteps)
        .orderBy(col("start"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_graph_edges" ->
      s"WITH $graphCtes SELECT src, dst FROM good ORDER BY src, dst",
    "q_graph_adjacency" ->
      s"""WITH $graphCtes
          SELECT p.page,
                 COUNT(g.dst) AS n_out,
                 COALESCE(STRING_AGG(g.dst, ',' ORDER BY g.dst), '') AS outs
          FROM pages p LEFT JOIN good g ON p.page = g.src
          GROUP BY p.page ORDER BY p.page""",
    "q_graph_count" ->
      """SELECT (SELECT COUNT(*) FROM customer) +
                (SELECT COUNT(*) FROM supplier) AS n""",
    "q_graph_degrees" ->
      s"""WITH $graphCtes,
          d AS (SELECT src, COUNT(*) AS deg FROM good GROUP BY src)
          SELECT COALESCE(d.deg, 0) AS out_deg, COUNT(*) AS n_pages
          FROM pages p LEFT JOIN d ON p.page = d.src
          GROUP BY 1 ORDER BY out_deg""",
    "q_pagerank" -> pagerankSql(PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page"),
    "q_pagerank_iter1" -> pagerankSql(1,
      "SELECT page, ROUND(pr, 6) AS pr FROM r1 ORDER BY page"),
    "q_pagerank_graphx" -> pagerankSql(PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page"),
    "q_pagerank_cold" -> pagerankSql(PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page"),
    "q_pagerank_weighted" -> PageRankOracle.sql(weightedGraphCtes,
      PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page",
      weighted = true),
    "q_pagerank_redistributed" -> PageRankOracle.sql(graphCtes,
      PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page",
      redistribute = true),
    "q_pagerank_personalized" -> PageRankOracle.sql(graphCtes,
      PageRank.DefaultIters,
      "SELECT page, ROUND(pr, 6) AS pr FROM r8 ORDER BY page",
      personalized = true),
    // the warm-start replay: the standing store's 8 iterations over
    // the pre-dump edge set, then WarmIters iterations over the full
    // set seeded from the standing vector — one statement
    "q_pagerank_incremental" -> PageRankOracle.warmSql(warmGraphCtes,
      PageRank.DefaultIters, WarmIters,
      s"SELECT page, ROUND(pr, 6) AS pr FROM w$WarmIters ORDER BY page"),
    // the twice-warmed replay: 8 standing iterations, 4 over the mid
    // graph, 4 over the full graph — three chains, one statement (the
    // re-entrancy law for the rank store)
    "q_pagerank_inc2" -> PageRankOracle.warm2Sql(warm2GraphCtes,
      PageRank.DefaultIters, WarmIters, WarmIters,
      s"SELECT page, ROUND(pr, 6) AS pr FROM w$WarmIters ORDER BY page"),
    // the warm-after-delete replay: the standing chain, its vector
    // restricted to survivors, 4 warm iterations over the survivor
    // graph under the survivor teleport count — store + takedown +
    // re-run in one statement
    "q_graph_delete" -> PageRankOracle.warmDeleteSql(delGraphCtes,
      PageRank.DefaultIters, WarmIters,
      s"SELECT page, ROUND(pr, 6) AS pr FROM w$WarmIters ORDER BY page"),
    // churn + both chains + the selection, one statement — the
    // q_ann_maintain oracle shape for the graph store
    "q_pagerank_maintain" -> PageRankOracle.maintainSql(warmGraphCtes,
      PageRank.DefaultIters, WarmIters, PageRank.DefaultIters,
      s"""SELECT w.page,
            ROUND(CASE WHEN (SELECT cf FROM churn) > CAST($ChurnBound AS DOUBLE)
                       THEN cc.pr ELSE w.pr END, 6) AS pr,
            (SELECT cf FROM churn) > CAST($ChurnBound AS DOUBLE) AS rebuilt
          FROM w$WarmIters w
          JOIN c${PageRank.DefaultIters} cc ON cc.page = w.page
          ORDER BY w.page"""),
    // churn counts + the decision from the shared warm-graph CTEs —
    // the streamed trigger must state exactly what maintainRebuild
    // decides (dgood = full good edge set, dsgood = standing)
    "q_stream_graph_maintain" ->
      s"""WITH $warmGraphCtes,
          nn AS (SELECT (SELECT COUNT(*) FROM dgood)
                        - (SELECT COUNT(*) FROM dsgood) AS n_new,
                        (SELECT COUNT(*) FROM dsgood) AS n_standing)
          SELECT n_new, n_standing,
                 (CAST(n_new AS DOUBLE) / CAST(n_standing AS DOUBLE))
                   > CAST($ChurnBound AS DOUBLE) AS rebuilt
          FROM nn""",
    "q_graph_hits" -> Hits.oracleSql(graphCtes, Hits.DefaultIters,
      """SELECT page, ROUND(auth, 6) AS auth, ROUND(hub, 6) AS hub
         FROM hits ORDER BY page"""),
    "q_pagerank_top" -> pagerankSql(PageRank.DefaultIters,
      s"""SELECT page, ROUND(pr, 6) AS pr FROM r8
         WHERE ROUND(pr, 6) > $TopMultiplier / (SELECT n FROM nn)
         ORDER BY ROUND(pr, 6) DESC, page"""),
    "q_graph_triangles" ->
      s"""WITH $triangleSqlCtes
          SELECT supplier, n_tri FROM tc ORDER BY supplier""",
    "q_graph_clustering" ->
      s"""WITH $triangleSqlCtes,
          dv AS (SELECT s1 AS supplier, COUNT(*) AS deg FROM und
                 GROUP BY 1)
          SELECT dv.supplier, dv.deg,
                 CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
                 ROUND(CASE WHEN dv.deg >= 2
                            THEN 2.0 * COALESCE(tc.n_tri, 0) /
                                 (dv.deg * (dv.deg - 1))
                            ELSE 0.0 END, 6) AS cc
          FROM dv LEFT JOIN tc ON tc.supplier = dv.supplier
          ORDER BY dv.supplier""",
    "q_graph_sssp" -> {
      val roundCtes = (1 to SsspRounds).map { r =>
        s"""d$r AS (SELECT page, MIN(dist) AS dist FROM (
              SELECT page, dist FROM d${r - 1}
              UNION ALL
              SELECT u.dst AS page, p.dist + u.w AS dist
              FROM d${r - 1} p JOIN und u ON u.src = p.page)
            GROUP BY page)"""
      }.mkString(",\n          ")
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                      WHERE l_quantity > 45),
          pw AS (SELECT x.l_suppkey AS s1, y.l_suppkey AS s2,
                        COUNT(*) AS w
                 FROM li x JOIN li y
                   ON x.l_orderkey = y.l_orderkey
                      AND x.l_suppkey < y.l_suppkey
                 GROUP BY 1, 2),
          und AS (SELECT s1 AS src, s2 AS dst, w FROM pw
                  UNION ALL SELECT s2, s1, w FROM pw),
          d0 AS (SELECT (SELECT MIN(src) FROM und) AS page,
                        CAST(0 AS BIGINT) AS dist),
          $roundCtes
          SELECT page AS supplier, dist FROM d$SsspRounds
          WHERE page IS NOT NULL
          ORDER BY supplier"""
    },
    "q_graph_lpa" -> {
      val roundCtes = (1 to LpaRounds).map { r =>
        s"""n$r AS (SELECT u.src AS page, l.lbl, COUNT(*) AS cnt
                    FROM und u JOIN l${r - 1} l ON l.page = u.dst
                    GROUP BY 1, 2),
            b$r AS (SELECT page, lbl FROM (
                      SELECT page, lbl, ROW_NUMBER() OVER (
                        PARTITION BY page
                        ORDER BY cnt DESC, lbl ASC) AS rn
                      FROM n$r) WHERE rn = 1),
            l$r AS (SELECT l.page, COALESCE(b.lbl, l.lbl) AS lbl
                    FROM l${r - 1} l LEFT JOIN b$r b ON b.page = l.page)"""
      }.mkString(",\n          ")
      s"""WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
                      WHERE l_quantity > 45),
          e AS (SELECT DISTINCT x.l_suppkey AS s1, y.l_suppkey AS s2
                FROM li x JOIN li y
                  ON x.l_orderkey = y.l_orderkey
                     AND x.l_suppkey < y.l_suppkey),
          und AS (SELECT s1 AS src, s2 AS dst FROM e
                  UNION ALL SELECT s2, s1 FROM e),
          l0 AS (SELECT s_suppkey AS page, s_suppkey AS lbl
                 FROM supplier),
          $roundCtes
          SELECT page AS supplier, lbl AS community FROM l$LpaRounds
          ORDER BY supplier"""
    },
    "q_graph_kcore" -> {
      val roundCtes = (1 to KCoreRounds).map { r =>
        val prev = if (r == 1) "v0" else s"v${r - 1}"
        s"""e$r AS (SELECT src, dst FROM und
                    WHERE src IN (SELECT v FROM $prev)
                      AND dst IN (SELECT v FROM $prev)),
            v$r AS (SELECT src AS v FROM e$r
                    GROUP BY src HAVING count(*) >= $KCoreK)"""
      }.mkString(",\n          ")
      s"""WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
                      WHERE l_quantity > 45),
          e AS (SELECT DISTINCT x.l_suppkey AS src, y.l_suppkey AS dst
                FROM li x JOIN li y
                  ON x.l_orderkey = y.l_orderkey
                     AND x.l_suppkey < y.l_suppkey),
          und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
          v0 AS (SELECT DISTINCT src AS v FROM und),
          $roundCtes,
          ef AS (SELECT src, dst FROM und
                 WHERE src IN (SELECT v FROM v$KCoreRounds)
                   AND dst IN (SELECT v FROM v$KCoreRounds))
          SELECT src AS supplier, count(*) AS deg FROM ef
          GROUP BY src ORDER BY supplier"""
    },
    "q_graph_bfs" ->
      s"""WITH RECURSIVE $graphCtes,
          und AS (SELECT src, dst FROM good
                  UNION
                  SELECT dst AS src, src AS dst FROM good),
          walk AS (SELECT (SELECT MIN(page) FROM pages) AS page, 0 AS d
                   UNION
                   SELECT u.dst AS page, w.d + 1 AS d
                   FROM walk w JOIN und u ON u.src = w.page
                   WHERE w.d < $BfsMaxRounds)
          SELECT page, CAST(MIN(d) AS INTEGER) AS dist FROM walk
          GROUP BY page ORDER BY page""",
    "q_components_converged" ->
      """WITH RECURSIVE
          li AS (SELECT l_orderkey, l_suppkey FROM lineitem
                 WHERE l_quantity > 49),
          e AS (SELECT DISTINCT x.l_suppkey AS s1, y.l_suppkey AS s2
                FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                                    AND x.l_suppkey < y.l_suppkey),
          und AS (SELECT s1, s2 FROM e UNION ALL SELECT s2, s1 FROM e),
          r AS (SELECT s_suppkey AS page, s_suppkey AS reach FROM supplier
                UNION
                SELECT u.s1 AS page, r.reach
                FROM r JOIN und u ON u.s2 = r.page)
          SELECT page, MIN(reach) AS comp FROM r
          GROUP BY page ORDER BY page""",
    "q_graph_components" -> {
      val roundCtes = (1 to 3).map { k =>
        s"""l$k AS (SELECT page, MIN(lbl) AS lbl FROM (
              SELECT u.src AS page, l.lbl
              FROM und u JOIN l${k - 1} l ON u.dst = l.page
              UNION ALL SELECT page, lbl FROM l${k - 1}
            ) GROUP BY page)"""
      }.mkString(",\n")
      s"""WITH $graphCtes,
          und AS (SELECT src, dst FROM good
                  UNION ALL SELECT dst, src FROM good),
          l0 AS (SELECT page, page AS lbl FROM pages),
          $roundCtes
          SELECT page, lbl AS comp FROM l3 ORDER BY page"""
    },
    // same md5 draw per (start, step, neighbor), same (h, nxt) order,
    // same dead-end freeze and '>' path digest
    "q_graph_walks" -> {
      val stepCtes = (1 to WalkSteps).map { t =>
        s"""c$t AS (SELECT w.start, w.cur, w.steps, w.path, u.dst,
              CASE WHEN u.dst IS NULL THEN 9223372036854775807
                   ELSE CAST(('0x' || substring(md5(
                     w.start || ':$t:' || u.dst), 1, 8)) AS BIGINT)
              END AS h,
              COALESCE(u.dst, w.cur) AS nxt,
              CASE WHEN u.dst IS NULL THEN 0 ELSE 1 END AS inc
            FROM w${t - 1} w LEFT JOIN und u ON u.src = w.cur),
          p$t AS (SELECT start, steps, path, nxt, inc,
                    ROW_NUMBER() OVER (PARTITION BY start
                      ORDER BY h, nxt) AS rn
                  FROM c$t),
          w$t AS (SELECT start, nxt AS cur, steps + inc AS steps,
                    CASE WHEN inc = 1 THEN path || '>' || nxt
                         ELSE path END AS path
                  FROM p$t WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH $graphCtes,
          und AS MATERIALIZED (SELECT src, dst FROM good
                               UNION SELECT dst AS src, src AS dst
                               FROM good),
          w0 AS (SELECT page AS start, page AS cur, 0 AS steps,
                        page AS path
                 FROM pages),
          $stepCtes
          SELECT start, cur AS dest, CAST(steps AS BIGINT) AS steps,
                 md5(path) AS path_md5
          FROM w$WalkSteps ORDER BY start"""
    }
  )
}
