package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling — iterative subgraph filtering, the
  * graph-quality cut every link-graph pipeline applies before ranking
  * (drop vertices that can't sit in a dense region; spam/orphan
  * pruning). Round r removes every vertex whose degree within the
  * round-(r-1) surviving subgraph is < k; at the fixpoint the survivors
  * are exactly the classic k-core (Seidman 1983, "Network structure and
  * minimum degree").
  *
  * Round count is FIXED (the [[Components.labelPropagation]]
  * philosophy): the gate replays the same rounds in unrolled CTEs, so
  * the contract is exact whether or not the peel has converged — and a
  * peel that HAS converged is invariant under extra rounds, so a
  * generous budget equals the true k-core on bounded-cascade graphs.
  *
  * Scale design (100 TB): each round is two semi-joins (edges whose
  * BOTH endpoints survive — shuffles bounded by the shrinking edge set)
  * plus one partial-agg'd degree count + filter. No per-vertex
  * collects, no driver state beyond the loop counter; the edge set only
  * ever shrinks, so per-round cost is monotone non-increasing.
  */
object KCore {

  /** Survivors of `rounds` peel rounds at threshold `k`, with their
    * degree inside the final induced subgraph.
    *
    * @param edges undirected edge list given as one direction
    *              (`src < dst` convention fine) — both directions are
    *              derived internally.
    * @return DataFrame["page", "deg"] — deterministic (set-valued
    *         peeling, no tie-breaking anywhere).
    */
  def peel(edges: DataFrame, k: Int, rounds: Int,
           // vertex-count bound for the small-state loop scope
           // (LoopExec); None (edges-only API default) = scope disabled
           knownVertexCount: Option[Long] = None)
      : DataFrame = {
    val (und, ownPin) = Components.undirectedView(edges)
    // The loop scope's size gate and partition derivation must see the
    // EDGE scale, not just |V| (ADVICE r20): each round's semi-joins
    // shuffle the surviving edge set whenever the planner doesn't
    // broadcast, so on a dense graph (|E| ≫ |V|) a |V|-derived
    // partition count would squeeze |E|-scale rows through a handful
    // of reducers with AQE's skew handling also off. One count over
    // the undirected view bounds it — paid only when the caller opted
    // into the scope, and it fills the view's own persist (work round
    // 1 would do anyway). The count runs under the |V|-gated scope: the
    // view is a bare union, so its count's only exchange is the
    // single-partition final aggregate, which the derived shuffle width
    // cannot touch.
    val scopeRows = knownVertexCount.map { nv =>
      math.max(nv, graft.plans.LoopExec.withSmallLoopExec(
        edges.sparkSession, nv)(_ => und.count()))
    }.getOrElse(-1L)
    // the count above materialized the view's persist under the SESSION
    // partitioning (32 blocks of KBs at sf0.1), so without this every
    // round's map side schedules that many near-empty tasks — narrow
    // coalesce to the same size-derived width the scope's shuffles use
    // (the r20 BPE-vocab lesson; no-op above the gate / when |V| is
    // unknown, and degree counts/semi-joins are set-algebra, so
    // layout cannot change them)
    val undLoop = graft.plans.LoopExec.coalesceSmall(und, scopeRows)
    graft.plans.LoopExec.withSmallLoopExec(edges.sparkSession, scopeRows) { _ =>

    // round-0 vertex set: every edge endpoint (an isolated vertex has
    // degree 0 < k and would be peeled in round 1 anyway)
    val survivors = graft.plans.LoopExec.untilStable(rounds,
        undLoop.select(col("src").as("v")).distinct()) { v =>
      undLoop
        .join(v, undLoop("src") === v("v"), "left_semi")
        .join(v.select(col("v").as("v2")), undLoop("dst") === col("v2"),
          "left_semi")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("v"))
    }(() => true)
    val finalEdges = undLoop
      .join(survivors, undLoop("src") === survivors("v"), "left_semi")
      .join(survivors.select(col("v").as("v2")),
        undLoop("dst") === col("v2"), "left_semi")
    // a survivor whose last neighbors were peeled in the final round has
    // no induced edge and is absent here — the oracle's final unrolled
    // aggregation has the identical shape, so the contract matches
    val out = graft.plans.Lineage.scratchCheckpoint(
      finalEdges.groupBy(col("src").as("page"))
        .agg(count(lit(1)).as("deg")))
    if (ownPin) und.unpersist()
    // peel owns the survivors: they are dead once `out` is written, so
    // free them now; untilStable's scratch registration only covers
    // loops that return their result
    graft.plans.Lineage.freeLocalCheckpoint(survivors)
    out
    } // withSmallLoopExec
  }
}
