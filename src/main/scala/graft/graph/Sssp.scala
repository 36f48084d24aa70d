package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths — frontier Bellman-Ford.
  *
  * The reference's traversal surface is unweighted (BFS hop distance is
  * the degenerate w = 1 case, [[Bfs]]); this is the weighted member of
  * the family: dist(v) = min over paths src→v of Σ edge weights, the
  * routing / influence-cost primitive (Dijkstra's semantics, computed
  * Bellman-Ford-style because a distributed engine relaxes a frontier
  * per ROUND, not one closest vertex per step — a priority queue is
  * inherently sequential).
  *
  * Fixed-round contract (the q_graph_components philosophy): `rounds`
  * relaxation rounds, each
  *
  *   dist_r = min(dist_{r-1}(v), min over edges (u,v): dist_{r-1}(u) + w)
  *
  * — exactly replayable by an oracle unrolling the same recurrence, so
  * the gate is exact whether or not the relaxation converged (it
  * converges once rounds ≥ the weighted diameter in hops).
  *
  * Scale design (100 TB): only the IMPROVED frontier is re-joined
  * against the edge list — settled vertices whose distance didn't
  * change contribute nothing new, so each round's relax join touches
  * |frontier|-proportional work, not |V| (a full Bellman-Ford pass per
  * round would be O(|E|·rounds) regardless of convergence). The
  * frontier is computed as an anti-join of the new distance vector
  * against the previous one on (page, dist) — rows whose distance
  * changed — which rides the same shuffle key as the min-aggregation.
  * Distances are LONGS (weights are counts): the min-fold is exact and
  * order-independent, so the result is bit-stable on any partitioning.
  * Per round: one shuffle join (frontier⋈edges), one partial-agg'd min
  * (the union with the previous vector is shuffle-free map-side input),
  * one anti-join. Lineage is lazily truncated per round with one eager
  * materialization at the end (the PageRank loop pattern).
  */
object Sssp {

  /** @param edges directed weighted edges DataFrame["src","dst","w"]
    *              (pass an undirected view for undirected distance);
    *              weights must be non-negative longs
    * @param source the source vertex id (must type-match src/dst)
    * @param rounds relaxation rounds (the oracle unrolls the same count)
    * @param onRoundPlan plan-shape spec hook: receives each round's
    *                    UN-truncated new distance vector (must not
    *                    execute the plan — the PageRank contract)
    * @return DataFrame["page", "dist"] — vertices reachable within
    *         `rounds` relaxation rounds and their shortest known cost */
  def distances(edges: DataFrame, source: Any, rounds: Int,
      onRoundPlan: (Int, DataFrame) => Unit = (_, _) => (),
      // vertex-count bound for the small-state loop scope (LoopExec);
      // None (the edges-only API default) = scope disabled — there is
      // no vertex frame here to count
      knownVertexCount: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    graft.plans.LoopExec.withSmallLoopExec(spark,
        knownVertexCount.getOrElse(-1L)) { _ =>
    var dist = spark.range(1)
      .select(lit(source).as("page"), lit(0L).as("dist"))
    var frontier = dist
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val cand = frontier.as("f")
        .join(edges.as("e"), col("f.page") === col("e.src"))
        .select(col("e.dst").as("page"),
          (col("f.dist") + col("e.w")).as("dist"))
      val newDist = dist.unionAll(cand)
        .groupBy("page").agg(min("dist").as("dist"))
      onRoundPlan(r, newDist)
      val next = newDist.localCheckpoint(eager = r == rounds)
      if (r < rounds) {
        // changed rows only: the next round's relax frontier (the final
        // round needs none — building one would be dead work)
        frontier = next.join(dist, Seq("page", "dist"), "left_anti")
          .localCheckpoint(eager = false)
        scratch += next
        scratch += frontier
      }
      dist = next
    }
    // the final eager checkpoint materialized the lazy chain; only the
    // last vector is read again — free the intermediates
    scratch.foreach(graft.plans.Lineage.freeLocalCheckpoint)
    graft.plans.Lineage.registerScratch(dist)
    dist
    } // withSmallLoopExec
  }
}
