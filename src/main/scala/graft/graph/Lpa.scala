package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007) — the MODE-label variant, distinct from
  * [[Components.labelPropagation]]'s MIN-label connected components:
  * each round every vertex adopts the most frequent label among its
  * neighbors (ties to the smallest label), so labels concentrate in
  * densely connected regions instead of flooding whole components.
  * This is the standard cheap community signal for graph-aware corpus
  * curation (domain clusters in a link graph, co-purchase communities).
  *
  * Fixed-round contract: synchronous LPA can oscillate (2-cycles on
  * bipartite-ish regions), so convergence is not guaranteed — the gate
  * runs exactly `rounds` rounds and the oracle unrolls the same count,
  * making the comparison exact at ANY oscillation state
  * (the q_graph_components philosophy). Determinism: the vote argmax is
  * `min(struct(-count, label))` — highest count first, then smallest
  * label — the exact mirror of the oracle's
  * `ROW_NUMBER() OVER (ORDER BY cnt DESC, lbl ASC)`; all values are
  * longs, so there is no float wiggle anywhere.
  *
  * Scale design (100 TB): per round the label vector joins the edge
  * list once (shuffle on dst), votes partial-agg by (vertex, label) —
  * the map-side combine bounds what crosses the wire at distinct
  * (vertex, label) pairs per partition, a hub's repeated neighbor
  * labels collapse locally — then a second partial-agg'd struct-min
  * picks the winner per vertex. Isolated vertices keep their own label
  * via the left join against the previous vector (same shuffle key).
  * No driver-side state; rounds run through
  * [[graft.plans.LoopExec.rounds]], written every 2 rounds (the step
  * reads the label vector twice — see [[graft.plans.LoopExec.LeafEvery]]).
  */
object Lpa {

  /** @param pages vertex set DataFrame["page"]
    * @param edges directed edges DataFrame["src","dst"]; votes flow
    *              dst→src of the UNDIRECTED view (built here, persisted
    *              for the loop unless the caller already cached it)
    * @param rounds synchronous rounds (the oracle unrolls the same)
    * @return DataFrame["page", "lbl"] — the label after `rounds`
    *         rounds; vertices sharing a label form a community */
  def communities(pages: DataFrame, edges: DataFrame, rounds: Int,
      knownVertexCount: Option[Long] = None): DataFrame = {
    val (und, ownPin) = Components.undirectedView(edges)
    // small-state loop scope, |V|-gated (counted when unknown — the
    // labelPropagation contract); no-op above the gate — LoopExec
    val nv = knownVertexCount.getOrElse(pages.count())
    graft.plans.LoopExec.withSmallLoopExec(pages.sparkSession, nv) { _ =>
    // the step reads `labels` twice: a write every 2 rounds bounds the
    // cache nesting (measured in LoopExec.LeafEvery)
    val result = graft.plans.LoopExec.rounds(rounds,
        pages.select(col("page"), col("page").as("lbl")),
        leafEvery = 2) { labels =>
      val votes = und
        .join(labels.select(col("page").as("nb"), col("lbl")),
          und("dst") === col("nb"))
        .groupBy(und("src").as("page"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val best = votes
        .groupBy(col("page"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("b"))
        .select(col("page"), col("b.l").as("winner"))
      labels.join(best, Seq("page"), "left")
        .select(col("page"),
          coalesce(col("winner"), col("lbl")).as("lbl"))
    }
    if (ownPin) und.unpersist()
    result
    } // withSmallLoopExec
  }
}
