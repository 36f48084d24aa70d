package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (hubs & authorities, Kleinberg 1999) — the natural companion of
  * the reference's PageRank surface (/root/reference/src/PageRank/
  * PageRank.java implements only PageRank; a link-analysis engine's
  * users expect both): authority(p) = Σ hub over in-links, hub(p) =
  * Σ authority over out-links, to a mutually-reinforcing fixed point.
  *
  * Spark-first shape — each half-iteration is exactly one PageRank
  * step's cost profile: edges ⋈ score-vector (broadcast below the
  * [[graft.plans.LoopExec]] size gate, shuffled + AQE above) →
  * groupBy(other endpoint).sum with map-side partial aggregation; the
  * zero-row union keeps every page a group key (the same fused
  * keep-alive as [[PageRank.run]]), so no join back onto the vertex
  * set. Lineage truncates per iteration with lazy persist — each score
  * vector is referenced exactly ONCE by the next half-step, the case
  * the [[PageRank.run]] loop comment proves safe (no per-iteration
  * action, no checkpoint-marked lineage for a broadcast thread to
  * deadlock on).
  *
  * Normalization: scores are normalized ONCE, at the end, by their L2
  * norms (1-row aggregate, broadcast cross-join — no per-iteration
  * scalar barrier). HITS scores are defined up to scale, so deferring
  * the scalar division changes nothing mathematically; in doubles the
  * un-normalized scores grow as λ^k (λ = principal eigenvalue of AᵀA ≤
  * Σdeg²), which after 8 iterations overflows only past λ ≈ 1e38 —
  * far beyond any real web/citation graph. The DuckDB oracle replays
  * the same end-normalized recurrence; the gate rounds to 6 dp so the
  * only cross-engine wiggle (sum accumulation order) is absorbed.
  *
  * Lineage is HARD-truncated (eager checkpoint — reliable when the
  * session has a checkpoint dir, executor-local blocks otherwise)
  * every [[TruncateEvery]] iterations, not only at the end: a lazy
  * persist chain substitutes InMemoryRelation leaves for EXECUTION,
  * but plan RENDERING (the per-action `explainString` every
  * SparkListenerSQLExecutionStart event carries) recurses into each
  * cached plan, and under AQE every nested AdaptiveSparkPlan renders
  * its initial AND final plans — ×2 per cache-nesting level. HITS has
  * 2 cached vectors per iteration, so 8 lazy iterations nest 16 deep:
  * 2¹⁶ × the per-level string OOMed a 1 GB driver where PageRank's
  * 8-deep chain (2⁸) survives. A LogicalRDD leaf every 2 iterations
  * bounds nesting at 4; the extra small mid-loop actions are the same
  * bargain [[PageRank.run]]'s redistribute branch makes every
  * iteration (and measured fastest end-to-end among truncation
  * intervals 1/2/4 at sf0.01 — deeper lazy chains pay more in AQE
  * re-planning + rendering than they save in barriers).
  */
object Hits {

  val DefaultIters = 8

  /** Hard-truncate (eager checkpoint) the hub vector every this many
    * iterations — bounds plan-rendering cache nesting at 2× this (two
    * cached vectors per iteration), see scaladoc. */
  val TruncateEvery = 2

  /** @param pages DataFrame["page"]; @param edges DataFrame["src","dst"]
    * (red-link-cleaned + deduped, like [[PageRank.run]]'s input).
    * @return DataFrame["page", "auth", "hub"] — L2-normalized; all-zero
    * score vectors (edgeless graphs) normalize to 0.0, not NaN. */
  def run(pages: DataFrame, edges: DataFrame,
          iters: Int = DefaultIters): DataFrame = {
    val spark = pages.sparkSession
    // Cache OWNERSHIP: persist only frames not already cached, and
    // unpersist only what we persisted — calling unpersist() on a
    // caller-cached frame (GraphCatalog's shared pages/edges) drops the
    // cache for every later query, which showed up as 3-15× slowdowns
    // across the whole graph bench suite after q_graph_hits warmed up.
    val pOwn = pages.storageLevel == StorageLevel.NONE
    val p = if (pOwn) pages.persist(StorageLevel.MEMORY_AND_DISK) else pages
    val n = p.count()
    val eOwn = edges.storageLevel == StorageLevel.NONE
    val e = if (eOwn) edges.persist(StorageLevel.MEMORY_AND_DISK) else edges
    // small-state loop scope: AQE off + size-derived shuffle partitions
    // for the loop's actions (incl. the final eager checkpoint) + the
    // broadcast score-vector hint; no-op above the gate. Round 21:
    // partition derivation ON (VERDICT r20 item 1) — the hub/authority
    // aggregates sum doubles, but the derived count is a pure function
    // of |V| so reruns on the same graph accumulate identically, and the
    // 1e-6-rounded gates absorb the small/above-gate ulp wiggle (the
    // PageRank.run rationale).
    graft.plans.LoopExec.withSmallLoopExec(spark, n) { vhint =>
    val zero = p.select(col("page"), lit(0.0).as("v"))
    val intermediates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    var hubs = p.select(col("page"), lit(1.0).as("v"))
    var auths: DataFrame = zero
    for (i <- 1 to iters) {
      // authority step: pull hub mass along in-links
      val a = e.join(vhint(hubs), e("src") === hubs("page"))
        .select(e("dst").as("page"), col("v"))
        .unionAll(zero)
        .groupBy("page").agg(sum("v").as("v"))
      // hub step: pull the FRESH authority mass along out-links
      val aCached = a.persist(StorageLevel.MEMORY_AND_DISK)
      intermediates += aCached
      val h = e.join(vhint(aCached), e("dst") === aCached("page"))
        .select(e("src").as("page"), col("v"))
        .unionAll(zero)
        .groupBy("page").agg(sum("v").as("v"))
      auths = aCached
      hubs =
        if (i == iters) h
        // hard leaf: bounds cache nesting for plan rendering (scaladoc);
        // scratch — dead once the final materializes (ADVICE r7)
        else if (i % TruncateEvery == 0) graft.plans.LoopExec.materialize(h)
        else {
          val c = h.persist(StorageLevel.MEMORY_AND_DISK)
          intermediates += c
          c
        }
    }

    val joined = auths.select(col("page"), col("v").as("auth"))
      .join(hubs.select(col("page"), col("v").as("hub")), "page")
    // one pass for both norms; sqrt outside the sum like the oracle
    val norms = joined.agg(
      sqrt(sum(col("auth") * col("auth"))).as("na"),
      sqrt(sum(col("hub") * col("hub"))).as("nh"))
    // scratch; memoized callers pin
    val out = graft.plans.Lineage.scratchCheckpoint(
      joined.crossJoin(broadcast(norms))
        .select(col("page"),
          when(col("na") === 0.0, 0.0).otherwise(col("auth") / col("na"))
            .as("auth"),
          when(col("nh") === 0.0, 0.0).otherwise(col("hub") / col("nh"))
            .as("hub")))
    intermediates.foreach(_.unpersist(blocking = false))
    if (eOwn) e.unpersist()
    if (pOwn) p.unpersist()
    out
    } // withSmallLoopExec
  }

  /** DuckDB replay: chained CTEs (a1, h1, …, a_iters, h_iters) over
    * caller-supplied `pages(page)` / `good(src, dst)` CTEs, then the
    * end L2 normalization — the [[graft.queries.PageRankOracle]]
    * pattern. */
  def oracleSql(graphCtes: String, iters: Int, select: String): String = {
    val iterCtes = (1 to iters).map { k =>
      val hubIn = if (k == 1) "h0" else s"h${k - 1}"
      // CAST everything DOUBLE: DuckDB's bare 1.0 is DECIMAL and the
      // un-normalized scores grow past DECIMAL(38) by iteration ~4
      // MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
      // final hits/na/nh CTEs reference a$iters / h$iters several times
      // — inlined, the whole mutual-recursion chain re-evaluates per
      // reference (minutes + a multi-GB spill at sf0.1); materialized,
      // each half-iteration computes once. Evaluation hint only.
      s"""a$k AS MATERIALIZED (
            SELECT p.page, COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS v
            FROM pages p LEFT JOIN (
              SELECT g.dst, SUM(h.v) AS s
              FROM good g JOIN $hubIn h ON g.src = h.page
              GROUP BY g.dst) m ON p.page = m.dst),
          h$k AS MATERIALIZED (
            SELECT p.page, COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS v
            FROM pages p LEFT JOIN (
              SELECT g.src, SUM(a.v) AS s
              FROM good g JOIN a$k a ON g.dst = a.page
              GROUP BY g.src) m ON p.page = m.src)"""
    }.mkString(",\n")
    s"""WITH $graphCtes,
        h0 AS (SELECT page, CAST(1.0 AS DOUBLE) AS v FROM pages),
        $iterCtes,
        na AS (SELECT SQRT(SUM(v * v)) AS x FROM a$iters),
        nh AS (SELECT SQRT(SUM(v * v)) AS x FROM h$iters),
        hits AS (
          SELECT a.page,
                 CASE WHEN (SELECT x FROM na) = 0 THEN 0.0
                      ELSE a.v / (SELECT x FROM na) END AS auth,
                 CASE WHEN (SELECT x FROM nh) = 0 THEN 0.0
                      ELSE h.v / (SELECT x FROM nh) END AS hub
          FROM a$iters a JOIN h$iters h ON a.page = h.page)
        $select"""
  }
}
