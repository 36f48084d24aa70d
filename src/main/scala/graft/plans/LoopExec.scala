package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.storage.StorageLevel

/** The one size gate of the iterative graph/training loops (PageRank,
  * HITS, components, BFS, SSSP, LPA, k-core, the BPE merge trainer):
  * is the loop state small? Below [[SmallRows]] the loop gets both
  * halves of the small-state regime — the per-round joins broadcast its
  * state vector, and its actions run under the execution scope below;
  * above it the joins shuffle and the session's AQE (skew-join
  * splitting, runtime coalescing) and partitioning apply untouched —
  * the reducer-size vs replication trade, decided once here.
  *
  * Why the scope (round-20 optimization — guide §1.2 "the distributed
  * algorithm", §2.2/§2.4 partitioning): the loops run 8–50
  * micro-stages per invocation, and when the state is broadcast-small
  * two fixed session-level costs dominate their wall time, measured at
  * sf0.1/local[32]/shuffle=32 (in-JVM alternating A/B so host drift
  * cancels):
  *
  *   1. **AQE per-stage materialization.** Adaptive execution turns
  *      every exchange into its own sub-job with a scheduler barrier
  *      and a re-planning pass. q_pagerank_cold runs 38 jobs with AQE
  *      on vs 12 with it off — and inside the loop AQE has nothing
  *      left to decide: the join strategy is already hinted from the
  *      known vertex count, the only exchange is the contribution
  *      aggregation, and aggregation skew is not AQE-splittable
  *      anyway (skew handling applies to joins only).
  *   2. **Session-constant shuffle partitioning.** A loop over a
  *      broadcast-small state shuffles a few MB per round; 32-way
  *      partitions make every round 32 sub-100 ms tasks — pure
  *      scheduling floor (the BASELINE.md watch-item-1 shape). The
  *      partition count here is derived from the loop's OWN row count
  *      (≈64 MB targets at ~32 B/row), not from the local core count:
  *      a bigger dataset derives more partitions on the same config.
  *
  *   Probe medians (local[32], anchor shuffle=32):
  *     q_pagerank_cold          6.76 s → 3.64 s (AQE off alone)
  *     q_pagerank_incremental   3.33 s → 2.87 s (AQE off alone)
  *     q_graph_components       2.51 s → 1.26 s (full scope)
  *     q_text_bpe_train         5.91 s → 4.87 s (full scope)
  *
  * Concurrency: the scope save/sets/restores session conf around the
  * loop's actions, so it assumes no concurrent PLANNING on the same
  * session mid-loop — the assumption the streaming gates already make
  * when they pin state-store partitions (EventQueries). Catalog
  * queries run loops sequentially.
  *
  * Also the one iteration driver (the reference's D1 loop): [[rounds]]
  * and [[untilStable]] own how a round is truncated, which round
  * materializes, where the result is written ([[materialize]]), who
  * frees the intermediate rounds and who owns the result. Four loops
  * keep their own bookkeeping, because their state is not one frame
  * replaced per round:
  *   - BFS keeps every level set alive: its result is their union.
  *   - SSSP truncates a second frame, the relax frontier, each round.
  *   - HITS carries two vectors and hard-truncates every
  *     [[graft.graph.Hits.TruncateEvery]] iterations to bound cache
  *     nesting in plan rendering; that leaf is a [[materialize]] call.
  *   - The BPE merge trainer collects a driver value every merge.
  * BFS and SSSP hand each round's plan to [[roundPlan]] themselves.
  */
object LoopExec {

  /** Loop-state row count at/below which the state is small: its
    * vector is broadcast (≈16 B/row → ≤ ~160 MB, well inside executor
    * memory on any serious cluster) and the per-round shuffle is MBs. */
  val SmallRows = 10_000_000L

  /** Rows per derived shuffle partition (≈64 MB at ~32 B/row — the
    * guide §2.2 100 MB–1 GB band's low end, sized for the loops' thin
    * (key, double/long) state rows). */
  val RowsPerPartition = 2_000_000L

  /** The gate [[withSmallLoopExec]] and [[coalesceSmall]] read —
    * [[SmallRows]] everywhere but in specs, which lower it to drive the
    * above-gate path (shuffled joins, session AQE and partitioning) at
    * test scale. */
  private[graft] val smallRows = new DynamicVariable[Long](SmallRows)

  /** Unknown size (negative) is never small. */
  private def small(rows: Long): Boolean =
    rows >= 0 && rows <= smallRows.value

  /** Shuffle partitions derived from the loop's state size: never more
    * than the session setting (the scope only ever shrinks tiny-state
    * shuffles, it cannot starve a big one — big states skip the scope
    * entirely). */
  def partitionsFor(spark: SparkSession, rows: Long): Int = {
    val derived = ((rows + RowsPerPartition - 1) / RowsPerPartition).max(1L)
    val session = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").trim.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    math.min(derived, math.max(session, 1).toLong).toInt
  }

  /** Narrow (shuffle-free) coalesce of a small loop-state frame to the
    * same size-derived partition count the scope's shuffles use — for
    * frames materialized BEFORE the scope engaged (e.g. a checkpoint
    * whose row count the gate needed), whose session-width block
    * layout would otherwise put `session-partitions` map tasks under
    * every loop job. No-op above the gate or when the frame already
    * has no more partitions than derived. ONLY for order-insensitive
    * loop state — coalesce reorders rows within partitions. */
  def coalesceSmall(df: DataFrame, rows: Long): DataFrame =
    if (small(rows)) df.coalesce(partitionsFor(df.sparkSession, rows))
    else df

  /** Run `body` (the loop, INCLUDING its materializing actions) with
    * AQE off and size-derived shuffle partitions iff `rows` — the
    * loop's per-round state size, e.g. the counted vertex set — is
    * small; `body` receives the state hint: `broadcast` when small,
    * identity otherwise. Unknown size (negative) runs `body` unscoped
    * and unhinted.
    *
    * Double-summing loops (PageRank, HITS) take the full scope since
    * round 21 (VERDICT r20 item 1): changing the reduce partition
    * count reorders floating-point accumulation, but the derived count
    * is a PURE FUNCTION of the loop's own row count (and the session
    * conf), so same-shape reruns over the same data stay
    * bit-identical; runs whose input CACHE state differs (the rank
    * store build persists its edge frame, a fresh run doesn't) — and
    * small vs above-gate — differ at the ulp level only, which the
    * 1e-6-rounded oracle gates absorb (PageRankWarmSpec pins the rank
    * store at 1e-12 for exactly this). Loops whose aggregates are
    * order-insensitive — integer sums/counts, MIN/MAX, label sets
    * (components, BFS, SSSP, LPA, k-core, BPE pair counts) — are
    * partition-invariant by algebra. Loops whose per-round shuffles
    * include the EDGE table (k-core) must pass max(|V|, |E|) as `rows`
    * (ADVICE r20): the gate and the derivation then see the real
    * shuffle scale. */
  def withSmallLoopExec[T](spark: SparkSession, rows: Long)(
      body: (DataFrame => DataFrame) => T): T =
    if (!small(rows)) body(identity)
    else {
      val aqeKey = "spark.sql.adaptive.enabled"
      val spKey = "spark.sql.shuffle.partitions"
      val savedAqe = spark.conf.getOption(aqeKey)
      val savedSp = spark.conf.getOption(spKey)
      try {
        spark.conf.set(aqeKey, "false")
        spark.conf.set(spKey, partitionsFor(spark, rows).toString)
        body(broadcast(_))
      } finally {
        savedAqe.fold(spark.conf.unset(aqeKey))(spark.conf.set(aqeKey, _))
        savedSp.fold(spark.conf.unset(spKey))(spark.conf.set(spKey, _))
      }
    }

  /** Receives each round's UN-truncated plan (round, frame) — a no-op
    * but in plan-shape specs, which bind it to inspect the plans. Must
    * not execute the frame. */
  private[graft] val roundPlan =
    new DynamicVariable[(Int, DataFrame) => Unit]((_, _) => ())

  /** Eagerly write `df` where a loop's result belongs — a reliable
    * `checkpoint` when the context has a checkpoint dir (it survives
    * executor loss; production runs should set one), executor-local
    * blocks otherwise — and register it as scratch: the harness frees
    * it after the query unless a memoizing caller pins it. */
  def materialize(df: DataFrame): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    Lineage.registerScratch(out)
    out
  }

  /** [[rounds]]' default cadence: write the chain eagerly every this
    * many rounds. A lazy `persist` chain nests each round's cached plan
    * inside the next; for a step that reads its state once (PageRank)
    * that nesting grows by one level a round, and 8 keeps PageRank's
    * default 8 iterations one action. A step that reads its state
    * TWICE (label propagation, LPA) doubles the nesting every round,
    * and above the gate AQE renders each level twice again: at cadence
    * 8, 8 rounds above the gate took labelPropagation 10–12 s and ~2 GB
    * of driver heap on a 5-page graph (1.9–2.3 s with the lazy
    * `localCheckpoint` loop it had), and 20 rounds ran LPA out of heap.
    * So those loops pass their own cadence, measured at 1, 2 and 8 over
    * 3–20 rounds on both sides of the gate: labelPropagation 1 (its old
    * times everywhere), LPA 2. LPA at 1 writes round 1 before round 2
    * is planned; the filled edge-view cache then shows the planner a
    * small edge list, which it broadcasts, and round 2 drops from 3
    * shuffles to 2 (PlanShapeSpec pins 3). */
  val LeafEvery = 8

  /** Fixed-round loop with one action per `leafEvery` rounds: `n`
    * rounds of `step` from `init`, every `leafEvery`-th and the last
    * one [[materialize]]d.
    * `onRound(i, state)` sees each round's truncated state (consuming
    * it executes the chain so far; read it within the call, since a
    * later write frees it). `n = 0` returns `init` unexecuted.
    *
    * Other rounds truncate lineage with LAZY `persist`: the cached
    * frame stands in as an InMemoryRelation leaf in the next round's
    * plan, so Catalyst never re-optimizes an n-deep plan, yet nothing
    * runs until the next write fills the whole chain in one pass.
    * Eager rounds were n separate actions, each paying re-planning, a
    * broadcast build and a scheduler barrier (PageRank at sf0.1: 17 s
    * eager vs 4.5 s lazy). Not a lazily MARKED checkpoint either: an
    * RDD left checkpoint-marked deadlocks when a broadcast-exchange
    * thread collects through it while the main action runs
    * doCheckpoint (markCheckpointed, held by the DAG scheduler loop, vs
    * RDDCheckpointData, held by the broadcast thread). `persist` takes
    * no checkpoint monitor, and every write runs eagerly on the calling
    * thread. Each write drops the caches and the earlier write it
    * made dead. */
  def rounds(n: Int, init: DataFrame,
      onRound: (Int, DataFrame) => Unit = (_, _) => (),
      leafEvery: Int = LeafEvery)(
      step: DataFrame => DataFrame): DataFrame = {
    val cached = ArrayBuffer.empty[DataFrame]
    var written: Option[DataFrame] = None
    var state = init
    for (i <- 1 to n) {
      val next = step(state)
      roundPlan.value(i, next)
      if (i < n && i % leafEvery != 0) {
        state = next.persist(StorageLevel.MEMORY_AND_DISK)
        cached += state
      } else {
        state = materialize(next)
        cached.foreach(_.unpersist(blocking = false))
        cached.clear()
        written.foreach(Lineage.freeLocalCheckpoint)
        written = Some(state)
      }
      onRound(i, state)
    }
    state
  }

  /** Convergence loop of EAGER rounds: `init` and every round are
    * `localCheckpoint(eager = true)`, and each round frees the state
    * it replaced ([[Lineage.freeLocalCheckpoint]] — `unpersist` cannot
    * reach checkpoint blocks). Stops once `changed()`, read after the
    * round materialized, is false, or after `maxRounds` rounds; the
    * last state is registered as scratch. Eager because the stop test
    * reads what the round's own action counted (an accumulator bumped
    * during the write), so every round is one action anyway. */
  def untilStable(maxRounds: Int, init: DataFrame)(
      step: DataFrame => DataFrame)(changed: () => Boolean): DataFrame = {
    var state = init.localCheckpoint(eager = true)
    var round = 0
    var more = true
    while (more && round < maxRounds) {
      round += 1
      val plan = step(state)
      roundPlan.value(round, plan)
      val next = plan.localCheckpoint(eager = true)
      more = changed()
      Lineage.freeLocalCheckpoint(state)
      state = next
    }
    Lineage.registerScratch(state)
    state
  }
}
