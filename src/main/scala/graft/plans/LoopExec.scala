package graft.plans

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

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
}
