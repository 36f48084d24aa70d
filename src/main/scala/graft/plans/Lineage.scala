package graft.plans

import java.lang.ref.WeakReference

import scala.collection.concurrent.TrieMap

import org.apache.commons.codec.digest.DigestUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Block-store hygiene for iterative loops that truncate lineage with
  * `localCheckpoint(eager = true)` per round.
  *
  * `Dataset.unpersist` only clears the CacheManager's InMemoryRelation
  * entry — it cannot reach the RDD-level blocks a localCheckpoint
  * stores (they belong to the internal RDD captured by the resulting
  * plan's [[LogicalRDD]] leaf). A convergence loop that re-checkpoints
  * per round therefore leaks one vertex- or edge-sized block set per
  * round until the ContextCleaner happens to collect the RDD — in a
  * long session (or a bench run) those stack up and tax every query
  * that follows with eviction and GC pressure.
  *
  * Also the one home of the build-once lifecycle every memoized
  * artifact shares: [[memo]] for session-keyed in-memory frames,
  * [[perContext]] for context-keyed values, [[store]] for the
  * persisted `graft_*` catalog tables, and [[sweepStoppedKeys]] for
  * the irregular caches in between.
  */
object Lineage {

  /** Free the block-store storage behind a localCheckpoint'ed Dataset.
    *
    * DESTRUCTIVE: the RDD's lineage was truncated at checkpoint time,
    * so after this call the Dataset can never be computed again — only
    * call it once every consumer of `df` has materialized.
    */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      // isCheckpointed guard: a LogicalRDD leaf can also be a plain
      // RDD-backed source (spark.createDataFrame(rdd)) whose persisted
      // blocks some other live consumer still needs — destructively
      // unpersisting those would be a correctness bug in the caller's
      // session, not a hygiene win (ADVICE r7). For a RELIABLE
      // checkpoint unpersist only drops cached blocks (the checkpoint
      // files remain, the RDD stays recomputable) — safe either way.
      case l: LogicalRDD if l.rdd.isCheckpointed =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  // ---- scratch-checkpoint registry (ADVICE r7) -----------------------
  //
  // The cache-then-checkpoint pattern ("triangles pattern") materializes
  // a query's SMALL result eagerly so the big intermediate cache can be
  // dropped — but the small checkpoint itself has no owner who frees it.
  // One invocation leaks one small block set; a bench session running
  // 92 queries × (warm-up + 3-5 reps) leaks thousands, and under a
  // bounded heap the block store evicts the caches that matter
  // (GraphCatalog, the dedup shingle pins) to keep the garbage. The
  // registry gives those checkpoints an owner: queries REGISTER what
  // they checkpoint, session-shared memoized results are PINNED
  // (GraphCatalog), and the harness (Bench / Verify) FREES everything
  // unpinned after it materializes each query.
  //
  // References are weak: code paths that never call freeScratch (unit
  // tests) keep today's ContextCleaner behavior instead of accumulating
  // strong refs the GC could otherwise reclaim.

  /** Drop a cache's entries whose SparkContext has stopped — the one
    * sweep behind every memoization catalog and persisted store: a
    * stopped context's block-store state is already gone, so a stale
    * entry only pins the dead context's object graph on the driver
    * (ADVICE r8 leak class). `ctx` maps a key to its context
    * (`_._1` for context-keyed caches, `_._1.sparkContext` for
    * session-keyed ones). */
  def sweepStoppedKeys[K, V](m: TrieMap[K, V])(
      ctx: K => SparkContext): Unit =
    m.keys.foreach { k =>
      if (ctx(k).isStopped) m.remove(k)
    }

  private val scratch =
    TrieMap.empty[SparkSession, TrieMap[Int, WeakReference[RDD[_]]]]
  // pins keyed by (session, rddId), NOT bare int id: RDD ids restart
  // per SparkContext, so in a JVM running several contexts (test
  // suites) a bare-id pin from one context would silently block
  // freeing a same-id scratch RDD in a later one, and pins would
  // accumulate unboundedly (ADVICE r8). Stale sessions' pins are
  // dropped in [[freeScratch]].
  private val pinnedIds = TrieMap.empty[(SparkSession, Int), Unit]

  private def pinned(s: SparkSession, id: Int): Boolean =
    pinnedIds.contains((s, id))

  private def ckptRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD if l.rdd.isCheckpointed => l.rdd
    }.toSeq

  /** Register `df`'s locally-checkpointed leaf blocks as per-invocation
    * scratch, to be freed at the harness's next [[freeScratch]]. Call on
    * a result that is NOT memoized across queries. */
  def registerScratch(df: DataFrame): Unit =
    ckptRdds(df).foreach { r =>
      if (!pinned(df.sparkSession, r.id))
        scratch.getOrElseUpdate(df.sparkSession, TrieMap.empty)
          .put(r.id, new WeakReference(r))
    }

  /** `df.localCheckpoint(eager = true)` + [[registerScratch]] — the
    * triangles-pattern materialization with an owner. */
  def scratchCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    registerScratch(out)
    out
  }

  /** Session-keyed build-once memoizer — ONE implementation of the
    * sweep → getOrElseUpdate → persist → materialize → pin sequence
    * that the k-means/PQ/DSIR/logprob catalogs each need (the
    * [[sweepStoppedKeys]] story again: four hand-rolled copies had
    * already drifted on whether they pinned). The pin exempts any
    * checkpointed leaves the build reads through from [[freeScratch]]
    * (no-op when there are none); the persisted frame itself lives in
    * the block store until its session stops. */
  def memo[K](cache: TrieMap[(SparkSession, K), DataFrame],
              s: SparkSession, key: K)(build: => DataFrame): DataFrame = {
    sweepStoppedKeys(cache)(_._1.sparkContext)
    once(cache, (s, key)) {
      val a = build.persist(StorageLevel.MEMORY_AND_DISK)
      a.count()
      pin(a)
      a
    }
  }

  /** Build-at-most-once cache insert — the race-safe form of
    * `TrieMap.getOrElseUpdate`, which may evaluate the by-name build
    * MORE THAN ONCE under concurrent first access. A losing build in
    * these catalogs is persisted / pinned (pins are irreversible by
    * design) and then discarded — a permanent block-store leak. The
    * fast path stays lock-free; only a key's FIRST build takes the
    * cache lock (distinct keys of one cache serialize their first
    * builds, fine for rare driver-side events). Every memoizing
    * catalog funnels through here: directly (GraphCatalog, WikiDump),
    * through [[memo]] for session-keyed frames, and through
    * [[perContext]] / [[store]] for context-keyed values and persisted
    * catalog tables. */
  def once[K, V](cache: TrieMap[K, V], key: K)(build: => V): V =
    cache.get(key).getOrElse(cache.synchronized {
      cache.getOrElseUpdate(key, build)
    })

  /** Context-keyed build-once: sweep the cache's stopped contexts, then
    * [[once]] on `(s.sparkContext, key)` — the scalar / name caches
    * whose value outlives any one session of the context (see
    * [[store]] for why the key is the context). */
  def perContext[K, V](cache: TrieMap[(SparkContext, K), V],
                       s: SparkSession, key: K)(build: => V): V = {
    sweepStoppedKeys(cache)(_._1)
    once(cache, (s.sparkContext, key))(build)
  }

  /** The physical name of corpus `d`'s store: `prefix` + the first 8
    * hex digits of md5(d). The commit manifest derives its names
    * through here too, so a pointer can never drift from the table its
    * builder wrote. */
  def storeTable(prefix: String, d: String): String =
    prefix + DigestUtils.md5Hex(d).take(8)

  /** Build-once PERSISTED catalog table over corpus `d`: on the first
    * call per (context, d), clear `storeTable(prefix, d)` — drop the
    * catalog entry AND delete any orphaned managed location — then
    * run `write(tbl)` and return `tbl`; later calls return the name
    * without writing. The caller owns the write (bucketed or plain,
    * overwrite then appends), its guards and its read path.
    *
    * The store contract, stated once for every `graft_*` store:
    *  - Keyed by SparkContext, not SparkSession: the table is a
    *    CATALOG artifact, and sibling sessions of one context share the
    *    catalog. A per-session key would have the second session DROP
    *    and rewrite the store the first is serving (FileNotFoundException
    *    mid-probe, or silently partial results). Stopped contexts are
    *    swept so dead drivers don't pin.
    *  - The orphaned location is deleted because the catalog is
    *    per-JVM while the table FILES persist: a previous JVM may have
    *    left the managed location on disk without this catalog knowing
    *    the table, and `saveAsTable` refuses to adopt it.
    *  - An entry is NEVER invalidated when files under `d` change
    *    within the context's lifetime: the store assumes an immutable
    *    corpus (ADVICE r20). Keying on an input fingerprint is the fix
    *    (the artifact-registry item on the ROADMAP).
    *
    * Each store keeps its OWN cache so first builds serialize per
    * store, and a build that reads another store (the compacted store
    * reading the standing one) takes the two locks in a fixed order. */
  def store(cache: TrieMap[(SparkContext, String), String], s: SparkSession,
            d: String, prefix: String)(write: String => Unit): String =
    perContext(cache, s, d) {
      val tbl = storeTable(prefix, d)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new Path(
        s.sessionState.catalog.defaultTablePath(TableIdentifier(tbl)))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      write(tbl)
      tbl
    }

  /** Exempt a memoized, session-shared result (a GraphCatalog entry)
    * from scratch freeing — permanently. Freeing a truncated-lineage
    * checkpoint that a catalog still serves would poison every later
    * read ("checkpoint block not found"), so pin BEFORE the first
    * freeScratch can run. */
  def pin(df: DataFrame): Unit =
    ckptRdds(df).foreach { r =>
      pinnedIds.put((df.sparkSession, r.id), ())
      scratch.get(df.sparkSession).foreach(_.remove(r.id))
    }

  /** Free every unpinned scratch checkpoint registered in `spark`.
    * Harness-only: call between queries, after every consumer of the
    * previous query's result has materialized. Also drops pins (and
    * scratch) belonging to STOPPED sessions — a stopped context's
    * blocks are already gone, so its entries are pure leak. */
  def freeScratch(spark: SparkSession): Unit = {
    scratch.remove(spark).foreach(_.values.foreach { ref =>
      val r = ref.get()
      if (r != null && !pinned(spark, r.id))
        r.unpersist(blocking = false)
    })
    sweepStoppedKeys(pinnedIds)(_._1.sparkContext)
    sweepStoppedKeys(scratch)(_.sparkContext)
  }
}
