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
  * Also the registry of every memoized artifact: each is a NAME
  * here, not a map its caller declares. [[perSession]] and
  * [[perContext]] build a value once per (session or context, name,
  * key); [[memo]] adds persist → count → pin for session frames;
  * [[store]] adds the drop/orphan-delete lifecycle of the persisted
  * `graft_*` catalog tables, named by their table prefix. The
  * registry sweeps stopped contexts itself; [[sweepStoppedKeys]] is
  * left for the two mutable maps outside it (the pipeline manifest
  * mirror and the event feed cache).
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
    * sweep behind the artifact registry, the scratch maps here and the
    * two mutable maps outside them: a stopped context's block-store
    * state is already gone, so a stale entry only pins the dead
    * context's object graph on the driver (ADVICE r8 leak class).
    * `ctx` maps a key to its context (`_._1` for context-keyed caches,
    * `_._1.sparkContext` for session-keyed ones). */
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

  /** One build-once map per artifact name, keyed by (scope, key):
    * the scope is the SparkSession for [[perSession]] names and the
    * SparkContext for [[perContext]] names. */
  private val registry = TrieMap.empty[String, TrieMap[(AnyRef, Any), Any]]

  private def scopeContext(scope: AnyRef): SparkContext = scope match {
    case s: SparkSession => s.sparkContext
    case c: SparkContext => c
  }

  /** Build-at-most-once cache insert — the race-safe form of
    * `TrieMap.getOrElseUpdate`, which may evaluate the by-name build
    * MORE THAN ONCE under concurrent first access. A losing build in
    * these catalogs is persisted / pinned (pins are irreversible by
    * design) and then discarded — a permanent block-store leak. The
    * fast path stays lock-free; only a key's FIRST build takes the
    * name's lock. One lock per name, never one registry-wide lock:
    * a build that calls another name (the compacted signature store
    * reading the standing one, the mixed ANN store reading the
    * standing ANN store) takes the two locks in a fixed order, and
    * distinct keys of one name serialize their first builds (fine for
    * rare driver-side events). Every entry of a stopped context is
    * swept first: its block-store state is already gone, so the entry
    * would only pin the dead context's object graph on the driver. */
  private def once[V](name: String, scope: AnyRef, key: Any)(
      build: => V): V = {
    registry.values.foreach(sweepStoppedKeys(_)(k => scopeContext(k._1)))
    val cache = registry.getOrElseUpdate(name, TrieMap.empty)
    cache.get((scope, key)).getOrElse(cache.synchronized {
      cache.getOrElseUpdate((scope, key), build)
    }).asInstanceOf[V]
  }

  /** Build `name`'s value once per (session, key). */
  def perSession[V](name: String, s: SparkSession, key: Any)(
      build: => V): V =
    once(name, s, key)(build)

  /** Build `name`'s value once per (context, key) — the scalar / name
    * caches whose value outlives any one session of the context (see
    * [[store]] for why the key is the context). */
  def perContext[V](name: String, s: SparkSession, key: Any)(
      build: => V): V =
    once(name, s.sparkContext, key)(build)

  /** Drop `name`'s entries built in session `s` — a harness teardown
    * hook for artifacts a long-lived JVM must release before the
    * session stops. */
  def forget(name: String, s: SparkSession): Unit =
    registry.get(name).foreach { m =>
      m.keys.foreach { k => if (k._1 eq s) m.remove(k) }
    }

  /** Session-keyed build-once frame: [[perSession]] plus persist →
    * materialize → pin. The pin exempts any checkpointed leaves the
    * build reads through from [[freeScratch]] (no-op when there are
    * none); the persisted frame itself lives in the block store until
    * its session stops. */
  def memo(name: String, s: SparkSession, key: Any)(
      build: => DataFrame): DataFrame =
    perSession(name, s, key) {
      val a = build.persist(StorageLevel.MEMORY_AND_DISK)
      a.count()
      pin(a)
      a
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
    * The prefix is the store's registry name, so each store keeps its
    * own lock (see [[once]]). */
  def store(s: SparkSession, d: String, prefix: String)(
      write: String => Unit): String =
    perContext(prefix, s, d) {
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
