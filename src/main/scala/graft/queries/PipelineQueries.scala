package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.{GraphCatalog, LinkGraph}
import graft.multimodal.Multimodal

/** THE dump-arrival pipeline (VERDICT r17 item 1) — the per-family
  * incremental paths (six from the r17 list, plus the event family's
  * dimension merge) run as ONE orchestrated nightly pass.
  *
  * A production corpus pipeline sees a dump land ONCE and every store
  * family reacts to the SAME arrival: the curation recipe admits
  * against standing artifacts, the dedup signature store is probed
  * (and appended), the ANN index takes its append-or-retrain
  * decision, the graph rank store its warm-or-rebuild decision, the
  * relational MV merges the delta, the pHash store is probed, and the SCD2
  * dimension store merges the event dump (q_events_scd_inc).
  * Every stage was already gated separately; what no gate asserted is
  * CROSS-FAMILY CONSISTENCY — that each family derives its slice from
  * one dump boundary, never seven private ones. This module makes the
  * boundary a single definition:
  *
  *   - document-keyed families (curate, dedup, phash): the dump IS
  *     the [[DedupQueries.IncNewSource]] slice of `documents` — one
  *     doc_id set (phash hashes its ≥256-byte subset, the aHash
  *     width·8 floor, stated below);
  *   - the embedding family: vec_id ≥
  *     [[SimilarityQueries.incVecThreshold]] (max − max/10);
  *   - the event family: ts at or above the epoch-micros high-water
  *     mark [[EventQueries.eventsTsThreshold]];
  *   - the order-keyed families (graph, MV): o_orderkey ≥
  *     [[GraphCatalog.tpchOrderThreshold]] — since r18 the MV's
  *     [[RelationalQueries.lineitemThreshold]] DELEGATES to it, so
  *     the two families cannot drift (they did derive the mark from
  *     two different tables before).
  *
  * The gate emits one (family, dump_rows, decision, output_rows) row
  * per family — dump sizes from the shared boundary, decisions from
  * the SAME memoized deciders the per-family gates actuate
  * ([[SimilarityQueries.maintainRetrain]],
  * [[GraphQueries.maintainRebuild]]), outputs as the row counts of
  * the already-proved serves. The oracle is ONE statement composing
  * the seven proved oracle chains as scoped derived tables (DuckDB CTE
  * scoping makes the reuse verbatim — no renaming, no restatement),
  * so a wrong boundary, a wrong decision, or a drifted family law
  * hash-mismatches the pipeline row. PipelineDumpSpec pins the
  * same-dump-id-set claims the frame's counts summarize.
  *
  * Scale: the pipeline adds NOTHING to the constituent costs —
  * seven bounded counts (the N-counter contract) over stages whose
  * dump-proportional cost stories are each family's own gate's.
  * Gate-only in the bench for the same reason: every engine path here
  * is a benched constituent; the composition's own work is seven
  * 1-row aggs.
  */
/** THE COMMIT MANIFEST (VERDICT r18 item 3, reworked per VERDICT r19
  * items 1+4 and ADVICE r19 item 4): ONE generation-keyed manifest
  * table per corpus — `(generation, family, store_table)` rows plus a
  * `__commit__` sentinel row per generation — written APPEND-ONLY.
  * The family stores are independent `saveAsTable` writes, so a
  * mid-pass failure would leave families at DIFFERENT dump
  * boundaries; the manifest is the single cross-family commit point:
  * stores first, then ONE single-job append of the generation's rows
  * (sentinel included). The job-level commit of that append is the
  * atomic flip — a pass that dies at ANY point, including during a
  * RE-publish, has appended nothing visible, and because no publish
  * ever drops or rewrites existing rows, every previously committed
  * generation stays readable forever (the round-19 DROP+overwrite
  * form lost the whole manifest to a crash between the drop and the
  * write — exactly the window this layout closes). Readers resolve a
  * family at a PINNED generation (every family serve routes through
  * [[resolveOr]]), or take the max committed generation
  * ([[currentGen]]) — the "readers take max" production shape.
  */
object PipelineCommit {

  import graft.plans.Lineage.storeTable

  /** The seven families and their standing-store physical names —
    * the SAME name each family's own builder writes (verified
    * against the catalog at commit time: a renamed store fails the
    * commit loudly instead of publishing a dangling pointer). */
  private[graft] val Families: Seq[String] =
    Seq("ann", "curate", "dedup", "graph", "mv", "phash", "scd")

  /** The sentinel family name whose row marks a generation as
    * COMMITTED: readers ignore generations without it, so the
    * family rows and the sentinel landing in one write job make the
    * generation's visibility atomic at job commit. */
  private[graft] val CommitSentinel = "__commit__"

  private val ManifestPrefix = "graft_manifest_"

  private[graft] def manifestTable(d: String): String =
    storeTable(ManifestPrefix, d)

  /** The versioned physical store name: version 1 IS the unsuffixed
    * standing table each family builds; later passes write
    * `_v<version>` siblings and flip the manifest. */
  private[graft] def storeName(family: String, d: String,
      version: Long): String = {
    val base = family match {
      case "ann"    => "graft_ann_store_"
      case "curate" => "graft_clf_w_"
      case "dedup"  => "graft_sig_store_"
      case "graph"  => "graft_rank_store_"
      case "mv"     => "graft_agg_store_"
      case "phash"  => "graft_phash_store_"
      case "scd"    => "graft_scd_store_"
    }
    storeTable(base, d) + (if (version == 1L) "" else s"_v$version")
  }

  /** The six families with a generation-2 (post-second-merge) store
    * and those stores' physical names — the re-entrancy gates' own
    * artifacts (curate has no dump-keyed store; its weight vector is
    * sample-trained, not accreted). */
  private[graft] def families2(d: String): Seq[(String, String)] = Seq(
    "ann"   -> storeTable("graft_ann_app2_", d),
    "dedup" -> storeTable("graft_sig_app2_", d),
    "graph" -> storeTable("graft_rank_store2_", d),
    "mv"    -> storeTable("graft_agg_store2_", d),
    "phash" -> storeTable("graft_phash_app2_", d),
    "scd"   -> storeTable("graft_scd_store2_", d))

  // ---- manifest storage ------------------------------------------------
  //
  // The catalog is per-JVM (only table FILES persist across JVMs), so
  // the manifest table is (re)initialized empty once per (context,
  // corpus) by [[graft.plans.Lineage.store]], which clears a prior
  // JVM's orphaned files. From then on it only ever gains rows.
  // Because this JVM's publish() is thereby the table's ONLY writer,
  // a driver-side mirror of the committed generations is exact, and
  // resolution costs zero Spark jobs on the hot path (committed
  // generations are immutable — publish refuses to rewrite one — so
  // the mirror can never go stale). The durable TABLE remains the
  // artifact of record: [[storeFor]] and the gates read it, and
  // PipelineManifestSpec pins table ≡ mirror after every commit.

  private val manifestInitCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String), String]

  private val mirror =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String),
        scala.collection.immutable.SortedMap[Long, Map[String, String]]]

  private def ensureManifest(s: SparkSession, d: String): String = {
    graft.plans.Lineage.sweepStoppedKeys(mirror)(_._1)
    graft.plans.Lineage.store(manifestInitCache, s, d,
        ManifestPrefix) { tbl =>
      import s.implicits._
      Seq.empty[(Long, String, String)]
        .toDF("generation", "family", "store_table")
        .coalesce(1).write.mode("overwrite").saveAsTable(tbl)
      mirror.put((s.sparkContext, d),
        scala.collection.immutable.SortedMap.empty[Long, Map[String, String]])
    }
  }

  private def committed(s: SparkSession, d: String)
      : scala.collection.immutable.SortedMap[Long, Map[String, String]] = {
    ensureManifest(s, d)
    mirror((s.sparkContext, d))
  }

  /** The max committed generation, if any — "readers take max". */
  private[graft] def currentGen(s: SparkSession, d: String): Option[Long] =
    committed(s, d).lastOption.map(_._1)

  /** APPEND the generation's (family → store_table) rows plus the
    * commit sentinel in ONE single-partition write job — THE commit
    * point. Nothing existing is ever dropped or rewritten: a crash
    * before the append's job commit leaves the manifest exactly as it
    * was (all previously committed generations readable), and a crash
    * after it has committed the full generation. Re-publishing an
    * already committed generation with identical content is a no-op
    * (idempotent re-run); with different content it is refused loudly
    * — committed generations are immutable, which is what makes the
    * driver-side mirror and the memoized resolutions sound. */
  private[graft] def publish(s: SparkSession, d: String, gen: Long,
      rows: Seq[(String, String)]): Unit = synchronized {
    import s.implicits._
    require(rows.nonEmpty && rows.map(_._1).distinct.size == rows.size,
      s"manifest generation $gen has duplicate or no family rows: $rows")
    require(!rows.exists(_._1 == CommitSentinel),
      s"family name $CommitSentinel is reserved for the commit marker")
    rows.foreach { case (f, t) =>
      require(s.catalog.tableExists(t),
        s"manifest commit for family $f names a store table that " +
          s"does not exist: $t — refusing to publish a dangling " +
          "pointer")
    }
    val tbl = ensureManifest(s, d)
    val key = (s.sparkContext, d)
    mirror(key).get(gen) match {
      case Some(prev) =>
        require(prev == rows.toMap,
          s"manifest generation $gen is already committed with " +
            s"different content ($prev vs $rows) — committed " +
            "generations are immutable; publish the next generation " +
            "instead")
      case None =>
        (rows :+ (CommitSentinel -> ""))
          .map { case (f, t) => (gen, f, t) }
          .toDF("generation", "family", "store_table")
          .coalesce(1).write.mode("append").saveAsTable(tbl)
        mirror.put(key, mirror(key) + (gen -> rows.toMap))
    }
  }

  /** The committed snapshot of one generation, read from the DURABLE
    * table (not the mirror) — the spec-facing read that proves what a
    * restarted reader would resolve. Sentinel row excluded. */
  private[graft] def snapshot(s: SparkSession, d: String, gen: Long)
      : Seq[(String, String)] =
    s.table(ensureManifest(s, d))
      .filter(col("generation") === gen
        && col("family") =!= CommitSentinel)
      .select("family", "store_table")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq

  private val resolveCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String, String, Long), String]

  /** THE family-store read path: resolve `family` at the PINNED
    * `gen` through the manifest pointer when that generation is
    * committed, falling back to the builder's own physical name only
    * while no commit exists yet (bootstrap — production's very first
    * pass, where the builder IS the writer publishing the pointer a
    * moment later). Every store-backed serve in the catalog returns
    * through here, so once a pass has committed, what readers get is
    * BY CONSTRUCTION a committed snapshot — repointing a family (e.g.
    * a compaction swapping the physical table) redirects every
    * consumer without touching one serve. Committed resolutions are
    * memoized (pointers are immutable once committed). */
  private[graft] def resolveOr(s: SparkSession, d: String,
      family: String, gen: Long, fallback: String): DataFrame = {
    graft.plans.Lineage.sweepStoppedKeys(resolveCache)(_._1)
    val key = (s.sparkContext, d, family, gen)
    resolveCache.get(key) match {
      case Some(t) => s.table(t)
      case None =>
        committed(s, d).get(gen).flatMap(_.get(family)) match {
          case Some(t) => resolveCache.put(key, t); s.table(t)
          case None    => s.table(fallback)
        }
    }
  }

  private val commitCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String), Boolean]

  /** Build every family's standing store (each idempotent under its
    * own Lineage.once), THEN publish generation 1 — the write order
    * IS the protocol: stores first, pointer last. Returns the
    * committed generation-1 rows with resolved store names, read from
    * the durable table. */
  private[graft] def commitStanding(s: SparkSession, d: String)
      : DataFrame = {
    graft.plans.Lineage.perContext(commitCache, s, d) {
      SimilarityQueries.annStore(s, d)
      TextQueries.clfWeightsStore(s, d)
      DedupQueries.signatureStore(s, d)
      GraphCatalog.tpchStandingRanks(s, d)
      RelationalQueries.aggStore(s, d)
      MultimodalQueries.phashStore(s, d)
      EventQueries.scdStore(s, d)
      publish(s, d, 1L, Families.map(f => (f, storeName(f, d, 1L))))
      true
    }
    genRows(s, d, 1L)
  }

  private val commit2Cache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String), Boolean]

  /** The SECOND pass's commit: build every family's v2 store (the
    * re-entrancy gates' own idempotent builders), THEN publish
    * generation 2 into the SAME manifest table — the same
    * stores-first-pointer-last protocol, one generation later.
    * Generation 1 stays readable (append-only). */
  private[graft] def commitSecond(s: SparkSession, d: String)
      : DataFrame = {
    graft.plans.Lineage.perContext(commit2Cache, s, d) {
      SimilarityQueries.annStoreAppended2(s, d)
      DedupQueries.sigStoreAppended2(s, d)
      GraphCatalog.tpchStandingRanks2(s, d)
      RelationalQueries.aggStore2(s, d)
      MultimodalQueries.phashStoreAppended2(s, d)
      EventQueries.scdStore2(s, d)
      publish(s, d, 2L, families2(d))
      true
    }
    genRows(s, d, 2L)
  }

  /** The six families with a MIXED-pass (delete + append under one
    * dump boundary) store and those stores' physical names
    * (q_pipeline_mixed — curate again has no dump-keyed store). */
  private[graft] def familiesMixed(d: String): Seq[(String, String)] = Seq(
    "ann"   -> storeTable("graft_ann_mx_", d),
    "dedup" -> storeTable("graft_sig_mx_", d),
    "graph" -> storeTable("graft_rank_mx_", d),
    "mv"    -> storeTable("graft_agg_mx_", d),
    "phash" -> storeTable("graft_phash_mx_", d),
    "scd"   -> storeTable("graft_scd_mx_", d))

  private val commitMixedCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String), Boolean]

  /** The MIXED pass's commit (VERDICT r19 gap 3): one dump carries
    * appends AND a takedown list, every family applies BOTH legs
    * under the one boundary, and the manifest publishes all six
    * post-mixed stores as generation 3 in ONE append — deletes and
    * appends become visible to readers TOGETHER or not at all (the
    * half-applied state a crash could otherwise expose — takedowns
    * live but the dump missing, or vice versa — is unpublishable by
    * construction). */
  private[graft] def commitMixed(s: SparkSession, d: String)
      : DataFrame = {
    graft.plans.Lineage.perContext(commitMixedCache, s, d) {
      SimilarityQueries.annStoreMixed(s, d)
      DedupQueries.sigStoreMixed(s, d)
      GraphQueries.rankStoreMixed(s, d)
      RelationalQueries.aggStoreMixed(s, d)
      MultimodalQueries.phashStoreMixed(s, d)
      EventQueries.scdStoreMixed(s, d)
      publish(s, d, 3L, familiesMixed(d))
      true
    }
    genRows(s, d, 3L)
  }

  /** One committed generation as a (family, dump_id, store_table)
    * frame off the durable table — what the manifest gates emit. */
  private def genRows(s: SparkSession, d: String, gen: Long): DataFrame =
    s.table(ensureManifest(s, d))
      .filter(col("generation") === gen
        && col("family") =!= CommitSentinel)
      .select(col("family"), col("generation").as("dump_id"),
        col("store_table"))

  /** Resolve a family's standing (generation-1) store THROUGH the
    * manifest — commits first if needed. Spec-facing. */
  private[graft] def storeFor(s: SparkSession, d: String,
      family: String): DataFrame = {
    commitStanding(s, d).collect()
    val t = snapshot(s, d, 1L).toMap.apply(family)
    s.table(t)
  }
}

object PipelineQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_dump" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val nDumpDocs = docs
        .filter(col("source") === DedupQueries.IncNewSource).count()

      // ann — the embedding dump + the drift decision + the served rows
      val vThr = SimilarityQueries.incVecThreshold(s, d)
      val nDumpVecs = Tables.embeddings(s, d)
        .filter(col("vec_id") >= lit(vThr)).count()
      val annRetrain = SimilarityQueries.maintainRetrain(s, d)
      val annRows = SimilarityQueries.queries("q_ann_maintain")(s, d).count()

      // curate — admissions out of the SAME document dump
      val curSel = TextQueries.queries("q_text_curate_incremental")(s, d)
        .filter(col("selected")).count()

      // dedup — verified pairs touching the SAME document dump
      val dedupPairs = DedupQueries.incrementalPairs(s, d).count()

      // graph — the order-dump's edge churn + the warm/rebuild decision
      val oThr = GraphCatalog.tpchOrderThreshold(s, d)
      val g = GraphCatalog.tpch(s, d)
      val nsEdges = LinkGraph.removeRedLinks(
        LinkGraph.tpchEdges(s, d, maxOrder = Some(oThr)), g.pages).count()
      val nNewEdges = g.edges.count() - nsEdges
      val graphRebuild = GraphQueries.maintainRebuild(s, d)

      // mv — the SAME order boundary (lineitemThreshold delegates to
      // tpchOrderThreshold; stated here with oThr to make it literal)
      val nDelta = Tables.lineitem(s, d)
        .filter(col("l_orderkey") >= lit(oThr)).count()
      val mvRows = RelationalQueries.queries("q_agg_incremental")(s, d)
        .count()

      // scd — the event family's dump (the ts high-water mark) merged
      // into the standing dimension store
      val nDeltaEv = Tables.events(s, d)
        .filter(col("ts") >= timestamp_micros(
          lit(EventQueries.eventsTsThreshold(s, d)))).count()
      val scdRows = EventQueries.queries("q_events_scd_inc")(s, d).count()

      // phash — the SAME document dump, restricted to hashable assets
      // (payload ≥ 256 bytes — aHashBands' width·8 floor)
      val nDumpAssets = Multimodal.aHashBands(Multimodal.assets(s, d)
        .filter(col("meta.origin") === DedupQueries.IncNewSource), 32)
        .count()
      val phashPairs = MultimodalQueries.queries("q_mm_phash_inc")(s, d)
        .count()

      Seq(
        ("ann", nDumpVecs,
          if (annRetrain) "retrain" else "append", annRows),
        ("curate", nDumpDocs, "admit", curSel),
        ("dedup", nDumpDocs, "append", dedupPairs),
        ("graph", nNewEdges,
          if (graphRebuild) "rebuild" else "warm", g.n),
        ("mv", nDelta, "merge", mvRows),
        ("phash", nDumpAssets, "probe", phashPairs),
        ("scd", nDeltaEv, "merge", scdRows))
        .toDF("family", "dump_rows", "decision", "output_rows")
        .orderBy("family")
    }),

    // THE TWO-ARRIVAL PIPELINE (round 19 capstone): q_pipeline_dump
    // states that seven families react to ONE dump; the five
    // re-entrancy gates state that each family's merge law composes
    // across TWO arrivals. What neither states is the CROSS-FAMILY
    // claim for the second arrival: that every store-backed family
    // splits the dump at the SAME advanced mark (one split
    // definition per key family — the order-keyed pair shares
    // tpchOrderMid by delegation exactly as they share the r18
    // boundary) and that each family's post-second-merge serve still
    // answers its rebuild. The gate emits one (family, d1_rows,
    // d2_rows, output_rows) row per re-entrant family — both slices
    // non-empty IS "the mark genuinely advanced", stated as data;
    // the oracle recomputes every slice size from the shared split
    // rules and every output count from the constituent *_2 oracles
    // VERBATIM (the q_pipeline_dump composition form). Gate-only:
    // five bounded counts over already-gated constituents.
    "q_pipeline_dump2" -> ((s, d) => {
      import s.implicits._
      val oThr = GraphCatalog.tpchOrderThreshold(s, d)
      val oMid = GraphCatalog.tpchOrderMid(s, d)
      val li = Tables.lineitem(s, d)
      val mv1 = li.filter(col("l_orderkey") >= lit(oThr)
        && col("l_orderkey") < lit(oMid)).count()
      val mv2 = li.filter(col("l_orderkey") >= lit(oMid)).count()
      val mvOut = RelationalQueries.queries("q_agg_inc2")(s, d).count()

      val eThr = EventQueries.eventsTsThreshold(s, d)
      val eMid = EventQueries.eventsTsMid(s, d)
      val ev = Tables.events(s, d).select(unix_micros(col("ts")).as("us"))
      val scd1 = ev.filter(col("us") >= lit(eThr)
        && col("us") < lit(eMid)).count()
      val scd2 = ev.filter(col("us") >= lit(eMid)).count()
      val scdOut = EventQueries.queries("q_events_scd_inc2")(s, d).count()

      val dMid = DedupQueries.incMidpoint(s, d)
      val dump = Tables.documents(s, d)
        .filter(col("source") === DedupQueries.IncNewSource)
      val dd1 = dump.filter(col("doc_id") <= lit(dMid)).count()
      val dd2 = dump.filter(col("doc_id") > lit(dMid)).count()
      val ddOut = DedupQueries.queries("q_dedup_append2")(s, d).count()

      val hashable = dump.filter(octet_length(col("text")) >= 256)
      val ph1 = hashable.filter(col("doc_id") <= lit(dMid)).count()
      val ph2 = hashable.filter(col("doc_id") > lit(dMid)).count()
      val phOut = MultimodalQueries.queries("q_mm_phash_inc2")(s, d)
        .count()

      val g = GraphCatalog.tpch(s, d)
      def edgesBelow(k: Long) = LinkGraph.removeRedLinks(
        LinkGraph.tpchEdges(s, d, maxOrder = Some(k)), g.pages).count()
      val eStand = edgesBelow(oThr)
      val gr1 = edgesBelow(oMid) - eStand
      val gr2 = g.edges.count() - eStand - gr1
      val grOut = GraphQueries.queries("q_pagerank_inc2")(s, d).count()

      Seq(("dedup", dd1, dd2, ddOut), ("graph", gr1, gr2, grOut),
        ("mv", mv1, mv2, mvOut), ("phash", ph1, ph2, phOut),
        ("scd", scd1, scd2, scdOut))
        .toDF("family", "d1_rows", "d2_rows", "output_rows")
        .orderBy("family")
    }),

    // THE COMMIT MANIFEST gate (VERDICT r18 item 3): after ONE
    // committed pass, every family must be registered at the SAME
    // dump_id, and each family's store — resolved THROUGH the
    // manifest pointer, the production read path — must hold exactly
    // its from-scratch row population. The oracle restates both: the
    // seven (family, dump_id = 1) rows AND each store's defining row
    // count from the raw tables (index rows per doc are fixed
    // constants of each family's sketch: 4 band rows/doc for MinHash,
    // 64 tier-2 rows/hashable asset for pHash, 256 weight rows, one
    // row per embedding / page / MV group / surviving change row) —
    // so a manifest pointing at a stale, partial, or foreign table
    // hash-mismatches. The abort half of the protocol (a pass dying
    // after N of 7 store writes publishes NOTHING and readers keep
    // the previous snapshot) is PipelineManifestSpec's. Gate-only in
    // the bench: seven memoized store builds (warm-up absorbs them) +
    // seven counts + a 7-row collect.
    "q_pipeline_manifest" -> ((s, d) => {
      import s.implicits._
      PipelineCommit.commitStanding(s, d)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSeq
        .map { case (f, id, t) => (f, id, s.table(t).count()) }
        .toDF("family", "dump_id", "store_rows")
        .orderBy("family")
    }),

    // THE MIXED PASS (VERDICT r19 gap 3): a real nightly dump carries
    // appends AND a takedown list — the per-family delete gates
    // (q_dedup_delete, q_ann_delete, q_events_scd_delete,
    // q_graph_delete, q_agg_retract, q_mm_phash_delete) and the
    // append gates each ran SOLO; no pass applied both under one dump
    // boundary with the manifest publishing both. Here every family's
    // mixed store = (standing − takedown) ∪ append(dump) is built in
    // ONE pass (each family's own proven rules: the shared
    // DedupDeleteRule for the two document indexes, AnnDeleteRule,
    // ScdDeleteRule, graphTombstoned, the MV retention cut — deletes
    // are STANDING-only: a takedown names corpus items, never the
    // arriving dump), and generation 3 publishes all six in ONE
    // append — a crash can never expose takedowns-without-the-dump or
    // the-dump-without-takedowns. The gate emits one (family,
    // n_deleted, n_appended, store_rows) row per family, with
    // store_rows resolved THROUGH the generation-3 pointer (the
    // fallback name is deliberately unpublishable — resolution
    // succeeding IS the pointer read); units per family are that
    // family's own store rows (band rows for dedup, tier-2 rows for
    // phash, index rows for ann, change rows for scd, pages for
    // graph, corpus rows / groups for mv's retract and view). The
    // oracle restates every count from the raw tables under the
    // shared rules. PipelineMixedSpec pins the mixed stores' CONTENTS
    // (not just counts) against their from-scratch forms. Gate-only:
    // six memoized store builds (each a filtered index-sized rewrite
    // + a dump-sized append of benched classes) + twelve bounded
    // counts + six pointer counts.
    "q_pipeline_mixed" -> ((s, d) => {
      import s.implicits._
      PipelineCommit.commitMixed(s, d).collect()
      def viaPointer(f: String) = PipelineCommit.resolveOr(
        s, d, f, 3L, "graft_mixed_unpublished").count()

      val vThr = SimilarityQueries.incVecThreshold(s, d)
      val annDel = SimilarityQueries.annStoreStanding(s, d)
        .filter(SimilarityQueries.AnnDeleteRule).count()
      val annApp = Tables.embeddings(s, d)
        .filter(col("vec_id") >= lit(vThr)).count()

      val docs = Tables.documents(s, d)
      val dedupDel = DedupQueries.signatureStore(s, d)
        .filter(DedupQueries.DedupDeleteRule).count()
      val dedupApp = DedupQueries.bandedSigs(
        docs.filter(col("source") === DedupQueries.IncNewSource)).count()

      val g = GraphCatalog.tpch(s, d)
      val oThr = GraphCatalog.tpchOrderThreshold(s, d)
      def surv(e: DataFrame) = e.filter(
        !GraphQueries.graphTombstoned(col("src")) &&
          !GraphQueries.graphTombstoned(col("dst")))
      val graphDel = g.pages
        .filter(GraphQueries.graphTombstoned(col("page"))).count()
      val graphApp = surv(g.edges).count() -
        surv(LinkGraph.removeRedLinks(
          LinkGraph.tpchEdges(s, d, maxOrder = Some(oThr)), g.pages))
          .count()

      val li = Tables.lineitem(s, d)
      val mvDel = li.filter(col("l_orderkey") <
        lit(RelationalQueries.retentionThreshold(s, d))).count()
      val mvApp = li.filter(col("l_orderkey") >=
        lit(RelationalQueries.lineitemThreshold(s, d))).count()

      val phDel = MultimodalQueries.phashStore(s, d)
        .filter(DedupQueries.DedupDeleteRule).count()
      val phApp = MultimodalQueries.tier2Rows(Multimodal.aHashBands(
        Multimodal.assets(s, d)
          .filter(col("meta.origin") === DedupQueries.IncNewSource), 32))
        .count()

      val scdDel = EventQueries.scdStore(s, d)
        .filter(EventQueries.ScdDeleteRule).count()
      val scdApp = EventQueries.eventSlice(s, d,
          EventQueries.eventsTsThreshold(s, d), None)
        .filter(!EventQueries.ScdDeleteRule).count()

      Seq(
        ("ann", annDel, annApp, viaPointer("ann")),
        ("dedup", dedupDel, dedupApp, viaPointer("dedup")),
        ("graph", graphDel, graphApp, viaPointer("graph")),
        ("mv", mvDel, mvApp, viaPointer("mv")),
        ("phash", phDel, phApp, viaPointer("phash")),
        ("scd", scdDel, scdApp, viaPointer("scd")))
        .toDF("family", "n_deleted", "n_appended", "store_rows")
        .orderBy("family")
    }),

    // THE SECOND GENERATION of the commit manifest — the manifest
    // protocol tied to the re-entrancy story: after the two-arrival
    // pass, the six accreting families' v2 stores (the *_2 gates' own
    // persisted artifacts) publish under dump_id 2, stores first,
    // pointer last, and the serve resolves THROUGH that pointer. The
    // oracle restates both the (family, dump_id 2) rows and each v2
    // store's from-scratch population — the v2 index stores hold the
    // FULL corpus (both waves appended: 1/embedding, 4 band rows/doc
    // over ALL documents, 64 tier-2 rows per hashable asset), the v2
    // merge stores hold the below-mid generation (MV groups / change
    // rows below the ADVANCED mark), the v2 rank store one row per
    // page. Gate-only: six memoized builds + six counts + a 6-row
    // collect.
    "q_pipeline_manifest2" -> ((s, d) => {
      import s.implicits._
      PipelineCommit.commitSecond(s, d)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSeq
        .map { case (f, id, t) => (f, id, s.table(t).count()) }
        .toDF("family", "dump_id", "store_rows")
        .orderBy("family")
    })
  )

  /** One statement, seven proved laws: each family's leg wraps its own
    * gate's oracle as a SCOPED derived table (a subquery's WITH is
    * local, so the reuse is verbatim — the strongest form of "the
    * pipeline states nothing new, it states the gates TOGETHER"). */
  def oracles: Map[String, String] = Map(
    "q_pipeline_dump" -> {
      val ns = DedupQueries.IncNewSource
      s"""SELECT * FROM (
          SELECT 'ann' AS family,
            (SELECT COUNT(*) FROM embeddings
             WHERE vec_id >= (SELECT MAX(vec_id) - MAX(vec_id) // 10
                              FROM embeddings)) AS dump_rows,
            CASE WHEN am.r THEN 'retrain' ELSE 'append' END AS decision,
            am.c AS output_rows
          FROM (SELECT COUNT(*) AS c, BOOL_OR(retrained) AS r
                FROM (${SimilarityQueries.oracles("q_ann_maintain")}) t)
               am
        UNION ALL
          SELECT 'curate',
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'),
            'admit',
            (SELECT COUNT(*)
             FROM (${TextQueries.oracles("q_text_curate_incremental")}) t
             WHERE t.selected)
        UNION ALL
          SELECT 'dedup',
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'),
            'append',
            (SELECT COUNT(*)
             FROM (${DedupQueries.oracles("q_dedup_incremental")}) t)
        UNION ALL
          SELECT 'graph', sg.n_new,
            CASE WHEN sg.rebuilt THEN 'rebuild' ELSE 'warm' END,
            (SELECT COUNT(*) FROM customer)
              + (SELECT COUNT(*) FROM supplier)
          FROM (${GraphQueries.oracles("q_stream_graph_maintain")}) sg
        UNION ALL
          SELECT 'mv',
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey >= (SELECT MAX(o_orderkey)
                                  - MAX(o_orderkey) // 10 FROM orders)),
            'merge',
            (SELECT COUNT(*)
             FROM (${RelationalQueries.oracles("q_agg_incremental")}) t)
        UNION ALL
          SELECT 'scd',
            (SELECT COUNT(*) FROM events
             WHERE epoch_us(ts) >= (SELECT MAX(epoch_us(ts))
                                    - (MAX(epoch_us(ts))
                                       - MIN(epoch_us(ts))) // 10
                                    FROM events)),
            'merge',
            (SELECT COUNT(*)
             FROM (${EventQueries.oracles("q_events_scd")}) t)
        UNION ALL
          SELECT 'phash',
            (SELECT COUNT(*) FROM documents
             WHERE source = '$ns' AND strlen(text) >= 256),
            'probe',
            (SELECT COUNT(*)
             FROM (${MultimodalQueries.oracles("q_mm_phash_inc")}) t)
        ) ORDER BY family"""
    },

    // the two-arrival composition: every slice size recomputed from
    // the SHARED split rules (the order-keyed families' d1/d2 bounds
    // are literally one subquery pair), every output count from the
    // constituent *_2 oracles verbatim; the graph output is the page
    // universe (q_pagerank_inc2 emits one row per page by
    // construction — the q_pipeline_dump precedent: counting a
    // 16-iteration chain restates cost, not strength)
    "q_pipeline_dump2" -> {
      val ns = DedupQueries.IncNewSource
      s"""WITH thr AS (SELECT MAX(o_orderkey) - MAX(o_orderkey) // 10 AS t
                       FROM orders),
          omid AS (SELECT (SELECT t FROM thr)
                          + (MAX(o_orderkey) - (SELECT t FROM thr)) // 2
                            AS m
                   FROM orders),
          ethr AS (SELECT MAX(epoch_us(ts))
                          - (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 10
                            AS t
                   FROM events),
          emid AS (SELECT (SELECT t FROM ethr)
                          + (MAX(epoch_us(ts)) - (SELECT t FROM ethr)) // 2
                            AS m
                   FROM events),
          dmid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m
                   FROM documents WHERE source = '$ns'),
          pages AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS page FROM customer
            UNION ALL
            SELECT 's' || CAST(s_suppkey AS VARCHAR) AS page FROM supplier),
          ebelow AS (
            SELECT o_orderkey AS k,
                   'c' || CAST(o_custkey AS VARCHAR) AS src,
                   's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          egood AS (
            SELECT src, dst, MIN(k) AS firstk FROM ebelow e
            WHERE EXISTS (SELECT 1 FROM pages p WHERE p.page = e.dst)
            GROUP BY src, dst)
        SELECT * FROM (
          SELECT 'dedup' AS family,
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'
             AND doc_id <= (SELECT m FROM dmid)) AS d1_rows,
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'
             AND doc_id > (SELECT m FROM dmid)) AS d2_rows,
            (SELECT COUNT(*)
             FROM (${DedupQueries.oracles("q_dedup_append2")}) t)
              AS output_rows
        UNION ALL
          SELECT 'graph',
            (SELECT COUNT(*) FROM egood
             WHERE firstk >= (SELECT t FROM thr)
               AND firstk < (SELECT m FROM omid)),
            (SELECT COUNT(*) FROM egood
             WHERE firstk >= (SELECT m FROM omid)),
            (SELECT COUNT(*) FROM customer)
              + (SELECT COUNT(*) FROM supplier)
        UNION ALL
          SELECT 'mv',
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey >= (SELECT t FROM thr)
               AND l_orderkey < (SELECT m FROM omid)),
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey >= (SELECT m FROM omid)),
            (SELECT COUNT(*)
             FROM (${RelationalQueries.oracles("q_agg_inc2")}) t)
        UNION ALL
          SELECT 'phash',
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'
             AND strlen(text) >= 256 AND doc_id <= (SELECT m FROM dmid)),
            (SELECT COUNT(*) FROM documents WHERE source = '$ns'
             AND strlen(text) >= 256 AND doc_id > (SELECT m FROM dmid)),
            (SELECT COUNT(*)
             FROM (${MultimodalQueries.oracles("q_mm_phash_inc2")}) t)
        UNION ALL
          SELECT 'scd',
            (SELECT COUNT(*) FROM events
             WHERE epoch_us(ts) >= (SELECT t FROM ethr)
               AND epoch_us(ts) < (SELECT m FROM emid)),
            (SELECT COUNT(*) FROM events
             WHERE epoch_us(ts) >= (SELECT m FROM emid)),
            (SELECT COUNT(*)
             FROM (${EventQueries.oracles("q_events_scd_inc2")}) t)
        ) ORDER BY family"""
    },

    // the mixed pass: every per-family delete and append count
    // recomputed from the raw tables under the SHARED rules (the
    // tombstonedSql / graphTombSql / retention-cut fragments are the
    // same definitions the solo delete gates' oracles use), and every
    // store population = (standing − takedown) ∪ dump in that
    // family's own row units
    "q_pipeline_mixed" -> {
      val ns = DedupQueries.IncNewSource
      s"""WITH thr AS (SELECT MAX(o_orderkey) - MAX(o_orderkey) // 10 AS t
                       FROM orders),
          ret AS (SELECT MIN(l_orderkey)
                         + (MAX(l_orderkey) - MIN(l_orderkey)) // 20 AS r
                  FROM lineitem),
          vthr AS (SELECT MAX(vec_id) - MAX(vec_id) // 10 AS t
                   FROM embeddings),
          emark AS (SELECT MAX(epoch_us(ts))
                           - (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 10
                             AS t
                    FROM events),
          tpages AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS page FROM customer
            UNION ALL
            SELECT 's' || CAST(s_suppkey AS VARCHAR) AS page FROM supplier),
          ebelow AS (
            SELECT o_orderkey AS k,
                   'c' || CAST(o_custkey AS VARCHAR) AS src,
                   's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          egood AS (
            SELECT src, dst, MIN(k) AS firstk FROM ebelow e
            WHERE EXISTS (SELECT 1 FROM tpages p WHERE p.page = e.dst)
            GROUP BY src, dst)
        SELECT * FROM (
          SELECT 'ann' AS family,
            (SELECT COUNT(*) FROM embeddings
             WHERE vec_id < (SELECT t FROM vthr) AND vec_id % 10 = 3)
              AS n_deleted,
            (SELECT COUNT(*) FROM embeddings
             WHERE vec_id >= (SELECT t FROM vthr)) AS n_appended,
            (SELECT COUNT(*) FROM embeddings
             WHERE vec_id >= (SELECT t FROM vthr) OR vec_id % 10 <> 3)
              AS store_rows
        UNION ALL
          SELECT 'dedup',
            4 * (SELECT COUNT(*) FROM documents d
                 WHERE ${DedupQueries.tombstonedSql("d")}),
            4 * (SELECT COUNT(*) FROM documents WHERE source = '$ns'),
            4 * (SELECT COUNT(*) FROM documents d
                 WHERE NOT ${DedupQueries.tombstonedSql("d")})
        UNION ALL
          SELECT 'graph',
            (SELECT COUNT(*) FROM tpages
             WHERE ${GraphQueries.graphTombSql("page")}),
            (SELECT COUNT(*) FROM egood
             WHERE firstk >= (SELECT t FROM thr)
               AND NOT ${GraphQueries.graphTombSql("src")}
               AND NOT ${GraphQueries.graphTombSql("dst")}),
            (SELECT COUNT(*) FROM tpages
             WHERE NOT ${GraphQueries.graphTombSql("page")})
        UNION ALL
          SELECT 'mv',
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey < (SELECT r FROM ret)),
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey >= (SELECT t FROM thr)),
            (SELECT COUNT(DISTINCT (l_returnflag, l_linestatus))
             FROM lineitem WHERE l_orderkey >= (SELECT r FROM ret))
        UNION ALL
          SELECT 'phash',
            64 * (SELECT COUNT(*) FROM documents d
                  WHERE ${DedupQueries.tombstonedSql("d")}
                    AND strlen(d.text) >= 256),
            64 * (SELECT COUNT(*) FROM documents
                  WHERE source = '$ns' AND strlen(text) >= 256),
            64 * (SELECT COUNT(*) FROM documents d
                  WHERE NOT ${DedupQueries.tombstonedSql("d")}
                    AND strlen(d.text) >= 256)
        UNION ALL
          SELECT 'scd',
            (SELECT COUNT(*) FROM (
               SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
               FROM events
               WHERE user_id % 10 = 3
                 AND epoch_us(ts) < (SELECT t FROM emark)) x
             WHERE prev IS NULL OR prev <> event_type),
            (SELECT COUNT(*) FROM events
             WHERE user_id % 10 <> 3
               AND epoch_us(ts) >= (SELECT t FROM emark)),
            (SELECT COUNT(*) FROM (
               SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
               FROM events WHERE user_id % 10 <> 3) y
             WHERE prev IS NULL OR prev <> event_type)
        ) ORDER BY family"""
    },

    // manifest consistency: every family at dump_id 1, every resolved
    // store holding exactly its from-scratch population — the per-doc
    // index-row constants are each sketch's own (4 MinHash bands/doc;
    // 8 bands × 8 blocks = 64 tier-2 rows per ≥256-byte asset; 256
    // perceptron weight rows; 1 row per embedding / page / group /
    // surviving change row below the ts mark)
    "q_pipeline_manifest" -> {
      val ns = DedupQueries.IncNewSource
      s"""SELECT * FROM (
          SELECT 'ann' AS family, 1 AS dump_id,
                 (SELECT COUNT(*) FROM embeddings) AS store_rows
        UNION ALL
          SELECT 'curate', 1, ${TextQueries.ClfB}
        UNION ALL
          SELECT 'dedup', 1,
                 4 * (SELECT COUNT(*) FROM documents
                      WHERE source <> '$ns')
        UNION ALL
          SELECT 'graph', 1,
                 (SELECT COUNT(*) FROM customer)
                   + (SELECT COUNT(*) FROM supplier)
        UNION ALL
          SELECT 'mv', 1,
                 (SELECT COUNT(DISTINCT (l_returnflag, l_linestatus))
                  FROM lineitem
                  WHERE l_orderkey < (SELECT MAX(o_orderkey)
                                      - MAX(o_orderkey) // 10
                                      FROM orders))
        UNION ALL
          SELECT 'phash', 1,
                 64 * (SELECT COUNT(*) FROM documents
                       WHERE source <> '$ns' AND strlen(text) >= 256)
        UNION ALL
          SELECT 'scd', 1,
                 (SELECT COUNT(*) FROM (
                    SELECT user_id, event_type,
                           LAG(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
                    FROM events
                    WHERE epoch_us(ts) < (SELECT MAX(epoch_us(ts))
                                          - (MAX(epoch_us(ts))
                                             - MIN(epoch_us(ts))) // 10
                                          FROM events)) t
                  WHERE prev IS NULL OR prev <> event_type)
        ) ORDER BY family"""
    },

    // the second generation: six families at dump_id 2, each resolved
    // v2 store holding its from-scratch population — full-corpus for
    // the appended indexes, below-the-ADVANCED-mark for the merge
    // stores
    "q_pipeline_manifest2" -> {
      val ns = DedupQueries.IncNewSource
      s"""WITH thr AS (SELECT MAX(o_orderkey) - MAX(o_orderkey) // 10 AS t
                       FROM orders),
          omid AS (SELECT (SELECT t FROM thr)
                          + (MAX(o_orderkey) - (SELECT t FROM thr)) // 2
                            AS m
                   FROM orders),
          e0 AS (SELECT MAX(epoch_us(ts))
                        - (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 10
                          AS t
                 FROM events),
          emid AS (SELECT (SELECT t FROM e0)
                          + (MAX(epoch_us(ts)) - (SELECT t FROM e0)) // 2
                            AS m
                   FROM events)
        SELECT * FROM (
          SELECT 'ann' AS family, 2 AS dump_id,
                 (SELECT COUNT(*) FROM embeddings) AS store_rows
        UNION ALL
          SELECT 'dedup', 2, 4 * (SELECT COUNT(*) FROM documents)
        UNION ALL
          SELECT 'graph', 2,
                 (SELECT COUNT(*) FROM customer)
                   + (SELECT COUNT(*) FROM supplier)
        UNION ALL
          SELECT 'mv', 2,
                 (SELECT COUNT(DISTINCT (l_returnflag, l_linestatus))
                  FROM lineitem
                  WHERE l_orderkey < (SELECT m FROM omid))
        UNION ALL
          SELECT 'phash', 2,
                 64 * (SELECT COUNT(*) FROM documents
                       WHERE strlen(text) >= 256)
        UNION ALL
          SELECT 'scd', 2,
                 (SELECT COUNT(*) FROM (
                    SELECT user_id, event_type,
                           LAG(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
                    FROM events
                    WHERE epoch_us(ts) < (SELECT m FROM emid)) t
                  WHERE prev IS NULL OR prev <> event_type)
        ) ORDER BY family"""
    }
  )
}
