package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline surface. Six shapes:
  *
  *   exact         one md5-hash shuffle (the corpus is augmented with a
  *                 simulated re-crawl so the query is non-vacuous — the
  *                 driver corpus has no byte-identical pairs)
  *   canonical     exact after bag-of-words canonicalization (the real
  *                 corpus has 21 such groups)
  *   minhash       16-permutation signatures, narrow pass
  *   lsh           banded candidate pairs (4 bands × 4 rows) + exact
  *                 Jaccard re-verification of candidates only
  *   simhash       32-bit Charikar signatures, narrow pass
  *   ngram         blocked exact char-5-gram Jaccard (block = source ×
  *                 length bucket; the O(n²)-free baseline)
  *   embedding     label-blocked cosine near-dup over float vectors
  *
  * Every query is replicated exactly by its DuckDB oracle (same md5
  * hashes, same formulas, same rounding) — approximate algorithms are
  * still deterministic programs.
  */
object DedupQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup at scale = groupBy on a fixed-width digest: only the
    // 16-byte key shuffles. Corpus ∪ re-crawl (ids offset by 100000).
    "q_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val crawl2 = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      docs.unionAll(crawl2)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("canonical_id"),
          count(lit(1)).as("n_copies"),
          array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",").as("ids"))
        .filter(col("n_copies") > 1)
        .orderBy(col("h"))
    }),

    // Canonicalized exact dedup: key = md5 of the sorted distinct
    // token set (bag-of-words) — catches reorderings/dup-words.
    "q_dedup_canon" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), "\\s+"))
        .groupBy(md5(array_join(array_sort(array_distinct(col("toks"))), " "))
          .as("h"))
        .agg(min("doc_id").as("canonical_id"),
          count(lit(1)).as("n_copies"),
          array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",").as("ids"))
        .filter(col("n_copies") > 1)
        .orderBy(col("h"))
    }),

    // MinHash signatures: one md5 per distinct word-3-gram shingle, 16
    // affine "permutations" over that base hash. Pure narrow pass — no
    // shuffle before the final presentation ORDER BY. The sketch runs in
    // the native codegen'd expressions (graft.functions.ShingleHashes) —
    // bit-identical to the interpreted SQL forms in [[Dedup]] (proven by
    // ShingleHashesSpec), ~5× faster on the hot narrow pass.
    "q_dedup_minhash" -> ((s, d) => {
      val sigs = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), "\\s+"))
        .withColumn("hs", call_function("word_shingle_hashes", col("toks"), lit(3)))
        .withColumn("sig", call_function("minhash_sig", col("hs"), lit(16)))
      sigs.select(col("doc_id") +:
        (0 until 16).map(i => element_at(col("sig"), i + 1).as(f"sig$i%02d")): _*)
        .orderBy(col("doc_id"))
    }),

    // LSH candidate pairs + exact re-verification. Shuffles on (band,
    // band_key) — bucket sizes stay tiny, so candidate generation is
    // near-linear at any corpus size; exact Jaccard runs on candidates
    // only. Output: verified near-dup pairs (J ≥ 0.5).
    "q_dedup_lsh" -> ((s, d) => lshPairs(s, d).orderBy(col("a"), col("b"))),

    // INCREMENTAL cross-dump dedup — the production deployment shape
    // (every prior gate re-sketches the full corpus per session; a
    // real pipeline sketches each dump once): the standing corpus
    // lives as a persisted band-signature store bucketed on the LSH
    // key ([[signatureStore]]), the "new dump" ([[IncNewSource]]) is
    // sketched alone ([[incNewBanded]] — source pushdown, standing
    // bytes never read), and verified pairs come from two bounded
    // routes sharing one probe checkpoint: new⋈store (the store side
    // joins WITHOUT a shuffle — bucket-co-located) and new⋈new (the
    // dump self-join, small by construction). Identical sketch, bands,
    // and exact-Jaccard verify as q_dedup_lsh, so the result equals
    // the full-corpus pair list restricted to pairs touching the new
    // dump — which is exactly what the oracle states. Scale: query
    // cost is O(new dump) + collision-bounded probes; the 100 TB
    // standing corpus contributes only bucket-local store reads.
    "q_dedup_incremental" -> ((s, d) =>
      incrementalPairs(s, d).orderBy(col("a"), col("b"))),

    // SIGNATURE-STORE APPEND — the lifecycle step q_dedup_incremental
    // leaves implicit, made explicit (the ANN family's append gate
    // mirrored onto dedup): after a dump is processed, its band
    // signatures are APPENDED to the persisted bucketed store so the
    // NEXT dump dedups against them without anything re-sketching.
    // The new dump splits at its id midpoint into two arrival waves
    // ([[incMidpoint]] — one 1-row agg, the N-counter contract):
    // wave A appends to the standing store (a bucket-preserving
    // bucketBy write in append mode — the store table gains A's rows,
    // bucket pruning intact), then wave B probes the APPENDED store
    // exactly the q_dedup_incremental way (bucket-co-located cross
    // join + the within-B self-join). Because [[bandedSigs]] is a
    // per-row sketch under fixed hash seeds, append ≡ rebuild —
    // probing the appended store equals probing a store built from
    // scratch over standing ∪ A (DedupStoreAppendSpec pins it
    // row-for-row, plus that the sf0.01 fixture has a B×A pair the
    // un-appended store CANNOT produce — the whole point of the
    // step). Scale: the append writes only the dump's signatures
    // (dump-sized, bucket-local); probe cost is O(wave B) + bucket
    // probes — standing bytes still never re-read.
    "q_dedup_store_append" -> ((s, d) => {
      val store = sigStoreAppended(s, d)
      val nb = waveBBanded(s, d)
      val cross = nb.as("x").join(store.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
          Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
      val within = nb.as("x").join(nb.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
      cross.unionByName(within)
        .groupBy("a", "b").agg(max("j").as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // RE-ENTRANT store accretion — TWO successive appends (VERDICT
    // r18 item 1, dedup family): q_dedup_store_append proves one
    // append; a production store accretes a dump EVERY night. Here
    // BOTH waves append in order (standing write, then A, then B —
    // two successive bucket-spec-matching appends to one table,
    // [[sigStoreAppended2]]), and the serve probes wave B against the
    // twice-appended store CROSS-ONLY (x ≠ y; no within-wave
    // self-join): B's within-pairs must now come from the STORE's own
    // B rows — so a second append that dropped, duplicated, or
    // mis-bucketed rows hash-mismatches, which the within-route form
    // would silently mask. ONE oracle: q_dedup_store_append's SQL
    // VERBATIM (pairs touching wave B) — append∘append ≡ rebuild.
    // DedupAppend2Spec additionally pins the store's row set equals
    // the from-scratch sketch of standing ∪ dump. Gate-only in the
    // bench: the probe is q_dedup_incremental's (benched) co-located
    // plan; the appends are once-per-dump memoized bucketed writes.
    "q_dedup_append2" -> ((s, d) => {
      val store = sigStoreAppended2(s, d)
      val nb = waveBBanded(s, d)
      nb.as("x").join(store.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
          Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
        .groupBy("a", "b").agg(max("j").as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // TOMBSTONE DELETES on the signature store (VERDICT r17 item 3)
    // — the q_ann_delete lifecycle brought to dedup: a takedown /
    // opt-out removal ([[DedupDeleteRule]], 10% of standing ids) must
    // stop the store from ever pairing against the forgotten
    // documents, WITHOUT rewriting the bucketed table per delete.
    // The tombstone filter runs INSIDE the bucket-co-located probe
    // (on the store side of the same join — never a post-filter of
    // emitted pairs, which would be equivalent here but wrong the
    // moment any per-pair cap exists), so the probe's zero-shuffle
    // store side and pushdown story are exactly
    // q_dedup_incremental's. ONE oracle with q_dedup_compact (the
    // annDeleteServeSql precedent): filtered probe ≡ compacted probe
    // IS the compaction correctness law.
    "q_dedup_delete" -> ((s, d) =>
      incrementalPairsOver(s, d, signatureStore(s, d)
          .filter(!DedupDeleteRule))
        .orderBy(col("a"), col("b"))),

    // PHYSICAL COMPACTION of the tombstoned signature store — the
    // lifecycle step after deletes accumulate (the q_ann_compact
    // move): rewrite the store dropping the tombstoned rows, bucket-
    // preserving, under the same fixed hash seeds — never a
    // re-sketch. Probing the compacted table must answer exactly what
    // the tombstone-filtered store answers (the shared oracle states
    // it); DedupDeleteSpec additionally pins that the table on disk
    // lost EXACTLY the tombstoned rows and that deletion genuinely
    // changed served pairs at both SFs.
    "q_dedup_compact" -> ((s, d) =>
      incrementalPairsOver(s, d, sigStoreCompacted(s, d))
        .orderBy(col("a"), col("b"))),

    // STREAMING incremental dedup — the INGEST-TIME shape of
    // q_dedup_incremental (the batch gate answers "dedup a dump I
    // already have"; a production crawler dedups WHILE the dump
    // arrives): the new dump is replayed chronologically through a
    // MemoryStream, each micro-batch is sketched in-flight with the
    // shared [[bandedSigs]] sketch, and band rows stream-static join
    // the persisted bucketed [[signatureStore]] — the standing
    // corpus's bytes are never read, per micro-batch or ever.
    // Emits the verified CROSS pairs only (new × standing, exact
    // Jaccard ≥ 0.5): within-dump pairs are the batch route's job
    // (a stream-stream self-join needs an event-time bound this feed
    // doesn't have; the two gates together cover exactly
    // q_dedup_incremental's pair set). The mid-feed barrier proves
    // cross-batch behavior: a pair whose band collision lands in
    // batch 2 must still emit, and `dropDuplicates(a, b)` state
    // written by batch 1 must suppress batch-2 re-collisions.
    // Chunking-invariant: every collision of a pair computes the
    // same exact Jaccard (a function of the two sketches alone), so
    // first-seen dedup emits exactly the distinct verified pairs.
    "q_stream_inc_dedup" -> ((s, d) => {
      import s.implicits._
      val store = signatureStore(s, d)
      val chunks = EventQueries.cachedChunks(s, d, "incdedup")(
        EventQueries.sortedFeed(Tables.documents(s, d)
          .filter(col("source") === IncNewSource)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)], "doc_id"))
      EventQueries.replayToTable(s, chunks)(stream =>
        graft.streaming.DedupStreams.incDedupStream(
          stream.toDF.toDF("doc_id", "text"), store))
        .orderBy(col("a"), col("b"))
    }),

    // Near-dup CLUSTERING — the step an LLM pipeline actually ships:
    // pair lists don't deduplicate a corpus, canonical assignments do.
    // The verified LSH pairs ([[lshPairs]]) form an undirected graph;
    // connected components to convergence (HashMin + pointer jumping,
    // [[graft.graph.Components.components]]) give every document a
    // cluster representative canonical_id = min doc_id in its cluster
    // (singletons map to themselves: keep doc_id == canonical_id,
    // drop the rest). cluster_n rides along so downstream can weight
    // by duplication count (the CCNet/RefinedWeb convention). Scale
    // shape: the pair graph is near-linear in corpus size (LSH
    // collision-bounded), components is O(log diameter) rounds, and
    // near-dup clusters have tiny diameters — 2-3 rounds in practice.
    "q_dedup_cluster" -> ((s, d) =>
      lshClusters(s, d).orderBy(col("doc_id"))),

    // Per-source DUPLICATION REPORT — the corpus-card number every
    // dataset paper publishes (CCNet/RefinedWeb report dup rates per
    // dump/source; a spike in one source's rate is the first sign of a
    // crawler loop or a mirror): docs, survivors (canonical keep rule)
    // and dup_rate = 1 − kept/docs per source, off the MEMOIZED
    // cluster assignment (one LSH + components run serves
    // q_dedup_cluster, q_dedup_split, q_text_curate and this report).
    // Scale: one doc_id-keyed join + a |sources|-row partial agg; the
    // rate divides exact longs and presents on the 1e-6 floor grid.
    "q_dedup_report" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(lshClusters(s, d), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("canonical_id"), lit(1L))
            .otherwise(lit(0L))).as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (floor((lit(1.0) - col("n_kept").cast("double") / col("n_docs"))
            * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("dup_rate"))
        .orderBy(col("source"))),

    // Containment near-dup detection — the ASYMMETRIC complement to
    // Jaccard (Broder'97's two resemblance measures): C = |A∩B|/min —
    // a short document quoted whole inside a long one scores C ≈ 1
    // while J ≈ |A|/|B| ≈ 0, so minhash-LSH (tuned for J) never finds
    // the pair. Blocking is the rare-shingle inverted index (the
    // q_text_allpairs df-cut): candidates share ≥ 1 shingle with
    // 2 ≤ df ≤ ContainMaxDf, so each rare shingle yields ≤ C(df,2)
    // pairs — candidate volume is linear in corpus size at any scale.
    // Recall trade, documented: a pair ALL of whose shared shingles are
    // corpus-common (df > cap) is missed here — that is the
    // high-multiplicity boilerplate regime, which q_dedup_substring
    // already covers pairlessly (digest totals); between them the two
    // gates cover both containment regimes without any quadratic path.
    // Exact arithmetic end-to-end: intersect count and min-size are
    // ints, the one division is the same IEEE op both engines.
    "q_dedup_containment" -> ((s, d) =>
      containmentPairs(s, d).orderBy(col("a"), col("b"))),

    // Leakage-safe train/test split — the eval-hygiene step after
    // near-dup clustering (Lee'22 §6, the "dedup before you split"
    // rule): a random per-DOCUMENT split leaks when two near-duplicates
    // land on opposite sides, so the split key is the near-dup CLUSTER
    // — every document in a component follows its canonical_id's hash
    // (md5 bucket mod 10: bucket 0 → test, else train, a deterministic
    // 90/10). Composes the verified LSH pairs ([[lshPairs]], memoized —
    // this gate adds no second LSH run) with the same canonical
    // assignment as q_dedup_cluster; DedupSplitSpec asserts the leakage
    // property directly: no verified near-dup pair straddles the split.
    // Scale shape: everything past the (already near-linear) pair graph
    // is one components run + a narrow hash — no new shuffles.
    "q_dedup_split" -> ((s, d) =>
      lshClusters(s, d)
        .select(col("doc_id"), col("canonical_id"),
          splitCol(col("canonical_id")).as("split"))
        .orderBy(col("doc_id"))),

    // SimHash 32-bit signatures (term-frequency-weighted bit votes).
    "q_dedup_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          call_function("simhash32", split(col("text"), "\\s+")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // Mergeable-sketch aggregation (the UDAF surface): per-source
    // MinHash signature = element-wise min over the source's document
    // signatures, via a typed Aggregator — partial+final agg, one
    // fixed-width array per group crosses the shuffle. Estimates
    // source-level shingle-union similarity without touching documents
    // pairwise.
    "q_dedup_source_sketch" -> ((s, d) => {
      val merge = udaf(new graft.functions.MinHashMergeAgg(16))
      val sigs = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), "\\s+"))
        .withColumn("hs", call_function("word_shingle_hashes", col("toks"), lit(3)))
        .withColumn("sig", call_function("minhash_sig", col("hs"), lit(16)))
      sigs.groupBy("source").agg(merge(col("sig")).as("msig"))
        .select(col("source") +:
          (0 until 16).map(i => element_at(col("msig"), i + 1).as(f"sig$i%02d")): _*)
        .orderBy(col("source"))
    }),

    // Blocked exact n-gram Jaccard: compare only within (source,
    // length-bucket) blocks, with a per-block size cap routing oversized
    // blocks through minhash banding (see [[ngramNearDup]]) so no block
    // can go quadratic at scale. At the default cap the banded route is
    // dormant on healthy data — output is identical to plain blocked
    // all-pairs, which is what the oracle states.
    "q_dedup_ngram" -> ((s, d) => ngramNearDup(s, d, blockCap = 1000)),

    // The same query with the cap forced low (5) so the banded overflow
    // route is EXERCISED at sf0.01 (blocks of 6-8 docs exist there) and
    // hash-gated against an oracle that replays the identical routing.
    // 287 vs 292 rows at sf0.01: the 5 missed borderline pairs are the
    // documented banding recall trade (16 single-row bands retain
    // P = 1-(1-J)^16 ≈ 97% at J = 0.2, ~100% at J ≥ 0.3).
    "q_dedup_ngram_capped" -> ((s, d) => ngramNearDup(s, d, blockCap = 5)),

    // Exact SUBSTRING dedup (the ExactSubstr pass of Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // a window is duplicated when its word-8-gram occurs anywhere else
    // in the corpus — another document or a second position in the same
    // one. The paper's tool is a single-node suffix array; the scale-out
    // equivalent is this windowed-hash shuffle: explode windows, hash
    // each to an 8-byte digest (15 md5 hex digits — the only thing that
    // crosses the wire), pre-aggregate per (window, doc) for map-side
    // combine, join per-digest totals back (skew-safe — see
    // [[substringDupStats]]), roll back up per document.
    // Output is the per-document duplicated-window count + fraction —
    // the signal pipelines use to drop or trim documents. 60-bit digest
    // collisions mark false dups at ~(n_windows)²/2⁶¹ — negligible and,
    // because the oracle computes the identical digests, replicated
    // exactly on both engines.
    "q_dedup_substring" -> ((s, d) =>
      substringDupStats(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // The REMOVAL form of the same pass (Lee'22's shipped step): emit
    // each doc with its corpus-duplicated spans excised — scale story
    // and reassembly idiom on [[substringRemoval]]; the excision run
    // is built once and PERSISTED ([[cleanedStore]] — VERDICT r16
    // item 4), and this digest summary reads the stored table, like
    // q_text_curate_cleaned.
    "q_dedup_substring_removed" -> ((s, d) =>
      cleanedStore(s, d)
        .select(col("doc_id"), col("n_tok"),
          (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
          md5(array_join(col("kept"), " ")).as("clean_md5"))
        .orderBy(col("doc_id"))),

    // Edit-distance near-dup on BOUNDED 40-char prefixes — the classic
    // record-linkage measure, made scale-sane twice over: the prefix cap
    // makes the per-pair DP cost constant (40×40) regardless of document
    // length, and (length-bucket × 4-char-prefix-block) blocking bounds
    // pair generation — Spark's levenshtein allocates its DP state per
    // call, so candidate count IS the cost (length-bucket alone: 1.2M
    // pairs / 36 s at sf0.1; with the prefix block: 40k pairs / ~1 s,
    // same 23 result rows at sf0.01). The prefix block trades recall for
    // candidates exactly like LSH banding: pairs differing inside the
    // first 4 chars are missed — the standard blocking bargain,
    // replayed identically by the oracle. levenshtein is the identical
    // unit-cost DP on both engines → integer distances hash-match — but
    // ONLY on ASCII: DuckDB's levenshtein counts bytes while Spark's
    // counts characters ('café'→'cafe' is 2 vs 1), so both engines
    // restrict to pure-ASCII prefixes (length == octet_length, the same
    // predicate on both) — a non-ASCII corpus shrinks the compared set
    // identically instead of silently hash-mismatching (ADVICE r4).
    "q_dedup_editdist" -> ((s, d) => editdistPairs(s, d, blockCap = 1000)),

    // cap forced low (4) so the banded overflow route is EXERCISED at
    // sf0.01 (pb4 blocks of 5-6 exist there) and hash-gated against an
    // oracle replaying the identical banding.
    "q_dedup_editdist_capped" -> ((s, d) => editdistPairs(s, d, blockCap = 4)),

    // Embedding cosine near-dup, blocked by the coarse cluster label
    // (IVF-style: only same-cell pairs are compared).
    "q_dedup_embedding" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      e.as("x").join(e.as("y"),
          col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          // unrounded: index-order fold + sqrt are bit-equal both engines
          call_function("cosine_sim",
            col("x.embedding"), col("y.embedding")).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy(col("a"), col("b"))
    })
  )

  /** Per-document duplicated-window statistics for q_dedup_substring:
    * a word-`w`-gram window is duplicated when its digest occurs ≥ 2
    * times corpus-wide (another document or a second position in the
    * same one). Only the 8-byte digest (15 md5 hex digits) crosses the
    * wire: pre-aggregate per (digest, doc) for map-side combine, then
    * corpus totals per digest as a partial+final agg JOINED back on the
    * digest — NOT a window function over the digest partition: a
    * boilerplate window repeated across millions of documents makes
    * its digest a hot key, and a window partition must land on ONE
    * task while the agg form takes partial sums (hot digest → ≤ P
    * partial rows at the final agg) and AQE splits the skewed join
    * partition. Roll up per document last. `docs` needs (doc_id,
    * text).
    *
    * `materialize = false` returns the lazy plan (no caching — the
    * explode pass is planned twice) for plan inspection
    * (tools/plans.scala); the default runs the explode once through a
    * cache, materializes the small per-doc result, and drops the cache
    * deterministically (the q_graph_triangles pattern). */
  def substringDupStats(docs: DataFrame, w: Int = 8,
      materialize: Boolean = true): DataFrame = {
    // parallelize the explode + md5 pass when the scan is narrower than
    // the cluster (a small corpus file is ONE partition → one core);
    // no-op at real scale where the scan already fans out
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val src =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    val t = src.withColumn("toks", split(col("text"), "\\s+"))
    val wins = t.select(col("doc_id"),
      explode(expr(
        s"IF(size(toks) >= $w, transform(sequence(1, size(toks) - ${w - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $w))), array())")).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    // perDoc feeds BOTH the totals agg and the join probe — Catalyst
    // plans the two references as independent subtree copies (the
    // SURVEY self-join rule), which would run the explode + md5 pass
    // twice. Cache it, materialize the small per-doc result, drop the
    // cache deterministically (the q_graph_triangles pattern). At
    // 100 TB the cached (digest, doc, count) rows are ~what the next
    // shuffle spills anyway; the double narrow pass is pure waste.
    val perDoc0 = wins.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
    val perDoc = if (materialize) perDoc0.persist() else perDoc0
    val totals = perDoc.groupBy("h").agg(sum("c").as("tot"))
    val dup = perDoc.join(totals, "h")
      .groupBy("doc_id")
      .agg(sum("c").as("n_windows"),
        sum(when(col("tot") >= 2, col("c")).otherwise(lit(0L)))
          .as("dup_windows"))
    val out = docs.select("doc_id").join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        // exact-int-to-double division, bit-equal on both engines
        when(coalesce(col("n_windows"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("dup_windows").cast("double") /
            col("n_windows").cast("double")).as("dup_frac"))
    if (!materialize) out
    else {
      val fin = graft.plans.Lineage.scratchCheckpoint(out)
      perDoc.unpersist(blocking = true)
      fin
    }
  }

  /** Exact-substring span REMOVAL (the step Lee et al. 2022 actually
    * ship — VERDICT r14 next-round #3): where [[substringDupStats]]
    * only counts duplicated windows, this emits each document with its
    * corpus-duplicated spans EXCISED. A token is removed when any
    * word-`w`-gram window covering it occurs ≥ 2 times corpus-wide;
    * the cleaned document is the remaining tokens in order.
    *
    * Scale shape: the counting half is [[substringDupStats]]'s — only
    * 8-byte digests ride the counting shuffles, the per-(window, doc)
    * frame is cached so the explode runs once, and the corpus-total
    * filter (tot ≥ 2) collapses the digest table to just the
    * duplicated windows before anything joins back. The removal half
    * adds the ONE corpus-text shuffle the operator fundamentally needs
    * (dup-start arrays co-partition with (doc_id, toks) — original
    * text must come back to be excised; Lee'22's suffix-array tool
    * pays the same re-read). Reassembly is a linear interval fold per
    * document (the q_text_boilerplate pos-sorted idiom): dup starts
    * arrive SORTED and DISTINCT, the fold walks them once with a
    * cursor, array copies happen only at kept gaps — O(kept + gaps)
    * per doc, never O(n²).
    *
    * Output per document: token count, removed-token count, and the
    * md5 of the cleaned single-space-joined text (the boilerplate
    * convention — what a pipeline writes back, hashed so the gate
    * compares cheaply). Docs shorter than `w` tokens have no windows
    * and come back intact (their re-join digest). */
  def substringRemoval(docs: DataFrame, w: Int = 8,
      materialize: Boolean = true): DataFrame = {
    val (kept, wins) = substringKeptRaw(docs, w, persistWins = materialize)
    val out = kept.select(col("doc_id"), col("n_tok"),
      (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
      md5(array_join(col("kept"), " ")).as("clean_md5"))
    if (!materialize) out
    else {
      val fin = graft.plans.Lineage.scratchCheckpoint(out)
      wins.unpersist(blocking = true)
      fin
    }
  }

  /** The span-excision output as a BUILD-ONCE corpus artifact (the
    * lshClusters pattern): ONE removal run — counting shuffles, dup
    * collapse, the single corpus-text join, the excision fold —
    * serves BOTH consumers (q_dedup_substring_removed's digest
    * summary and q_text_curate_cleaned's re-scoring), memoized and
    * pinned. This is the deployment shape: the
    * cleaned corpus is materialized once and every downstream stage
    * reads it, nobody re-excises per query. Columns:
    * (doc_id, source, n_tok, kept). */
  private[graft] def substringKeptFrame(s: SparkSession, d: String)
      : DataFrame = {
    var winsToFree: Option[DataFrame] = None
    val fin = graft.plans.Lineage.memo("kept", s, d) {
      val (kept, wins) =
        substringKeptRaw(Tables.documents(s, d), 8, persistWins = true)
      winsToFree = Some(wins)
      kept
    }
    // the memo persisted + counted the kept frame; the per-(window,
    // doc) digest frame only served that one materialization
    winsToFree.foreach(_.unpersist(blocking = true))
    fin
  }

  /** The cleaned corpus as a PERSISTED catalog table (VERDICT r16
    * item 4 — the [[sigStoreAppended]] / annStore pattern brought to
    * the text artifacts): the excision output is WRITTEN once per
    * corpus, bucketed by doc_id so every downstream doc_id join
    * co-locates without a shuffle, and the consumers
    * (q_text_curate_cleaned's re-scoring, the removal digest gate)
    * read THIS table — the production boundary, where the cleaned
    * corpus outlives the session that built it and every later
    * SESSION reads parquet, not a memo. The in-session
    * [[substringKeptFrame]] remains the builder; ArtifactStoreSpec
    * pins stored ≡ in-session row-for-row, so the write can never
    * drift from the excision law. Columns: (doc_id, source, n_tok,
    * kept). */
  private[graft] def cleanedStore(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_clean_") { tbl =>
      substringKeptFrame(s, d)
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The cleaned-tokens frame behind [[substringRemoval]] — per
    * document (doc_id, source, n_tok, kept): the tokens that survive
    * exact-substring span excision, in order. The raw form exists so
    * downstream consumers (q_text_curate_cleaned — the Lee'22 §5 /
    * RefinedWeb composition: excise spans FIRST, then quality-score
    * the cleaned text) can derive their own narrow frame from the
    * kept tokens and checkpoint THAT (small) instead of the
    * corpus-sized token arrays; the caller owns unpersisting `wins`
    * (the persisted per-(window, doc) digest frame) once its
    * derivation is materialized. */
  private[queries] def substringKeptRaw(docs: DataFrame, w: Int,
      persistWins: Boolean): (DataFrame, DataFrame) = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val src =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    val t = src.withColumn("toks", split(col("text"), "\\s+"))
    // (doc_id, i, h): 1-based window start i, 60-bit digest h — the
    // substringDupStats digest law exactly (15 md5 hex digits), so the
    // two gates can never disagree about what "duplicated" means
    val wins0 = t.select(col("doc_id"),
        posexplode(expr(
          s"IF(size(toks) >= $w, transform(sequence(1, size(toks) - ${w - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $w))), array())"))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    val wins = if (persistWins) wins0.persist() else wins0
    // duplicated digests only — the tot ≥ 2 filter runs INSIDE the
    // digest agg, so the join probe sees the (small) dup set, never
    // the full window table
    val dupH = wins.groupBy("h").agg(count(lit(1)).as("tot"))
      .filter(col("tot") >= 2).select("h")
    val dupStarts = wins.join(dupH, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("dps"))
    // excision fold: cursor walks the sorted dup starts; a window at
    // start p covers tokens [p, p+w-1] (1-based); tokens between the
    // cursor and the next dup start are kept verbatim
    val keptExpr =
      s"""aggregate(
            coalesce(dps, cast(array() as array<int>)),
            named_struct('cur', 1, 'kept', cast(array() as array<string>)),
            (acc, p) -> named_struct(
              'cur', greatest(acc.cur, p + $w),
              'kept', IF(p > acc.cur,
                concat(acc.kept, slice(toks, acc.cur, p - acc.cur)),
                acc.kept)),
            acc -> concat(acc.kept,
              IF(size(toks) >= acc.cur,
                slice(toks, acc.cur, size(toks) - acc.cur + 1),
                cast(array() as array<string>))))"""
    // `source` rides along only when the input has one (the curate
    // consumer needs it; the removal gate and its specs feed bare
    // (doc_id, text) frames)
    val srcCols =
      if (docs.columns.contains("source")) Seq(col("source")) else Nil
    val out = t.select(col("doc_id") +: srcCols :+ col("toks"): _*)
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id") +: srcCols :+
        size(col("toks")).cast("long").as("n_tok") :+
        expr(keptExpr).as("kept"): _*)
    (out, wins)
  }

  /** THE leakage-safe split law — one definition for every consumer
    * (q_dedup_split, q_text_curate, both oracles): md5 of the
    * canonical id's decimal string, first 8 hex chars, mod 10;
    * bucket 0 → test, else train. */
  private[graft] def splitCol(canon: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(conv(substring(md5(canon.cast("string")), 1, 8), 16, 10)
      .cast("long") % 10 === 0, lit("test")).otherwise(lit("train"))

  /** [[splitCol]] as the identical DuckDB expression over a canonical
    * id SQL fragment. */
  private[graft] def splitSql(canonExpr: String): String =
    s"""CASE WHEN CAST(('0x' ||
              substring(md5(CAST($canonExpr AS VARCHAR)), 1, 8))
              AS BIGINT) % 10 = 0
        THEN 'test' ELSE 'train' END"""

  /** Memoized canonical assignment over the corpus' verified LSH pairs
    * — q_dedup_cluster and q_dedup_split both read this one components
    * run (the pair graph and its closure are build-once corpus
    * artifacts, like the k-means model). */
  private[graft] def lshClusters(s: SparkSession, d: String): DataFrame =
    graft.plans.Lineage.memo("cluster", s, d)(
      clusterAssign(Tables.documents(s, d), lshPairs(s, d)))

  /** Canonical cluster assignment from a dup-pair list: connected
    * components over the undirected pair graph (every document a
    * vertex, singletons included), canonical_id = min doc_id in the
    * component, cluster_n = component size. `docs` needs a doc_id
    * column; `pairs` needs (a, b). Exposed for DedupClusterSpec. */
  private[graft] def clusterAssign(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val comps = graft.graph.Components.components(
      docs.select(col("doc_id").as("page")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val sz = comps.groupBy("comp").agg(count(lit(1)).as("cluster_n"))
    comps.join(sz, "comp")
      .select(col("page").as("doc_id"), col("comp").as("canonical_id"),
        col("cluster_n"))
  }

  /** q_dedup_containment knobs: rare-shingle df cap for the inverted
    * index (the q_text_allpairs convention) and the containment cut. */
  private val ContainMaxDf = 5
  private val ContainTau = 0.8

  /** q_dedup_containment's engine body (pairs with C = |A∩B|/min ≥
    * ContainTau over rare-shingle-blocked candidates), unordered.
    * `materialize = false` returns the lazy plan (the shingle frame is
    * planned by every consumer instead of persisted) for plan
    * inspection only — never execute it. */
  private[graft] def containmentPairs(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    // size filter ABOVE the cache boundary (the q_text_plagiarism
    // lesson): pushed into the projection it would substitute the
    // shingle expression into the predicate and evaluate it twice per
    // row
    val hsAll = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"),
        call_function("word_shingle_hashes", col("toks"), lit(3)).as("hs"))
    val hsM = if (materialize) hsAll.persist() else hsAll
    val hsF = hsM.filter(size(col("hs")) > 0)
    val ex = hsF.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ContainMaxDf)
    val posts = ex.join(rare.select("h"), Seq("h"), "left_semi")
    val cands = posts.as("x").join(posts.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val out = cands
      .join(hsF.select(col("doc_id").as("a"), col("hs").as("ha")), "a")
      .join(hsF.select(col("doc_id").as("b"), col("hs").as("hb")), "b")
      .select(col("a"), col("b"),
        (call_function("sorted_intersect_count", col("ha"), col("hb"))
          .cast("double") /
          least(size(col("ha")), size(col("hb"))).cast("double"))
          .as("containment"),
        size(col("ha")).cast("long").as("na"),
        size(col("hb")).cast("long").as("nb"))
      .filter(col("containment") >= ContainTau)
    if (!materialize) out
    else {
      val fin = graft.plans.Lineage.scratchCheckpoint(out)
      hsM.unpersist(blocking = true)
      fin
    }
  }

  /** q_dedup_incremental: the source slice playing "the new dump".
    * Chosen for gate non-vacuity — 6 verified pairs touch it at
    * sf0.01, 26 at sf0.1 (the wiki-hub-page precedent: a gate slice
    * must exercise both join routes, not return empty). */
  private[graft] val IncNewSource = "src7"

  /** Signature-store bucket count: the persisted band table is
    * bucketed on (band, bkey), so the probe join never shuffles the
    * standing corpus's signatures — only the (small) new dump's. */
  private val IncBuckets = 8

  /** q_dedup_incremental's engine body, shared with
    * q_text_curate_incremental: verified near-dup pairs (exact Jaccard
    * ≥ 0.5) touching the new dump, from the two bounded probe routes
    * against the persisted store (scale/semantics on the gate entry).
    * Unordered. */
  private[queries] def incrementalPairs(s: SparkSession,
      d: String): DataFrame =
    incrementalPairsOver(s, d, signatureStore(s, d))

  /** The same probe over ANY store expression — the delete gate passes
    * the tombstone-filtered store, the compact gate the physically
    * compacted table; q_dedup_incremental the standing store. ONE
    * probe strategy, so a fix applied to one lifecycle gate cannot
    * silently diverge the others (the storedSearch discipline). */
  private def incrementalPairsOver(s: SparkSession, d: String,
      store: DataFrame): DataFrame = {
    val nb = incNewBanded(s, d)
    val cross = nb.as("x").join(store.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
    val within = nb.as("x").join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
    cross.unionByName(within)
      .groupBy("a", "b").agg(max("j").as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** The banded signature frame (doc_id, hs, band, bkey) over any
    * documents slice — the exact q_dedup_lsh sketch (same shingles,
    * same 16-perm signatures, same 4×4 banding), factored out so the
    * signature store build and the new-dump probe share ONE
    * definition (a drifted sketch would silently miss pairs). */
  private[graft] def bandedSigs(docs: DataFrame): DataFrame = {
    docs
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("hs",
        call_function("word_shingle_hashes", col("toks"), lit(3)))
      .withColumn("sig", call_function("minhash_sig", col("hs"), lit(16)))
      .select(col("doc_id"), col("hs"),
        posexplode(expr(Dedup.bandKeysExpr("sig", 4, 4))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** PERSISTED bucketed MinHash signature store over the STANDING
    * corpus (every source but [[IncNewSource]]) — the production
    * cross-dump dedup artifact: sketch each dump ONCE, write its band
    * signatures `bucketBy(band, bkey)`, and every later dump LSH-joins
    * against the store without re-reading or re-sketching a byte of
    * standing text (the BucketedJoinSpec zero-shuffle machinery; at
    * 100 TB the store is the only copy of the corpus the dedup path
    * ever touches again). In production the table outlives the
    * session — the store IS the state. The `hs`
    * sketch rides along so candidate verification stays exact without
    * a corpus lookup. */
  private[graft] def signatureStore(s: SparkSession, d: String): DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_sig_store_") { tbl =>
      bandedSigs(Tables.documents(s, d)
          .filter(col("source") =!= IncNewSource))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("overwrite").saveAsTable(tbl)
    }
    // the production read path: resolve through the committed manifest
    // pointer once a pass has published (VERDICT r19 item 1)
    PipelineCommit.resolveOr(s, d, "dedup", 1L, name)
  }

  /** The new dump's id midpoint — splits it into arrival wave A
    * (doc_id ≤ mid, appended to the store) and wave B (doc_id > mid,
    * the probe). One 1-row agg, memoized; integer floor division on
    * both engines. */
  private[graft] def incMidpoint(s: SparkSession, d: String): Long = {
    graft.plans.Lineage.perContext("incMid", s, d) {
      val r = Tables.documents(s, d)
        .filter(col("source") === IncNewSource)
        .agg(min("doc_id"), max("doc_id")).head
      // a corpus without the new-dump source has NULL min/max — both
      // waves are empty under ANY midpoint (the wave filters also
      // require the source), so answer 0 instead of NPE-ing while the
      // oracle's NULL comparisons answer an empty pair set (the
      // maintainRetrain ADVICE r15 lesson)
      if (r.isNullAt(0)) 0L else (r.getLong(0) + r.getLong(1)) / 2
    }
  }

  /** Wave B's banded signatures (doc_id > [[incMidpoint]]) — the probe
    * side of q_dedup_store_append and q_dedup_append2. */
  private def waveBBanded(s: SparkSession, d: String): DataFrame = {
    val mid = incMidpoint(s, d)
    graft.plans.Lineage.memo("waveB", s, d)(
      bandedSigs(Tables.documents(s, d)
        .filter(col("source") === IncNewSource
          && col("doc_id") > lit(mid))))
  }

  /** The signature store AFTER wave A's append (q_dedup_store_append):
    * its own catalog table — the standing signatures written first,
    * then wave A's appended via a bucket-spec-matching bucketBy write
    * in append mode, so the store genuinely exercises Spark's bucketed
    * APPEND (the production operation: the store accretes dumps; it is
    * never rebuilt). The gates' standing [[signatureStore]] is left
    * untouched. */
  private[graft] def sigStoreAppended(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_sig_app_") { tbl =>
      val docs = Tables.documents(s, d)
      bandedSigs(docs.filter(col("source") =!= IncNewSource))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("overwrite").saveAsTable(tbl)
      bandedSigs(docs.filter(col("source") === IncNewSource
          && col("doc_id") <= lit(incMidpoint(s, d))))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("append").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The signature store after BOTH waves' appends (q_dedup_append2 —
    * round-19 re-entrancy): standing signatures written, then wave A
    * appended, then wave B appended — two successive bucketed appends
    * with the arrival mark advancing, the operation a nightly store
    * runs forever. Per-row sketching under fixed hash seeds makes
    * append∘append ≡ rebuild (DedupAppend2Spec pins the row-set
    * equality against a from-scratch sketch of standing ∪ dump). The
    * gates' [[sigStoreAppended]] and [[signatureStore]] stay
    * untouched. */
  private[graft] def sigStoreAppended2(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_sig_app2_") { tbl =>
      val docs = Tables.documents(s, d)
      val mid = incMidpoint(s, d)
      bandedSigs(docs.filter(col("source") =!= IncNewSource))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("overwrite").saveAsTable(tbl)
      bandedSigs(docs.filter(col("source") === IncNewSource
          && col("doc_id") <= lit(mid)))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("append").saveAsTable(tbl)
      bandedSigs(docs.filter(col("source") === IncNewSource
          && col("doc_id") > lit(mid)))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("append").saveAsTable(tbl)
    }
    PipelineCommit.resolveOr(s, d, "dedup", 2L, name)
  }

  /** Tombstoned STANDING documents (q_dedup_delete /
    * q_dedup_compact): the takedown/opt-out set every real corpus
    * pipeline must be able to forget — a deterministic 10%-of-ids
    * rule (the [[SimilarityQueries.AnnDeleteRule]] shape), applied to
    * STORE rows only (the new dump is not in the store, so its docs
    * are never tombstoned). It genuinely hits served results at both
    * SFs: pair (267, 413) at sf0.01 and (1287, 1513) at sf0.1 vanish
    * (DedupDeleteSpec pins that deletion CHANGED answers).
    *
    * LOAD-BEARING INVARIANT (ADVICE r18): this engine-side Column is
    * the bare id rule, while the shared oracle predicate
    * [[tombstonedSql]] ALSO guards `source <> IncNewSource` — the two
    * agree only because [[signatureStore]] and
    * [[graft.queries.MultimodalQueries.phashStore]] are built
    * exclusively from standing rows (both builders filter
    * `source =!= IncNewSource` / `meta.origin =!= IncNewSource` at the
    * write). A store build that ever admitted dump rows would silently
    * tombstone dump documents here and diverge from the oracle;
    * DedupDeleteSpec pins the invariant on the tables themselves (no
    * store row carries a dump doc_id). Store rows deliberately carry
    * no source column — provenance is the build filter's job, not the
    * index schema's. */
  private[graft] val DedupDeleteRule: Column = col("doc_id") % 10 === 3

  /** The tombstoned-STANDING-endpoint predicate as the identical
    * DuckDB fragment over a documents alias — ONE definition for both
    * serve-after-delete oracles (text signatures here, the pHash
    * store's), the isQueryVec lesson: a rule restated per consumer can
    * silently diverge them. */
  private[graft] def tombstonedSql(alias: String): String =
    s"($alias.source <> '$IncNewSource' AND $alias.doc_id % 10 = 3)"

  /** The signature store PHYSICALLY COMPACTED under the tombstone set
    * (q_dedup_compact — the q_ann_compact lifecycle brought to dedup):
    * rewrite the bucketed store DROPPING the tombstoned docs' rows.
    * Band signatures are per-row artifacts of the fixed hash seeds, so
    * compaction is a filter + bucket-preserving rewrite — never a
    * re-sketch. Scale: one pass over the INDEX (4 band rows per doc —
    * index-sized, not corpus-sized), bucketed write so the probe's
    * co-location contract is preserved; probes after compaction stop
    * paying the per-probe tombstone filter. The gates' standing
    * [[signatureStore]] is left untouched. */
  private[graft] def sigStoreCompacted(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_sig_cmp_") { tbl =>
      signatureStore(s, d).filter(!DedupDeleteRule)
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The signature store after a MIXED pass (q_pipeline_mixed — a
    * real nightly dump carries appends AND a takedown list under ONE
    * boundary): the standing store rewritten WITHOUT the
    * [[DedupDeleteRule]] tombstones (compaction's filtered
    * index-sized pass — never a re-sketch) and the WHOLE new dump's
    * band signatures appended, bucket-spec-matching, in the same
    * pass. Deletes are standing-only (the LOAD-BEARING invariant at
    * [[DedupDeleteRule]]): a takedown names corpus documents, never
    * rows of the dump being ingested alongside it. Final population
    * = sketch(standing − tombstoned) ∪ sketch(dump), which the
    * q_pipeline_mixed oracle restates from `documents` alone. */
  private[graft] def sigStoreMixed(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_sig_mx_") { tbl =>
      signatureStore(s, d).filter(!DedupDeleteRule)
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("overwrite").saveAsTable(tbl)
      bandedSigs(Tables.documents(s, d)
          .filter(col("source") === IncNewSource))
        .write.bucketBy(IncBuckets, "band", "bkey").sortBy("band", "bkey")
        .mode("append").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The new dump's banded signatures — the ONLY sketching
    * q_dedup_incremental performs at query time. The source filter
    * reaches the parquet scan (pushdown — the standing corpus's bytes
    * are never read), and the result is memoized so both join routes
    * (vs-store, within-new) read one checkpoint.
    * `materialize = false` returns the lazy plan for pushdown
    * inspection only (PlanShapeSpec). */
  private[graft] def incNewBanded(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    val build = bandedSigs(Tables.documents(s, d)
      .filter(col("source") === IncNewSource))
    if (!materialize) build
    else graft.plans.Lineage.memo("incNew", s, d)(build)
  }

  /** Verified MinHash-LSH near-dup pairs (a < b, exact Jaccard ≥ 0.5):
    * 4 bands × 4 rows over 16-perm signatures of word-3-gram shingles;
    * exact Jaccard re-verification on band-collision candidates only.
    * Shared by q_dedup_lsh (the pair gate), q_dedup_cluster (the
    * canonicalization step) and q_dedup_split — MEMOIZED like the
    * k-means model artifacts (the pair list is a
    * build-once corpus artifact; [[graft.plans.Lineage.memo]] pins the
    * small verified-pair result so one LSH run serves every consumer).
    * Unordered — callers add their presentation sort.
    *
    * `materialize = false` returns the lazy pair plan (no cache, no
    * checkpoint — the banded signature subtree is planned twice) for
    * plan inspection only (PlanShapeSpec); never execute it. */
  private[graft] def lshPairs(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame =
    if (!materialize) lshPairsBuild(s, d, materialize = false)
    else graft.plans.Lineage.memo("lsh", s, d)(
      lshPairsBuild(s, d, materialize = true))

  private def lshPairsBuild(s: SparkSession, d: String,
      materialize: Boolean): DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("hs", call_function("word_shingle_hashes", col("toks"), lit(3)))
    // materialize the banded signature table once before self-joining:
    // Catalyst plans a self-join as two copies of the subplan, which
    // would run the shingle+md5 pass twice. cache (not localCheckpoint),
    // materialize the SMALL verified-pair result, drop the cache
    // deterministically — the q_graph_triangles pattern: a leaked
    // localCheckpoint here is doc_count × 16 band rows each carrying the
    // full shingle array, and with two callers (q_dedup_lsh,
    // q_dedup_cluster) those blocks piled up until the ContextCleaner
    // got around to them, taxing every query after (bench r6→r7 probe:
    // q_setops 0.54 s isolated vs 1.69 s run after the dedup suite)
    val banded0 = base
      .withColumn("sig", call_function("minhash_sig", col("hs"), lit(16)))
      .select(col("doc_id"), col("hs"),
        posexplode(expr(Dedup.bandKeysExpr("sig", 4, 4))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val banded = if (materialize) banded0.persist() else banded0
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        // unrounded: exact-int arithmetic, bit-equal to the oracle
        Dedup.jaccardSorted(col("x.hs"), col("y.hs")).as("j"))
      .groupBy("a", "b").agg(max("j").as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    if (!materialize) pairs
    else {
      val out = graft.plans.Lineage.scratchCheckpoint(pairs)
      banded.unpersist(blocking = true)
      out
    }
  }

  /** Skew-hardened edit-distance near-dup join: (length-bucket ×
    * 4-char-prefix) blocking with a per-block size cap — rows in blocks
    * over the cap compare only where minhash-LSH banding over the
    * prefix's char-5-gram shingles collides (4 bands × 4 rows, the
    * q_dedup_lsh scheme), so the overflow cost is governed by TRUE
    * prefix similarity, not by block size: a corpus where every
    * document opens with the same boilerplate (`<!DOCTYPE `, `The `)
    * but diverges after it has near-zero prefix-shingle Jaccard and
    * generates ~0 overflow candidates where a deeper-prefix refinement
    * would have kept the whole corpus-sized block quadratic
    * (DedupNgramCapSpec). 4×4 bands, not ngram's 16 single-row bands:
    * a shared 8-char opening alone gives J ≈ 0.06, where single-row
    * bands would collide 1-(1-J)¹⁶ ≈ 60% of all pairs but 4-row bands
    * 1-(1-J⁴)⁴ ≈ 5e-5 — only prefixes similar well beyond the shared
    * opening (the plausible dist ≤ 12 pairs) collide. The banding
    * recall trade is the same bargain q_dedup_ngram_capped documents,
    * replayed identically by the oracle; prefixes shorter than the
    * 5-char shingle width stay on the exact route (within a (lb, pb)
    * block such prefixes are byte-identical, so that route emits only
    * true dist-0 pairs and cannot go quadratic adversarially without
    * the output itself being quadratic). Block counts join back by
    * (lb, pb) without a broadcast hint: distinct prefixes scale with
    * the corpus, so AQE decides (unlike ngram's bounded
    * source × bucket key).
    *
    * `preLen` bounds the compared prefix (DP cost = preLen² per pair,
    * constant by construction). The 40-char default is the documented
    * scale bargain; raise it when true edit distance on short strings
    * matters (EditDistPreLenSpec records the recall difference).
    */
  def editdistPairs(s: SparkSession, d: String, blockCap: Int,
      preLen: Int = 40): DataFrame = {
    val p = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, preLen).as("pre"),
        floor(col("n_chars") / 50).as("lb"),
        substring(col("text"), 1, 4).as("pb"))
      .filter(length(col("pre")) === octet_length(col("pre")))
    editdistCandidates(p, blockCap)
      .select(col("a"), col("b"),
        levenshtein(col("px"), col("py")).cast("long").as("dist"))
      .filter(col("dist") <= 12)
      .orderBy(col("a"), col("b"))
  }

  /** Candidate (a, b, px, py) pairs under the capped prefix blocking.
    * `p` must have (doc_id, pre, lb, pb). Exposed for
    * DedupNgramCapSpec's bounded-candidates assertion. */
  private[graft] def editdistCandidates(p: DataFrame, blockCap: Int): DataFrame = {
    val bc = p.groupBy("lb", "pb").agg(count(lit(1)).as("bc"))
    // cache + materialize the small candidate set + drop (the
    // q_graph_triangles pattern): pc feeds both routes' self-joins, and
    // a leaked eager localCheckpoint of the counted prefix table
    // outlived the query until the ContextCleaner ran
    val pc = p.join(bc, Seq("lb", "pb")).persist()
    // shingle-less prefixes (< 5 chars) cannot band — keep them exact
    val exactSide = col("bc") <= blockCap || length(col("pre")) < 5
    val small = pc.filter(exactSide)
    val big = pc.filter(!exactSide)
    val smallCand = small.as("x").join(small.as("y"),
        col("x.lb") === col("y.lb") && col("x.pb") === col("y.pb") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.pre").as("px"), col("y.pre").as("py"))
    val bands = big
      .withColumn("sig", call_function("minhash_sig",
        call_function("char_shingle_hashes", col("pre"), lit(5)), lit(16)))
      .select(col("doc_id"), col("lb"), col("pb"), col("pre"),
        posexplode(expr(Dedup.bandKeysExpr("sig", 4, 4))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val bigCand = bands.as("x").join(bands.as("y"),
        col("x.lb") === col("y.lb") && col("x.pb") === col("y.pb") &&
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.pre").as("px"), col("y.pre").as("py"))
      .distinct() // a pair may collide in several bands
    val cand = graft.plans.Lineage.scratchCheckpoint(
      smallCand.unionByName(bigCand))
    pc.unpersist(blocking = true)
    cand
  }

  /** Skew-hardened blocked n-gram near-dup join.
    *
    * Blocking is (source × length-bucket) as before, but no block is
    * allowed to go quadratic: blocks with ≤ `blockCap` documents use
    * exact within-block all-pairs; oversized blocks route through 16
    * single-row minhash bands (candidate = same block AND sharing ≥ 1 of
    * 16 minhash values), then exact-Jaccard verification of candidates
    * only. Worst case per oversized block drops from O(n²) pairs to the
    * banding collision count, which is governed by true similarity — a
    * 10k-doc block of dissimilar documents generates ~0 candidates
    * instead of 50M (DedupNgramCapSpec).
    *
    * Single-row bands (not the 4×4 of q_dedup_lsh) because this query's
    * threshold is low: P(candidate | J) = 1-(1-J)^16 ≈ 0.97 at J = 0.2
    * where 4-row bands would retain < 30%.
    */
  def ngramNearDup(s: SparkSession, d: String, blockCap: Int): DataFrame = {
    // hash pass once, not per join side — cached, with the small verified
    // result materialized and the cache dropped deterministically (the
    // q_graph_triangles pattern; a leaked localCheckpoint of the shingle
    // arrays outlived the query and taxed everything after it)
    val sh0 = Tables.documents(s, d)
      .withColumn("sh", call_function("char_shingle_hashes", col("text"), lit(5)))
      .select(col("doc_id"), col("source"),
        floor(col("n_chars") / 50).as("lb"), col("sh"))
      .persist()
    val verified = ngramCandidates(sh0, blockCap)
      // arrays join candidates once at the end, instead of being carried
      // through the pair self-join
      .join(sh0.select(col("doc_id").as("a"), col("sh").as("shx")), "a")
      .join(sh0.select(col("doc_id").as("b"), col("sh").as("shy")), "b")
      .select(col("a"), col("b"),
        Dedup.jaccardSorted(col("shx"), col("shy")).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
    val out = graft.plans.Lineage.scratchCheckpoint(verified)
    sh0.unpersist(blocking = true)
    out.orderBy(col("a"), col("b"))
  }

  /** Candidate (a, b) pairs under the capped blocking scheme. `sh0`
    * must have columns (doc_id, source, lb, sh). Exposed for
    * DedupNgramCapSpec's bounded-candidates assertion. */
  private[graft] def ngramCandidates(sh0: DataFrame, blockCap: Int): DataFrame = {
    // block sizes: one row per (source, lb) — grouped-bounded (far fewer
    // blocks than documents by construction), so broadcast, and only the
    // narrow key columns shuffle for the count
    val bc = sh0.groupBy("source", "lb").agg(count(lit(1)).as("bc"))
    val sh = sh0.join(broadcast(bc), Seq("source", "lb"))
    val small = sh.filter(col("bc") <= blockCap)
      .select("doc_id", "source", "lb")
    val smallCand = small.as("x").join(small.as("y"),
        col("x.source") === col("y.source") && col("x.lb") === col("y.lb") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val bands = sh.filter(col("bc") > blockCap)
      .withColumn("sig", call_function("minhash_sig", col("sh"), lit(16)))
      .select(col("doc_id"), col("source"), col("lb"), posexplode(col("sig")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "v")
    val bigCand = bands.as("x").join(bands.as("y"),
        col("x.source") === col("y.source") && col("x.lb") === col("y.lb") &&
          col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct() // a pair may collide in several bands
    smallCand.unionByName(bigCand)
  }

  // ---------------------------------------------------------------- oracles

  /** The q_dedup_lsh pair CTEs + recursive min-label closure down to
    * `comp(page, canonical_id)` — shared by the q_dedup_cluster and
    * q_dedup_split oracles (mirrors the engine sharing one memoized
    * [[lshPairs]] + [[lshClusters]] run). */
  private[graft] def clusterCompCtes: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b FROM (
                      SELECT a, b,
                             MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                               AS jaccard
                      FROM cand GROUP BY a, b)
                    WHERE jaccard >= 0.5),
          und AS (SELECT a AS x, b AS y FROM pairs
                  UNION ALL SELECT b, a FROM pairs),
          r AS (SELECT doc_id AS page, doc_id AS reach FROM documents
                UNION
                SELECT u.x AS page, r.reach
                FROM r JOIN und u ON u.y = r.page),
          comp AS (SELECT page, MIN(reach) AS canonical_id FROM r
                   GROUP BY page)"""

  private[queries] val shingle3 =
    """list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      for i in range(1, len(toks) - 1)])"""

  private[queries] val shingleHash =
    """list_distinct(list_transform(sh,
         s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)))"""

  private[queries] val minhash16 =
    """[list_aggregate(list_transform(hs,
          h -> ((2 * i + 1) * h + (i * 2654435761) % 4294967296) % 4294967296),
        'min') for i in range(0, 16)]"""

  /** The q_dedup_incremental pair derivation with tombstoned standing
    * endpoints excluded — shared VERBATIM by q_dedup_delete and
    * q_dedup_compact (two physical paths, one law). A new-dump doc
    * whose id matches the 10% rule is NOT excluded: tombstones are a
    * store lifecycle, and the dump is not in the store. */
  private def dedupDeleteServeSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b,
                      MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                        AS jaccard
                    FROM cand GROUP BY a, b)
          SELECT p.a, p.b, p.jaccard FROM pairs p
          JOIN documents da ON da.doc_id = p.a
          JOIN documents db ON db.doc_id = p.b
          WHERE p.jaccard >= 0.5
            AND (da.source = '$IncNewSource' OR db.source = '$IncNewSource')
            AND NOT ${tombstonedSql("da")}
            AND NOT ${tombstonedSql("db")}
          ORDER BY a, b"""

  /** The full-corpus pair derivation restricted to pairs touching wave
    * B (the new dump's id upper half) — shared VERBATIM by
    * q_dedup_store_append (one append, wave B probes standing ∪ A) and
    * q_dedup_append2 (BOTH waves appended, wave B probes the store's
    * own rows cross-only): append ≡ rebuild and append∘append ≡
    * rebuild are the same statement over this pair set. */
  private def storeAppendSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          m AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid
                FROM documents WHERE source = '$IncNewSource'),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b,
                      MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                        AS jaccard
                    FROM cand GROUP BY a, b)
          SELECT p.a, p.b, p.jaccard FROM pairs p
          JOIN documents da ON da.doc_id = p.a
          JOIN documents db ON db.doc_id = p.b
          WHERE p.jaccard >= 0.5
            AND ((da.source = '$IncNewSource'
                    AND da.doc_id > (SELECT mid FROM m))
              OR (db.source = '$IncNewSource'
                    AND db.doc_id > (SELECT mid FROM m)))
          ORDER BY a, b"""

  /** DuckDB replay of [[editdistPairs]] at the given block cap — the
    * SAME routing for every cap, so the default gate stays honest on a
    * corpus whose blocks overflow (ADVICE r6). */
  private def editdistOracle(cap: Int): String =
    s"""WITH p AS (SELECT doc_id, substring(text, 1, 40) AS pre,
                    CAST(FLOOR(n_chars / 50) AS BIGINT) AS lb,
                    substring(text, 1, 4) AS pb
                    FROM documents
                    WHERE length(substring(text, 1, 40)) =
                          strlen(substring(text, 1, 40))),
          pc AS (SELECT *, count(*) OVER (PARTITION BY lb, pb) AS bc FROM p),
          small AS (SELECT * FROM pc WHERE bc <= $cap OR length(pre) < 5),
          big AS (SELECT * FROM pc WHERE bc > $cap AND length(pre) >= 5),
          small_cand AS (
            SELECT x.doc_id AS a, y.doc_id AS b, x.pre AS px, y.pre AS py
            FROM small x JOIN small y ON x.lb = y.lb AND x.pb = y.pb
                                      AND x.doc_id < y.doc_id),
          sh AS (SELECT doc_id, lb, pb, pre,
                   list_distinct(list_transform(
                     list_distinct([substring(pre, i, 5)
                                    for i in range(1, length(pre) - 3)]),
                     g -> CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)))
                     AS hs
                 FROM big),
          g AS (SELECT doc_id, lb, pb, pre, $minhash16 AS sig FROM sh),
          bands AS (SELECT doc_id, lb, pb, pre, b.range AS band,
                      md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4],
                                          ',')) AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          big_cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   x.pre AS px, y.pre AS py
            FROM bands x JOIN bands y
              ON x.lb = y.lb AND x.pb = y.pb AND x.band = y.band
                 AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
          cand AS (SELECT * FROM small_cand
                   UNION ALL SELECT * FROM big_cand)
         SELECT a, b, CAST(levenshtein(px, py) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(px, py) <= 12
         ORDER BY a, b"""

  /** DuckDB replay of [[ngramNearDup]] at the given block cap — same
    * rationale as [[editdistOracle]]. */
  private def ngramOracle(cap: Int): String =
    s"""WITH s0 AS (SELECT doc_id, source, CAST(FLOOR(n_chars / 50) AS BIGINT) AS lb,
                 list_distinct(list_transform(
                   list_distinct([substring(text, i, 5)
                                  for i in range(1, len(text) - 3)]),
                   g -> CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT))) AS sh
                FROM documents),
          s AS (SELECT *, count(*) OVER (PARTITION BY source, lb) AS bc FROM s0),
          small_p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sh AS shx, y.sh AS shy
                FROM s x JOIN s y ON x.source = y.source AND x.lb = y.lb
                                  AND x.doc_id < y.doc_id
                WHERE x.bc <= $cap),
          big AS (SELECT doc_id, source, lb, sh,
                    [list_aggregate(list_transform(sh,
                       h -> ((2 * i + 1) * h + (i * 2654435761) % 4294967296) % 4294967296),
                     'min') for i in range(0, 16)] AS sig
                  FROM s WHERE bc > $cap),
          bands AS (SELECT doc_id, source, lb, b.range AS band, sig[1 + b.range] AS v
                    FROM big CROSS JOIN range(0, 16) b),
          big_cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                       FROM bands x JOIN bands y
                       ON x.source = y.source AND x.lb = y.lb AND x.band = y.band
                          AND x.v = y.v AND x.doc_id < y.doc_id),
          big_p AS (SELECT c.a, c.b, sx.sh AS shx, sy.sh AS shy
                    FROM big_cand c JOIN s0 sx ON c.a = sx.doc_id
                                    JOIN s0 sy ON c.b = sy.doc_id),
          allp AS (SELECT * FROM small_p UNION ALL SELECT * FROM big_p),
          j AS (SELECT a, b, CAST(len(list_intersect(shx, shy)) AS DOUBLE) /
                       (len(shx) + len(shy) - len(list_intersect(shx, shy))) AS jaccard
                FROM allp)
          SELECT a, b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY a, b"""

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 100000, text FROM documents),
          g AS (SELECT md5(text) AS h, MIN(doc_id) AS canonical_id,
                       COUNT(*) AS n_copies,
                       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
                FROM u GROUP BY md5(text))
          SELECT * FROM g WHERE n_copies > 1 ORDER BY h""",
    "q_dedup_canon" ->
      """WITH t AS (SELECT doc_id,
                 string_split_regex(text, '\s+') AS toks FROM documents),
          g AS (SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS h,
                       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
                       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
                FROM t GROUP BY 1)
          SELECT * FROM g WHERE n_copies > 1 ORDER BY h""",
    "q_dedup_minhash" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, $minhash16 AS sig FROM hh)
          SELECT doc_id,
                 ${(0 until 16).map(i => s"sig[${i + 1}] AS sig${f"$i%02d"}").mkString(", ")}
          FROM g ORDER BY doc_id""",
    "q_dedup_lsh" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b,
                      MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                        AS jaccard
                    FROM cand GROUP BY a, b)
          SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5 ORDER BY a, b""",
    // the FULL q_dedup_lsh pair derivation restricted to pairs touching
    // the new-dump slice — the incremental store+probe must equal
    // exactly this without ever re-sketching the standing corpus
    "q_dedup_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b,
                      MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                        AS jaccard
                    FROM cand GROUP BY a, b)
          SELECT p.a, p.b, p.jaccard FROM pairs p
          JOIN documents da ON da.doc_id = p.a
          JOIN documents db ON db.doc_id = p.b
          WHERE p.jaccard >= 0.5
            AND (da.source = '$IncNewSource' OR db.source = '$IncNewSource')
          ORDER BY a, b""",
    // serve-after-delete, ONE oracle for BOTH physical paths
    // (q_dedup_delete's tombstone filter inside the co-located probe;
    // q_dedup_compact's physically rewritten store): the incremental
    // pair law with pairs whose STANDING endpoint is tombstoned
    // excluded — filtering ≡ compaction under fixed hash seeds IS the
    // compaction correctness law (the annDeleteServeSql precedent)
    "q_dedup_delete" -> dedupDeleteServeSql,
    "q_dedup_compact" -> dedupDeleteServeSql,
    // the same full-corpus pair derivation restricted to pairs
    // touching wave B (the new dump's id upper half) — append ≡
    // rebuild means the appended store answers exactly the fresh
    // standing ∪ A derivation, which is what one corpus-wide banding
    // replay states
    "q_dedup_store_append" -> storeAppendSql,
    // ONE oracle, two physical paths: probing wave B against the
    // TWICE-appended store (B's pairs served from the store's own
    // rows, cross-only) must answer exactly what the single-append
    // probe answers — append∘append ≡ rebuild, the re-entrancy law
    "q_dedup_append2" -> storeAppendSql,
    // the same full-corpus pair derivation restricted to CROSS pairs
    // (exactly one side in the new dump) — the streaming stream-static
    // route must equal this without re-sketching the standing corpus
    "q_stream_inc_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, hs, $minhash16 AS sig FROM hh),
          bands AS (SELECT doc_id, hs, b.range AS band,
                           md5(array_to_string(sig[1 + b.range * 4 : 4 + b.range * 4], ','))
                             AS bkey
                    FROM g CROSS JOIN range(0, 4) b),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
                          len(list_intersect(x.hs, y.hs)) AS inter,
                          len(x.hs) AS la, len(y.hs) AS lb
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bkey = y.bkey
                        AND x.doc_id < y.doc_id),
          pairs AS (SELECT a, b,
                      MAX(CAST(inter AS DOUBLE) / (la + lb - inter))
                        AS jaccard
                    FROM cand GROUP BY a, b)
          SELECT p.a, p.b, p.jaccard FROM pairs p
          JOIN documents da ON da.doc_id = p.a
          JOIN documents db ON db.doc_id = p.b
          WHERE p.jaccard >= 0.5
            AND ((da.source = '$IncNewSource') <>
                 (db.source = '$IncNewSource'))
          ORDER BY a, b""",
    // same pair CTEs as q_dedup_lsh, then a recursive min-label closure
    // (the q_components_converged trick) for canonical assignment
    "q_dedup_cluster" ->
      s"""$clusterCompCtes,
          sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_n
                 FROM comp GROUP BY canonical_id)
         SELECT c.page AS doc_id, c.canonical_id, z.cluster_n
         FROM comp c JOIN sz z ON c.canonical_id = z.canonical_id
         ORDER BY doc_id""",
    // same closure, aggregated per source with the same keep rule and
    // the same exact-long ratio on the floor grid
    "q_dedup_report" ->
      s"""$clusterCompCtes
         SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN c.page = c.canonical_id THEN 1
                              ELSE 0 END) AS BIGINT) AS n_kept,
                FLOOR((1.0 - CAST(SUM(CASE WHEN c.page = c.canonical_id
                                           THEN 1 ELSE 0 END) AS DOUBLE)
                             / COUNT(*)) * 1.0e6 + 0.5) / 1.0e6
                  AS dup_rate
         FROM comp c JOIN documents d ON d.doc_id = c.page
         GROUP BY d.source
         ORDER BY d.source""",
    // same shingle CTEs; rare-shingle (2 ≤ df ≤ cap) inverted-index
    // candidates, exact containment |A∩B|/min over candidate pairs
    "q_dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, $shingleHash AS hs FROM s),
          hf AS (SELECT * FROM hh WHERE len(hs) > 0),
          ex AS (SELECT doc_id, UNNEST(hs) AS h FROM hf),
          rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM ex
                                  GROUP BY h)
                   WHERE df BETWEEN 2 AND $ContainMaxDf),
          posts AS (SELECT e.doc_id, e.h FROM ex e
                    JOIN rare r ON r.h = e.h),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM posts x JOIN posts y
                     ON x.h = y.h AND x.doc_id < y.doc_id),
          o AS (SELECT c.a, c.b,
                  CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
                    / CAST(LEAST(len(ha.hs), len(hb.hs)) AS DOUBLE)
                    AS containment,
                  CAST(len(ha.hs) AS BIGINT) AS na,
                  CAST(len(hb.hs) AS BIGINT) AS nb
                FROM cand c JOIN hf ha ON ha.doc_id = c.a
                JOIN hf hb ON hb.doc_id = c.b)
         SELECT a, b, containment, na, nb FROM o
         WHERE containment >= $ContainTau ORDER BY a, b""",
    // the q_dedup_cluster canonical closure, then the same md5 bucket
    // the engine hashes the canonical_id into
    "q_dedup_split" ->
      s"""$clusterCompCtes
         SELECT c.page AS doc_id, c.canonical_id,
                ${splitSql("c.canonical_id")} AS split
         FROM comp c ORDER BY doc_id""",
    "q_dedup_source_sketch" ->
      s"""WITH t AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
          s AS (SELECT doc_id, source, $shingle3 AS sh FROM t),
          hh AS (SELECT doc_id, source, $shingleHash AS hs FROM s),
          g AS (SELECT doc_id, source, $minhash16 AS sig FROM hh)
          SELECT source,
                 ${(0 until 16).map(i => s"MIN(sig[${i + 1}]) AS sig${f"$i%02d"}").mkString(", ")}
          FROM g GROUP BY source ORDER BY source""",
    "q_dedup_simhash" ->
      """WITH t AS (SELECT doc_id,
                 list_transform(string_split_regex(text, '\s+'),
                   t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)) AS ths
                FROM documents)
         SELECT doc_id,
                CAST(list_sum([CASE WHEN list_sum([CASE WHEN ((h >> b) & 1) = 1
                                                        THEN 1 ELSE -1 END
                                                   for h in ths]) > 0
                                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                               for b in range(0, 32)]) AS BIGINT) AS simhash
         FROM t ORDER BY doc_id""",
    // the oracle replays the SAME cap-1000 routing as the query (ADVICE
    // r6): with a plain-blocking oracle the gate would only stay honest
    // while no block at the gated scale exceeded the cap — a future
    // corpus change would hash-mismatch instead of exercising the
    // banding on both engines
    "q_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
          w AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')),
                                          1, 15)) AS BIGINT) AS h
                FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
                WHERE len(toks) >= 8),
          pd AS (SELECT h, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
          tt AS (SELECT h, doc_id, c, SUM(c) OVER (PARTITION BY h) AS tot
                 FROM pd),
          agg AS (SELECT doc_id,
                    CAST(SUM(c) AS BIGINT) AS n_windows,
                    CAST(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
                      AS dup_windows
                  FROM tt GROUP BY 1)
          SELECT d.doc_id,
                 COALESCE(a.n_windows, 0) AS n_windows,
                 COALESCE(a.dup_windows, 0) AS dup_windows,
                 CASE WHEN COALESCE(a.n_windows, 0) = 0 THEN 0.0
                      ELSE CAST(a.dup_windows AS DOUBLE) / a.n_windows
                 END AS dup_frac
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
          ORDER BY d.doc_id""",
    // removal oracle: an INDEPENDENT formulation — per-token coverage
    // via a range anti-join (token i is removed iff some dup window
    // start p has p ≤ i ≤ p+7) instead of the engine's interval fold;
    // two different algorithms agreeing on the hash is the point
    "q_dedup_substring_removed" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
          w AS (SELECT doc_id, i,
                  CAST(('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')),
                                          1, 15)) AS BIGINT) AS h
                FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
                WHERE len(toks) >= 8),
          duph AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
          dup AS (SELECT DISTINCT w.doc_id, w.i FROM w
                  WHERE w.h IN (SELECT h FROM duph)),
          tok AS (SELECT t.doc_id, u.i, toks[u.i] AS tk
                  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
          cov AS (SELECT DISTINCT tk.doc_id, tk.i
                  FROM tok tk JOIN dup dp
                    ON tk.doc_id = dp.doc_id
                   AND tk.i BETWEEN dp.i AND dp.i + 7),
          kept AS (SELECT tk.doc_id,
                     count(*) AS n_kept,
                     string_agg(tk.tk, ' ' ORDER BY tk.i) AS clean
                   FROM tok tk LEFT JOIN cov c
                     ON tk.doc_id = c.doc_id AND tk.i = c.i
                   WHERE c.i IS NULL GROUP BY 1)
          SELECT t.doc_id,
                 CAST(len(t.toks) AS BIGINT) AS n_tok,
                 CAST(len(t.toks) - COALESCE(k.n_kept, 0) AS BIGINT)
                   AS n_removed,
                 md5(COALESCE(k.clean, '')) AS clean_md5
          FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
          ORDER BY t.doc_id""",
    "q_dedup_editdist" -> editdistOracle(1000),
    // replays the cap-4 routing: blocks over the cap compare only where
    // 4×4 minhash banding over the prefix's char-5-gram shingles
    // collides (shingle-less prefixes < 5 chars stay exact)
    "q_dedup_editdist_capped" -> editdistOracle(4),
    // like editdist, the oracle replays the cap-1000 routing itself
    // (ADVICE r6) so a corpus change that overflows a block exercises
    // the banding on both engines instead of hash-mismatching
    "q_dedup_ngram" -> ngramOracle(1000),
    // replays the cap-5 routing exactly: window count per block, exact
    // all-pairs for small blocks, 16 single-row minhash bands for the
    // oversized ones, exact-Jaccard verify of the union
    "q_dedup_ngram_capped" -> ngramOracle(5),
    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                           sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                    FROM embeddings),
          p AS (SELECT x.vec_id AS a, y.vec_id AS b,
                       list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)]) /
                       (x.nrm * y.nrm) AS cs
                FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id)
          SELECT a, b, cs AS cos FROM p
          WHERE cs >= 0.4 ORDER BY a, b"""
  )
}
