package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, a
  * random-hyperplane LSH (SimHash-for-vectors, Charikar'02) bucketed
  * variant, an IVF (inverted-file, coarse-quantizer) variant, and a
  * PQ-ADC (product-quantization) variant — the standard sublinear
  * scale paths.
  *
  * Scale design (100 TB):
  *   - brute force: the query set is small → broadcast it against the
  *     corpus scan; per-partition top-k via window rank. Exact, one
  *     narrow pass over the corpus, no corpus shuffle. Right answer up
  *     to ~10⁴ queries × any corpus size.
  *   - LSH: L=2 independent 6-hyperplane tables bucket the corpus into
  *     64 cells each; queries multiprobe Hamming ≤ 2 around their own
  *     bucket in every table and candidates are the UNION — candidate
  *     generation stays a (table, bucket) equi-join, never O(corpus²).
  *     The plane "table" is 12 rows — broadcast. Recall is tunable by
  *     planes/tables/probe radius (see AnnRecallSpec: measured
  *     recall@5 = 0.92 on the sf0.01 corpus, which is near-orthogonal
  *     noise — the adversarial case for any sublinear index).
  *   - IVF: a bounded centroid table (nlist ≤ 16 here; a real index
  *     uses ~2¹⁶ — still broadcastable) assigns every corpus vector to
  *     its nearest cell in ONE narrow pass + a partial-agg argmax;
  *     queries probe their nprobe=3 nearest cells and score only those
  *     cells' members via a cell equi-join. The corpus shuffles once
  *     (the argmax agg), candidates are bucket-bounded, recall is
  *     tunable by nprobe (measured 0.84 at nprobe=3 on sf0.01).
  *   - PQ: corpus encoded once to M=16 4-bit codes; queries scan codes
  *     by asymmetric distance, keep a FIXED-size shortlist (T=100),
  *     and re-rank only the shortlist against raw vectors — the
  *     FAISS-style refine step, so the raw-vector fetch is O(T) per
  *     query regardless of corpus size (measured recall@5 = 1.0).
  *
  * Determinism: hyperplane components are md5-derived
  * (w[t][j][i] = hash32(t:j:i)/2³¹ − 1 ∈ [−1,1)), so Spark and DuckDB
  * compute bit-identical planes, signatures, and cosines (index-order
  * folds + IEEE sqrt on both engines); cosines ship UNROUNDED — the
  * doubles are equal by construction and decimal rounding would only
  * add boundary risk — with vec_id tie-breaking the rank.
  */
object SimilarityQueries {

  private val K = 5

  /** Hybrid retrieval (q_ann_hybrid): df cap for the rare-shingle
    * inverted index that blocks the lexical leg's candidates — the
    * same linear-candidate-volume bound as q_dedup_containment's
    * ContainMaxDf (each rare shingle yields ≤ df postings per query
    * posting, so candidates stay linear in corpus size). */
  private val HybridMaxDf = 10

  /** The lexical leg's SERVE over any (doc_id, hs) shingle table and
    * (g, doc_id) postings table: candidate generation from the
    * postings self-join, the Jaccard scoring back-joins, the per-query
    * top-K. Factored out so the plan over the STORED tables is
    * inspectable pre-checkpoint (AnnPlanShapeSpec). */
  private def hybridLexServe(hsM: DataFrame, posts: DataFrame): DataFrame = {
    val qp = posts.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("g"))
    val cand = posts.join(qp, "g")
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id").as("id")).distinct()
    val wL = Window.partitionBy(col("qid"))
      .orderBy(col("lex").desc, col("id"))
    cand
      .join(hsM.select(col("doc_id").as("qid"), col("hs").as("qhs")), "qid")
      .join(hsM.select(col("doc_id").as("id"), col("hs").as("dhs")), "id")
      .select(col("qid"), col("id"),
        graft.dedup.Dedup.jaccardSorted(col("qhs"), col("dhs")).as("lex"))
      .withColumn("lrk", row_number().over(wL))
      .filter(col("lrk") <= K)
      .select(col("qid"), col("id"), col("lrk"))
  }

  /** The serve plan over the persisted index tables, un-checkpointed —
    * AnnPlanShapeSpec pins the bucketed store scans through this
    * (builds the store on first call). */
  private[graft] def hybridLexicalStoredServe(s: SparkSession, d: String)
      : DataFrame = {
    val (ht, pt) = hybridLexStore(s, d)
    hybridLexServe(s.table(ht), s.table(pt))
  }

  /** Build (once per context + dir) the lexical leg's two persisted
    * index tables and return their names: the per-doc shingle table
    * (doc_id, hs) bucketed on doc_id — the scoring back-joins' key —
    * and the df-capped rare-shingle postings (g, doc_id) bucketed on g
    * — the candidate self-join's key, so the store sides of all three
    * serve joins arrive pre-partitioned and never exchange. The corpus
    * is shingled ONCE: the postings derive from the written shingle
    * table, not a second corpus pass. */
  private def hybridLexStore(s: SparkSession, d: String): (String, String) = {
    val ht = graft.plans.Lineage.store(s, d, "graft_lex_shingles_") { tbl =>
      hybridLexShingles(s, d).write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(tbl)
    }
    val pt = graft.plans.Lineage.store(s, d, "graft_lex_posts_") { tbl =>
      hybridLexPostings(s.table(ht)).write.bucketBy(8, "g").sortBy("g")
        .mode("overwrite").saveAsTable(tbl)
    }
    (ht, pt)
  }

  private def hybridLexShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"),
        call_function("word_shingle_hashes", col("toks"), lit(3)).as("hs"))

  private def hybridLexPostings(hs: DataFrame): DataFrame = {
    val ex = hs.select(col("doc_id"), explode(col("hs")).as("g"))
    val rare = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, HybridMaxDf)).select("g")
    ex.join(rare, "g")
  }

  /** q_ann_hybrid's LEXICAL leg: word-3-gram shingle Jaccard top-K per
    * query over rare-shingle inverted-index candidates — the dedup
    * sketch machinery re-aimed at retrieval. The INDEX ARTIFACTS — the
    * per-doc shingle table (doc_id, hs) and the rare-shingle postings
    * (g, doc_id) — are PERSISTED BUCKETED TABLES built once per
    * (context, dir) ([[hybridLexStore]]; round 21, VERDICT r20 items
    * 2-3: the round-20 `Lineage.memo` form pinned two CORPUS-SIZED
    * frames in the block store permanently with no size gate — an
    * inverted index is a stored artifact and belongs in the same
    * on-disk machinery as [[annStore]]/the signature store, where its
    * memory footprint is zero, the build is a once-per-corpus
    * lifecycle event, and the serve joins read bucket-co-located
    * scans). The SERVE — candidates, the Jaccard scoring joins, the
    * per-query top-K — stays live per call; the K-row-per-query result
    * is checkpointed, then dropped. `materialize = false` returns the
    * un-stored lazy leg plan for shape inspection only
    * (AnnPlanShapeSpec). */
  private[graft] def hybridLexical(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    if (!materialize) {
      val hs = hybridLexShingles(s, d)
      hybridLexServe(hs, hybridLexPostings(hs))
    }
    else graft.plans.Lineage.scratchCheckpoint(hybridLexicalStoredServe(s, d))
  }
  private val Planes = 6
  // LSH: number of independent hash tables. One 6-plane table with
  // Hamming-1 multiprobe measured recall@5 = 0.28 on sf0.01 (exactly
  // the theory value for near-orthogonal vectors: P(≤1 of 6 sign bits
  // differs) ≈ 0.27 at the corpus' ~68° neighbor angles). Two
  // independent tables with Hamming-2 multiprobe measure 0.92 — the
  // standard LSH-forest trade: more tables buy independent chances.
  private val LshTables = 2

  /** Hamming ≤ 2 probe masks over [[Planes]] sign bits: the query's own
    * bucket, the 6 single-bit flips, and the 15 double-bit flips — 22
    * enumerated XOR masks, so candidate generation stays an equi-join.
    * Single source of truth for the Spark plan AND the DuckDB oracle
    * (inlined into the SQL string below). */
  private[graft] val LshProbeMasks: Seq[Long] =
    Seq(0L) ++
      (0 until Planes).map(a => 1L << a) ++
      (for (a <- 0 until Planes; b <- a + 1 until Planes)
        yield (1L << a) | (1L << b))

  // Product quantization: 64 dims = M subspaces × S dims; ≤ 16
  // centroids per subspace. M=16 (4-dim subspaces) rather than 8:
  // with 8-dim subspaces the 16-centroid quantization error swamped
  // the tiny cosine gaps of this corpus and ADC ranking was noise
  // (recall 0.08); 4-dim subspaces halve the per-subspace distortion
  // (ADC-only recall 0.28, shortlist-T containment ≈ 1).
  private val M = 16
  private val S = 4

  /** PQ refine shortlist size: the ADC scan keeps the T best codes per
    * query and only those T rows are re-ranked against raw vectors —
    * fixed per-query raw-vector bandwidth at any corpus scale
    * (FAISS `IndexRefineFlat`). recall@5 = P(true top-5 ⊆ ADC top-T);
    * measured 1.0 at T=100 on sf0.01. */
  private val RerankT = 100

  /** Production PQ codebook seed rule: 16 deterministic corpus vectors
    * (% 30 == 15, id < 480 — present from sf0.01 up). PqSpec passes its
    * own rule to keep closed-form fixtures valid independent of this
    * choice. */
  private val PqSeedRule: Column =
    col("vec_id") % 30 === 15 && col("vec_id") < 480

  /** M × |cs| subspace-distance table: dtab[j][c] = ‖x[j·S+1 … (j+1)·S]
    * − cs[c][same slice]‖² — index-order fold, every element cast to
    * DOUBLE before arithmetic so Spark and DuckDB compute bit-equal
    * values from the float inputs. `x` is a 64-dim array column name,
    * `cs` an array<array<float>> (|cs| × 64) column name; the centroid
    * range is size(cs)-driven, NOT a constant — ANSI element_at throws
    * on out-of-bounds where DuckDB list indexing yields silent NULLs,
    * so a hardcoded count would error on one engine and quietly skip
    * centroids on the other. An EMPTY codebook yields NULL (not an
    * ANSI error): sequence(0, size(cs)-1) would otherwise produce the
    * descending [0,-1] and element_at(cs, 0) throws — the degenerate
    * input must stay total (SURVEY §8). */
  private def dtabExpr(x: String, cs: String): String = {
    def el(arr: String, idx: String) =
      s"cast(element_at($arr, $idx) as double)"
    val diff = s"(${el(x, s"j * $S + i")} - " +
      s"${el(s"element_at($cs, c + 1)", s"j * $S + i")})"
    s"IF(size($cs) = 0, NULL, transform(sequence(0, ${M - 1}), j -> " +
      s"transform(sequence(0, size($cs) - 1), c -> " +
      s"aggregate(sequence(1, $S), 0D, (acc, i) -> acc + $diff * $diff))))"
  }

  /** Tombstoned ids for q_ann_delete: a fixed 10% slice, disjoint by
    * construction from the query set (% 100 = 0), the IVF seed rule
    * (% 100 = 50) and the PQ seed rule (% 30 = 15 — those ids end in
    * 5), so deletion never destabilizes the frozen quantizers or
    * removes a query. */
  private[graft] val AnnDeleteRule: Column = col("vec_id") % 10 === 3

  /** The serve-after-delete oracle, shared VERBATIM by q_ann_delete
    * (tombstone filter inside the pruned scan) and q_ann_compact
    * (store physically rewritten without the tombstoned rows): the two
    * engine paths answering one SQL IS the compaction correctness law
    * — under frozen quantizers, compaction must be observationally
    * equal to filtering. */
  private def annDeleteServeSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                   FROM embeddings),
        qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
               WHERE vec_id % 100 = 0),
        ${ivfpqChainCtes("", standing = false,
          candWhere = " AND enc.vec_id % 10 <> 3")}
        SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
        ORDER BY qid, rank"""

  /** The query-sample membership rule — every 100th vector. ONE
    * definition (ADVICE r17): every consumer that needs the query set
    * in a shape [[queryVecs]] doesn't provide (the stored-search
    * attribute lookup, the recall denominator, the LSH probe set)
    * filters on THIS predicate, so a change to the sample rule can
    * never silently diverge the filtered/recall gates from the probe
    * set. */
  private[graft] def isQueryVec: Column = col("vec_id") % 100 === 0

  /** Query-vector set: the [[isQueryVec]] sample as (qid, qv). */
  private def queryVecs(e: DataFrame): DataFrame =
    e.filter(isQueryVec)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** cosine(qv, embedding) via the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]) — same sequential fold as
    * the oracle's list_sum replication, but a fused primitive loop
    * instead of interpreted higher-order lambdas. */
  private def cos: org.apache.spark.sql.Column =
    call_function("cosine_sim", col("qv"), col("embedding"))

  /** IVF coarse centroid set: a FIXED bounded id rule, so the broadcast
    * is constant-size at any corpus scale. Shared by q_ann_ivf and
    * q_ann_ivfpq. */
  private def ivfCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 50 && col("vec_id") < 1600)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** argmax cell assignment: corpus × (≤16 broadcast centroids)
    * map-side, then a partial-agg argmax — max(struct(cos, cid)) picks
    * the highest cosine, ties to the highest cid, matching the
    * oracle's ORDER BY ccos DESC, cid DESC. One corpus shuffle. */
  private def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    def ccos = call_function("cosine_sim", col("cv"), col("embedding"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), ccos.as("ccos"), col("cid"))
      .groupBy("vec_id").agg(max(struct(col("ccos"), col("cid"))).as("b"))
      .select(col("vec_id"), col("b.cid").as("cell"))
  }

  /** nprobe nearest cells per query (tiny: queries × ≤16 centroids,
    * window over ≤16 rows) → (qid, qv, pcell). */
  private def ivfProbes(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("pcell").desc)
    queryVecs(e)
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("cid").as("pcell"),
        call_function("cosine_sim", col("cv"), col("qv")).as("pcos"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("pcell"))
  }

  /** Per-query ADC lookup tables (qid, qtab) — M × ≤16 doubles per
    * query, broadcast; empty codebooks filtered (totality). `cbFrom`
    * lets the codebook train on a different frame than the query set
    * (the maintenance gate's standing-trained quantizers). */
  private def pqQueryTabs(e: DataFrame,
      seedRule: Column = PqSeedRule,
      cbFrom: Option[DataFrame] = None): DataFrame =
    e.filter(isQueryVec)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(broadcast(centroids(cbFrom.getOrElse(e), seedRule)))
      .select(col("qid"), expr(dtabExpr("qv", "cs")).as("qtab"))
      .filter(col("qtab").isNotNull)

  // ---- deterministic distributed k-means (q_embed_kmeans) ----

  /** Cluster count for the GATE path only: the DuckDB oracle unrolls
    * the recurrence with K inlined, so the gate pins K = 8. Deployments
    * must NOT freeze K — choose it per corpus via [[semanticK]]
    * (K ≈ n/target keeps per-cluster pair counts bounded as the corpus
    * grows; VERDICT r12's one `weak`). [[kmClusters]] takes K as a
    * parameter for exactly that reason. */
  private[graft] val KmK = 8
  private val KmIters = 2

  /** Deployment K rule (SemDeDup, Abbas et al. 2023): K scales with the
    * corpus so mean cluster size stays ≈ `targetClusterSize` and the
    * within-cluster pair join stays ~n·target instead of ~n²/K. The
    * paper's working point is target ≈ 1000 docs/cluster; the spec uses
    * a smaller target to exercise the scaling at test corpus sizes. */
  private[graft] def semanticK(n: Long, targetClusterSize: Long = 1000L): Int =
    math.max(1L, math.min(n, (n + targetClusterSize - 1) / targetClusterSize))
      .toInt

  /** Fixed-point scale for centroid accumulation: 2²⁰. Component sums
    * run on `floor(x · 2²⁰)` LONGS, so the partial-agg'd sum is exact
    * and order-independent — a float sum over shuffle-ordered rows
    * would make the centroids (and every downstream assignment)
    * nondeterministic. x·2²⁰ is exact for binary floats and floor
    * rounds toward −∞ on both engines, so the quantized values are
    * bit-identical cross-engine by construction. */
  private val KmQ = "1048576.0"

  /** Σ_{i=1..64} (x_i − c_i)² in index order — the dtabExpr contract:
    * every element cast to DOUBLE before arithmetic, IEEE +,·,− only,
    * bit-equal to the oracle's in-order list_sum. `cc` is a
    * struct<cluster, carr:array<double>> lambda variable. */
  private def kmDistExpr(cc: String): String = {
    val diff = s"(cast(element_at(embedding, i) as double) - " +
      s"element_at($cc.carr, i))"
    s"aggregate(sequence(1, 64), 0D, (acc, i) -> acc + $diff * $diff)"
  }

  /** Shuffle-FREE assignment: centroids travel as one broadcast row
    * holding array<struct<cluster, carr>>, and `array_min` over
    * transform(cs, cc -> (dist, cluster)) is the argmin — struct
    * ordering compares dist first, then cluster, which is exactly the
    * oracle's ORDER BY dist ASC, cluster ASC tie rule. No groupBy, no
    * corpus shuffle — the corpus is touched by one narrow projection
    * per assignment. */
  private[graft] def kmAssign(e: DataFrame, centsRow: DataFrame): DataFrame =
    e.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        expr("array_min(transform(cs, cc -> " +
          s"named_struct('d', ${kmDistExpr("cc")}, 'c', cc.cluster)))" +
          ".c").as("cluster"))

  /** Lloyd update as ONE tiny shuffle: posexplode to (cluster, pos,
    * fixed-point component), partial-agg'd integer sums — ≤ K·64 rows
    * per partition cross the wire regardless of corpus size — then the
    * ≤K-row centroid table is re-packed and collapsed to a single
    * broadcastable row. An emptied cluster simply drops out (same on
    * the oracle side). */
  private[graft] def kmUpdate(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign, Seq("vec_id"))
      .select(col("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cluster"), col("pos"),
        floor(col("v").cast("double") * expr(KmQ)).cast("long").as("fix"))
      .groupBy("cluster", "pos")
      .agg(sum("fix").as("sfix"), count(lit(1)).as("n"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("pos"),
        (col("sfix").cast("double") / expr(KmQ) / col("n")).as("m"))))
        .as("pm"))
      .select(col("cluster"), expr("transform(pm, x -> x.m)").as("carr"))
      .agg(sort_array(collect_list(struct(col("cluster"), col("carr"))))
        .as("cs"))

  /** Within-cluster near-dup cosine threshold (q_dedup_semantic) —
    * same 0.4 as the label-blocked q_dedup_embedding, non-vacuous at
    * every SF (20 pairs at sf0.001, 27 at sf0.01). */
  private val SemTau = 0.4

  /** The trained centroid row (1 row, array<struct<cluster, carr>>):
    * KmIters Lloyd updates from the deterministic init (the `k`
    * smallest vec_ids' vectors), checkpointed between iterations so
    * plans never nest. */
  private[graft] def kmTrainedCents(emb: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val c0 = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, v -> cast(v as double))").as("carr"))
      .agg(sort_array(collect_list(struct(col("cluster"), col("carr"))))
        .as("cs"))
    var cents = graft.plans.Lineage.scratchCheckpoint(c0)
    for (_ <- 1 to KmIters)
      cents = graft.plans.Lineage.scratchCheckpoint(
        kmUpdate(e, kmAssign(e, cents)))
    cents
  }

  /** The full trained assignment (vec_id, cluster). `k` is the
    * caller's knob — the gate pins [[KmK]] (the oracle's unrolled K),
    * a deployment picks [[semanticK]](n). */
  private[graft] def kmClusters(emb: DataFrame, k: Int = KmK): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    kmAssign(e, kmTrainedCents(emb, k))
  }

  /** Top-2 cluster assignment — the multiprobe query side of the kNN
    * graph ([[knnTop]]): each vector's two nearest centroids by the
    * same (dist, cluster) struct order the argmin uses, so row 1 is
    * exactly [[kmAssign]]'s cluster. Still shuffle-free (broadcast
    * centroid row, narrow slice of the sorted distance list). */
  private[graft] def kmAssignTop2(e: DataFrame,
      centsRow: DataFrame): DataFrame =
    e.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        expr("slice(array_sort(transform(cs, cc -> " +
          s"named_struct('d', ${kmDistExpr("cc")}, 'c', cc.cluster))), " +
          "1, 2)").as("top2"))
      .select(col("vec_id"),
        explode(expr("transform(top2, x -> x.c)")).as("cluster"))

  /** Memoized model artifacts per (session, dir, k, kind) — the
    * k-means model is a build-once artifact like the PQ index
    * ([[pqIndex]]): q_embed_kmeans, q_dedup_semantic,
    * q_dedup_semantic_cluster and the kNN-graph family all consume ONE
    * training run instead of re-running the Lloyd loop per query
    * (ADVICE r12). The tiny result tables persist; the final centroid
    * checkpoint they read through is pinned so harness scratch-freeing
    * can't poison a re-read after eviction ([[graft.plans.Lineage.memo]]). */
  private def kmMemo(s: SparkSession, d: String, k: Int, kind: String)(
      build: => DataFrame): DataFrame =
    graft.plans.Lineage.memo("km", s, (d, k, kind))(build)

  /** Memoized trained centroid row. */
  private def kmCents(s: SparkSession, d: String,
      k: Int = KmK): DataFrame =
    kmMemo(s, d, k, "cents")(kmTrainedCents(Tables.embeddings(s, d), k))

  /** Memoized argmin assignment (vec_id, cluster). */
  private[graft] def kmAssignments(s: SparkSession, d: String,
      k: Int = KmK): DataFrame =
    kmMemo(s, d, k, "assign")(kmAssign(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      kmCents(s, d, k)))

  /** Memoized top-2 multiprobe assignment (vec_id, cluster — ≤ 2 rows
    * per vector), sharing the same trained centroid row. */
  private[graft] def kmAssignments2(s: SparkSession, d: String,
      k: Int = KmK): DataFrame =
    kmMemo(s, d, k, "assign2")(kmAssignTop2(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      kmCents(s, d, k)))

  /** Within-cluster near-dup pairs (a < b, cosine ≥ tau) under a given
    * cluster assignment — the SemDeDup candidate join: a cluster
    * equi-join, never corpus². Shared by q_dedup_semantic (pair gate)
    * and q_dedup_semantic_cluster (canonicalization); the spec drives
    * it with [[semanticK]]-scaled assignments to pin the bounded-pairs
    * property. Unordered — callers add their presentation sort. */
  private[graft] def semanticPairs(emb: DataFrame, assign: DataFrame,
      tau: Double = SemTau): DataFrame = {
    val ec = emb.select(col("vec_id"), col("embedding"))
      .join(assign, Seq("vec_id"))
    ec.as("x").join(ec.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        call_function("cosine_sim",
          col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= tau)
  }

  // ---- greedy farthest-point (Gonzalez) k-center seeding ----

  /** Center count for the GATE path only — the oracle unrolls the
    * greedy recurrence with KcK inlined. Deployments choose k per
    * corpus (k-means++-style seeding wants k = the cluster count,
    * [[semanticK]]). */
  private[graft] val KcK = 4

  /** k within-cluster nearest neighbors kept per vector
    * (q_embed_knn). */
  private val KnnK = 3

  /** Bitext-mining knobs (q_embed_bitext): the margin denominator's
    * neighborhood size (Artetxe & Schwenk'19 use k=4) and the ratio
    * threshold a mutual-best pair must clear to be mined. Shared
    * engine/oracle. */
  private val BtK = 4
  private val BtThreshold = 1.05

  /** Σ_{i=1..64} (x_i − c_i)² in index order between embedding column
    * `x` and a plain array<double> column `c` — the [[kmDistExpr]]
    * fold with the center read from a column instead of a lambda
    * struct (same bit-equal-to-list_sum contract). */
  private def d2Expr(x: String, c: String): String = {
    val diff = s"(cast(element_at($x, i) as double) - element_at($c, i))"
    s"aggregate(sequence(1, 64), 0D, (acc, i) -> acc + $diff * $diff)"
  }

  /** Greedy farthest-point traversal (Gonzalez'85 k-center, the
    * deterministic alternative to k-means++ sampling): c₁ = the
    * MIN(vec_id) vector; cₜ = the vector maximizing the distance to
    * the chosen set (ties to the smallest vec_id). Returns every
    * vector's assignment to its nearest chosen center.
    *
    * Scale design: the running min-distance-to-chosen-set column is
    * updated INCREMENTALLY — one narrow broadcast pass per round
    * (`least(m, d²(x, new center))`), so the whole seeding is k narrow
    * passes + k 1-row partial-agg argmaxes, never a k×corpus shuffle;
    * the corpus never shuffles at all (the argmax is
    * `min(struct(-m, vec_id, emb))`, a partial agg carrying the winning
    * vector's payload — ≤ 1 row per partition crosses the wire). Float
    * determinism: distances are the index-order IEEE fold on doubles
    * (bit-equal cross-engine by the kmeans contract), the argmax
    * tie-breaks on vec_id, and `least` mirrors the oracle's LEAST. */
  private[graft] def kcenterAssign(emb: DataFrame, k: Int = KcK): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val c1 = graft.plans.Lineage.scratchCheckpoint(
      e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"),
          expr("transform(embedding, v -> cast(v as double))").as("carr")))
    var cents = c1
    var mind = e.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("embedding"),
        expr(d2Expr("embedding", "carr")).as("m"))
    val lazyMinds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 2 to k) {
      val next = graft.plans.Lineage.scratchCheckpoint(
        mind.agg(min(struct((-col("m")).as("nm"), col("vec_id").as("v"),
            col("embedding").as("emb"))).as("b"))
          .select(col("b.v").as("cid"),
            expr("transform(b.emb, v -> cast(v as double))").as("carr")))
      cents = cents.unionAll(next)
      if (t < k) {
        mind = mind.crossJoin(broadcast(next))
          .select(col("vec_id"), col("embedding"),
            least(col("m"), expr(d2Expr("embedding", "carr"))).as("m"))
          .localCheckpoint(eager = false)
        lazyMinds += mind
      }
    }
    // every lazy mind checkpoint was materialized by a later argmax;
    // the final assignment below depends only on the (eager) centers
    lazyMinds.foreach(graft.plans.Lineage.freeLocalCheckpoint)
    val centsRow = cents
      .agg(sort_array(collect_list(struct(col("cid"), col("carr"))))
        .as("cs"))
    e.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        expr("array_min(transform(cs, cc -> " +
          s"named_struct('d', ${d2Expr("embedding", "cc.carr")}, " +
          "'c', cc.cid)))").as("b"))
      .select(col("vec_id"), col("b.c").as("center"), col("b.d").as("d2"))
  }

  /** The blocked kNN graph (q_embed_knn's engine body, shared with
    * q_embed_label_clean and q_embed_smooth): each vector's KnnK
    * nearest neighbors by cosine, searched inside the vector's TOP-2
    * clusters (query-side multiprobe — the IVF nprobe idea applied to
    * graph construction; the corpus side stays in its single argmin
    * cell, so a candidate pair is found at most once and candidates
    * stay a cluster equi-join of ≤ 2× cell occupancy). Single-probe
    * measured recall@3 = 0.31 vs global brute force on the
    * near-orthogonal sf0.001 corpus; the second probe lifts it to the
    * KnnRecallSpec floor. DataFrame["vec_id","nb","cos","rank"],
    * unordered. */
  private def knnTop(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb"))
    knnPairs(s, d, Nil)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
  }

  /** The unranked multiprobe×single-cell candidate pair join under
    * [[knnTop]] and q_embed_hardneg — the one definition of the kNN
    * family's blocking, gated against the single oracle pair CTE `p`.
    * Each `carry` column from the corpus frame is projected from both
    * sides as `carry` (anchor) and `nb_carry` (candidate).
    * DataFrame["vec_id","nb","cos"] ++ carries, unordered/unranked. */
  private def knnPairs(s: SparkSession, d: String,
                       carry: Seq[String]): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(("vec_id" +: "embedding" +: carry).map(col): _*)
    val q = emb.join(kmAssignments2(s, d), Seq("vec_id"))
    val c = emb.join(kmAssignments(s, d), Seq("vec_id"))
    q.as("x").join(c.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id") +:
        col("y.vec_id").as("nb") +:
        call_function("cosine_sim",
          col("x.embedding"), col("y.embedding")).as("cos") +:
        carry.flatMap(cn => Seq(col(s"x.$cn").as(cn),
          col(s"y.$cn").as(s"nb_$cn"))): _*)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk'19, the
    * LASER/CCMatrix pair-mining criterion) over the blocked cross-side
    * candidate pairs — q_embed_bitext's engine body, exposed for
    * BitextSpec. The corpus parity split (even vec_id = "source" side,
    * odd = "target") stands in for the two languages' encodings in a
    * shared space; a deployment feeds two real encoder outputs.
    *
    *   margin(x, y) = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2)
    *
    * where avgₖ(v) is the mean cosine of v's BtK nearest CROSS-SIDE
    * candidates (the ratio margin — penalizes hubs whose neighborhoods
    * are dense everywhere). Mined pairs are MUTUAL margin-argmaxes
    * (forward best of x is y AND backward best of y is x) above
    * [[BtThreshold]].
    *
    * Scale shape: candidates ride [[knnPairs]]' memoized k-means
    * blocking (cluster equi-join — never corpus²); the candidate frame
    * is checkpointed once for its two consumers (neighborhood stats +
    * margin scoring); the stats frame is 16 B/vector and joins back on
    * the pair endpoints (corpus-sized equi-joins, not broadcasts); the
    * per-side argmaxes are windows bounded by cluster occupancy.
    * Float contract: avgₖ folds in rank order over the sorted top-k
    * list (the logprob discipline; DuckDB twin is
    * list_sum(list(… ORDER BY rk))/n), the margin is the same
    * division tree both engines, thresholding compares RAW doubles,
    * and the mined margin presents on the 1e-6 floor grid (the
    * HllShared/quantize convention). */
  private[graft] def bitextMined(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    // materialize=false leaves the multi-consumer frames unmaterialized
    // so BitextPlanSpec can pin the WHOLE shape (the hybridLexical
    // pattern); the gate path checkpoints them (each has 2 consumers)
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) graft.plans.Lineage.scratchCheckpoint(df) else df
    val cross = ckpt(
      knnPairs(s, d, Nil)
        .filter(pmod(col("vec_id"), lit(2)) =!= pmod(col("nb"), lit(2))))
    val wN = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb"))
    val stats = ckpt(
      cross.withColumn("rk", row_number().over(wN))
        .filter(col("rk") <= BtK)
        .groupBy("vec_id")
        .agg(count(lit(1)).as("nn"),
          sort_array(collect_list(struct(col("rk"), col("cos")))).as("cs"))
        .select(col("vec_id"),
          (expr("aggregate(cs, cast(0.0 as double), (acc, x) -> acc + x.cos)")
            / col("nn")).as("avgk")))
    val scored = cross
      .join(stats.select(col("vec_id"), col("avgk").as("ax")), Seq("vec_id"))
      .join(stats.select(col("vec_id").as("nb"), col("avgk").as("ay")),
        Seq("nb"))
      .filter(col("ax") + col("ay") =!= lit(0.0))
      .select(col("vec_id"), col("nb"),
        (col("cos") / ((col("ax") + col("ay")) / lit(2.0))).as("margin"))
    val wB = Window.partitionBy(col("vec_id"))
      .orderBy(col("margin").desc, col("nb"))
    val best = ckpt(
      scored.withColumn("brk", row_number().over(wB))
        .filter(col("brk") === 1))
    val fwd = best.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("src_id"), col("nb").as("tgt_id"),
        col("margin"))
    val bwd = best.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("nb").as("src_id"), col("vec_id").as("tgt_id"))
    fwd.join(bwd, Seq("src_id", "tgt_id"))
      .filter(col("margin") > lit(BtThreshold))
      .select(col("src_id"), col("tgt_id"),
        (floor(col("margin") * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
          .as("margin"))
      .orderBy(col("src_id"))
  }

  /** floor(x·2²⁰) fixed-point centroids per key set — ONE definition
    * of the posexplode → long-quantize → (keys, pos) partial agg →
    * floor(Σ/n) pos-ordered collect pipeline that q_embed_domain
    * (keys = label) and q_embed_drift (keys = label, slice) share (the
    * HllShared lesson: textual copies of a precision-sensitive
    * pipeline drift). `emb` must carry the key columns + `embedding`;
    * returns keys ++ (n, carr). */
  private def fixedCentroids(emb: DataFrame, keys: Seq[String]): DataFrame =
    emb
      .select(keys.map(col) :+
        posexplode(col("embedding")).as(Seq("pos", "v")): _*)
      .select(keys.map(col) :+ col("pos") :+
        floor(col("v").cast("double") * expr(KmQ)).cast("long").as("fix"): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum("fix").as("sfix"), count(lit(1)).as("cnt"))
      .groupBy(keys.map(col): _*)
      .agg(max("cnt").as("n"),
        sort_array(collect_list(struct(col("pos"),
          floor(col("sfix").cast("double") / col("cnt")).cast("long")
            .as("c")))).as("pc"))
      .select(keys.map(col) :+ col("n") :+
        expr("transform(pc, x -> x.c)").as("carr"): _*)

  /** PCA gate (q_embed_pca): fixed-point scale (2²⁰ — the
    * q_embed_smooth contract), power-iteration count, and the per-step
    * eigenvector snap grid (1e-9 — absorbs any residual cross-engine
    * fold ulp before it can compound across iterations, the
    * ppl_bucket/quality_cut pattern). Shared engine/oracle. */
  private val PcaF = 1048576L
  private val PcaIters = 24
  private val PcaDim = 64

  /** Exact integer moment accumulator for the PCA Gram pass: local
    * Long partials for Σxᵢ and Σxᵢxⱼ, flushed into BigInt every 2²⁰
    * rows (fixed-point values < 2²¹ ⇒ products < 2⁴², so 2²⁰ Long adds
    * stay below 2⁶² — no overflow before a flush), merged as BigInt.
    * Integer addition in any order — bit-exact regardless of
    * partitioning. */
  private final class PcaMoments(dd: Int) extends Serializable {
    private val sL = new Array[Long](dd)
    private val pL = new Array[Long](dd * dd)
    private var pend = 0
    val sB: Array[BigInt] = Array.fill(dd)(BigInt(0))
    val pB: Array[BigInt] = Array.fill(dd * dd)(BigInt(0))
    def add(xf: Array[Long]): Unit = {
      var i = 0
      while (i < dd) {
        val xi = xf(i); sL(i) = Math.addExact(sL(i), xi)
        val off = i * dd; var j = 0
        while (j < dd) {
          // intrinsified checked ops: the flush bound covers any sane
          // fixed-point range, and pathological inputs fail LOUDLY
          // instead of silently corrupting a moment
          pL(off + j) = Math.addExact(pL(off + j),
            Math.multiplyExact(xi, xf(j)))
          j += 1
        }
        i += 1
      }
      pend += 1
      if (pend >= (1 << 20)) flush()
    }
    def flush(): Unit = {
      var k = 0
      while (k < dd) { sB(k) += sL(k); sL(k) = 0L; k += 1 }
      k = 0
      while (k < dd * dd) { pB(k) += pL(k); pL(k) = 0L; k += 1 }
      pend = 0
    }
    def merge(o: PcaMoments): PcaMoments = {
      flush(); o.flush()
      var k = 0
      while (k < dd) { sB(k) += o.sB(k); k += 1 }
      k = 0
      while (k < dd * dd) { pB(k) += o.pB(k); k += 1 }
      this
    }
  }

  /** The shared PCA front half: checkpointed fixed-point frame `e`
    * (vec_id, xf), covariance and mean from the exact integer moments.
    * Moments via ONE treeAggregate of the fixed d+d² [[PcaMoments]]
    * accumulator (the df.stat.bloomFilter shape): each partition folds
    * its rows into local checked-Long arrays (flush to BigInt every
    * 2²⁰ rows — products < 2⁴², so partials provably cannot overflow
    * between flushes), partials merge as BigInt — order-free integer
    * addition, bit-exact like the explode+decimal-agg form it
    * replaced, but the corpus never explodes d² rows per vector onto
    * the wire (that form shuffled n·4096 rows).
    *
    * q_embed_pca and q_embed_pca2 share ONE moment pass and one
    * checkpointed frame (the kmeans-model pattern); the checkpoint is
    * pinned so harness scratch-freeing between queries cannot poison
    * the second consumer's re-read. */
  private def pcaSetup(s: SparkSession, d: String)
      : (DataFrame, Array[Array[Double]], Array[Double]) =
    graft.plans.Lineage.perSession("pcaSetup", s, d) {
      val r = pcaSetupBuild(s, d)
      graft.plans.Lineage.pin(r._1)
      r
    }

  private def pcaSetupBuild(s: SparkSession, d: String)
      : (DataFrame, Array[Array[Double]], Array[Double]) = {
    val (dd, f) = (PcaDim, PcaF)
    val emb = Tables.embeddings(s, d)
    val n = emb.count()
    val e = graft.plans.Lineage.scratchCheckpoint(
      emb.select(col("vec_id"), expr(
        s"transform(embedding, x -> cast(floor(cast(x as double) * $f) " +
          "as long))").as("xf")))
    import s.implicits._
    val mom = e.select(col("xf")).as[Array[Long]].rdd
      .treeAggregate(new PcaMoments(dd))(
        (m, xf) => { m.add(xf); m }, (a, b) => a.merge(b))
    mom.flush()
    val sArr = mom.sB
    val pArr = Array.tabulate(dd, dd)((i, j) => mom.pB(i * dd + j))
    val nD = n.toDouble
    val fD = f.toDouble
    val cov = Array.tabulate(dd, dd)((i, j) =>
      (BigInt(n) * pArr(i)(j) - sArr(i) * sArr(j)).toDouble /
        nD / nD / fD / fD)
    val mu = Array.tabulate(dd)(i => sArr(i).toDouble / nD / fD)
    (e, cov, mu)
  }

  /** PcaIters snapped power iterations (index-ordered folds, 1e-9
    * per-step snap, sign canonicalized on the snapped first
    * component) — the exact recurrence the oracle unrolls. */
  private def pcaPower(cov: Array[Array[Double]]): Array[Double] = {
    val dd = PcaDim
    var v = Array.tabulate(dd)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to PcaIters) {
      val raw = Array.tabulate(dd) { i =>
        var acc = 0.0; var j = 0
        while (j < dd) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      var sq = 0.0; var i = 0
      while (i < dd) { sq += raw(i) * raw(i); i += 1 }
      val nrm = math.sqrt(sq)
      v = raw.map(x => math.floor(x / nrm * 1.0e9 + 0.5) / 1.0e9)
    }
    if (v(0) < 0) v.map(x => -x) else v
  }

  /** The centered index-ordered projection fold onto the literal
    * vector column `vcol`, presented on the 1e-6 grid. Expects `xf`
    * and `muv` columns in scope. */
  private def pcaProject(vcol: String): Column =
    floor(expr(
      s"aggregate(sequence(1, $PcaDim), cast(0.0 as double), " +
        s"(acc, i) -> acc + (cast(element_at(xf, i) as double) / " +
        s"${PcaF.toDouble} - element_at(muv, i)) * element_at($vcol, i))")
      * lit(1.0e6) + lit(0.5)) / lit(1.0e6)

  /** JL gate (q_embed_jl): target dimension — a power of two so the
    * 1/√k scale is exact. Shared engine/oracle. */
  private val JlK = 16

  /** The JL sign for matrix entry (i, j) — the md5("i,j") first-nibble
    * parity, the exact rule the oracle states in SQL (true → +1). */
  private def jlSign(i: Int, j: Int): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i,$j".getBytes("UTF-8"))
    ((h(0) >> 4) & 0xf) % 2 == 1
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PCA top-component projection — the whitening/rotation pre-step of
    // the OPQ/ITQ embedding-index family (Gong'11, Ge'13) and the
    // classic corpus-drift diagnostic: project every vector onto the
    // leading eigenvector of the corpus covariance. Scale design:
    //   - moments in ONE pass: the d + d² fixed-point sums accumulate
    //     in a treeAggregate of the FIXED-SIZE [[PcaMoments]] state
    //     (Long partials flushed to BigInt — exact integer, order-free)
    //     — the Gram-matrix accumulation; only d + d² integers per
    //     partition ever cross the wire, at ANY corpus size (the
    //     earlier explode form shuffled n·d² rows);
    //   - the eigensolve runs DRIVER-SIDE on the collected d×d integer
    //     moment matrix (a fixed-size aggregate, the N-count contract —
    //     the corpus is NOT involved); PcaIters (24) power iterations;
    //   - the projection is one NARROW broadcast pass (eigenvector +
    //     mean ride as 64-double literals).
    // Float contract: covariance doubles derive from IDENTICAL exact
    // integers via one fixed expression tree (n·P − S·S, then the same
    // division chain). The raw moments P, S and the per-cell difference
    // n·P − S·S DO exceed 2⁵³ as the corpus grows (n·P ~ n²·2⁴⁰), so
    // the int→double cast is NOT exact there; cross-engine equality
    // instead rests on both casts being CORRECTLY ROUNDED — Scala
    // BigInt.toDouble (java.math.BigInteger.doubleValue, correctly
    // rounded since JDK 8, pinned above 2⁵³ by PcaMomentSpec) and
    // DuckDB HUGEINT→DOUBLE (verified empirically by this gate at
    // every SF). Same exact integers + correctly rounded casts ⇒ the
    // same double on both engines; iteration folds run in index order
    // on both engines and every normalized component snaps to the 1e-9
    // grid per step; sign canonicalized on the snapped first component;
    // projection folds index-ordered, presented on the 1e-6 grid.
    "q_embed_pca" -> ((s, d) => {
      val (e, cov, mu) = pcaSetup(s, d)
      val v = pcaPower(cov)
      e.withColumn("muv", typedLit(mu.toSeq))
        .withColumn("vv", typedLit(v.toSeq))
        .select(col("vec_id"), pcaProject("vv").as("pc1"))
        .orderBy(col("vec_id"))
    }),

    // Top-TWO principal components via Hotelling deflation — the step
    // that turns the pc1 diagnostic into a usable rotation (OPQ/ITQ
    // want a basis, not one axis): λ₁ = v₁ᵀCv₁ from the SNAPPED v₁
    // (both bit-identical cross-engine already), C₂ = C − λ₁·v₁v₁ᵀ as
    // one fixed per-entry expression, then the SAME snapped power
    // chain on C₂ — every new quantity derives from bit-identical
    // inputs via index-ordered folds, so the whole second chain stays
    // bit-exact without any new rounding idea. Same scale shape as
    // q_embed_pca: one treeAggregate moment pass, driver-side d×d
    // algebra, one narrow broadcast projection (two literal vectors).
    "q_embed_pca2" -> ((s, d) => {
      val dd = PcaDim
      val (e, cov, mu) = pcaSetup(s, d)
      val v1 = pcaPower(cov)
      val cv = Array.tabulate(dd) { i =>
        var acc = 0.0; var j = 0
        while (j < dd) { acc += cov(i)(j) * v1(j); j += 1 }
        acc
      }
      var lam = 0.0
      var li = 0
      while (li < dd) { lam += cv(li) * v1(li); li += 1 }
      val cov2 = Array.tabulate(dd, dd)((i, j) =>
        cov(i)(j) - lam * v1(i) * v1(j))
      val v2 = pcaPower(cov2)
      e.withColumn("muv", typedLit(mu.toSeq))
        .withColumn("v1", typedLit(v1.toSeq))
        .withColumn("v2", typedLit(v2.toSeq))
        .select(col("vec_id"),
          pcaProject("v1").as("pc1"), pcaProject("v2").as("pc2"))
        .orderBy(col("vec_id"))
    }),

    // Johnson-Lindenstrauss random projection — the data-OBLIVIOUS
    // counterpart to q_embed_pca (Achlioptas'03 ±1 sensing matrix):
    // 64-dim → JlK-dim with pairwise distances preserved within
    // 1 ± ε whp, the standard pre-step before LSH/clustering when a
    // learned rotation is unavailable or the corpus is still
    // streaming in. The matrix is never stored or broadcast: entry
    // sign(i, j) is the md5 parity of "i,j", regenerable identically
    // on any engine/executor (the hyperplane-LSH idiom) — so the
    // pass is ONE narrow codegen'd fold per output dim, zero joins,
    // zero shuffles but the presentation sort, at any corpus size.
    // Floats: fold i-ascending on both engines (the logprob
    // contract), /sqrt(JlK) an exact power of two, presented on the
    // 1e-6 grid.
    "q_embed_jl" -> ((s, d) => {
      // the ±1 sensing matrix is REGENERATED driver-side from the same
      // md5("i,j") parity the oracle derives in SQL — still never
      // stored or broadcast as data: it rides the plan as a FOLDABLE
      // 16×64 double literal, and the fold is the same 0.0-seeded
      // i-ascending `acc + x·s` the md5 form ran (bit-identical), just
      // without k·64 = 1024 md5 calls per row or a 1024-term codegen
      // tree (an unrolled chain spent ~2 s in Janino per plan; this
      // compact higher-order form measures 0.4 s steady-state vs the
      // md5 form's 2.4 s at sf0.1)
      val signs = (1 to JlK).map(j => (1 to 64)
        .map(i => if (jlSign(i, j)) "1.0D" else "-1.0D")
        .mkString("array(", ",", ")")).mkString("array(", ",", ")")
      val jl = expr(
        s"""transform(sequence(1, $JlK), j ->
           |  aggregate(zip_with(embedding, element_at($signs, j),
           |      (x, s) -> cast(x as double) * s),
           |    cast(0.0 as double), (acc, v) -> acc + v)
           |  / sqrt(cast($JlK as double)))""".stripMargin)
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(jl).as(Seq("j0", "y")))
        .select(col("vec_id"), (col("j0") + 1).as("j"),
          (floor(col("y") * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("y"))
        .orderBy(col("vec_id"), col("j"))
    }),

    // Hard-negative mining — the contrastive-training data-prep step
    // (triplet/InfoNCE hard negatives, Schroff'15 FaceNet §3.3): for
    // every anchor, the closest-by-cosine vector with a DIFFERENT
    // label among its multiprobe cluster candidates — the "closest
    // imposter" a fine-tuning pipeline pairs with each anchor. Rides
    // the SAME memoized Lloyd blocking as the whole kNN family (the
    // candidate set is the q_embed_knn pair join with a label filter —
    // one more consumer of the build-once model artifacts; anchors
    // whose probed clusters hold no different-label vector drop out,
    // exactly the vectors a curriculum would defer to a wider probe).
    // Scale: candidates stay a cluster equi-join (never corpus²), the
    // top-1 is a per-anchor window over ≤ cell-occupancy rows, and
    // the label join is the corpus frame itself (no extra table).
    "q_embed_hardneg" -> ((s, d) => {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("nb"))
      knnPairs(s, d, Seq("label"))
        .filter(col("label") =!= col("nb_label"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("vec_id"), col("label"), col("nb").as("neg_id"),
          col("nb_label").as("neg_label"), col("cos"))
        .orderBy(col("vec_id"))
    }),

    // Embedding-space k-means — the clustering step of diversity-aware
    // sampling / SemDeDup-style semantic curation (Abbas et al. 2023):
    // cluster the corpus, then sample or dedup within clusters. Lloyd
    // iterations with deterministic init (the KmK smallest vec_ids'
    // vectors) and deterministic float behavior BY CONSTRUCTION:
    // centroid sums accumulate in fixed-point longs (order-independent
    // partial aggs), distances are fixed-form IEEE folds, argmin ties
    // break on cluster id — so the integer output is bit-stable and the
    // oracle replays the identical recurrence in unrolled CTEs. Per
    // iteration: one narrow assignment pass + one K·64-row shuffle; the
    // ≤K-row centroid table is checkpointed so iteration plans never
    // nest.
    "q_embed_kmeans" -> ((s, d) =>
      kmAssignments(s, d).orderBy(col("vec_id"))),

    // Greedy farthest-point (Gonzalez) k-center seeding — the
    // deterministic init for k-means / coreset selection: pick the
    // most-spread KcK vectors, assign everyone to the nearest. The
    // 2-approximation guarantee of the greedy traversal is exactly the
    // "maximally diverse exemplars" rule diversity-aware curation
    // wants. k narrow passes, zero corpus shuffles ([[kcenterAssign]]);
    // d2 ships unrounded (index-order IEEE fold, bit-equal
    // cross-engine by the kmeans contract).
    "q_embed_kcenter" -> ((s, d) =>
      kcenterAssign(Tables.embeddings(s, d)).orderBy(col("vec_id"))),

    // Within-cluster kNN graph — each vector's KnnK nearest neighbors
    // searched only inside its learned k-means cluster (the SemDeDup
    // blocking applied to graph construction): the kNN-graph build
    // behind dedup-by-components, diversity sampling, and
    // graph-propagated quality labels. Candidates are a cluster
    // equi-join, never corpus²; a deployment scales K via
    // [[semanticK]] so per-cluster candidate counts stay bounded.
    // Shares the memoized Lloyd assignment with the other
    // kmeans-family gates; cosines ship unrounded (ANN contract).
    "q_embed_knn" -> ((s, d) =>
      knnTop(s, d).orderBy(col("vec_id"), col("rank"))),

    // kNN feature smoothing — graph-regularized embeddings: each
    // vector's embedding is replaced by the mean over {itself} ∪ its
    // KnnK within-cluster nearest neighbors, the 1-hop message-passing
    // step of feature propagation (smooths annotation noise before
    // clustering; the GNN aggregate without the learned weights).
    // Float-free BY CONSTRUCTION (the kmUpdate discipline): components
    // accumulate as floor(x·2²⁰) longs — exact, order-independent,
    // partial-agg'd to ≤ 64 rows per (vector, position) — and the mean
    // ships as floor(Σfix / n) LONGS rendered to CSV, so the compare
    // payload is integer text with zero cross-engine float-formatting
    // risk. Same memoized Lloyd blocking as the rest of the kNN family.
    "q_embed_smooth" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val members = knnTop(s, d).select(col("vec_id"), col("nb"))
        .unionAll(emb.select(col("vec_id"), col("vec_id").as("nb")))
      members.join(emb.select(col("vec_id").as("nb"), col("embedding")),
          Seq("nb"))
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"),
          floor(col("v").cast("double") * expr(KmQ)).cast("long").as("fix"))
        .groupBy("vec_id", "pos")
        .agg(sum("fix").as("sfix"), count(lit(1)).as("n"))
        .groupBy("vec_id")
        .agg(max("n").as("n_members"),
          sort_array(collect_list(struct(col("pos"),
            floor(col("sfix").cast("double") / col("n")).cast("long")
              .as("m")))).as("pm"))
        .select(col("vec_id"), col("n_members"),
          expr("array_join(transform(pm, x -> x.m), ',')")
            .as("smooth_fix_csv"))
        .orderBy(col("vec_id"))
    }),

    // kNN label cleaning (the classic Wilson'72 edited-NN rule, the
    // confident-learning-lite of modern curation): each vector's label
    // is voted on by its KnnK within-cluster nearest neighbors —
    // nn_label = the majority neighbor label (ties to the smallest),
    // clean = whether the vector's own label agrees. Disagreements
    // mark probable annotation noise for review or down-weighting.
    // Composes [[knnTop]] (same memoized Lloyd blocking); the vote is
    // the LPA argmax idiom (min(struct(-count, label)), a partial agg
    // over ≤ KnnK rows per vector); vectors with no cluster-mates keep
    // their own label via the left join.
    "q_embed_label_clean" -> ((s, d) => {
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      val votes = knnTop(s, d)
        .join(labels.select(col("vec_id").as("nb"), col("label").as("nl")),
          Seq("nb"))
        .groupBy(col("vec_id"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("vec_id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("nl").as("l"))).as("b"))
        .select(col("vec_id"), col("b.l").as("vote"))
      labels.join(votes, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("vote"), col("label")).as("nn_label"),
          (col("label") === coalesce(col("vote"), col("label")))
            .as("clean"))
        .orderBy(col("vec_id"))
    }),

    // Margin-based bitext mining (Artetxe & Schwenk'19) — the
    // LASER/CCMatrix recipe for harvesting parallel training pairs
    // from two embedding sets in a shared space: score cross-side
    // candidates by the RATIO margin (cosine over the mean of both
    // endpoints' k-NN cosines — calibrates away hub vectors), keep
    // MUTUAL margin-argmax pairs above a threshold. The parity split
    // of vec_id stands in for the two sides. Candidates ride the same
    // memoized k-means blocking as the kNN family — a cluster
    // equi-join, never corpus² ([[bitextMined]] has the full scale and
    // float story).
    "q_embed_bitext" -> ((s, d) => bitextMined(s, d)),

    // Nearest-class-mean domain labeling (the Rocchio'71 prototype
    // classifier): per-label centroids from the labeled corpus, every
    // vector assigned to its nearest centroid — the domain-tagging
    // pass a mixture pipeline runs before per-domain budgeting, plus
    // the self-consistency signal (agree = the vector's own label
    // still wins) that flags mislabeled/drifted vectors — the
    // centroid-based complement of q_embed_label_clean's kNN vote.
    // Float-free BY CONSTRUCTION (the q_embed_smooth discipline):
    // components quantize to floor(x·2²⁰) longs, centroids are
    // floor(Σfix/n) longs (the Σ is an exact partial agg), and the
    // argmin distance is an exact LONG fold — components < 2²¹ ⇒
    // squared diffs < 2⁴², 64-term sums < 2⁴⁸, no overflow and no
    // float anywhere — tie-broken on label.
    // Scale shape: the centroid table is L×64 longs (an L-row
    // broadcast at ANY corpus size); assignment is ONE narrow
    // broadcast pass over the corpus; the only corpus-sized exchange
    // is the (label, pos) partial agg, which map-side-combines to
    // ≤ L·64 rows per partition.
    "q_embed_domain" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = fixedCentroids(
          emb.select(col("label"), col("embedding")), Seq("label"))
        .select(col("label").as("clabel"), col("carr"))
      val centsRow = cents
        .agg(sort_array(collect_list(struct(col("clabel"), col("carr"))))
          .as("cs"))
      emb.select(col("vec_id"), col("label"),
          expr("transform(embedding, v -> " +
            s"cast(floor(cast(v as double) * $KmQ) as long))").as("xf"))
        .crossJoin(broadcast(centsRow))
        .select(col("vec_id"), col("label"),
          expr("array_min(transform(cs, cc -> named_struct(" +
            "'d', aggregate(sequence(1, 64), 0L, (acc, i) -> acc + " +
            "(element_at(xf, i) - element_at(cc.carr, i)) * " +
            "(element_at(xf, i) - element_at(cc.carr, i))), " +
            "'l', cc.clabel)))").as("b"))
        .select(col("vec_id"), col("label"), col("b.l").as("domain"),
          (col("label") === col("b.l")).as("agree"), col("b.d").as("d2"))
        .orderBy(col("vec_id"))
    }),

    // Embedding DRIFT monitor across the incremental split (shares
    // [[fixedCentroids]] with q_embed_domain) — the
    // index-maintenance health check every production ANN/dedup
    // deployment runs per dump: per label, the standing corpus's
    // centroid vs the new dump's centroid ([[incVecThreshold]] — the
    // same ~10% slice the incremental ANN/dedup gates ingest) and the
    // squared shift between them. A large shift says the frozen
    // quantizers (IVF centroids, PQ codebooks — FAISS "train once, add
    // forever") no longer fit the incoming distribution and the index
    // needs re-training; slice sizes ride along for significance.
    // Float-free (the q_embed_domain discipline): floor(x·2²⁰) long
    // quantization, floor(Σ/n) long centroids off ONE (label, slice,
    // pos) partial agg — the slice flag is just one more grouping key,
    // so standing and new centroids come out of the SAME single pass —
    // and an exact LONG shift fold, label-equi-joined (20 rows a side).
    // Labels present in only one slice drop (inner join): no centroid,
    // no comparison.
    "q_embed_drift" -> ((s, d) => driftOver(s, d).orderBy(col("label"))),

    // SemDeDup proper (Abbas et al. 2023): near-duplicate pairs found
    // only WITHIN the learned k-means clusters — the unsupervised
    // blocking that makes embedding near-dup sublinear (vs
    // q_dedup_embedding's given-label blocking). Candidate pairs are a
    // cluster equi-join, never corpus²; K is the bucket-size knob — a
    // real deployment scales K with the corpus via [[semanticK]]
    // (≈ n/1000 clusters) so per-cluster pair counts stay bounded
    // (SemanticDedupSpec pins the property); the gate uses the oracle's
    // K=8 because the oracle unrolls the recurrence with K inlined.
    // Cosines ship unrounded (index-order fold + IEEE sqrt are
    // bit-equal cross-engine, the ANN contract). The trained assignment
    // is memoized — one Lloyd run serves all three kmeans-family gates.
    "q_dedup_semantic" -> ((s, d) =>
      semanticPairs(Tables.embeddings(s, d), kmAssignments(s, d))
        .orderBy(col("a"), col("b"))),

    // SemDeDup end-to-end: the verified within-cluster pairs composed
    // through connected components to a keep/drop decision per vector —
    // canonical_id = min vec_id in the near-dup component (keep iff
    // vec_id = canonical_id, the SemDeDup keep-rule), cluster_n = the
    // component size for duplication-count weighting. Exactly the
    // q_dedup_cluster composition (pairs → Components.components →
    // canonical assignment) on the semantic pair graph: pair lists
    // don't curate a corpus, assignments do (VERDICT r12 missing #1).
    // Scale shape: the pair graph is cluster-equi-join-bounded, the CC
    // loop is O(log diameter) rounds, and near-dup components have tiny
    // diameters — same argument as the LSH cluster path.
    // assignment MEMOIZED like its relational twin
    // q_dedup_cluster (lshClusters): the pairs and the k-means model
    // were already build-once artifacts, but the components closure
    // re-ran per invocation — a bench-visible 2 s of pure re-derivation
    "q_dedup_semantic_cluster" -> ((s, d) =>
      graft.plans.Lineage.memo("semCluster", s, d) {
        val emb = Tables.embeddings(s, d)
        val pairs = semanticPairs(emb, kmAssignments(s, d))
        val comps = graft.graph.Components.components(
          emb.select(col("vec_id").as("page")),
          pairs.select(col("a").as("src"), col("b").as("dst")))
        val sz = comps.groupBy("comp").agg(count(lit(1)).as("cluster_n"))
        comps.join(sz, "comp")
          .select(col("page").as("vec_id"), col("comp").as("canonical_id"),
            col("cluster_n"))
      }.orderBy(col("vec_id"))),

    // Exact top-k: broadcast query set × corpus scan, window rank.
    "q_ann_bruteforce" -> ((s, d) => bruteTopK(s, d)),

    // LSH-bucketed top-k: per table t, signature = sign bits against 6
    // md5-derived hyperplanes; candidates = the union over tables of
    // Hamming ≤ 2 multiprobe buckets, deduped by (qid, vec_id).
    "q_ann_lsh" -> ((s, d) => {
      // hyperplane dim table: 2 tables × 6 rows of 64 components,
      // broadcast.
      // 2147483648D/1D: explicit DOUBLE literals — an undecorated float
      // literal parses as decimal, which would make w array<decimal> and
      // round each component to 12 dp; the oracle computes in doubles.
      val planes = s.range(LshTables).select(col("id").as("t"))
        .crossJoin(s.range(Planes).select(col("id").as("j")))
        .select(col("t"), col("j"),
          expr("transform(sequence(1, 64), i -> " +
            "cast(conv(substring(md5(concat(t, ':', j, ':', i)), 1, 8), 16, 10) as bigint)" +
            " / 2147483648D - 1D)").as("w"))
      val e = Tables.embeddings(s, d)
      // signatures: one row per (vec_id, t); bit j set iff dot(w_tj, v) >= 0
      val sigBits = e.crossJoin(broadcast(planes))
        .select(col("vec_id"), col("t"), col("j"),
          // native index-order fold — bit-identical to the interpreted
          // aggregate(zip_with(...)) form and the oracle's list_sum
          call_function("dot_product", col("w"), col("embedding")).as("dot"))
        .groupBy("vec_id", "t")
        .agg(sum(when(col("dot") >= 0,
          expr("shiftleft(1L, cast(j as int))")).otherwise(0L)).as("sig"))
      val sigs = e.join(sigBits, "vec_id")
      // multiprobe: every query probes its own bucket ⊕ each of the 22
      // Hamming ≤ 2 masks, in EVERY table — enumerated probe keys keep
      // candidate generation a (t, sig) equi-join (the scale-sane
      // form); the union over tables is deduped below.
      val q = sigs.filter(isQueryVec)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("t").as("qt"), col("sig").as("qs"),
          explode(lit(LshProbeMasks.toArray)).as("m"))
        .select(col("qid"), col("qv"), col("qt"),
          expr("cast(qs as bigint) ^ m").as("qsig"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      sigs.join(broadcast(q),
          col("t") === col("qt") && col("sig") === col("qsig") &&
            col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cos.as("cos"))
        // a pair found by both tables (or several probes) appears more
        // than once with the SAME cos — max() dedups deterministically
        .groupBy(col("qid"), col("vec_id"))
        .agg(max(col("cos")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF top-k: deterministic coarse quantizer (centroids = a FIXED
    // bounded id set, so the broadcast is constant-size at any corpus
    // scale), argmax cell assignment, nprobe=3 probing.
    "q_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = ivfCentroids(e)
      val ev = e.join(ivfAssign(e, cents), "vec_id")
      // nprobe=2 measured recall@5 exactly 0.60 on sf0.01; 3 measures
      // 0.84 (AnnRecallSpec floor 0.7)
      val probes = ivfProbes(e, cents, nprobe = 3)
      // candidates: cell equi-join — each corpus vector lives in exactly
      // one cell, so no duplicate (qid, vec_id) pairs
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      ev.join(broadcast(probes),
          col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF+PQ+refine — the canonical composed index (FAISS
    // IndexIVFPQ + refine): the coarse quantizer restricts the search
    // to nprobe=3 cells, ADC ranks ONLY those cells' codes (the scan
    // never touches raw vectors), and the T-shortlist is re-ranked by
    // exact cosine. At 100 TB this is the architecture that works: the
    // cell partition bounds the candidate scan, codes bound its
    // bandwidth (8 B/vector), refine bounds raw-vector fetch at O(T)
    // per query. recall@5 = 0.84 on sf0.01 — the IVF containment bound
    // (the ADC top-100 within probed cells loses nothing vs exact
    // scoring; measured identical to q_ann_ivf's recall).
    "q_ann_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val enc = pqIndex(s, d)
      val cents = ivfCentroids(e)
      val probes = ivfProbes(e, cents, nprobe = 3)
        .select(col("qid"), col("pcell"))
      val wA = Window.partitionBy(col("qid"))
        .orderBy(col("adc"), col("vec_id"))
      val shortlist = enc.join(ivfAssign(e, cents), "vec_id")
        .join(broadcast(probes),
          col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
        .join(broadcast(pqQueryTabs(e)), "qid")
        .select(col("qid"), col("vec_id"),
          call_function("pq_adc", col("qtab"), col("codes")).as("adc"))
        .withColumn("srank", row_number().over(wA))
        .filter(col("srank") <= RerankT)
        .select(col("qid"), col("vec_id"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(shortlist), "vec_id")
        .join(broadcast(queryVecs(e)), "qid")
        .select(col("qid"), col("vec_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF+PQ+refine against the PERSISTED index ([[annStore]]) — the
    // deployment shape: the index is a stored artifact (FAISS encodes
    // offline and serves from disk), and a probe reads ONLY the probed
    // cells' buckets — the `cell IN (…)` literal (the union of the
    // query batch's probed cells, a fixed-size N-count-contract
    // collect) prunes buckets at the scan, so index bytes read scale
    // with nprobe, not with the corpus. Search semantics are identical
    // to q_ann_ivfpq (same probes, ADC, shortlist, refine), proven by
    // AnnStoredSpec's row-for-row equality and the shared oracle.
    "q_ann_ivfpq_stored" -> ((s, d) =>
      storedSearch(Tables.embeddings(s, d), annStore(s, d))),

    // INCREMENTAL index maintenance — the q_dedup_incremental shape
    // for the ANN family (a production index is APPENDED to, never
    // rebuilt): the new dump (the id range above the high-water mark —
    // a range predicate, so the encode's scan never reads a standing
    // byte) is PQ-encoded + IVF-assigned at query time under the
    // FROZEN quantizers ([[annStoreStanding]] — FAISS add vs train),
    // unioned with the persisted standing store, and searched with
    // exactly the q_ann_ivfpq_stored strategy. Because encoding is
    // per-row under one codebook, encode(standing) ∪ encode(new) ≡
    // encode(full) — the search result equals the full stored index's
    // row for row (AnnIncrementalSpec pins it; the oracle is shared
    // with q_ann_ivfpq). Scale: query cost = O(new dump encode) +
    // the stored search's bucket-pruned probes.
    "q_ann_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val standing = annStoreStanding(s, d)
      val newE = e.filter(col("vec_id") >= incVecThreshold(s, d))
      val newEnc = pqEncode(newE, PqSeedRule, cbFrom = Some(e))
        .join(ivfAssign(newE, ivfCentroids(e)), "vec_id")
      storedSearch(e, standing.unionByName(
        newEnc.select(standing.columns.map(col).toIndexedSeq: _*)))
    }),

    // RE-ENTRANT index accretion — TWO successive appends (the round-
    // 19 re-entrancy law, ANN family — completing the *_2 matrix with
    // MV, SCD, dedup, pHash and the rank store): the vector dump
    // splits at its id midpoint ([[incVecMid]]) and BOTH waves are
    // PQ-encoded + IVF-assigned under the frozen quantizers and
    // appended in arrival order to one persisted bucketed table
    // ([[annStoreAppended2]] — Spark's bucketed APPEND, the
    // sigStoreAppended2 move); the serve searches the twice-appended
    // store with exactly the q_ann_ivfpq_stored strategy. Because
    // encode is per-row under one codebook, append∘append ≡ rebuild —
    // ONE oracle, q_ann_ivfpq's chain verbatim (the q_ann_incremental
    // precedent); AnnAppend2Spec pins the store's row set against the
    // from-scratch encode and both waves non-empty. Gate-only in the
    // bench: the serve is q_ann_ivfpq_stored's (benched) bucket-pruned
    // plan; the appends are once-per-dump memoized writes.
    "q_ann_append2" -> ((s, d) =>
      storedSearch(Tables.embeddings(s, d), annStoreAppended2(s, d))),

    // DRIFT-TRIGGERED index maintenance (VERDICT r14 item 4) — the
    // lifecycle rule that connects the q_embed_drift monitor to the
    // stored index: if any label's standing→new centroid shift exceeds
    // [[MaintainShiftBound]], the frozen quantizers no longer fit the
    // incoming distribution — RETRAIN them on standing ∪ new and
    // rebuild the bucketed store ([[maintainRetrainSearch]] =
    // q_ann_ivfpq_stored's path); otherwise APPEND the dump under the
    // standing store's frozen quantizers ([[maintainAppendSearch]] =
    // the q_ann_incremental shape, but against the deployment-real
    // standing-trained store). The decision is a 1-row max over the
    // ≤|labels|-row drift frame (N-counter contract); the emitted
    // `retrained` flag states it. The gate corpora exercise BOTH
    // branches: sf0.01's small dump slice drifts past the bound
    // (retrain), sf0.1's larger slices average under it (append) —
    // and the oracle replays decision AND branch in one statement.
    "q_ann_maintain" -> ((s, d) => {
      val retrained = maintainRetrain(s, d)
      val res =
        if (retrained) maintainRetrainSearch(s, d)
        else maintainAppendSearch(s, d)
      res.withColumn("retrained", lit(retrained))
    }),

    // TOMBSTONE DELETES on the stored index — the lifecycle step
    // between serve and the next compaction (FAISS remove_ids /
    // Lucene deletes): the bucketed store is NOT rewritten per
    // delete; deleted ids are filtered out of the candidate lists
    // INSIDE the bucket-pruned scan, BEFORE the ADC shortlist — so
    // freed shortlist slots refill correctly and the result equals a
    // store compacted under the same frozen quantizers (a post-filter
    // of the undeleted top-k would emit short or stale lists —
    // AnnDeleteSpec's laws reject that shape). Physical compaction is
    // its own lifecycle step — q_ann_compact below — distinct from
    // retraining (q_ann_maintain owns THAT decision).
    // The delete set is the deterministic rule [[AnnDeleteRule]] —
    // 10% of ids, disjoint from queries and quantizer seeds, and it
    // genuinely hits served results at both SFs (the spec pins that
    // deletion CHANGED answers). Quantizers stay trained on the full
    // corpus — deleting vectors does not retrain (the maintain gate
    // owns that decision).
    "q_ann_delete" -> ((s, d) =>
      storedSearch(Tables.embeddings(s, d),
        annStore(s, d).filter(!AnnDeleteRule))),

    // PHYSICAL COMPACTION of the tombstoned store (VERDICT r15 gap 2)
    // — the lifecycle step BETWEEN tombstone deletes and the next
    // retrain (FAISS remove_ids made durable / Lucene segment merge):
    // rewrite the bucketed store DROPPING the deleted rows, under the
    // SAME frozen quantizers. Cell assignments and PQ codes are
    // per-row artifacts of the quantizers alone, so compaction is a
    // filter + bucket-preserving rewrite — never a re-encode, never a
    // retrain. Serving the compacted store must answer exactly what
    // the tombstone-filtered store answers — the shared
    // [[annDeleteServeSql]] oracle states that law, and
    // AnnCompactSpec pins that the store on disk physically lost
    // exactly the tombstoned rows. Scale: the rewrite is one pass
    // over the INDEX (codes + cell per vector — index-sized, not
    // corpus-sized), bucketed write so the probe-time pruning
    // contract is preserved; queries after compaction stop paying the
    // per-probe tombstone filter.
    "q_ann_compact" -> ((s, d) =>
      storedSearch(Tables.embeddings(s, d), annStoreCompacted(s, d))),

    // FILTERED vector search — the constraint every deployed vector
    // store serves daily (in-tenant / in-language / in-collection kNN:
    // Milvus scalar-field filters, Vespa/pgvector WHERE + ANN): each
    // query's neighbors are restricted to candidates whose `label`
    // equals the query's own. The filterable attribute lives INLINE in
    // the persisted index rows ([[annStore]]), so the predicate is one
    // more equi-key on the probe join evaluated on the BUCKET-PRUNED
    // scan — PRE-filtering: excluded rows never reach the ADC, and all
    // T shortlist slots go to admissible candidates (post-filtering a
    // generic shortlist silently starves the result set whenever the
    // predicate is selective). Scale: identical to q_ann_ivfpq_stored
    // — index bytes read still scale with nprobe, the constraint adds
    // zero shuffles (it rides the same broadcast), and a corpus-sized
    // metadata side-join never happens because the attribute was
    // denormalized into the index at build time. The probe set WIDENS
    // with the filter ([[FilteredNprobe]]): a selective constraint
    // spreads the true constrained top-K over more inverted lists
    // than the generic nprobe covers (measured here: nprobe=3 drops
    // constrained recall to 0.64 where unconstrained is 0.84 — the
    // documented filtered-ANN failure mode), so filtered queries
    // visit more lists, exactly the FAISS/Milvus guidance. Cost still
    // scales with nprobe, never the corpus.
    "q_ann_filtered" -> ((s, d) =>
      storedSearch(Tables.embeddings(s, d), annStore(s, d),
        queryAttr = Some("label"), nprobe = FilteredNprobe)),

    // RECALL TELEMETRY — the index-quality monitor that closes the
    // serving loop (q_embed_drift watches the DATA distribution; this
    // watches the SERVING quality): recall@K of the stored-index
    // search against the exact top-K on the same sampled query set,
    // per query plus the count that produced it. Production runs this
    // on a sampled cadence — the exact leg is the expensive one, and
    // sampling bounds it: cost = |sample| × corpus narrow pass, while
    // the approx leg rides the bucket-pruned stored search. Both legs
    // are the already-gated operators (q_ann_bruteforce /
    // q_ann_ivfpq_stored); the gate pins their COMPOSITION: the
    // left-semi hit join, the zero-hit totality (a query whose
    // shortlist misses everything still reports 0/K, not a dropped
    // row), and the single-IEEE-division recall law.
    "q_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val exact = bruteTopK(s, d).select("qid", "vec_id")
      val approx = storedSearch(e, annStore(s, d))
        .select("qid", "vec_id")
      val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      e.filter(isQueryVec)
        .select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") /
            lit(K.toDouble)).as("recall"))
        .orderBy(col("qid"))
    }),

    // STREAMING ANN serving — the stored index's QUERY path as a
    // stream, closing the lifecycle (build q_ann_ivfpq_stored →
    // append q_ann_incremental → retrain q_ann_maintain → SERVE):
    // queries arrive continuously; the bucketed store, corpus
    // vectors, IVF centroids, and PQ codebook are static artifacts
    // that change on maintenance cadence, not query cadence. Probe
    // selection runs in-flight with NO window and NO state — the
    // ≤16-entry centroid table is a collected literal (the
    // bloom-bytes static-artifact pattern; the collect is the
    // bounded-by-construction N-counter contract) scored by one
    // in-row array_sort; the per-query ADC table is the same
    // dtabExpr against the broadcast codebook; candidates come from
    // ONE stream-static equi-join on the cell key; and the single
    // zero-state flatMapGroupsWithState folds a bounded rerank-T
    // heap per query and computes the exact cosine only for the
    // shortlist ([[graft.streaming.AnnStreams]]). Emitted rows are
    // bit-identical to the batch stored search — one oracle serves
    // both — and the mid-feed barrier proves queries in different
    // micro-batches serve independently against the same standing
    // artifacts.
    "q_stream_ann" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val store = annStore(s, d)
      val centsLit = ivfCentroids(e).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val qtab = (qs: DataFrame) => qs
        .crossJoin(broadcast(centroids(e, PqSeedRule)))
        .withColumn("qtab", expr(dtabExpr("qv", "cs")))
        .filter(col("qtab").isNotNull)
        .drop("cs")
      val chunks = EventQueries.cachedChunks(s, d, "annserve")(
        EventQueries.sortedFeed(
          queryVecs(e).as[(Long, Array[Float])], "qid"))
      EventQueries.replayToTable(s, chunks)(stream =>
        graft.streaming.AnnStreams.serveStream(
          stream.toDF.toDF("qid", "qv"), centsLit, qtab, store,
          e, K, 3, RerankT).toDF())
        .orderBy(col("qid"), col("rank"))
    }),

    // STREAMING maintenance TRIGGER (VERDICT r15 gap 3) — the drift
    // alarm fired AT INGEST TIME: the new dump's vectors replay
    // through a MemoryStream and an UPDATE-mode streaming aggregation
    // folds, per (label, pos), the exact fixed-point component sums
    // (floor(v·2²⁰) Longs — order-free under any micro-batch
    // partitioning; state = 64 rows per label, bounded by the label
    // alphabet, never watermark-dependent). Which intermediate
    // updates appear depends on the chunking, but each (label, pos)'s
    // LAST update is the fold of the full dump — chunking-invariant —
    // so the gate keeps exactly that row (the q_stream_running
    // max/max_by idiom: cnt strictly increases per update). The final
    // streamed sums become the new-side centroid by the SAME
    // floor(Σ/n) law as [[driftOver]]'s batch fold, join the STANDING
    // centroids (a static build-once artifact), and the per-label
    // shift_d2 plus the fired decision — max(shift) >
    // [[MaintainShiftBound]], the identical law q_ann_maintain
    // actuates — come out per row. The stream THUS fires exactly the
    // decision the batch maintain gate would take (StreamMaintainSpec
    // pins stream decision == maintainRetrain); serving the chosen
    // branch stays q_ann_maintain's job.
    "q_stream_maintain" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val thr = incVecThreshold(s, d)
      val standing = fixedCentroids(
        emb.filter(col("vec_id") < lit(thr))
          .select(col("label"), col("embedding")), Seq("label"))
      val chunks = EventQueries.cachedChunks(s, d, "maintain")(
        EventQueries.sortedFeed(
          emb.filter(col("vec_id") >= lit(thr))
            .select(col("vec_id"), col("label"), col("embedding"))
            .as[(Long, Int, Array[Float])], "vec_id"))
      val streamed = EventQueries.replayToTable(s, chunks,
          outputMode = "update")(stream =>
        stream.toDF.toDF("vec_id", "label", "embedding")
          .select(col("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("label"), col("pos"),
            floor(col("v").cast("double") * expr(KmQ)).cast("long")
              .as("fix"))
          .groupBy("label", "pos")
          .agg(sum("fix").as("sfix"), count(lit(1)).as("cnt")))
      val newCents = streamed
        .groupBy("label", "pos")
        .agg(max("cnt").as("cnt"), max_by(col("sfix"), col("cnt"))
          .as("sfix"))
        .groupBy("label")
        .agg(max("cnt").as("n_new"),
          sort_array(collect_list(struct(col("pos"),
            floor(col("sfix").cast("double") / col("cnt")).cast("long")
              .as("c")))).as("pc"))
        .select(col("label"), col("n_new"),
          expr("transform(pc, x -> x.c)").as("cn"))
      val drift = graft.plans.Lineage.scratchCheckpoint(
        standing.select(col("label"), col("n").as("n_standing"),
            col("carr").as("cs"))
          .join(newCents, Seq("label"))
          .select(col("label"), col("n_standing"), col("n_new"),
            expr("aggregate(sequence(1, 64), 0L, (acc, i) -> acc + " +
              "(element_at(cs, i) - element_at(cn, i)) * " +
              "(element_at(cs, i) - element_at(cn, i)))").as("shift_d2")))
      drift.crossJoin(broadcast(drift.agg(
          coalesce(max("shift_d2") > lit(MaintainShiftBound), lit(false))
            .as("retrain"))))
        .orderBy(col("label"))
    }),

    // HYBRID retrieval — the RAG-serving shape every retrieval stack
    // ships (lexical + dense, fused): a DENSE leg (exact cosine top-K;
    // the dense retriever is pluggable — q_ann_ivfpq_stored proves the
    // sublinear route with the same output shape) and a LEXICAL leg
    // (word-3-gram shingle Jaccard top-K — the dedup sketch machinery
    // re-aimed at retrieval; candidates come from the rare-shingle
    // inverted index, df ≤ HybridMaxDf, so the leg never goes
    // quadratic), fused by reciprocal-rank fusion (Cormack'09:
    // score = Σ 1/(60 + rank) over the lists the doc appears in).
    // RRF needs no score calibration between legs — only ranks cross
    // the fusion boundary, which is also what makes it exact
    // cross-engine: each 1/(60+r) is one IEEE division and the sum is
    // one addition, identical expressions both sides. Scale: dense leg
    // = one narrow corpus pass (broadcast queries); lexical leg =
    // df-capped postings join; fusion joins two K-row-per-query lists.
    "q_ann_hybrid" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val wD = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      val dense = e.crossJoin(broadcast(queryVecs(e)))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cos.as("cos"))
        .withColumn("drk", row_number().over(wD))
        .filter(col("drk") <= K)
        .select(col("qid"), col("vec_id").as("id"), col("drk"))
      val lex = hybridLexical(s, d)
      // RRF fusion: full outer join of the two K-lists; a doc missing
      // from a leg contributes 0 from that leg (the standard rule)
      val fused = dense.join(lex, Seq("qid", "id"), "full_outer")
        .select(col("qid"), col("id"),
          (coalesce(lit(1.0) / (lit(60) + col("drk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("lrk")), lit(0.0))).as("rrf"))
      val wF = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id"))
      fused.withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("id"), col("rrf"))
        .orderBy(col("qid"), col("rank"))
    }),

    // HYBRID RETRIEVAL OVER THE STORED INDEX (VERDICT r16 item 3) —
    // the deployment composition q_ann_hybrid's comment promised: at
    // 100 TB the dense leg cannot be a corpus-wide exact scan, it must
    // be the SUBLINEAR stored-index path. Same RRF law, same lexical
    // leg, but the dense K-list comes from [[storedSearch]] over the
    // persisted bucketed index ([[annStore]]) — bucket pruning at the
    // scan (`cell IN (probed)`), ADC shortlist, exact-cosine refine —
    // exactly q_ann_ivfpq_stored's plan (AnnPlanShapeSpec pins the
    // pruned scan inside THIS gate's dense leg too). Only ranks cross
    // the fusion boundary, so swapping the dense retriever is
    // invisible to the fusion arithmetic — which is the pluggability
    // claim, now proven by a gate instead of a comment. Oracle = the
    // shared ivfpq chain (d-suffixed) + the lexical CTEs + the RRF
    // law in one statement.
    "q_ann_hybrid_stored" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dense = storedSearch(e, annStore(s, d))
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("drk"))
      val lex = hybridLexical(s, d)
      val fused = dense.join(lex, Seq("qid", "id"), "full_outer")
        .select(col("qid"), col("id"),
          (coalesce(lit(1.0) / (lit(60) + col("drk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("lrk")), lit(0.0))).as("rrf"))
      val wF = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id"))
      fused.withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("id"), col("rrf"))
        .orderBy(col("qid"), col("rank"))
    }),

    // PQ top-k (product quantization, Jégou'11 — the storage/
    // bandwidth scale path the other ANN variants don't cover): every
    // corpus vector is ENCODED once into M=16 4-bit codes (nearest of
    // ≤16 deterministic centroids per 4-dim subspace — a pure narrow
    // pass against a broadcast ≤16×64 centroid table, no shuffle);
    // queries score the whole corpus via asymmetric distance — an
    // M×≤16 per-query lookup table (broadcast) + M table lookups per
    // corpus row instead of 64 multiplies against raw floats — keep
    // the T=100 best codes, and re-rank ONLY those T against raw
    // vectors by exact cosine (the FAISS refine step). At 100 TB the
    // codes table is 8 B/vector vs 256 B raw — the scan the exact path
    // cannot afford — and the raw-vector fetch is O(T) per query.
    // The encoded codes table is memoized — a PQ
    // index is a build-once stored artifact in any real deployment
    // (FAISS trains and encodes offline; the per-query cost is ADC
    // scoring + refine only), so repeated calls measure the
    // steady-state query path, exactly like q_pagerank's memoized rank
    // vector.
    "q_ann_pq" -> ((s, d) =>
      pqSearch(Tables.embeddings(s, d), pqIndex(s, d))),

    // Scalar int8 quantization — the storage/bandwidth path every
    // embedding store ships (FAISS SQ8, Milvus/Lance int8): per-vector
    // max-abs scale, code_i = round(127·x_i/scale) ∈ [-127, 127],
    // reconstruction x̂_i = code_i·scale/127 bounds the element error
    // by scale/254. Cuts vector bytes 4× before any ANN index is
    // built. Emits the scale, exact integer code sums (order-free,
    // overflow-free: |Σ| ≤ 127·d) and the code-array digest — the
    // columns a writer materializes.
    // Scale shape: one narrow codegen'd pass, zero joins, zero
    // shuffles besides the driver-compare ORDER BY; nothing here
    // changes at 1000 executors.
    // Float determinism: float→double widening is exact, 127·x/m is
    // the same left-assoc double expression both engines evaluate, and
    // rounding is half-away-from-zero in both; ±max elements hit ±127
    // exactly (127·m/m). All-zero vectors (m = 0) code to all-zeros
    // instead of dividing by zero. The scale presents on the 1e-6
    // FLOOR grid (floor(m·1e6 + 0.5)/1e6, m ≥ 0) — the HllShared/est2
    // convention — because Spark's round() is BigDecimal half-up while
    // DuckDB's is platform rint, and the two diverged on a real value
    // once (689.355 at 2dp); the floor form is order-identical IEEE
    // arithmetic on both engines.
    "q_embed_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          expr("array_max(transform(embedding, x -> abs(cast(x as double))))")
            .as("m"))
        .select(col("vec_id"), col("m"),
          expr("transform(embedding, x -> IF(m <= cast(0 as double), 0, " +
            "cast(round(cast(127 as double) * cast(x as double) / m) as int)))")
            .as("codes"))
        .select(col("vec_id"),
          (floor(col("m") * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("scale"),
          size(col("codes")).cast("long").as("n_dims"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("sum_codes"),
          expr("aggregate(codes, 0L, (a, x) -> a + abs(x))").as("sum_abs"),
          md5(expr("array_join(transform(codes, x -> cast(x as string)), ',')"))
            .as("codes_md5"))
        .orderBy(col("vec_id")))
  )

  /** PERSISTED IVF-PQ index: the per-vector (cell, codes) rows written
    * as a table bucketed on the IVF cell — the FAISS on-disk inverted
    * list made literal in Spark storage (the q_dedup_incremental
    * signature-store pattern for the similarity family). A probe
    * filters `cell IN (probed cells)`, which PRUNES BUCKETS at the
    * scan: only nprobe cells' worth of index bytes are ever read — at
    * 100 TB the index scan cost is the probed lists, not the corpus
    * (PlanShapeSpec pins SelectedBucketsCount < total). The row also
    * carries the filterable scalar attribute (`label`) INLINE — the
    * production vector-store shape (Milvus/Vespa scalar fields,
    * FAISS-with-metadata): q_ann_filtered's per-query constraint
    * evaluates inside the already-pruned scan instead of joining a
    * corpus-sized side table at serve time. In production the table
    * outlives the session. */
  private[graft] def annStore(s: SparkSession, d: String): DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_store_") { tbl =>
      val e = Tables.embeddings(s, d)
      pqIndex(s, d).join(ivfAssign(e, ivfCentroids(e)), "vec_id")
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    // the production read path: resolve through the committed manifest
    // pointer once a pass has published (VERDICT r19 item 1)
    PipelineCommit.resolveOr(s, d, "ann", 1L, name)
  }

  /** The PHYSICALLY COMPACTED index: [[annStore]] rewritten without
    * the [[AnnDeleteRule]] tombstones, same 8-way cell bucketing, same
    * frozen quantizers — the surviving rows are byte-identical to
    * their standing form (codes and cell are functions of the
    * quantizers and the vector alone), so the rewrite is ONE
    * index-sized filtered pass, and the serve path (q_ann_ivfpq_stored
    * strategy) regains its pre-delete shape: no per-probe tombstone
    * filter, buckets prune identically. In production the compacted
    * table atomically replaces the tombstoned one on the maintenance
    * cadence. */
  private[graft] def annStoreCompacted(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_compact_") { tbl =>
      annStore(s, d).filter(!AnnDeleteRule)
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** q_ann_incremental: the "new dump" is the id range ABOVE the
    * high-water mark (appends get new ids — the realistic incremental
    * shape, and a RANGE predicate pushes to the parquet scan, unlike a
    * modulo rule: the standing corpus's bytes are never read by the
    * query-time encode). Threshold = max_id − max_id/10, a ~10% slice
    * at any SF; the 1-row max agg is the N-counter contract. */
  private[graft] def incVecThreshold(s: SparkSession, d: String): Long = {
    graft.plans.Lineage.perContext("incVecThr", s, d) {
      val hi = Tables.embeddings(s, d).agg(max("vec_id")).head.getLong(0)
      hi - hi / 10
    }
  }

  /** q_ann_filtered's widened probe count. A label filter keeping
    * ~1/|labels| of each list spreads the true constrained top-K over
    * more cells than the generic nprobe=3 covers; deployments scale
    * nprobe with measured filter selectivity — the gate pins the
    * widened-probe LAW (filtered ⇒ more lists visited, bytes read
    * still ∝ nprobe), not this corpus's constant. */
  private[graft] val FilteredNprobe = 5

  /** Exact top-K (q_ann_bruteforce's body): broadcast query set ×
    * corpus scan, window rank — also the ground-truth leg of
    * q_ann_recall. Unrounded: the index-order fold + sqrt pipeline is
    * bit-equal to the oracle's list_sum replication, so ranks agree
    * exactly; rounding would only add decimal-boundary risk. */
  private def bruteTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(queryVecs(e)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("qid"), col("rank"))
  }

  /** ONE stored-index search strategy — q_ann_ivfpq_stored and
    * q_ann_incremental differ ONLY in the store expression (the
    * persisted full index vs standing ∪ freshly-encoded dump), so the
    * probes / cell pruning / ADC shortlist / cosine rerank live here
    * once: a strategy fix applied to one gate cannot silently diverge
    * the other (AnnStoredSpec + AnnIncrementalSpec both claim
    * strategy identity). `store` columns: (vec_id, codes, cell).
    * `quantFrom` overrides the quantizer-training frame (IVF centroids
    * + PQ codebook) — the maintenance gate's append branch searches
    * under the STANDING-trained quantizers its store was built with;
    * queries always come from `e`. `queryAttr` names a scalar
    * attribute stored INLINE in the index rows ([[annStore]] carries
    * `label`): each query is constrained to candidates whose attribute
    * equals the query's own — the filtered-vector-search shape
    * (in-tenant / in-language kNN). The constraint is one more
    * equi-key on the SAME broadcast probe join, evaluated on the
    * bucket-pruned scan BEFORE the ADC shortlist (pre-filtering: no
    * ADC work on excluded candidates, and the shortlist's T slots all
    * go to admissible rows — post-filtering would silently return <K
    * whenever the constraint thins a generic shortlist). */
  private def storedSearch(e: DataFrame, store: DataFrame,
      quantFrom: Option[DataFrame] = None,
      queryAttr: Option[String] = None,
      nprobe: Int = 3): DataFrame = {
    val cents = ivfCentroids(quantFrom.getOrElse(e))
    val probes0 = ivfProbes(e, cents, nprobe = nprobe)
      .select(col("qid"), col("pcell"))
    // the query set is bounded, so the attribute lookup is a pruned
    // 2-column scan joined into the ≤(queries × nprobe)-row probe frame
    val probes = queryAttr.fold(probes0)(a =>
      probes0.join(e.filter(isQueryVec)
        .select(col("vec_id").as("qid"), col(a).as("qattr")), "qid"))
    val cellSet = probes.select("pcell").distinct()
      .collect().map(_.getLong(0))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    val candCond = queryAttr.fold(lit(true))(a => col(a) === col("qattr"))
    val shortlist = store.filter(col("cell").isin(cellSet: _*))
      .join(broadcast(probes),
        col("cell") === col("pcell") && col("vec_id") =!= col("qid") &&
          candCond)
      .join(broadcast(pqQueryTabs(e, cbFrom = quantFrom)), "qid")
      .select(col("qid"), col("vec_id"),
        call_function("pq_adc", col("qtab"), col("codes")).as("adc"))
      .withColumn("srank", row_number().over(wA))
      .filter(col("srank") <= RerankT)
      .select(col("qid"), col("vec_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(queryVecs(e)), "qid")
      .select(col("qid"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("qid"), col("rank"))
  }

  /** q_embed_drift's engine body — shared with the maintenance gate's
    * retrain-or-append decision so the monitor and the actuator can
    * never drift apart (scale/float story on the q_embed_drift entry).
    * Unordered; callers add their ORDER BY. */
  private[graft] def driftOver(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val thr = incVecThreshold(s, d)
    val cents = fixedCentroids(
      emb.select(col("label"),
        (col("vec_id") >= lit(thr)).as("is_new"), col("embedding")),
      Seq("label", "is_new"))
    cents.filter(!col("is_new"))
      .select(col("label"), col("n").as("n_standing"),
        col("carr").as("cs"))
      .join(cents.filter(col("is_new"))
        .select(col("label"), col("n").as("n_new"), col("carr").as("cn")),
        Seq("label"))
      .select(col("label"), col("n_standing"), col("n_new"),
        expr("aggregate(sequence(1, 64), 0L, (acc, i) -> acc + " +
          "(element_at(cs, i) - element_at(cn, i)) * " +
          "(element_at(cs, i) - element_at(cn, i)))").as("shift_d2"))
  }

  /** Retrain bound on the max per-label centroid shift (q_embed_drift
    * units: squared L2 over floor(x·2²⁰)-quantized 64-dim centroids —
    * 2·10¹¹ ≈ a 0.18 real-units² pooled shift). Chosen so the GATE
    * CORPORA exercise both branches: the sf0.01 new-dump slice drifts
    * hard (max shift ≈ 1.14·10¹², small slices swing far) → RETRAIN;
    * sf0.1's larger slices average out (max ≈ 9.9·10¹⁰) → APPEND. A
    * deployment tunes this to its own drift telemetry; the point the
    * gate pins is the decision LAW, not the constant. */
  private[graft] val MaintainShiftBound = 200000000000L

  /** The retrain-or-append decision (VERDICT r14 item 4): true iff any
    * label's standing→new centroid shift exceeds [[MaintainShiftBound]].
    * One 1-row max over the ≤|labels|-row drift frame — the N-counter
    * contract. Memoized because both the gate and
    * the forced-branch spec entries consult it. */
  private[graft] def maintainRetrain(s: SparkSession, d: String): Boolean = {
    graft.plans.Lineage.perContext("maintainDec", s, d) {
      // a corpus where no label has BOTH standing and new vectors
      // yields an empty drift frame → NULL max; default to APPEND,
      // matching maintainOracle's COALESCE(max(..) > bound, FALSE)
      // (ADVICE r15: getLong on the null NPE'd while the oracle
      // answered)
      val m = driftOver(s, d).agg(max("shift_d2")).head
      !m.isNullAt(0) && m.getLong(0) > MaintainShiftBound
    }
  }

  /** The maintenance gate's STANDING store: the bucketed index as it
    * existed before the dump arrived, quantizers trained on the
    * STANDING slice alone — unlike [[annStoreStanding]] (whose
    * full-corpus quantizers exist to prove append-equivalence), this
    * is the deployment-real artifact whose quantizers can STOP
    * FITTING, which is the whole point of the retrain decision. At
    * sf0.01 the standing slice genuinely loses an IVF seed vector
    * (id 450 ≥ the high-water mark), so append-under-standing and
    * retrain produce materially different indexes. */
  private[graft] def annStoreMaint(s: SparkSession, d: String): DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_maint_") { tbl =>
      val e = Tables.embeddings(s, d)
      val standing = e.filter(col("vec_id") < incVecThreshold(s, d))
      pqEncode(standing, PqSeedRule, cbFrom = Some(standing))
        .join(ivfAssign(standing, ivfCentroids(standing)), "vec_id")
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The APPEND branch: encode the new dump under the standing store's
    * FROZEN quantizers (FAISS add), union with the persisted standing
    * store, search under those same quantizers. Exposed for
    * AnnMaintainSpec's forced-branch equality. */
  private[graft] def maintainAppendSearch(s: SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val standing = e.filter(col("vec_id") < incVecThreshold(s, d))
    val newE = e.filter(col("vec_id") >= incVecThreshold(s, d))
    val store = annStoreMaint(s, d)
    val newEnc = pqEncode(newE, PqSeedRule, cbFrom = Some(standing))
      .join(ivfAssign(newE, ivfCentroids(standing)), "vec_id")
    storedSearch(e, store.unionByName(
      newEnc.select(store.columns.map(col).toIndexedSeq: _*)),
      quantFrom = Some(standing))
  }

  /** The RETRAIN branch: quantizers re-derived from standing ∪ new
    * (= the full corpus) and the bucketed store rebuilt under them —
    * exactly [[annStore]] + the shared [[storedSearch]] strategy
    * (= q_ann_ivfpq_stored, which AnnMaintainSpec pins row for row). */
  private[graft] def maintainRetrainSearch(s: SparkSession,
      d: String): DataFrame =
    storedSearch(Tables.embeddings(s, d), annStore(s, d))

  /** One-shot reference for the append branch (AnnMaintainSpec): the
    * WHOLE corpus encoded in one pass under the standing-trained
    * quantizers, searched the same way. Append ≡ this because encode
    * is per-row under one codebook — the frozen-quantizer law, now
    * under quantizers that genuinely differ from the full-corpus
    * ones. */
  private[graft] def maintainAppendReference(s: SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val standing = e.filter(col("vec_id") < incVecThreshold(s, d))
    storedSearch(e,
      pqEncode(e, PqSeedRule, cbFrom = Some(standing))
        .join(ivfAssign(e, ivfCentroids(standing)), "vec_id"),
      quantFrom = Some(standing))
  }

  /** The ADVANCED vector mark after the first of the two dump waves
    * (q_ann_append2): thr + (max − thr)/2 on vec_id — the shared
    * midpoint idiom, one 1-row agg, integer floor division. */
  private[graft] def incVecMid(s: SparkSession, d: String): Long = {
    graft.plans.Lineage.perContext("vecMid", s, d) {
      val hi = Tables.embeddings(s, d)
        .agg(max("vec_id")).head.getLong(0)
      val thr = incVecThreshold(s, d)
      thr + (hi - thr) / 2
    }
  }

  /** The ANN store after BOTH dump waves' appends (q_ann_append2):
    * the standing encoded rows written, then wave A ([thr, mid))
    * encoded under the FROZEN full-corpus quantizers and appended,
    * then wave B ([mid, ∞)) — two successive bucket-spec-matching
    * appends with the arrival mark advancing. Per-row encoding under
    * one codebook makes append∘append ≡ rebuild ([[annStore]]'s own
    * content); the gates' [[annStore]] / [[annStoreStanding]] stay
    * untouched. */
  private[graft] def annStoreAppended2(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_app2_") { tbl =>
      val e = Tables.embeddings(s, d)
      val thr = incVecThreshold(s, d)
      val mid = incVecMid(s, d)
      require(thr < mid,
        s"q_ann_append2: the mark did not advance (thr=$thr, mid=$mid)")
      def enc(slice: DataFrame) =
        pqEncode(slice, PqSeedRule, cbFrom = Some(e))
          .join(ivfAssign(slice, ivfCentroids(e)), "vec_id")
      enc(e.filter(col("vec_id") < lit(thr)))
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
      enc(e.filter(col("vec_id") >= lit(thr) && col("vec_id") < lit(mid)))
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("append").saveAsTable(tbl)
      enc(e.filter(col("vec_id") >= lit(mid)))
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("append").saveAsTable(tbl)
    }
    PipelineCommit.resolveOr(s, d, "ann", 2L, name)
  }

  /** The STANDING ANN store — [[annStore]] minus the new dump
    * ([[incVecThreshold]] and above): the persisted index as it
    * existed before the dump arrived. Codebook and IVF centroids are
    * FROZEN INDEX PARAMETERS derived from the full corpus (a real
    * index never re-trains its quantizers on append — FAISS add vs
    * train; and the gate needs encode(standing) ∪ encode(new) ≡
    * encode(full), which only holds under one codebook). */
  private[graft] def annStoreStanding(s: SparkSession, d: String): DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_standing_") { tbl =>
      val e = Tables.embeddings(s, d)
      val standing = e.filter(col("vec_id") < incVecThreshold(s, d))
      pqEncode(standing, PqSeedRule, cbFrom = Some(e))
        .join(ivfAssign(standing, ivfCentroids(e)), "vec_id")
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The ANN store after a MIXED pass (q_pipeline_mixed): the
    * STANDING index rewritten without the [[AnnDeleteRule]]
    * tombstones (deletes are standing-only in the mixed pass — a
    * takedown names corpus vectors, never the dump being ingested)
    * and the whole dump encoded under the FROZEN full-corpus
    * quantizers and appended, bucket-spec-matching, in the same
    * pass. Final population = (standing − tombstoned) ∪ dump. */
  private[graft] def annStoreMixed(s: SparkSession, d: String)
      : DataFrame = {
    val name = graft.plans.Lineage.store(s, d, "graft_ann_mx_") { tbl =>
      val e = Tables.embeddings(s, d)
      val dump = e.filter(col("vec_id") >= incVecThreshold(s, d))
      annStoreStanding(s, d).filter(!AnnDeleteRule)
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("overwrite").saveAsTable(tbl)
      pqEncode(dump, PqSeedRule, cbFrom = Some(e))
        .join(ivfAssign(dump, ivfCentroids(e)), "vec_id")
        .write.bucketBy(8, "cell").sortBy("cell")
        .mode("append").saveAsTable(tbl)
    }
    s.table(name)
  }

  /** The memoized PQ codes table — shared by
    * q_ann_pq and q_ann_ivfpq (one index, two search strategies, like
    * a stored FAISS artifact serving several probes). */
  private def pqIndex(s: SparkSession, d: String): DataFrame =
    graft.plans.Lineage.memo("pqIndex", s, d)(
      pqEncode(Tables.embeddings(s, d)))

  /** Conditional fan-out for CPU-heavy narrow passes: a small corpus
    * file scans as ONE partition, pinning the pass to a single core
    * (measured: 2.3 s on 1 of 32 at sf0.1); at real scale the scan
    * already has more partitions than cores and this is a no-op. */
  private def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** ≤16 deterministic PQ codebook seed vectors, cid-sorted, as ONE
    * broadcast row of array<array<float>>. Seeds are raw corpus
    * vectors — with the shortlist-refine step the codebook only has to
    * place true neighbors in the ADC top-T, not rank them exactly, so
    * 16 arbitrary-but-spread seeds suffice (AnnRecallSpec measures
    * recall@5 = 1.0 at T=100; without refine, ADC-only ranking on this
    * near-orthogonal corpus is quantization-noise-bound no matter the
    * seeds — 0.08 at M=8, 0.28 at M=16). The table stays
    * constant-bounded (broadcastable at any corpus scale). */
  private def centroids(e: DataFrame,
      seedRule: Column = PqSeedRule): DataFrame =
    e.filter(seedRule)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .agg(expr("transform(array_sort(collect_list(struct(cid, cv))), x -> x.cv)")
        .as("cs"))

  /** PQ ENCODE (the index build): codes[j] = index of the
    * first-minimal subspace distance. One narrow pass, no shuffle.
    * An empty codebook (no seed-rule matches) encodes to zero rows —
    * total, never an ANSI element_at error. */
  private[graft] def pqEncode(e0: DataFrame,
      seedRule: Column = PqSeedRule,
      cbFrom: Option[DataFrame] = None): DataFrame = {
    val e = widen(e0)
    e.crossJoin(broadcast(centroids(cbFrom.getOrElse(e), seedRule)))
      .withColumn("dtab", expr(dtabExpr("embedding", "cs")))
      .select(col("vec_id"),
        expr("transform(dtab, dl -> cast(array_position(dl, array_min(dl)) - 1 as int))")
          .as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** ADC scan of the %100==0 query set against an encoded corpus:
    * top-k by asymmetric distance alone (no refine) — PqSpec's
    * closed-form entry. */
  private[graft] def pqAdcTopK(e: DataFrame, enc: DataFrame, k: Int = K,
      seedRule: Column = PqSeedRule): DataFrame = {
    // per-query ADC lookup tables (M × ≤16 doubles, broadcast)
    val q = pqQueryTabs(e, seedRule)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        // unrounded: M index-ordered lookups + adds over bit-equal
        // tables — native codegen'd ([[graft.functions.PqAdc]]); the
        // interpreted aggregate/element_at chain was ~5× slower on
        // this query × corpus hot path
        call_function("pq_adc", col("qtab"), col("codes")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** PQ search = ADC shortlist (top [[RerankT]] codes per query) +
    * exact-cosine re-rank of the shortlist against raw vectors. The
    * shortlist is queries × T rows — broadcast back against the corpus
    * scan, so the refine join fetches O(T) raw vectors per query at
    * any corpus scale. */
  private[graft] def pqSearch(e: DataFrame, enc: DataFrame,
      k: Int = K): DataFrame = {
    val shortlist = pqAdcTopK(e, enc, RerankT)
      .select(col("qid"), col("vec_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(queryVecs(e)), "qid")
      .select(col("qid"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** PQ encode + ADC top-k (no refine), uncached — PqSpec's
    * closed-form entry; the seed rule is a parameter so fixture
    * construction is independent of the production rule. */
  private[graft] def pqTopK(e: DataFrame, k: Int = K,
      seedRule: Column = PqSeedRule): DataFrame =
    pqAdcTopK(e, pqEncode(e, seedRule), k, seedRule)

  /** Unrolled replay of the k-means recurrence: a_k = argmin assignment
    * under c_k (ORDER BY dist ASC, cluster ASC = the engine's
    * struct-min), c_{k+1} = fixed-point component means of a_k's
    * clusters. Same index-order folds, same floor(x·2²⁰) longs, same
    * division order — doubles are bit-equal, so the integer output
    * hash-matches without any rounding. */
  private val kmeansOracle: String = kmeansCtes +
    s"\n        SELECT vec_id, cluster FROM a$KmIters ORDER BY vec_id"

  /** kmeansOracle's CTE chain + the within-cluster pair join — the
    * q_dedup_embedding oracle's cosine idiom with the learned cluster
    * as the blocking key. */
  private val semanticOracle: String = kmeansCtes + s""",
        en AS (SELECT e.vec_id, a$KmIters.cluster,
                      list_transform(e.embedding, v -> CAST(v AS DOUBLE))
                        AS v,
                      sqrt(list_sum(list_transform(e.embedding,
                        c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE))))
                        AS nrm
               FROM e JOIN a$KmIters USING (vec_id)),
        p AS (SELECT x.vec_id AS a, y.vec_id AS b,
                     list_sum(list_transform(range(1, 65), i ->
                       x.v[i] * y.v[i])) / (x.nrm * y.nrm) AS cs
              FROM en x JOIN en y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
        SELECT a, b, cs AS cos FROM p WHERE cs >= $SemTau ORDER BY a, b"""

  /** semanticOracle's pair CTEs + a recursive min-label closure over the
    * undirected pair graph (the q_dedup_cluster idiom) — canonical_id =
    * min vec_id reachable through verified semantic near-dup pairs,
    * cluster_n = component size. */
  private val semanticClusterOracle: String =
    kmeansCtes.replaceFirst("WITH", "WITH RECURSIVE") + s""",
        en AS (SELECT e.vec_id, a$KmIters.cluster,
                      list_transform(e.embedding, v -> CAST(v AS DOUBLE))
                        AS v,
                      sqrt(list_sum(list_transform(e.embedding,
                        c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE))))
                        AS nrm
               FROM e JOIN a$KmIters USING (vec_id)),
        p AS (SELECT a, b FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                       list_sum(list_transform(range(1, 65), i ->
                         x.v[i] * y.v[i])) / (x.nrm * y.nrm) AS cs
                FROM en x JOIN en y
                  ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
              WHERE cs >= $SemTau),
        und AS (SELECT a AS x, b AS y FROM p
                UNION ALL SELECT b, a FROM p),
        r AS (SELECT vec_id AS page, vec_id AS reach FROM embeddings
              UNION
              SELECT u.x AS page, r.reach
              FROM r JOIN und u ON u.y = r.page),
        comp AS (SELECT page, MIN(reach) AS canonical_id FROM r
                 GROUP BY page),
        sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_n
               FROM comp GROUP BY canonical_id)
        SELECT c.page AS vec_id, c.canonical_id, z.cluster_n
        FROM comp c JOIN sz z ON c.canonical_id = z.canonical_id
        ORDER BY vec_id"""

  private lazy val kmeansCtes: String = {
    def dist(c: String) =
      s"""list_sum(list_transform(range(1, 65), i ->
            (CAST(e.embedding[i] AS DOUBLE) - $c.carr[i]) *
            (CAST(e.embedding[i] AS DOUBLE) - $c.carr[i])))"""
    def assign(a: String, c: String) =
      s"""$a AS (SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${dist("c")} ASC, c.cluster ASC) AS rn
            FROM e CROSS JOIN $c c) WHERE rn = 1)"""
    def update(u: String, cNew: String, a: String) =
      s"""$u AS (SELECT a.cluster, x.i AS pos,
                   SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * $KmQ) AS BIGINT))
                     AS sfix,
                   COUNT(*) AS n
                 FROM (SELECT vec_id, unnest(embedding) AS v,
                              unnest(range(1, 65)) AS i FROM e) x
                 JOIN $a a USING (vec_id)
                 GROUP BY a.cluster, x.i),
          $cNew AS (SELECT cluster,
                      list(CAST(sfix AS DOUBLE) / $KmQ / n ORDER BY pos)
                        AS carr
                    FROM $u GROUP BY cluster)"""
    val iters = (0 until KmIters).map { k =>
      s"${assign(s"a$k", s"c$k")},\n${update(s"u${k + 1}", s"c${k + 1}", s"a$k")}"
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c0 AS (SELECT vec_id AS cluster,
                      list_transform(embedding, v -> CAST(v AS DOUBLE))
                        AS carr
               FROM e ORDER BY vec_id LIMIT $KmK),
        $iters,
        ${assign(s"a$KmIters", s"c$KmIters")}"""
  }

  /** Unrolled replay of the greedy k-center recurrence
    * ([[kcenterAssign]]): cₜ = ORDER BY m DESC, vec_id ASC LIMIT 1 over
    * the running min-distance (the engine's min(struct(-m, vec_id))),
    * m updated by LEAST — same index-order folds, same doubles. */
  private lazy val kcenterOracle: String = {
    def d2(v: String, c: String) =
      s"""list_sum(list_transform(range(1, 65), i ->
            ($v[i] - $c[i]) * ($v[i] - $c[i])))"""
    val rounds = (2 to KcK).map { t =>
      val m = if (t < KcK)
        s""",
        m$t AS (SELECT m.vec_id, m.v,
                       LEAST(m.m, ${d2("m.v", "c.cv")}) AS m
                FROM m${t - 1} m CROSS JOIN c$t c)"""
      else ""
      s"""c$t AS (SELECT vec_id AS cid, v AS cv FROM m${t - 1}
                  ORDER BY m DESC, vec_id ASC LIMIT 1)$m"""
    }.mkString(",\n        ")
    val centUnion = (2 to KcK)
      .map(t => s"UNION ALL SELECT cid, cv FROM c$t").mkString(" ")
    s"""WITH e AS (SELECT vec_id,
                          list_transform(embedding, v -> CAST(v AS DOUBLE))
                            AS v
                   FROM embeddings),
        c1 AS (SELECT vec_id AS cid, v AS cv FROM e
               ORDER BY vec_id LIMIT 1),
        m1 AS (SELECT e.vec_id, e.v, ${d2("e.v", "c.cv")} AS m
               FROM e CROSS JOIN c1 c),
        $rounds,
        cents AS (SELECT cid, cv FROM c1 $centUnion),
        asg AS (SELECT e.vec_id, c.cid, ${d2("e.v", "c.cv")} AS d2,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY ${d2("e.v", "c.cv")} ASC, c.cid ASC)
                         AS rn
                FROM e CROSS JOIN cents c)
        SELECT vec_id, cid AS center, d2 FROM asg WHERE rn = 1
        ORDER BY vec_id"""
  }

  /** kmeansOracle's CTE chain + the multiprobe pair join ranked to the
    * top KnnK per vector — the q_embed_knn replay (semanticOracle's
    * cosine idiom without the threshold; query side = the vector's
    * TOP-2 clusters by the same dist-then-cluster order the engine's
    * slice(array_sort(…), 1, 2) uses, corpus side = the argmin cell);
    * CTE chain ends at `knn(vec_id, nb, cos, rank)`, shared with
    * q_embed_label_clean and q_embed_smooth. */
  private lazy val knnCtes: String = {
    val dist =
      s"""list_sum(list_transform(range(1, 65), i ->
            (CAST(e.embedding[i] AS DOUBLE) - c.carr[i]) *
            (CAST(e.embedding[i] AS DOUBLE) - c.carr[i])))"""
    kmeansCtes + s""",
        p2 AS (SELECT vec_id, cluster FROM (
                 SELECT e.vec_id, c.cluster,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY $dist ASC, c.cluster ASC) AS rn
                 FROM e CROSS JOIN c$KmIters c) WHERE rn <= 2),
        nv AS (SELECT e.vec_id,
                      list_transform(e.embedding, v -> CAST(v AS DOUBLE))
                        AS v,
                      sqrt(list_sum(list_transform(e.embedding,
                        c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE))))
                        AS nrm
               FROM e),
        en AS (SELECT nv.vec_id, nv.v, nv.nrm, a$KmIters.cluster
               FROM nv JOIN a$KmIters USING (vec_id)),
        eq AS (SELECT nv.vec_id, nv.v, nv.nrm, p2.cluster
               FROM nv JOIN p2 USING (vec_id)),
        p AS (SELECT x.vec_id, y.vec_id AS nb,
                     list_sum(list_transform(range(1, 65), i ->
                       x.v[i] * y.v[i])) / (x.nrm * y.nrm) AS cos
              FROM eq x JOIN en y
                ON x.cluster = y.cluster AND x.vec_id <> y.vec_id),
        knn AS (SELECT vec_id, nb, cos, rank FROM (
                  SELECT vec_id, nb, cos,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, nb ASC) AS rank
                  FROM p) WHERE rank <= $KnnK)"""
  }

  private lazy val knnGraphOracle: String = knnCtes + """
        SELECT vec_id, nb, cos, rank FROM knn ORDER BY vec_id, rank"""

  /** knnCtes' pair join `p` restricted to cross-parity pairs, then the
    * [[bitextMined]] replay: rank-ordered top-BtK cosine fold per
    * vector (list_sum(list(… ORDER BY rk)) — the engine's sorted
    * aggregate fold), the same ratio-margin division tree, per-side
    * mutual argmaxes, raw-double thresholding, 1e-6 floor-grid
    * presentation. The trailing `knn` CTE rides along unused. */
  private lazy val bitextOracle: String = knnCtes + s""",
        cx AS (SELECT vec_id, nb, cos FROM p
               WHERE (vec_id % 2) <> (nb % 2)),
        rkd AS (SELECT vec_id, nb, cos,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, nb ASC) AS rk
                FROM cx),
        st AS (SELECT vec_id,
                      list_sum(list(cos ORDER BY rk)) / count(*) AS avgk
               FROM rkd WHERE rk <= $BtK GROUP BY vec_id),
        sc AS (SELECT c.vec_id, c.nb,
                      c.cos / ((sx.avgk + sy.avgk) / 2) AS margin
               FROM cx c JOIN st sx ON sx.vec_id = c.vec_id
                         JOIN st sy ON sy.vec_id = c.nb
               WHERE sx.avgk + sy.avgk <> 0),
        bb AS (SELECT vec_id, nb, margin,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY margin DESC, nb ASC) AS brk
               FROM sc),
        fw AS (SELECT vec_id AS src_id, nb AS tgt_id, margin
               FROM bb WHERE brk = 1 AND vec_id % 2 = 0),
        bw AS (SELECT nb AS src_id, vec_id AS tgt_id
               FROM bb WHERE brk = 1 AND vec_id % 2 = 1)
        SELECT f.src_id, f.tgt_id,
               FLOOR(f.margin * 1.0e6 + 0.5) / 1.0e6 AS margin
        FROM fw f JOIN bw b
          ON b.src_id = f.src_id AND b.tgt_id = f.tgt_id
        WHERE f.margin > $BtThreshold
        ORDER BY f.src_id"""

  /** knnCtes' multiprobe pair join `p`, label-filtered and ranked to
    * the per-anchor top-1 — the q_embed_hardneg replay. The WHERE runs
    * before the window, so the rank is over different-label candidates
    * only (the engine filters in the join condition). */
  private lazy val hardnegOracle: String = knnCtes + """,
        hn AS (SELECT vec_id, label, neg_id, neg_label, cos FROM (
                 SELECT p.vec_id, lx.label AS label, p.nb AS neg_id,
                        ly.label AS neg_label, p.cos,
                        ROW_NUMBER() OVER (PARTITION BY p.vec_id
                          ORDER BY p.cos DESC, p.nb ASC) AS rn
                 FROM p JOIN embeddings lx ON lx.vec_id = p.vec_id
                        JOIN embeddings ly ON ly.vec_id = p.nb
                 WHERE lx.label <> ly.label)
               WHERE rn = 1)
        SELECT vec_id, label, neg_id, neg_label, cos FROM hn
        ORDER BY vec_id"""

  /** knnCtes + the {self} ∪ neighbors fixed-point mean — the same
    * floor(x·2²⁰) long accumulation and floor(Σ/n) mean as the engine
    * (integer CSV output: no float formatting anywhere). */
  private lazy val smoothOracle: String = knnCtes + s""",
        mem AS (SELECT vec_id, nb FROM knn
                UNION ALL SELECT vec_id, vec_id AS nb FROM e),
        x AS (SELECT m.vec_id, u.i AS pos,
                CAST(FLOOR(CAST(u.v AS DOUBLE) * $KmQ) AS BIGINT) AS fix
              FROM mem m JOIN (SELECT vec_id, unnest(embedding) AS v,
                                      unnest(range(1, 65)) AS i
                               FROM e) u ON u.vec_id = m.nb),
        g AS (SELECT vec_id, pos, CAST(SUM(fix) AS BIGINT) AS sfix,
                     COUNT(*) AS n
              FROM x GROUP BY 1, 2),
        f AS (SELECT vec_id, CAST(MAX(n) AS BIGINT) AS n_members,
                     array_to_string(list(
                       CAST(FLOOR(CAST(sfix AS DOUBLE) / n) AS BIGINT)
                       ORDER BY pos), ',') AS smooth_fix_csv
              FROM g GROUP BY vec_id)
        SELECT vec_id, n_members, smooth_fix_csv FROM f
        ORDER BY vec_id"""

  /** knnCtes + the Wilson edited-NN majority vote — same
    * (cnt DESC, label ASC) argmax as the engine's min(struct(-cnt, l));
    * vectors without cluster-mates keep their own label. */
  private lazy val labelCleanOracle: String = knnCtes + """,
        v AS (SELECT k.vec_id, e2.label AS nl, count(*) AS cnt
              FROM knn k JOIN embeddings e2 ON e2.vec_id = k.nb
              GROUP BY 1, 2),
        b AS (SELECT vec_id, nl FROM (
                SELECT vec_id, nl, ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY cnt DESC, nl ASC) AS rn
                FROM v) WHERE rn = 1)
        SELECT l.vec_id, l.label,
               COALESCE(b.nl, l.label) AS nn_label,
               l.label = COALESCE(b.nl, l.label) AS clean
        FROM embeddings l LEFT JOIN b ON b.vec_id = l.vec_id
        ORDER BY l.vec_id"""

  /** Unrolled replay of the PCA gate: exact integer moments (HUGEINT
    * sums of the same fixed-point products), the identical covariance
    * expression tree, PcaIters power steps as chained CTEs — each step
    * an index-ordered matrix-vector fold + norm + the 1e-9 component
    * snap — then the snapped-sign flip and the index-ordered projection
    * fold. MATERIALIZED per step (the CTE-inlining lesson). */
  /** The PcaIters snapped power-step chain as chained CTEs over the
    * matrix CTE `covCte` (single row, column `cm`), from seed
    * `${p}w0` to `${p}w$PcaIters` — shared by both PCA oracles. */
  private def pcaStepCtes(covCte: String, p: String): String = {
    val dd = PcaDim
    (1 to PcaIters).map { k =>
      s"""${p}r$k AS (SELECT [list_sum([cm[i][j] * v[j]
                            for j in range(1, ${dd + 1})])
                          for i in range(1, ${dd + 1})] AS raw
                  FROM $covCte, ${p}w${k - 1}),
           ${p}w$k AS MATERIALIZED (SELECT
                    [floor(raw[i] / nrm * 1.0e9 + 0.5) / 1.0e9
                     for i in range(1, ${dd + 1})] AS v
                  FROM (SELECT raw,
                          sqrt(list_sum([raw[k2] * raw[k2]
                            for k2 in range(1, ${dd + 1})])) AS nrm
                        FROM ${p}r$k))"""
    }.mkString(",\n           ")
  }

  /** The shared PCA front half in SQL: exact integer moments →
    * covariance matrix row (`covm.cm`) + mean (`mu.mu`), plus the
    * first power chain seed `w0` and chain `w1..w$PcaIters` with its
    * sign-fixed result `vf`. */
  private def pcaBaseCtes: String = {
    val (dd, f) = (PcaDim, PcaF)
    s"""nn AS (SELECT COUNT(*) AS n FROM embeddings),
        e AS MATERIALIZED (SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * $f) AS BIGINT)) AS xf
             FROM embeddings),
        flat AS (SELECT vec_id, i.range AS i, xf[i.range + 1] AS xi
                 FROM e CROSS JOIN range(0, $dd) i),
        s AS MATERIALIZED (SELECT i, SUM(xi) AS s FROM flat GROUP BY i),
        p AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
               SUM(a.xi * b.xi) AS p
             FROM flat a JOIN flat b ON a.vec_id = b.vec_id
             GROUP BY 1, 2),
        cov AS (SELECT p.i, p.j,
                  CAST((SELECT n FROM nn) * p.p - sa.s * sb.s AS DOUBLE)
                    / (SELECT n FROM nn) / (SELECT n FROM nn)
                    / $f.0 / $f.0 AS c
                FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j),
        covm AS MATERIALIZED (SELECT list(rl ORDER BY i) AS cm
                FROM (SELECT i, list(c ORDER BY j) AS rl FROM cov
                      GROUP BY i)),
        mu AS (SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM nn) / $f.0
                           ORDER BY i) AS mu
               FROM s),
        w0 AS (SELECT [CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END
                       for i in range(1, ${dd + 1})] AS v),
        ${pcaStepCtes("covm", "")},
        vf AS (SELECT CASE WHEN v[1] < 0
                           THEN list_transform(v, x -> -x) ELSE v END AS v
               FROM w$PcaIters)"""
  }

  private def pcaOracle: String = {
    val (dd, f) = (PcaDim, PcaF)
    s"""WITH $pcaBaseCtes
        SELECT vec_id,
               floor(list_sum([(CAST(xf[i] AS DOUBLE) / $f.0 - mu.mu[i])
                               * vf.v[i]
                               for i in range(1, ${dd + 1})])
                     * 1.0e6 + 0.5) / 1.0e6 AS pc1
        FROM e, vf, mu ORDER BY vec_id"""
  }

  /** q_embed_pca2: the base chain, then λ₁ = v₁ᵀCv₁ from the snapped
    * v₁ (same nested index-ordered folds as the engine), Hotelling
    * deflation cm − λ·v₁v₁ᵀ as one per-entry expression, the second
    * snapped chain over the deflated matrix, and both projections. */
  private def pca2Oracle: String = {
    val (dd, f) = (PcaDim, PcaF)
    s"""WITH $pcaBaseCtes,
        cv AS (SELECT [list_sum([cm[i][j] * v[j]
                                 for j in range(1, ${dd + 1})])
                       for i in range(1, ${dd + 1})] AS cv
               FROM covm, vf),
        lam AS (SELECT list_sum([cv.cv[i] * vf.v[i]
                                 for i in range(1, ${dd + 1})]) AS lam
                FROM cv, vf),
        covm2 AS MATERIALIZED (SELECT
                 [[cm[i][j] - lam.lam * vf.v[i] * vf.v[j]
                   for j in range(1, ${dd + 1})]
                  for i in range(1, ${dd + 1})] AS cm
               FROM covm, vf, lam),
        dw0 AS (SELECT [CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END
                        for i in range(1, ${dd + 1})] AS v),
        ${pcaStepCtes("covm2", "d")},
        vf2 AS (SELECT CASE WHEN v[1] < 0
                            THEN list_transform(v, x -> -x) ELSE v END AS v
                FROM dw$PcaIters)
        SELECT vec_id,
               floor(list_sum([(CAST(xf[i] AS DOUBLE) / $f.0 - mu.mu[i])
                               * vf.v[i]
                               for i in range(1, ${dd + 1})])
                     * 1.0e6 + 0.5) / 1.0e6 AS pc1,
               floor(list_sum([(CAST(xf[i] AS DOUBLE) / $f.0 - mu.mu[i])
                               * vf2.v[i]
                               for i in range(1, ${dd + 1})])
                     * 1.0e6 + 0.5) / 1.0e6 AS pc2
        FROM e, vf, vf2, mu ORDER BY vec_id"""
  }

  // the stored-index probe computes the identical output through the
  // persisted bucketed table, so ONE oracle pins both physical plans
  // (the q_text_decontaminate / _bloom precedent)
  def oracles: Map[String, String] =
    {
      val base = oraclesBase
      base +
        ("q_ann_ivfpq_stored" -> base("q_ann_ivfpq")) +
        // appending to an index never changes an answer: encode is
        // per-row under frozen quantizers, so standing ∪ new ≡ full
        ("q_ann_incremental" -> base("q_ann_ivfpq")) +
        // two successive appends under the frozen quantizers still
        // never change an answer — append∘append ≡ rebuild, the
        // re-entrancy law on the same one oracle
        ("q_ann_append2" -> base("q_ann_ivfpq")) +
        // the stream serves the SAME stored search bit-identically
        // (AnnStreamSpec pins the row-for-row law) — one oracle
        ("q_stream_ann" -> base("q_ann_ivfpq")) +
        // the ivfpq chain with the per-query attribute constraint on
        // the CANDIDATE side only (quantizers, assignment and probing
        // stay label-blind — the engine filters the pruned scan, not
        // the index build); correlated lookups state "candidate's
        // label = query's label" exactly where the engine's equi-key
        // sits
        ("q_ann_filtered" ->
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                 WHERE vec_id % 100 = 0),
          ${ivfpqChainCtes("", standing = false, candWhere =
            " AND (SELECT label FROM embeddings ex" +
            " WHERE ex.vec_id = enc.vec_id)" +
            " = (SELECT label FROM embeddings ey" +
            " WHERE ey.vec_id = qp.qid)", nprobe = FilteredNprobe)}
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank""") +
        // recall law: |approx top-K ∩ exact top-K| / K per query —
        // the approx leg is the shared ivfpq chain, the exact leg the
        // brute-force CTEs, joined on (qid, vec_id); LEFT JOIN from
        // the query set keeps zero-hit queries as 0/K rows
        ("q_ann_recall" ->
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                 WHERE vec_id % 100 = 0),
          ${ivfpqChainCtes("", standing = false)},
          bf0 AS (SELECT qq.qid, e.vec_id,
                        list_sum([qq.qv[i] * e.v[i]
                                  for i in range(1, len(qq.qv) + 1)]) /
                              (qq.qn * e.nrm) AS cos
                 FROM qq CROSS JOIN e WHERE e.vec_id <> qq.qid),
          bf AS (SELECT qid, vec_id FROM
                 (SELECT qid, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cos DESC, vec_id) AS brank
                  FROM bf0) WHERE brank <= $K),
          ap AS (SELECT qid, vec_id FROM r WHERE rank <= $K),
          hit AS (SELECT bf.qid, COUNT(*) AS n_hit
                  FROM bf JOIN ap ON bf.qid = ap.qid
                                 AND bf.vec_id = ap.vec_id
                  GROUP BY bf.qid)
          SELECT qq.qid, COALESCE(hit.n_hit, 0) AS n_hit,
                 CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ${K}.0
                   AS recall
          FROM qq LEFT JOIN hit ON qq.qid = hit.qid
          ORDER BY qq.qid""")
    }

  /** The IVF+PQ+refine oracle CTE chain, parameterized so ONE
    * definition serves q_ann_ivfpq (and via shared-oracle aliasing the
    * stored/incremental gates) AND both branches of the maintenance
    * oracle: `sfx` suffixes every CTE name so two chains can coexist
    * in one statement; `standing = true` restricts the QUANTIZER seed
    * sets (IVF centroid vectors, PQ codebook vectors) to the standing
    * slice (`vec_id < thr` from a caller-provided `t` CTE) — encoding,
    * assignment, probing, and refine still run over the full corpus,
    * exactly the engine's append-under-frozen-quantizers semantics.
    * Callers must provide `e` (vectors + norms) and `qq` (query set)
    * CTEs; the chain ends in `r$sfx` = (qid, vec_id, cos, rank). */
  /** `candWhere` restricts the CANDIDATE side only (appended verbatim
    * to the sc join, alias `enc$sfx`) — the tombstone-delete oracle:
    * quantizers, assignment, and probing stay trained/computed on the
    * full corpus; deleted rows just vanish from the inverted lists. */
  private def ivfpqChainCtes(sfx: String, standing: Boolean,
      candWhere: String = "", nprobe: Int = 3): String = {
    val sf = if (standing) " AND vec_id < (SELECT thr FROM t)" else ""
    val dtab = (x: String) =>
      s"""[[list_sum([($x[j * $S + i] - cs[c + 1][j * $S + i]) *
                      ($x[j * $S + i] - cs[c + 1][j * $S + i])
                      for i in range(1, ${S + 1})])
            for c in range(0, len(cs))]
           for j in range(0, $M)]"""
    s"""c$sfx AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e
                WHERE vec_id % 100 = 50 AND vec_id < 1600$sf),
          asg0$sfx AS (SELECT e.vec_id, c$sfx.cid,
                          list_sum([c$sfx.cv[i] * e.v[i]
                                    for i in range(1, len(e.v) + 1)]) /
                                (c$sfx.cn * e.nrm) AS ccos
                   FROM e CROSS JOIN c$sfx),
          asg$sfx AS (SELECT vec_id, cid AS cell FROM
                  (SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid DESC) AS rn
                   FROM asg0$sfx) WHERE rn = 1),
          qp$sfx AS (SELECT qid, pcell FROM
                 (SELECT e.vec_id AS qid, c$sfx.cid AS pcell,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum([c$sfx.cv[i] * e.v[i]
                                     for i in range(1, len(e.v) + 1)]) /
                                 (c$sfx.cn * e.nrm) DESC, c$sfx.cid DESC) AS rn
                  FROM e CROSS JOIN c$sfx WHERE e.vec_id % 100 = 0)
                 WHERE rn <= $nprobe),
          pc$sfx AS (SELECT vec_id AS scid, v AS scv FROM e
                 WHERE vec_id % 30 = 15 AND vec_id < 480$sf),
          cst$sfx AS (SELECT list(scv ORDER BY scid) AS cs FROM pc$sfx),
          enc$sfx AS (SELECT e.vec_id,
                    [list_indexof(dl, list_min(dl)) - 1
                     for dl in ${dtab("e.v")}] AS codes
                  FROM e CROSS JOIN cst$sfx),
          qt$sfx AS (SELECT e.vec_id AS qid, ${dtab("e.v")} AS qtab
                 FROM e CROSS JOIN cst$sfx WHERE e.vec_id % 100 = 0),
          sc$sfx AS (SELECT qt$sfx.qid, enc$sfx.vec_id,
                        list_sum([qt$sfx.qtab[j + 1][enc$sfx.codes[j + 1] + 1]
                                  for j in range(0, $M)]) AS adc
                 FROM enc$sfx JOIN asg$sfx a ON enc$sfx.vec_id = a.vec_id
                          JOIN qp$sfx ON a.cell = qp$sfx.pcell
                                 AND enc$sfx.vec_id <> qp$sfx.qid$candWhere
                          JOIN qt$sfx ON qt$sfx.qid = qp$sfx.qid),
          sl$sfx AS (SELECT qid, vec_id FROM
                 (SELECT qid, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY adc, vec_id) AS srank
                  FROM sc$sfx) WHERE srank <= $RerankT),
          rr$sfx AS (SELECT sl$sfx.qid, sl$sfx.vec_id,
                        list_sum([qq.qv[i] * e.v[i]
                                  for i in range(1, len(qq.qv) + 1)]) /
                              (qq.qn * e.nrm) AS cos
                 FROM sl$sfx JOIN e ON e.vec_id = sl$sfx.vec_id
                         JOIN qq ON qq.qid = sl$sfx.qid),
          r$sfx AS (SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM rr$sfx)"""
  }

  /** q_ann_maintain's oracle: replays the drift decision (the
    * q_embed_drift CTEs, renamed d*) and BOTH search branches (the
    * chain above, full-quantizer `f` vs standing-quantizer `a`), then
    * emits whichever branch the decision selects with the decision
    * itself as the `retrained` column — one statement stating the
    * decision law AND the branch result. */
  private def maintainOracle: String =
    s"""WITH t AS (SELECT max(vec_id) - max(vec_id) // 10 AS thr
                   FROM embeddings),
        dx AS (SELECT label, vec_id >= (SELECT thr FROM t) AS is_new,
                     u.i AS pos,
                     CAST(FLOOR(CAST(u.v AS DOUBLE) * $KmQ) AS BIGINT)
                       AS fix
              FROM (SELECT label, vec_id, unnest(embedding) AS v,
                           unnest(range(1, 65)) AS i
                    FROM embeddings) u),
        dg AS (SELECT label, is_new, pos,
                     CAST(SUM(fix) AS BIGINT) AS sfix, COUNT(*) AS cnt
              FROM dx GROUP BY 1, 2, 3),
        dcent AS (SELECT label, is_new,
                     list(CAST(FLOOR(CAST(sfix AS DOUBLE) / cnt)
                               AS BIGINT) ORDER BY pos) AS carr
              FROM dg GROUP BY 1, 2),
        dec AS (SELECT COALESCE(max(
                  CAST(list_sum(list_transform(range(1, 65), i ->
                    (s.carr[i] - w.carr[i]) * (s.carr[i] - w.carr[i])))
                    AS BIGINT)) > $MaintainShiftBound, FALSE) AS retrained
                FROM dcent s JOIN dcent w ON s.label = w.label
                WHERE NOT s.is_new AND w.is_new),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
              FROM embeddings),
        qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
               WHERE vec_id % 100 = 0),
        ${ivfpqChainCtes("f", standing = false)},
        ${ivfpqChainCtes("a", standing = true)}
        SELECT qid, vec_id, cos, rank,
               (SELECT retrained FROM dec) AS retrained
        FROM rf WHERE rank <= $K AND (SELECT retrained FROM dec)
        UNION ALL
        SELECT qid, vec_id, cos, rank,
               (SELECT retrained FROM dec) AS retrained
        FROM ra WHERE rank <= $K AND NOT (SELECT retrained FROM dec)
        ORDER BY qid, rank"""

  private def oraclesBase: Map[String, String] = Map(
    "q_ann_maintain" -> maintainOracle,
    // the q_embed_drift replay (same fixed-point centroids, same
    // integer shift fold) + the fired decision as a window max over
    // the drift frame — the identical law maintainOracle's `dec` CTE
    // states, here emitted per label the way the stream reports it
    "q_stream_maintain" ->
      s"""WITH t AS (SELECT max(vec_id) - max(vec_id) // 10 AS thr
                     FROM embeddings),
          x AS (SELECT label, vec_id >= (SELECT thr FROM t) AS is_new,
                       u.i AS pos,
                       CAST(FLOOR(CAST(u.v AS DOUBLE) * $KmQ) AS BIGINT)
                         AS fix
                FROM (SELECT label, vec_id, unnest(embedding) AS v,
                             unnest(range(1, 65)) AS i
                      FROM embeddings) u),
          g AS (SELECT label, is_new, pos,
                       CAST(SUM(fix) AS BIGINT) AS sfix, COUNT(*) AS cnt
                FROM x GROUP BY 1, 2, 3),
          c AS (SELECT label, is_new, CAST(MAX(cnt) AS BIGINT) AS n,
                       list(CAST(FLOOR(CAST(sfix AS DOUBLE) / cnt)
                                 AS BIGINT) ORDER BY pos) AS carr
                FROM g GROUP BY 1, 2),
          dr AS (SELECT s.label, s.n AS n_standing, w.n AS n_new,
                        CAST(list_sum(list_transform(range(1, 65), i ->
                          (s.carr[i] - w.carr[i]) * (s.carr[i] - w.carr[i])))
                          AS BIGINT) AS shift_d2
                 FROM c s JOIN c w ON s.label = w.label
                 WHERE NOT s.is_new AND w.is_new)
          SELECT label, n_standing, n_new, shift_d2,
                 MAX(shift_d2) OVER () > $MaintainShiftBound AS retrain
          FROM dr ORDER BY label""",
    "q_embed_pca" -> pcaOracle,
    "q_embed_pca2" -> pca2Oracle,
    // same md5-parity sign matrix, i-ascending fold, exact /sqrt(k)
    "q_embed_jl" ->
      s"""WITH e AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE))
                         AS v
                     FROM embeddings)
          SELECT vec_id, j.range AS j,
                 floor((list_sum([v[i] *
                          (CASE WHEN CAST(('0x' ||
                                 substring(md5(i::VARCHAR || ',' ||
                                           j.range::VARCHAR), 1, 1))
                                 AS INTEGER) % 2 = 1
                                THEN 1.0 ELSE -1.0 END)
                          for i in range(1, 65)])
                        / sqrt(CAST($JlK AS DOUBLE))) * 1.0e6 + 0.5)
                   / 1.0e6 AS y
          FROM e CROSS JOIN range(1, ${JlK + 1}) j
          ORDER BY vec_id, j""",
    "q_embed_hardneg" -> hardnegOracle,
    "q_embed_kmeans" -> kmeansOracle,
    "q_embed_kcenter" -> kcenterOracle,
    "q_embed_knn" -> knnGraphOracle,
    "q_embed_bitext" -> bitextOracle,
    // same max − max/10 threshold (integer division), the same
    // floor(x·2²⁰)/floor(Σ/n) long centroids per (label, slice), the
    // same exact long shift fold — integer end to end
    "q_embed_drift" ->
      s"""WITH t AS (SELECT max(vec_id) - max(vec_id) // 10 AS thr
                     FROM embeddings),
          x AS (SELECT label, vec_id >= (SELECT thr FROM t) AS is_new,
                       u.i AS pos,
                       CAST(FLOOR(CAST(u.v AS DOUBLE) * $KmQ) AS BIGINT)
                         AS fix
                FROM (SELECT label, vec_id, unnest(embedding) AS v,
                             unnest(range(1, 65)) AS i
                      FROM embeddings) u),
          g AS (SELECT label, is_new, pos,
                       CAST(SUM(fix) AS BIGINT) AS sfix, COUNT(*) AS cnt
                FROM x GROUP BY 1, 2, 3),
          c AS (SELECT label, is_new, CAST(MAX(cnt) AS BIGINT) AS n,
                       list(CAST(FLOOR(CAST(sfix AS DOUBLE) / cnt)
                                 AS BIGINT) ORDER BY pos) AS carr
                FROM g GROUP BY 1, 2)
          SELECT s.label, s.n AS n_standing, w.n AS n_new,
                 CAST(list_sum(list_transform(range(1, 65), i ->
                   (s.carr[i] - w.carr[i]) * (s.carr[i] - w.carr[i])))
                   AS BIGINT) AS shift_d2
          FROM c s JOIN c w ON s.label = w.label
          WHERE NOT s.is_new AND w.is_new
          ORDER BY s.label""",
    // same floor(x·2²⁰) quantization, the same floor(Σ/n) long
    // centroids (pos-ordered), the same exact integer distance fold,
    // the same (d2, label) argmin order — integer arithmetic end to
    // end, zero float-formatting risk
    "q_embed_domain" ->
      s"""WITH x AS (SELECT label, u.i AS pos,
                            CAST(FLOOR(CAST(u.v AS DOUBLE) * $KmQ)
                              AS BIGINT) AS fix
                     FROM (SELECT label, unnest(embedding) AS v,
                                  unnest(range(1, 65)) AS i
                           FROM embeddings) u),
          g AS (SELECT label, pos, CAST(SUM(fix) AS BIGINT) AS sfix,
                       COUNT(*) AS n
                FROM x GROUP BY 1, 2),
          c AS (SELECT label AS clabel,
                       list(CAST(FLOOR(CAST(sfix AS DOUBLE) / n) AS BIGINT)
                            ORDER BY pos) AS carr
                FROM g GROUP BY label),
          e AS (SELECT vec_id, label,
                       list_transform(embedding, v ->
                         CAST(FLOOR(CAST(v AS DOUBLE) * $KmQ) AS BIGINT))
                         AS xf
                FROM embeddings),
          asg AS (SELECT e.vec_id, e.label, c.clabel,
                         CAST(list_sum(list_transform(range(1, 65), i ->
                           (xf[i] - carr[i]) * (xf[i] - carr[i])))
                           AS BIGINT) AS d2,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_sum(list_transform(range(1, 65),
                             i -> (xf[i] - carr[i]) * (xf[i] - carr[i])))
                             ASC, c.clabel ASC) AS rn
                  FROM e CROSS JOIN c)
          SELECT vec_id, label, clabel AS domain, label = clabel AS agree,
                 d2
          FROM asg WHERE rn = 1 ORDER BY vec_id""",
    "q_embed_label_clean" -> labelCleanOracle,
    "q_embed_smooth" -> smoothOracle,
    "q_dedup_semantic" -> semanticOracle,
    "q_dedup_semantic_cluster" -> semanticClusterOracle,
    "q_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                WHERE vec_id % 100 = 0),
          sc AS (SELECT q.qid, e.vec_id,
                        list_sum([q.qv[i] * e.v[i]
                                  for i in range(1, len(q.qv) + 1)]) /
                              (q.qn * e.nrm) AS cos
                 FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
          r AS (SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM sc)
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank""",
    // dense leg = the bruteforce CTEs; lexical leg = the dedup gates'
    // shingle-hash CTEs + rare-shingle blocking; RRF = 1/(60+rank)
    // per present leg. hh is MATERIALIZED: it feeds three consumers
    // and DuckDB re-evaluates inlined CTEs per reference.
    "q_ann_hybrid" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                WHERE vec_id % 100 = 0),
          sc AS (SELECT q.qid, e.vec_id,
                        list_sum([q.qv[i] * e.v[i]
                                  for i in range(1, len(q.qv) + 1)]) /
                              (q.qn * e.nrm) AS cos
                 FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
          dense AS (SELECT qid, vec_id AS id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY cos DESC, vec_id) AS drk
                    FROM sc QUALIFY drk <= $K),
          t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents),
          s2 AS (SELECT doc_id, ${DedupQueries.shingle3} AS sh FROM t),
          hh AS MATERIALIZED (SELECT doc_id,
                                     ${DedupQueries.shingleHash} AS hs
                              FROM s2),
          ex AS (SELECT doc_id, UNNEST(hs) AS g FROM hh),
          rare AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex
                                  GROUP BY g)
                   WHERE df BETWEEN 2 AND $HybridMaxDf),
          posts AS (SELECT e2.doc_id, e2.g FROM ex e2
                    JOIN rare r ON r.g = e2.g),
          qp AS (SELECT doc_id AS qid, g FROM posts WHERE doc_id % 100 = 0),
          cand AS (SELECT DISTINCT qp.qid, p.doc_id AS id FROM posts p
                   JOIN qp ON qp.g = p.g AND p.doc_id <> qp.qid),
          lexsc AS (SELECT c.qid, c.id,
                      CAST(len(list_intersect(hq.hs, hd.hs)) AS DOUBLE) /
                        (CAST(len(hq.hs) AS DOUBLE) + CAST(len(hd.hs) AS DOUBLE)
                         - CAST(len(list_intersect(hq.hs, hd.hs)) AS DOUBLE))
                        AS lex
                    FROM cand c JOIN hh hq ON hq.doc_id = c.qid
                    JOIN hh hd ON hd.doc_id = c.id),
          lex AS (SELECT qid, id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY lex DESC, id) AS lrk
                  FROM lexsc QUALIFY lrk <= $K),
          fused AS (SELECT COALESCE(d.qid, l.qid) AS qid,
                           COALESCE(d.id, l.id) AS id,
                           COALESCE(CAST(1 AS DOUBLE) / (60 + d.drk),
                                    CAST(0 AS DOUBLE)) +
                           COALESCE(CAST(1 AS DOUBLE) / (60 + l.lrk),
                                    CAST(0 AS DOUBLE)) AS rrf
                    FROM dense d FULL OUTER JOIN lex l
                      ON d.qid = l.qid AND d.id = l.id)
          SELECT qid, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY rrf DESC, id) AS rank, id, rrf
          FROM fused QUALIFY rank <= $K ORDER BY qid, rank""",
    // hybrid with the STORED-INDEX dense leg: the shared ivfpq chain
    // (d-suffixed — the same CTEs the q_ann_ivfpq_stored oracle pins)
    // feeds the dense K-list; lexical CTEs and the RRF law verbatim
    // from q_ann_hybrid
    "q_ann_hybrid_stored" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                 WHERE vec_id % 100 = 0),
          ${ivfpqChainCtes("d", standing = false)},
          dense AS (SELECT qid, vec_id AS id, rank AS drk FROM rd
                    WHERE rank <= $K),
          t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents),
          s2 AS (SELECT doc_id, ${DedupQueries.shingle3} AS sh FROM t),
          hh AS MATERIALIZED (SELECT doc_id,
                                     ${DedupQueries.shingleHash} AS hs
                              FROM s2),
          ex AS (SELECT doc_id, UNNEST(hs) AS g FROM hh),
          rare AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex
                                  GROUP BY g)
                   WHERE df BETWEEN 2 AND $HybridMaxDf),
          posts AS (SELECT e2.doc_id, e2.g FROM ex e2
                    JOIN rare r2 ON r2.g = e2.g),
          qp AS (SELECT doc_id AS qid, g FROM posts WHERE doc_id % 100 = 0),
          cand AS (SELECT DISTINCT qp.qid, p.doc_id AS id FROM posts p
                   JOIN qp ON qp.g = p.g AND p.doc_id <> qp.qid),
          lexsc AS (SELECT c2.qid, c2.id,
                      CAST(len(list_intersect(hq.hs, hd.hs)) AS DOUBLE) /
                        (CAST(len(hq.hs) AS DOUBLE) + CAST(len(hd.hs) AS DOUBLE)
                         - CAST(len(list_intersect(hq.hs, hd.hs)) AS DOUBLE))
                        AS lex
                    FROM cand c2 JOIN hh hq ON hq.doc_id = c2.qid
                    JOIN hh hd ON hd.doc_id = c2.id),
          lex AS (SELECT qid, id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY lex DESC, id) AS lrk
                  FROM lexsc QUALIFY lrk <= $K),
          fused AS (SELECT COALESCE(d.qid, l.qid) AS qid,
                           COALESCE(d.id, l.id) AS id,
                           COALESCE(CAST(1 AS DOUBLE) / (60 + d.drk),
                                    CAST(0 AS DOUBLE)) +
                           COALESCE(CAST(1 AS DOUBLE) / (60 + l.lrk),
                                    CAST(0 AS DOUBLE)) AS rrf
                    FROM dense d FULL OUTER JOIN lex l
                      ON d.qid = l.qid AND d.id = l.id)
          SELECT qid, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY rrf DESC, id) AS rank, id, rrf
          FROM fused QUALIFY rank <= $K ORDER BY qid, rank""",
    "q_ann_lsh" ->
      s"""WITH planes AS (SELECT tt.range AS t, tj.range AS j,
                  [(CAST(('0x' || substring(md5(CAST(tt.range AS VARCHAR) || ':' ||
                          CAST(tj.range AS VARCHAR) || ':' ||
                          CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) / 2147483648.0 - 1.0)
                   for i in range(1, 65)] AS w
                 FROM range(0, $LshTables) tt CROSS JOIN range(0, $Planes) tj),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                FROM embeddings),
          dots AS (SELECT e.vec_id, p.t, p.j,
                          list_sum([p.w[i] * e.v[i]
                                    for i in range(1, len(e.v) + 1)]) AS dot
                   FROM e CROSS JOIN planes p),
          sigs AS (SELECT vec_id, t,
                          SUM(CASE WHEN dot >= 0
                                   THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                                   ELSE 0 END) AS sig
                   FROM dots GROUP BY vec_id, t),
          ev AS (SELECT e.vec_id, e.v, e.nrm, s.t, s.sig FROM e
                 JOIN sigs s ON e.vec_id = s.vec_id),
          masks AS (SELECT unnest([${LshProbeMasks.mkString(", ")}]) AS m),
          q AS (SELECT vec_id AS qid, qv, qn, t,
                       xor(sig, CAST(m AS BIGINT)) AS qsig
                FROM (SELECT vec_id, v AS qv, nrm AS qn, t, sig FROM ev
                      WHERE vec_id % 100 = 0) CROSS JOIN masks),
          sc AS (SELECT q.qid, ev.vec_id,
                        MAX(list_sum([q.qv[i] * ev.v[i]
                                      for i in range(1, len(q.qv) + 1)]) /
                                  (q.qn * ev.nrm)) AS cos
                 FROM q JOIN ev ON ev.t = q.t AND ev.sig = q.qsig
                               AND ev.vec_id <> q.qid
                 GROUP BY q.qid, ev.vec_id),
          r AS (SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM sc)
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank""",
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e
                WHERE vec_id % 100 = 50 AND vec_id < 1600),
          asg0 AS (SELECT e.vec_id, c.cid,
                          list_sum([c.cv[i] * e.v[i]
                                    for i in range(1, len(e.v) + 1)]) /
                                (c.cn * e.nrm) AS ccos
                   FROM e CROSS JOIN c),
          asg AS (SELECT vec_id, cid AS cell FROM
                  (SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid DESC) AS rn
                   FROM asg0) WHERE rn = 1),
          ev AS (SELECT e.vec_id, e.v, e.nrm, a.cell FROM e
                 JOIN asg a ON e.vec_id = a.vec_id),
          qp AS (SELECT qid, qv, qn, pcell FROM
                 (SELECT e.vec_id AS qid, e.v AS qv, e.nrm AS qn,
                         c.cid AS pcell,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum([c.cv[i] * e.v[i]
                                     for i in range(1, len(e.v) + 1)]) /
                                 (c.cn * e.nrm) DESC, c.cid DESC) AS rn
                  FROM e CROSS JOIN c WHERE e.vec_id % 100 = 0)
                 WHERE rn <= 3),
          sc AS (SELECT qp.qid, ev.vec_id,
                        list_sum([qp.qv[i] * ev.v[i]
                                  for i in range(1, len(qp.qv) + 1)]) /
                              (qp.qn * ev.nrm) AS cos
                 FROM qp JOIN ev ON ev.cell = qp.pcell
                                AND ev.vec_id <> qp.qid),
          r AS (SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM sc)
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank""",
    // replays the composed index exactly: the IVF cell CTEs (same
    // argmax/tie-break as q_ann_ivf), the PQ code/table CTEs (same
    // folds as q_ann_pq), ADC restricted to probed cells, the same
    // T=100 shortlist, the same exact-cosine refine. Iteration-free,
    // so no MATERIALIZED hints needed (each CTE referenced once).
    "q_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                 WHERE vec_id % 100 = 0),
          ${ivfpqChainCtes("", standing = false)}
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank""",
    // the same chain with deleted ids dropped from the CANDIDATE side
    // only — quantizers/assignment/probes unchanged (the tombstone
    // contract: deletion never retrains)
    "q_ann_delete" -> annDeleteServeSql,
    // ONE oracle states the compaction law: serving the physically
    // compacted store under the frozen quantizers answers exactly
    // what the tombstone-filtered store answers
    "q_ann_compact" -> annDeleteServeSql,
    // replays the PQ pipeline exactly: same centroid set (cid-sorted),
    // same 16×16 subspace-distance tables (double casts, index-order
    // folds), first-minimum argmin via list_indexof(list_min), same
    // ADC lookup-sum, same T=100 shortlist, same exact-cosine refine
    "q_ann_pq" -> {
      val dtab = (x: String) =>
        s"""[[list_sum([($x[j * $S + i] - cs[c + 1][j * $S + i]) *
                        ($x[j * $S + i] - cs[c + 1][j * $S + i])
                        for i in range(1, ${S + 1})])
              for c in range(0, len(cs))]
             for j in range(0, $M)]"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            sqrt(list_sum([c * c for c in embedding::DOUBLE[]])) AS nrm
                     FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM e
                WHERE vec_id % 30 = 15 AND vec_id < 480),
          cst AS (SELECT list(cv ORDER BY cid) AS cs FROM c),
          enc AS (SELECT e.vec_id,
                    [list_indexof(dl, list_min(dl)) - 1
                     for dl in ${dtab("e.v")}] AS codes
                  FROM e CROSS JOIN cst),
          q AS (SELECT e.vec_id AS qid, ${dtab("e.v")} AS qtab
                FROM e CROSS JOIN cst WHERE e.vec_id % 100 = 0),
          sc AS (SELECT q.qid, enc.vec_id,
                        list_sum([q.qtab[j + 1][enc.codes[j + 1] + 1]
                                  for j in range(0, $M)]) AS adc
                 FROM q CROSS JOIN enc WHERE enc.vec_id <> q.qid),
          sl AS (SELECT qid, vec_id FROM
                 (SELECT qid, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY adc, vec_id) AS srank
                  FROM sc) WHERE srank <= $RerankT),
          qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
                 WHERE vec_id % 100 = 0),
          rr AS (SELECT sl.qid, sl.vec_id,
                        list_sum([qq.qv[i] * e.v[i]
                                  for i in range(1, len(qq.qv) + 1)]) /
                              (qq.qn * e.nrm) AS cos
                 FROM sl JOIN e ON e.vec_id = sl.vec_id
                         JOIN qq ON qq.qid = sl.qid),
          r AS (SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM rr)
          SELECT qid, vec_id, cos, rank FROM r WHERE rank <= $K
          ORDER BY qid, rank"""
    },
    // same float→double widening, same left-assoc 127·x/m double
    // expression, same half-away-from-zero rounding; integer sums are
    // order-free so the list_sum needs no ordered fold; scale on the
    // same 1e-6 floor grid as the engine (m ≥ 0)
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding,
                      list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS m
                    FROM embeddings),
          c AS (SELECT vec_id, m,
                  list_transform(embedding,
                    x -> CASE WHEN m <= CAST(0 AS DOUBLE) THEN 0
                         ELSE CAST(round(CAST(127 AS DOUBLE) *
                                         CAST(x AS DOUBLE) / m) AS INT)
                         END) AS codes
                FROM e)
          SELECT vec_id, floor(m * 1.0e6 + 0.5) / 1.0e6 AS scale,
                 CAST(len(codes) AS BIGINT) AS n_dims,
                 CAST(list_sum(codes) AS BIGINT) AS sum_codes,
                 CAST(list_sum(list_transform(codes, x -> abs(x)))
                      AS BIGINT) AS sum_abs,
                 md5(array_to_string(codes, ',')) AS codes_md5
          FROM c ORDER BY vec_id"""
  )
}
