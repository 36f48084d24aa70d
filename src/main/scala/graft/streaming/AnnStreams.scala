package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One served hit: the stored-index search result row
  * (q_ann_ivfpq_stored's schema, emitted by the stream). */
final case class AnnHit(qid: Long, vec_id: Long, cos: Double, rank: Int)

/** ONLINE ANN serving — the stored IVF-PQ index's query path as a
  * stream (the lifecycle step after build / append / retrain: queries
  * arrive continuously; the index is the standing artifact). Design:
  *
  *  - The index, the corpus vectors, the IVF centroid table, and the
  *    PQ codebook are STATIC artifacts built once before the stream
  *    starts (in production they change on maintenance cadence —
  *    q_ann_maintain — not query cadence).
  *  - Probe-cell selection, the per-query ADC table, and the ADC
  *    itself run IN-FLIGHT as stateless narrow expressions +
  *    stream-static equi-joins: centroids are a ≤16-entry literal
  *    (bounded by construction, so the plan stays small), so
  *    nearest-nprobe is one array_sort over a 16-element in-row
  *    array — no window, no state.
  *  - Candidate vectors join from the static corpus alongside the
  *    codes (the FAISS refine-storage idiom: serving keeps raw
  *    vectors next to the inverted lists); the EXACT cosine is then
  *    computed only for the ADC shortlist inside the one stateful
  *    fold.
  *  - The single flatMapGroupsWithState holds ZERO cross-batch state:
  *    a query's candidates are generated entirely within its arrival
  *    micro-batch (the joins are per-batch), so each group folds a
  *    bounded rerank-T heap and emits its top-k once. Per-group
  *    memory is rerankT entries — never a cell's occupancy.
  *
  * Ranking semantics replicate the batch strategy exactly
  * (SimilarityQueries.storedSearch): shortlist = rerankT smallest by
  * (adc ASC, vec_id ASC); final = top-k by (cos DESC, vec_id ASC);
  * cosine is the same index-order double fold as the native
  * `cosine_sim` expression (CosineSimilarity.nullSafeEval), so the
  * emitted rows are bit-identical to the batch gate's
  * (AnnStreamSpec pins it row for row). */
object AnnStreams {

  /** The `cosine_sim` fold, replicated operation-for-operation
    * (float→double per element, index-order dot/norm accumulation,
    * dot / (sqrt·sqrt)) so stream-side reranking is bit-equal to the
    * batch expression. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Serve `queries` (qid, qv: array<float>) against the persisted
    * index. `cents` is the collected IVF centroid table (bounded by
    * construction — the fixed-id rule); `withQtab` attaches the
    * per-query ADC table (the batch pqQueryTabs expression, closed
    * over the static codebook); `store` is the bucketed (vec_id,
    * codes, cell) index table; `emb` the static corpus vectors. */
  def serveStream(queries: DataFrame, cents: Seq[(Long, Array[Float])],
      withQtab: DataFrame => DataFrame, store: DataFrame, emb: DataFrame,
      k: Int, nprobe: Int, rerankT: Int): Dataset[AnnHit] = {
    val s = queries.sparkSession
    import s.implicits._

    // nearest-nprobe cells, no window: score the literal centroid
    // table in-row, array_sort by (pcos DESC, pcell DESC) — the exact
    // ivfProbes ordering — and explode the first nprobe
    val scoredCents: Seq[Column] = cents.map { case (cid, cv) =>
      struct(
        call_function("cosine_sim", typedlit(cv.toSeq), col("qv"))
          .as("pcos"),
        lit(cid).as("pcell"))
    }
    // NaN-explicit comparator (ADVICE r15): a zero-norm query or
    // centroid yields a NaN cosine, and the batch ivfProbes
    // row_number orderBy sorts NaN as GREATEST (first under DESC) —
    // java.lang.Double.compare semantics. Spell that out with isnan
    // branches rather than rely on `>`'s NaN behavior, so stream and
    // batch provably probe the same cells. Two NaNs tie and fall to
    // the pcell tie-break, same as the batch sort.
    val byProbeOrder = (l: Column, r: Column) =>
      when(isnan(l.getField("pcos")) && !isnan(r.getField("pcos")), -1)
        .when(!isnan(l.getField("pcos")) && isnan(r.getField("pcos")), 1)
        .when(l.getField("pcos") > r.getField("pcos"), -1)
        .when(l.getField("pcos") < r.getField("pcos"), 1)
        .when(l.getField("pcell") > r.getField("pcell"), -1)
        .when(l.getField("pcell") < r.getField("pcell"), 1)
        .otherwise(0)
    val probed = queries.withColumn("pcell",
      explode(transform(
        slice(array_sort(array(scoredCents: _*), byProbeOrder), 1, nprobe),
        c => c.getField("pcell"))))

    val cand = withQtab(probed)
      .join(store,
        col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id"),
        call_function("pq_adc", col("qtab"), col("codes")).as("adc"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("qid"), col("vec_id"), col("adc"), col("qv"),
        col("embedding"))
      .as[(Long, Long, Double, Array[Float], Array[Float])]

    cand.groupByKey(_._1)
      .flatMapGroupsWithState[Long, AnnHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid, rows, _) =>
          // bounded ADC shortlist: max-heap of the rerankT smallest
          // by (adc, vec_id) — head is the current worst, evicted on
          // overflow; arrival order cannot change membership
          val worstFirst =
            Ordering.by[(Double, Long, Array[Float], Array[Float]),
              (Double, Long)](t => (t._1, t._2))
          val heap = scala.collection.mutable.PriorityQueue
            .empty[(Double, Long, Array[Float], Array[Float])](worstFirst)
          rows.foreach { case (_, vid, adc, qv, ev) =>
            heap.enqueue((adc, vid, qv, ev))
            if (heap.size > rerankT) heap.dequeue()
          }
          // exact cosine rerank over the shortlist only (heap order
          // is irrelevant — membership is what the heap maintains)
          val short: List[(Double, Long, Array[Float], Array[Float])] =
            heap.toList
          short
            .map(t => (t._2, cosine(t._3, t._4)))
            .sortWith { (p, q) =>
              val d = java.lang.Double.compare(q._2, p._2)
              if (d != 0) d < 0 else p._1 < q._1
            }
            .take(k)
            .zipWithIndex
            .map { case ((vid, c), i) => AnnHit(qid, vid, c, i + 1) }
            .iterator
      }
  }
}
