package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{SparkEntry, SparkSpec, Tables}

/** `q_ann_hybrid` — reciprocal-rank fusion of the dense (cosine) and
  * lexical (shingle-Jaccard) retrieval legs. Pins the RRF law and that
  * BOTH legs materially reach the fused output: a hybrid gate whose
  * lexical leg never surfaces a document would silently degrade to
  * q_ann_bruteforce with extra plumbing. */
class HybridSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("every fused score is a legal RRF value and both legs contribute") {
    val out = SparkEntry.queries("q_ann_hybrid")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    // the fused list is K=5 rows per query, rank-dense, rrf-descending
    val byQ = out.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"ranks broken for $q")
      val rrfs = rows.sortBy(_._2).map(_._4)
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b },
        s"rrf not descending for $q")
    }

    // RRF law: every score is 1/(60+i), 1/(60+j), or their sum for
    // some leg ranks 1..K — nothing else can appear
    val singles = (1 to 5).map(r => 1.0 / (60 + r))
    val legal = (singles ++
      (for (a <- singles; b <- singles) yield a + b)).toSet
    out.foreach { case (q, _, id, rrf) =>
      assert(legal.exists(v => math.abs(v - rrf) < 1e-15),
        s"($q,$id) rrf=$rrf is not a legal RRF value")
    }

    // both legs contribute: recompute the dense top-5 ids per query and
    // check the fused output contains ids OUTSIDE it (lexical-only docs)
    // and ids inside it (dense docs)
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val dense = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("cosine_sim", col("qv"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromLex = out.count(r => !dense.contains((r._1, r._3)))
    val fromDense = out.count(r => dense.contains((r._1, r._3)))
    assert(fromLex >= 1, "no lexical-leg doc reached the fused top-K")
    assert(fromDense >= 1, "no dense-leg doc reached the fused top-K")
  }
}
