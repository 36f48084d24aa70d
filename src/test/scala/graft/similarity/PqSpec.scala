package graft.similarity

import graft.SparkSpec
import graft.queries.SimilarityQueries

/** Closed-form checks of the PQ encode + ADC ranking behind q_ann_pq
  * (cross-engine parity with the DuckDB replay is the correctness
  * gate). Quantization semantics under test: every vector collapses to
  * its nearest centroid per subspace, so ADC distances are equal for
  * identically-coded vectors and ranking falls to the vec_id
  * tie-break. */
class PqSpec extends SparkSpec {

  import org.apache.spark.sql.functions.col

  // Fixture seed rule: centroids are ids {50, 150} — explicit, so the
  // production codebook rule can change without orphaning these
  // closed-form fixtures (the r8 lesson: a seed-rule change left them
  // with an EMPTY codebook and an element_at crash).
  private val fixtureSeeds = col("vec_id") % 100 === 50

  // 64-dim float vectors: A-cluster near 0.0, B-cluster near 1.0
  private def vec(base: Float, bump: Int = -1): Array[Float] = {
    val a = Array.fill(64)(base)
    if (bump >= 0) a(bump) = base + 0.01f
    a
  }

  test("identically-coded vectors tie on ADC and rank by vec_id") {
    val s = spark
    import s.implicits._
    // ids follow the %100 conventions: queries {0, 100}, centroids {50, 150}
    val e = Seq(
      0L -> vec(0.0f, bump = 3),    // query near A
      50L -> vec(0.0f),             // centroid A
      100L -> vec(1.0f, bump = 3),  // query near B
      150L -> vec(1.0f),            // centroid B
      201L -> vec(0.0f, bump = 7),  // corpus, A-coded
      202L -> vec(1.0f, bump = 7)   // corpus, B-coded
    ).toDF("vec_id", "embedding")
    val out = SimilarityQueries.pqTopK(e, seedRule = fixtureSeeds)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    val q0 = out.filter(_._1 == 0L).sortBy(_._4)
    // A-coded corpus rows (50, 201) share one ADC value and outrank the
    // B-coded ones (100, 150, 202), which also tie among themselves
    assert(q0.map(_._2).toSeq == Seq(50L, 201L, 100L, 150L, 202L))
    assert(q0(0)._3 == q0(1)._3, "same codes must give identical ADC")
    assert(q0(2)._3 == q0(3)._3 && q0(3)._3 == q0(4)._3)
    assert(q0(0)._3 < q0(2)._3, "near-cluster codes must rank first")

    val q1 = out.filter(_._1 == 100L).sortBy(_._4)
    assert(q1.map(_._2).toSeq == Seq(150L, 202L, 0L, 50L, 201L))
  }

  test("native pq_adc is bit-identical to the interpreted aggregate form") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{call_function, expr}
    // deterministic pseudo-random tables/codes from row ids
    val df = s.range(50).selectExpr(
      "transform(sequence(0, 7), j -> transform(sequence(0, 15), " +
        "c -> cast(conv(substring(md5(concat(id, ':', j, ':', c)), 1, 6), 16, 10) " +
        "as double) / 1e3)) AS qtab",
      "transform(sequence(0, 7), j -> cast(conv(substring(md5(concat(id, '#', j)), " +
        "1, 2), 16, 10) as int) % 16) AS codes")
    val out = df.select(
      call_function("pq_adc", expr("qtab"), expr("codes")).as("native"),
      expr("aggregate(sequence(0, 7), 0D, (acc, j) -> " +
        "acc + element_at(element_at(qtab, j + 1), " +
        "cast(element_at(codes, j + 1) + 1 as int)))").as("interp"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("a vector equal to a centroid has zero ADC from a centroid query") {
    val s = spark
    import s.implicits._
    // query 0 IS centroid 50's vector: ADC(0, any A-coded vector) = 0
    val e = Seq(
      0L -> vec(0.0f),
      50L -> vec(0.0f),
      150L -> vec(1.0f),
      201L -> vec(0.0f, bump = 7)
    ).toDF("vec_id", "embedding")
    val out = SimilarityQueries.pqTopK(e, seedRule = fixtureSeeds)
      .collect().filter(_.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(50L) == 0.0 && out(201L) == 0.0)
    assert(out(150L) > 0.0)
  }

  test("an empty codebook yields an empty result, not an ANSI error") {
    val s = spark
    import s.implicits._
    // no id matches the seed rule → centroids() returns a 0-element
    // codebook; the degenerate input must stay total (SURVEY §8) —
    // this is the exact crash shape of the r8 seed-rule change
    val e = Seq(
      0L -> vec(0.0f),
      201L -> vec(0.0f, bump = 7),
      202L -> vec(1.0f)
    ).toDF("vec_id", "embedding")
    assert(SimilarityQueries.pqTopK(e, seedRule = fixtureSeeds).count() == 0L)
  }
}
