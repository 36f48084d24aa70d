package graft.text

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions.col

/** `q_text_fertility` laws on the real sf0.001 documents: the byte and
  * word totals match an independent driver-side count, the BPE totals
  * reconcile with the per-doc q_text_tokens_bpe gate (itself spec'd
  * against the trained table), and the ratios are the exact floor-grid
  * quotients of those totals. */
class FertilitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("group totals and ratios reconcile with per-doc ground truth") {
    val got = SparkEntry.queries("q_text_fertility")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))
      .toMap

    val bpePerDoc = SparkEntry.queries("q_text_tokens_bpe")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

    val ref = docs.groupBy(d => (d._2, d._3)).map { case (k, g) =>
      val bytes = g.map(_._4.getBytes("UTF-8").length.toLong).sum
      val words = g.map(_._4.split("\\s+", -1).length.toLong).sum
      val bpe = g.map(d => bpePerDoc(d._1)).sum
      k -> (g.length.toLong, bytes, words, bpe)
    }

    assert(got.keySet == ref.keySet && got.nonEmpty)
    ref.foreach { case (k, (n, b, w, t)) =>
      val (gn, gb, gw, gt, fert, bpt) = got(k)
      assert((gn, gb, gw, gt) == ((n, b, w, t)), s"totals differ at $k")
      assert(fert ==
        math.floor(t.toDouble / w * 1.0e6 + 0.5) / 1.0e6, s"fertility at $k")
      assert(bpt ==
        math.floor(b.toDouble / t * 1.0e6 + 0.5) / 1.0e6, s"bytes/tok at $k")
    }
  }

  test("every group is plausible: positive ratios, fertility ≥ 1 (a word " +
      "never maps to zero tokens)") {
    // these laws assume NO (lang, source) group is degenerate (all
    // empty/whitespace-only texts) — pin that fixture property
    // explicitly so a testdata regeneration that violates it fails
    // HERE, not as a mysterious ≥ 1.0 miss (ADVICE r14)
    val empties = Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions
        .trim(col("text")) === "").count()
    assert(empties == 0,
      s"fixture assumption broken: $empties empty/whitespace-only docs")
    val got = SparkEntry.queries("q_text_fertility")(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getDouble(6) >= 1.0 && r.getDouble(7) > 0.0))
  }

  test("degenerate group (all-empty texts): both ratios are NULL — the " +
      "guarded division, not Infinity (cross-engine contract)") {
    import spark.implicits._
    // one group of empty texts (n_bpe = 0) + one normal group: the
    // empty group's fertility AND bytes_per_token must come back NULL
    // in Spark exactly as DuckDB's NULLIF form would emit — an
    // unguarded x/0 double division would give Infinity here
    val docs = Seq(
      ("xx", "empty_src", ""),
      ("xx", "empty_src", ""),
      ("en", "ok_src", "plain words here")
    ).toDF("lang", "source", "text")
    val got = graft.queries.TextQueries.fertilityOver(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.isNullAt(6), r.isNullAt(7), r.getLong(4), r.getLong(5))).toMap
    val (fertNull, bptNull, nWords, nBpe) = got(("xx", "empty_src"))
    assert(nBpe == 0L, "empty texts should produce zero BPE tokens")
    // split('') = [''] so n_words = 2 (one per doc) — fertility is a
    // real 0.0, only the n_bpe divisor is degenerate
    assert(nWords == 2L && !fertNull,
      "fertility divides by n_words (non-zero here) — stays real")
    assert(bptNull, "bytes_per_token must be NULL when n_bpe = 0")
    val (okFertNull, okBptNull, _, okBpe) = got(("en", "ok_src"))
    assert(okBpe > 0L && !okFertNull && !okBptNull,
      "the normal group must keep real ratios")
  }
}
