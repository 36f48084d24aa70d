package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** `q_stream_mixture` — online per-source token-budget admission. The
  * streamed flatMapGroupsWithState fold must equal the batch
  * cumulative-window rule on the same md5-ordered feed (WHEN a doc is
  * seen must never change WHETHER it is admitted), and the gate must
  * be non-vacuous in both directions per source: a budget that never
  * rejects tests nothing, one that never admits tests nothing. */
class StreamMixtureSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val budget = 2000L

  test("streamed admission == batch cumulative-window fill rule") {
    val streamed = SparkEntry.queries("q_stream_mixture")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    // the batch statement of the same rule: cumulative BPE tokens per
    // source in md5(doc_id) order; keep while the budget fits, plus the
    // oversized-first doc
    val sep = graft.functions.BpeSymbolsUtil.Sep.toString
    val sym = call_function("bpe_symbols", col("text"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"),
        (length(sym) - length(replace(sym, lit(sep), lit(""))))
          .cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget || col("cum_tok") === col("n_tok"))

    // NOTE cum == n_tok (first-doc rule) only equals prior == 0 when no
    // intermediate doc has n_tok == cum by chance; assert directly from
    // the fold instead for exactness
    val rows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"),
        (length(sym) - length(replace(sym, lit(sep), lit(""))))
          .cast("long").as("n_tok"))
      .collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    val expected = rows.groupBy(_._3).iterator.flatMap { case (src, docs) =>
      var total = 0L
      docs.sortBy(r => (r._1, r._2)).iterator.flatMap { case (_, id, _, n) =>
        val prior = total
        total += n
        if (total <= budget || prior == 0L) Some((id, src, n, total)) else None
      }
    }.toSet
    assert(streamed == expected,
      s"streamed ${streamed.size} rows != expected fold ${expected.size}")
    assert(batch.count() == expected.size.toLong) // window statement agrees

    // non-vacuity per source: every source admits >= 1 and rejects >= 1
    val perSourceTotal = rows.groupBy(_._3).view.mapValues(_.size)
    val perSourceAdmit = streamed.groupBy(_._2).view.mapValues(_.size)
    perSourceTotal.foreach { case (src, n) =>
      val a = perSourceAdmit.getOrElse(src, 0)
      assert(a >= 1, s"source $src admitted nothing")
      assert(a < n, s"source $src never exhausted its budget")
    }
  }
}
