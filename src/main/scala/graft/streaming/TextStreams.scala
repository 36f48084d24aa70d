package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming text-pipeline transforms — the ingest-time counterparts
  * of the batch `TextQueries` gates (Spark's unified model: the same
  * expressions run under both engines; what streaming ADDS here is
  * genuine cross-batch state).
  */
object TextStreams {

  /** Streaming decontamination — the INGEST-TIME contamination screen
    * (q_text_decontaminate's flag as documents arrive): each streamed
    * document's word-8-gram 60-bit digests are generated in-flight
    * (the same native `word_gram_hashes60` expression as the batch
    * gates), pruned by the STATIC eval-set bloom INSIDE the stream's
    * scan stage (only the surviving sliver — true overlaps +
    * fpp·windows — reaches any join), then exactly verified by a
    * stream-static left-semi join against the deduplicated eval gram
    * set, which kills the bloom's false positives (false negatives are
    * impossible, so the emitted set is exact regardless of fpp — the
    * q_text_decontaminate_bloom law, restated under the stream).
    * Emits each contaminated doc_id once: `dropDuplicates` state is
    * bounded by the CONTAMINATED population, not the corpus.
    * Window counting (n_overlap / n_windows) stays the batch gate's
    * job — a stream in append mode flags, it doesn't aggregate. */
  def decontaminateStream(docs: DataFrame, evalGrams: DataFrame,
      bloomBytes: Array[Byte]): DataFrame = {
    docs
      .select(col("doc_id"),
        explode(call_function("word_gram_hashes60",
          graft.functions.TextFunctions.tokens(col("text")), lit(8)))
          .as("h"))
      .filter(call_function("bloom_might_contain",
        lit(bloomBytes), col("h")))
      .join(evalGrams, Seq("h"), "left_semi")
      .select("doc_id")
      .dropDuplicates("doc_id")
  }

  /** One admitted document: its BPE token count and the source's
    * running total INCLUDING it (the batch q_text_mixture columns). */
  final case class Admitted(doc_id: Long, source: String,
                            n_tok: Long, cum_tok: Long)

  /** ONLINE token-budget admission — the ingest-time shape of
    * q_text_mixture's fill rule (the batch gate fills a per-source
    * budget from a corpus it can sort; a production ingest admits or
    * rejects documents AS THEY ARRIVE and must remember how much of
    * each source's budget is spent across micro-batches): documents
    * stream in deterministic hash order, each is BPE-tokenized
    * in-flight (the same native `bpe_symbols` expression as the batch
    * gates), and a per-source running total lives in
    * `flatMapGroupsWithState` state. A document is admitted iff the
    * budget was not already filled before it — admitted when its
    * cumulative total fits, or when it is the source's FIRST document
    * (the q_text_pack oversized-first rule); the total advances by
    * EVERY document, admitted or not, exactly like the batch window's
    * cumulative sum over the ordered feed.
    *
    * Scale: state is ONE long per source; per-batch work is one sort
    * of that batch's per-source rows (the chronological-feed contract
    * all replay gates share — cross-batch order rides the feed, the
    * in-batch sort restores what `groupByKey` shuffles away).
    *
    * `docs` columns: (h: md5 hex of doc_id — the deterministic feed
    * order, doc_id, source, text). */
  def mixtureAdmitStream(docs: DataFrame, budget: Long): Dataset[Admitted] = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sep = graft.functions.BpeSymbolsUtil.Sep.toString
    val sym = call_function("bpe_symbols", col("text"))
    val withTok = docs
      .withColumn("n_bpe",
        (length(sym) - length(replace(sym, lit(sep), lit("")))).cast("long"))
      .select(col("h"), col("doc_id"), col("source"), col("n_bpe"))
      .as[(String, Long, String, Long)]
    withTok.groupByKey(_._3)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, rows, state) =>
          var total = state.getOption.getOrElse(0L)
          val admitted = Seq.newBuilder[Admitted]
          // in-batch hash order; cross-batch order rides the sorted feed
          rows.toSeq.sortBy(r => (r._1, r._2)).foreach {
            case (_, id, _, n) =>
              val prior = total
              total += n
              if (total <= budget || prior == 0L)
                admitted += Admitted(id, source, n, total)
          }
          state.update(total)
          admitted.result().iterator
      }
  }

  /** One ingest-time curation decision — q_text_curate_incremental's
    * columns with the CAUSAL dup rule a stream can state (see
    * [[curateStream]]). */
  final case class CurateDecision(doc_id: Long, dup: Boolean,
      quality_keep: Boolean, contaminated: Boolean, gopher_keep: Boolean,
      selected: Boolean)

  /** ONLINE curation — the full admission recipe AT INGEST TIME: each
    * arriving new-dump document is scored, rule-screened,
    * dedup-probed, and decontaminated against STANDING artifacts (the
    * persisted signature store, the eval-gram set + bloom, the
    * standing quality cut), and one decision row is emitted per
    * document. This is the deployment split production pipelines
    * actually run: the ingest gate admits against standing state;
    * within-dump dedup is the next COMPACTION's job
    * (q_dedup_incremental) — so `dup` here is the causal
    * "duplicates the standing corpus" verdict, not the batch
    * component rule.
    *
    * Shape: three stateless legs off the same stream — the base leg
    * computes the per-doc verdict columns in-flight (quality score on
    * the 1e-6 floor grid, the Gopher conjunction); the dup leg
    * sketches in-flight with the SHARED bandedSigs definition and
    * stream-static joins the bucketed signature store (the
    * q_stream_inc_dedup route, band-collision + sketch-Jaccard ≥ τ);
    * the contamination leg is the q_stream_decontaminate route
    * (bloom prune inside the scan, exact semi-join verify). The legs
    * union into ONE zero-state flatMapGroupsWithState keyed by
    * doc_id: a document's rows all arise in its arrival micro-batch,
    * so the fold just ORs the match kinds against the base row and
    * emits the decision once. Per-group work is the doc's own match
    * rows; no cross-batch state anywhere — the standing artifacts
    * carry all the history. */
  def curateStream(docs: DataFrame,
      withVerdicts: DataFrame => DataFrame,
      dupMatches: DataFrame => DataFrame,
      contamMatches: DataFrame => DataFrame,
      cut: Double): Dataset[CurateDecision] = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val base = withVerdicts(docs)
      .select(col("doc_id"), lit(0).as("kind"), col("qq"),
        col("gopher_keep"))
    val dups = dupMatches(docs)
      .select(col("doc_id"), lit(1).as("kind"),
        lit(null).cast("double").as("qq"), lit(false).as("gopher_keep"))
    val cont = contamMatches(docs)
      .select(col("doc_id"), lit(2).as("kind"),
        lit(null).cast("double").as("qq"), lit(false).as("gopher_keep"))
    base.unionByName(dups).unionByName(cont)
      .as[(Long, Int, Option[Double], Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, CurateDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, rows, _) =>
          var qq = Double.NaN
          var seen = false
          var gopher = false
          var dup = false
          var contam = false
          rows.foreach {
            case (_, 0, q, g) => seen = true; qq = q.get; gopher = g
            case (_, 1, _, _) => dup = true
            case _            => contam = true
          }
          // the base leg emits every document — a group without it
          // would mean a match row outran its own document
          require(seen, s"curate stream: matches for doc $id arrived " +
            "without its base row")
          val qk = qq > cut
          Iterator.single(CurateDecision(id, dup, qk, contam, gopher,
            !dup && qk && !contam && gopher))
      }
  }
}
