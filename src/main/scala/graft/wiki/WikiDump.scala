package graft.wiki

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A deterministic, reference-shaped wiki dump synthesized from the
  * driver's TPC-H-ish tables (the reference's own sample dump is a
  * missing blob — /root/reference/.MISSING_LARGE_BLOBS:1).
  *
  * Shape: one `<page>` per part ("p <partkey>") whose body cites every
  * supplier that ever shipped it (`[[s <suppkey>]]`, from lineitem),
  * one page per supplier ("s <suppkey>") citing the single `hub` page,
  * and the `hub` page itself (dangling — it exercises the reference's
  * dangling-mass-lost semantics, and its rank concentrates far above
  * the reference's hard-coded 5.0/N output threshold
  * (PageRank.java:336,346), so the reference-default cut is gated
  * non-vacuously by q_wiki_top).
  *
  * Each body deliberately exercises every P1/P2 quirk of the
  * reference's OutLinkMap (/root/reference/src/PageRank/PageRank.java:
  * 71-95, 115-126):
  *   - `[[image:part.png]]`     → dropped by the image:/file: filter,
  *   - `[[missing <partkey>]]`  → a red link (no such page), dropped by
  *                                 the existence semi-join,
  *   - the first supplier is cited twice — plain `[[s K]]` and piped
  *     `[[s K|vendor]]` — so pipe-stripping + per-page dedup collapse
  *     them to one edge; the rest are cited plain,
  *   - `[[bad{brace]]`          → dropped by the `{}<>#` filter,
  *   - titles and links contain spaces → the space→underscore
  *     normalization is on the hot path for both.
  *
  * The expected edge set is therefore exactly
  * `DISTINCT ('p_'||l_partkey, 's_'||l_suppkey)` ∪
  * `('s_'||s_suppkey, 'hub')` — independently computable by the DuckDB
  * oracle without any XML machinery.
  */
object WikiDump {

  /** DataFrame["xml"] — one `<page>…</page>` blob per row. */
  def xml(spark: SparkSession, dir: String): DataFrame = {
    val sups = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(array_sort(collect_set(col("l_suppkey").cast("string"))).as("sks"))

    val partPages = Tables.part(spark, dir)
      .select(col("p_partkey").cast("string").as("partkey"))
      .join(sups, Seq("partkey"), "left")
      .select(concat(
        lit("<page><title>p "), col("partkey"),
        lit("</title><revision><text>See [[image:part.png]] and [[missing "),
        col("partkey"), lit("]]. "),
        coalesce(
          concat_ws(" ", expr(
            """transform(sks, (k, idx) -> IF(idx = 0,
                 concat('[[s ', k, ']] [[s ', k, '|vendor]]'),
                 concat('[[s ', k, ']]')))""")),
          lit("")),
        lit("</text></revision></page>")).as("xml"))

    val supplierPages = Tables.supplier(spark, dir)
      .select(concat(
        lit("<page><title>s "), col("s_suppkey").cast("string"),
        lit("</title><revision><text>See [[hub]] and [[bad{brace]]."),
        lit("</text></revision></page>")).as("xml"))

    // The hub: cited by every supplier (each supplier's ONLY out-edge,
    // so the full supplier rank mass flows here), dangling itself.
    val hubPage = spark.range(1)
      .select(lit("<page><title>hub</title><revision><text>Center. " +
        "[[missing hub target]]</text></revision></page>").as("xml"))

    partPages.unionAll(supplierPages).unionAll(hubPage)
  }

  private val dumps =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** Write the dump to a session-temp directory as rootless
    * concatenated-record text — the reference's actual on-disk input
    * shape (XmlInputFormat consumed raw `<page>…</page>` streams, no
    * root element) — once per (session, dir); returns the path. Input
    * for the [[graft.sources.XmlRecordSource]] file path of S1. */
  def materializedDump(spark: SparkSession, dir: String): String = {
    // stale-session sweep (ADVICE-r8 feedCache leak class); the temp
    // dirs themselves are OS-cleaned, only the map entry pins memory
    graft.plans.Lineage.sweepStoppedKeys(dumps)(_._1.sparkContext)
    graft.plans.Lineage.once(dumps, (spark, dir))({
      val out = java.nio.file.Files
        .createTempDirectory("graft-wikidump").toString
      xml(spark, dir).write.mode("overwrite").text(out)
      out
    })
  }
}
