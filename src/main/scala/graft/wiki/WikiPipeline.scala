package graft.wiki

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.graph.{LinkGraph, PageRank}
import graft.graph.GraphCatalog.LinkGraphData

/** The end-to-end CLI driver — the Spark-native equivalent of the
  * reference jar's sole entry point, `PageRank.main(input, output)`
  * (/root/reference/src/PageRank/PageRank.java:422-498; manifest.txt:3
  * makes it the jar's Main-Class). Wiring, job for job:
  *
  *   job1      raw dump → edges + vertex set     (graft-xml read,
  *             [[WikiIngest.parsePageXml]]/[[WikiIngest.extractLinks]],
  *             red-link semi-join [[LinkGraph.removeRedLinks]])
  *   job2      adjacency re-group — eliminated: DataFrames carry
  *             structure between stages (SURVEY.md §1.4 M1)
  *   job3      N = page count                    ([[LinkGraph.countPages]])
  *   job4-11   8 PageRank iterations             ([[PageRank.run]])
  *   job12     rank snapshot after iteration 1   (onIteration hook →
  *             `<output>/iter1` ordered text + `<output>/snapshots`
  *             partitioned parquet; reference PageRank.java:480-487)
  *   job13     threshold (rank > 5/N) + global descending sort →
  *             `<output>/iter<k>` text           ([[PageRank.topRanks]],
  *             [[RankSink.writeRankedText]]; reference 492-497, 566-588)
  *
  * The reference paid 13 full HDFS text write+read round-trips; here
  * intermediates stay in the block store and only the two user-facing
  * artifacts hit disk.
  *
  * Usage (mirrors the reference README.md:7-27):
  *   spark-submit --class graft.wiki.WikiPipeline graft.jar \
  *     <input dump path> <output dir> [iterations]
  */
object WikiPipeline {

  /** Runs the full pipeline; returns N (the page count, the reference's
    * NVALUE counter) so callers/tests can assert against it. */
  def run(spark: SparkSession, input: String, output: String,
          iters: Int = PageRank.DefaultIters,
          multiplier: Double = 5.0): Long = {
    // S1: split-aware tag-delimited record carving — reads the raw
    // rootless `<page>…</page>` stream shape the reference consumed.
    val raw = spark.read.format("graft-xml").option("path", input).load()
    val LinkGraphData(pages, edges, n) = linkGraph(raw)
    // job3's on-disk artifact: the reference's NReducer writes the line
    // `N =\t<N>` (PageRank.java:235 — the driver reads the counter, but
    // the file is part of the output contract a user sees)
    locally {
      import spark.implicits._
      Seq(s"N =\t$n").toDF("value").coalesce(1)
        .write.mode("overwrite").text(s"$output/n")
    }

    val ranks = PageRank.run(pages, edges, iters,
      onIteration = (i, r) =>
        if (i == 1 && iters > 1) { // job12: iteration-1 snapshot only
          RankSink.writeSnapshot(r, s"$output/snapshots", iteration = 1)
          RankSink.writeRankedText(PageRank.topRanks(r, n, multiplier),
            s"$output/iter1")
        })
    // job13: final threshold + global descending sort
    RankSink.writeRankedText(PageRank.topRanks(ranks, n, multiplier),
      s"$output/iter$iters")
    pages.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    n
  }

  /** Jobs 1 and 3: raw `<page>` records (an `xml` column) → the
    * persisted vertex set and red-link-free edge set, plus N. The
    * parsed (title, text) pages feed BOTH of them, so the parse is
    * pinned until both are materialized, then dropped — it runs once
    * and only the small derived state stays resident. */
  def linkGraph(raw: DataFrame): LinkGraphData = {
    val parsed = WikiIngest.parsePageXml(raw, "xml")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pages = WikiIngest.pageTitles(parsed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = LinkGraph.removeRedLinks(
        WikiIngest.extractLinks(parsed)
          .select(col("page").as("src"), col("link").as("dst")),
        pages)
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize both consumers, then drop the parse pin
    parsed.unpersist(blocking = false)
    val n = LinkGraph.countPages(pages) // job3 — the NVALUE counter
    LinkGraphData(pages, edges, n)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: WikiPipeline <input dump path> <output dir> [iterations]")
    val iters =
      if (args.length > 2) args(2).toInt else PageRank.DefaultIters
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName("graft-wiki-pagerank")
      .config("spark.sql.shuffle.partitions", cpus)
    // local default only when not running under spark-submit --master
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[$cpus]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, args(0), args(1), iters)
    println(s"N = $n") // the reference's `N =` artifact (PageRank.java:235)
    spark.stop()
  }
}
