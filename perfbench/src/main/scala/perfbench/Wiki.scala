package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.graph.{LinkGraph, PageRank}
import graft.wiki.{RankSink, WikiIngest, WikiPipeline}

import Main.{Metrics, Tally, secs}

/** The `wiki_pipeline` workload: `WikiPipeline.run` on a generated dump,
  * checked against [[RefPageRank]]. */
object Wiki {

  /** Pages in the generated dump. */
  val Pages = 20000
  val Iters: Int = PageRank.DefaultIters

  /** The expected pipeline output. */
  final case class Expected(n: Long, iter1: Seq[(String, Double)],
                            iterLast: Seq[(String, Double)]) {

    /** `n` reads `N =\t<n>`; `iter1` and `iter<last>` hold the same pages
      * as expected, each rank within 1e-12 (summation order is the only
      * difference), in descending rank order. */
    def matches(out: Path): Boolean =
      lines(out.resolve("n")) == Seq(s"N =\t$n") &&
        same(lines(out.resolve("iter1")), iter1) &&
        same(lines(out.resolve(s"iter$Iters")), iterLast)

    private def lines(dir: Path): Seq[String] =
      Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-")).sorted
        .flatMap(p => Files.readAllLines(p, UTF_8).asScala)

    private def same(got: Seq[String], want: Seq[(String, Double)]): Boolean = {
      val g = got.map { l => val Array(p, r) = l.split("\t"); (p, r.toDouble) }
      val w = want.toMap
      g.length == want.length &&
        g.forall { case (p, r) => w.get(p).exists(x => math.abs(x - r) <= 1e-12) } &&
        g.zip(g.drop(1)).forall { case ((_, a), (_, b)) => a + 1e-12 >= b }
    }
  }

  def expected(dump: WikiGen.Dump): Expected = {
    val ranks = RefPageRank.run(dump.adj, Iters)
    Expected(dump.titles.length, RefPageRank.top(dump.titles, ranks.head),
      RefPageRank.top(dump.titles, ranks.last))
  }

  def measure(spark: SparkSession, work: Path, seed: Long, seconds: Double,
              tracer: Option[Tracer], tally: Tally, pages: Int): (Metrics, Metrics) = {
    val t0 = System.nanoTime()
    val dump = WikiGen.generate(pages, seed)
    val path = work.resolve("dump").resolve("pages.xml")
    WikiGen.write(dump, path)
    val expect = expected(dump)
    val prepare = Seq("prepare_s" -> (secs(t0), "s"))
    var k = 0
    def pipeline(): Double = {
      val out = work.resolve(s"out$k"); k += 1
      var dt = Double.NaN
      tally(s"WikiPipeline.run #$k") {
        val t0 = System.nanoTime()
        WikiPipeline.run(spark, path.toString, out.toString, Iters)
        dt = secs(t0)
        expect.matches(out)
      }
      Main.deleteTree(out)
      dt
    }
    tracer match {
      case None =>
        val cold = pipeline()
        val warm = mutable.ArrayBuffer.empty[Double]
        val start = System.nanoTime()
        while (warm.isEmpty || secs(start) < seconds) warm += pipeline()
        val (e2e, extra) = Main.endToEnd(Seq(cold), Map("WikiPipeline.run" -> warm.toSeq))
        (e2e, extra ++ prepare)
      case Some(t) =>
        // A cold untraced call takes the JIT and class-loading cost, so
        // the layered copy below runs warm and can be set against the
        // untraced calls on either side of it.
        pipeline()
        val before = pipeline()
        t.start()
        val (layers, layersS) =
          traceLayers(spark, t, path, work.resolve("layered"), expect, tally, dump)
        t.stop()
        val between = pipeline()
        // listener overhead: the real call traced, between two untraced
        // calls whose mean cancels a steady warm-up drift
        t.start()
        val (traced, _) = t.span("pipeline")(pipeline())
        t.stop()
        val after = pipeline()
        t.start()
        val ratio = layersS / ((before + between) / 2)
        val drift = ratio > MaxLayersRatio || ratio < 1 / MaxLayersRatio
        (layers ++ Main.cacheMetrics(spark) ++ Main.storeMetrics(spark) ++
          Seq("trace.overhead_s" -> (traced - (between + after) / 2, "s")),
          prepare ++ Seq("trace.layers_s" -> (layersS, "s"),
            "trace.layers_ratio" -> (ratio, "ratio"),
            "trace.layers_drift" -> (if (drift) 1.0 else 0.0, "flag")))
    }
  }

  /** How far the layered copy's time may stray from the untraced
    * `WikiPipeline.run` calls around it before the record marks the run
    * with `trace.layers_drift` = 1: the copy's extra materializations
    * read 1.22x and 1.29x of them in two runs at 20k pages on 4 cores. */
  val MaxLayersRatio = 1.6

  /** A re-wiring of `WikiPipeline.run`, not a call to it: each step is
    * a span around the layer function it calls, and the step's output is
    * persisted and counted at the span's end so the next span reads it
    * from the block store. That adds work the program does not do: the
    * raw records are persisted and counted, links and pages are counted
    * apart, and the pins are dropped in another order. The iteration-1
    * sink runs inside the PageRank span as a child span. Returns the
    * metrics and the sum of the spans' self times, which the caller sets
    * against the untraced calls. Change it whenever `WikiPipeline.run`
    * changes, or the per-layer figures describe the old wiring. */
  private def traceLayers(spark: SparkSession, t: Tracer, dumpPath: Path, out: Path,
                          expect: Expected, tally: Tally,
                          dump: WikiGen.Dump): (Metrics, Double) = {
    val census = mutable.LinkedHashMap.empty[String, Census]
    def layer[T](name: String)(body: => T): T = {
      val (v, c) = t.span(name)(body)
      census(name) = census.get(name).fold(c)(_ + c)
      v
    }
    var counts: Metrics = Nil
    tally("WikiPipeline steps, traced") {
      val (raw, splits, records) = layer("sources.read") {
        val raw = spark.read.format("graft-xml").option("path", dumpPath.toString).load()
          .persist(StorageLevel.MEMORY_AND_DISK)
        (raw, raw.rdd.getNumPartitions, raw.count())
      }
      val parsed = layer("wiki.parse") {
        val p = WikiIngest.parsePageXml(raw, "xml").persist(StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      raw.unpersist(blocking = true)
      val (pages, links, nLinks) = layer("wiki.extract") {
        val pages = WikiIngest.pageTitles(parsed).persist(StorageLevel.MEMORY_AND_DISK)
        val links = WikiIngest.extractLinks(parsed)
          .select(col("page").as("src"), col("link").as("dst"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        pages.count()
        (pages, links, links.count())
      }
      parsed.unpersist(blocking = true)
      val (edges, nEdges) = layer("graph.redlinks") {
        val e = LinkGraph.removeRedLinks(links, pages).persist(StorageLevel.MEMORY_AND_DISK)
        (e, e.count())
      }
      links.unpersist(blocking = true)
      val n = layer("graph.count")(LinkGraph.countPages(pages))
      layer("wiki.sink") {
        import spark.implicits._
        Seq(s"N =\t$n").toDF("value").coalesce(1).write.mode("overwrite")
          .text(out.resolve("n").toString)
      }
      val ranks = layer("graph.pagerank") {
        PageRank.run(pages, edges, Iters, onIteration = (i, r) =>
          if (i == 1) {
            r.count()
            layer("wiki.sink") {
              RankSink.writeSnapshot(r, out.resolve("snapshots").toString, iteration = 1)
              RankSink.writeRankedText(PageRank.topRanks(r, n), out.resolve("iter1").toString)
            }
          })
      }
      layer("wiki.sink") {
        RankSink.writeRankedText(PageRank.topRanks(ranks, n),
          out.resolve(s"iter$Iters").toString)
      }
      val pr = census("graph.pagerank")
      counts = Seq(
        "sources.splits" -> (splits.toDouble, "count"),
        "sources.records" -> (records.toDouble, "count"),
        "sources.input_mb" -> (Files.size(dumpPath) / 1e6, "MB"),
        "wiki.links" -> (nLinks.toDouble, "count"),
        "graph.redlinks.kept_ratio" -> (nEdges.toDouble / nLinks.max(1L), "ratio"),
        "graph.pagerank.stages" -> (pr.stages.toDouble, "count"),
        "graph.pagerank.reduce_partitions" -> (ranks.rdd.getNumPartitions.toDouble, "count"),
        "graph.pagerank.task_skew" -> (pr.taskSkew, "ratio"))
      pages.unpersist(blocking = true)
      edges.unpersist(blocking = true)
      nEdges == dump.edges && expect.matches(out)
    }
    Main.deleteTree(out)
    (census.toSeq.flatMap { case (name, c) => Main.suite(name, c) } ++ counts,
      census.values.map(_.self).sum)
  }
}
