package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{LinkGraph, PageRank}
import graft.wiki.{WikiIngest, WikiPipeline}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work.resolve("session"), 2)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(work)
  }

  test("the same seed gives a byte-identical dump, another seed a different one") {
    val a = WikiGen.generate(2000, 7)
    assert(a.xml.sameElements(WikiGen.generate(2000, 7).xml))
    assert(!a.xml.sameElements(WikiGen.generate(2000, 8).xml))
  }

  test("the dump has its degree shape and every link quirk") {
    val d = WikiGen.generate(5000, 3)
    val text = new String(d.xml, "UTF-8")
    val dangling = d.adj.count(_.isEmpty).toDouble / d.adj.length
    assert(dangling > 0.03 && dangling < 0.07, dangling)
    val mean = d.edges.toDouble / d.adj.length
    assert(mean > 5 && mean < 9, mean)
    val inDeg = d.adj.flatten.groupBy(identity).values.map(_.length).toSeq.sorted
    assert(inDeg.last > 20 * inDeg(inDeg.length / 2), "in-degree is not heavy-tailed")
    Seq("|", "[[Image:", "[[File:", "#History]]", "{{cite", "&lt;", "[[Missing page",
      "[[ ").foreach(q => assert(text.contains(q), q))
  }

  test("the independent PageRank equals PageRank.run within 1e-12") {
    val dump = WikiGen.generate(3000, 11)
    val path = work.resolve("dump.xml")
    WikiGen.write(dump, path)
    val parsed = WikiIngest.parsePageXml(
      spark.read.format("graft-xml").option("path", path.toString).load(), "xml")
    val pages = WikiIngest.pageTitles(parsed)
    val edges = LinkGraph.removeRedLinks(
      WikiIngest.extractLinks(parsed).select(col("page").as("src"), col("link").as("dst")),
      pages).cache()
    val want = dump.adj.indices.flatMap(s => dump.adj(s).map(d => (dump.titles(s), dump.titles(d))))
    val got = edges.collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted.toSeq == want.sorted)
    val ref = RefPageRank.run(dump.adj, Wiki.Iters)
    Seq(1, Wiki.Iters).foreach { iters =>
      val ranks = PageRank.run(pages, edges, iters).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ranks.size == dump.titles.length)
      dump.titles.indices.foreach { i =>
        assert(math.abs(ranks(dump.titles(i)) - ref(iters - 1)(i)) <= 1e-12, dump.titles(i))
      }
    }
    val out = work.resolve("pipeline-out")
    assert(WikiPipeline.run(spark, path.toString, out.toString) == dump.titles.length)
    assert(Wiki.expected(dump).matches(out))
    Main.deleteTree(out)
  }

  test("every emitted metric is named [A-Za-z0-9_.-]+ and declared in BENCHMARK.json") {
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(list: String): Seq[String] =
      bench.get(list).elements().asScala.map(_.get("name").asText()).toSeq
    val sf = "/root/testdata/sf0.001"
    val expected = Paths.get("expected", "catalog.tsv")
    for (workload <- Seq("wiki_pipeline", "corpus_catalog"); traced <- Seq(false, true)) {
      val dir = work.resolve(s"$workload-$traced")
      Files.createDirectories(dir)
      val out = Main.measure(spark, dir, workload, 5, 0.1, traced, sf, expected,
        wikiPages = 1000)
      val names = out.metrics.map(_._1)
      names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+"), n))
      if (traced) assert(names == declared("per_layer"), workload)
      else assert((names :+ "setup_s").toSet == declared("end_to_end").toSet, workload)
      if (workload == "wiki_pipeline") assert(out.tally.failed == 0, out.tally.failures)
    }
  }
}
