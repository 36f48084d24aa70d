package graft.wiki

import graft.SparkSpec
import graft.graph.LinkGraph

/** P1/P2 quirk coverage against a hand-authored fixture — each case
  * cites the reference behavior it pins down
  * (/root/reference/src/PageRank/PageRank.java lines in comments). */
class WikiIngestSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def page(title: String, text: String): String =
    s"<page><title>$title</title><revision><text>$text</text></revision></page>"

  private lazy val fixture = {
    import spark.implicits._
    Seq(
      page("Main Page", // spaces in title → underscores (PageRank.java:72)
        "See [[Other Page]] twice [[Other Page]] and piped [[Other Page|label]]. " + // dedup (91-95) + pipe strip (87)
          "[[image:logo.png]] [[File:dump.xml]] " + // image:/file: filter, case-insensitive (119-121)
          "[[bad{link]] [[bad}link]] [[a&lt;b]] [[a&gt;b]] [[frag#sec]] " + // {}<># filter (116-118); <> XML-escaped as in a real dump

          "[[Red Link]] [[about image: history]]"), // red link (dropped later by semi-join, 130-157); 'image:' substring anywhere (not prefix!) still drops (119)
      page("Other Page", "Links back to [[Main Page]]."),
      page("Lonely", "No links here at all.")
    ).toDF("xml")
  }

  private lazy val parsed = WikiIngest.parsePageXml(fixture, "xml")

  test("from_xml extracts title and revision text like the reference's XPath") {
    val rows = parsed.orderBy("title").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Lonely", "Main Page", "Other Page"))
    assert(rows(0).getString(1) == "No links here at all.")
  }

  test("link extraction: pipes stripped, dedup, invalid chars and image:/file: dropped") {
    val links = WikiIngest.extractLinks(parsed)
      .orderBy("page", "link").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(links == Seq(
      // Red_Link survives extraction (red-link removal is J1's job);
      // [[about image: history]] is dropped because the reference's
      // filter matches 'image:' as a substring ANYWHERE (119), not a prefix.
      "Main_Page" -> "Other_Page",
      "Main_Page" -> "Red_Link",
      "Other_Page" -> "Main_Page"
    ))
  }

  test("malformed records are silently dropped, like the reference's per-record try/catch") {
    // the reference swallows XPath/DOM errors per record and moves on
    // (PageRank.java:104-110); parsePageXml must do the same — bad blobs
    // become null-title rows and are filtered, never exceptions
    val s = spark
    import s.implicits._
    val mixed = Seq(
      page("Good Page", "Body [[link]]."),
      "<page><title>Unclosed", // truncated mid-record
      "not xml at all",
      "", // empty blob
      "<page><revision><text>no title element</text></revision></page>",
      page("Second Good", "More.")
    ).toDF("xml")
    val out = WikiIngest.parsePageXml(mixed, "xml")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out == Seq("Good Page", "Second Good"))
  }

  test("red-link semi-join drops links to non-pages, keeps dangling pages in vertex set") {
    val pages = WikiIngest.pageTitles(parsed)
    val edges = LinkGraph.removeRedLinks(
      WikiIngest.extractLinks(parsed)
        .select(col("page").as("src"), col("link").as("dst")), pages)
    val es = edges.orderBy("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(es == Seq("Main_Page" -> "Other_Page", "Other_Page" -> "Main_Page"))
    // Lonely has no links but stays a page (the reference's "!" marker trick)
    assert(pages.collect().map(_.getString(0)).toSet ==
      Set("Main_Page", "Other_Page", "Lonely"))
    val adj = LinkGraph.adjacency(edges, pages)
    assert(adj.filter(col("page") === "Lonely").select(size(col("outlinks")))
      .head().getInt(0) == 0)
  }

  test("validity predicate matches the reference's isValidWikiLink table") {
    import spark.implicits._
    val cases = Seq(
      "Plain" -> true, "With Space" -> true,
      "has{brace" -> false, "has}brace" -> false, "a<b" -> false,
      "a>b" -> false, "frag#sec" -> false,
      "image:x.png" -> false, "Image:x.png" -> false,
      "file:x.xml" -> false, "FILE:x" -> false,
      "prefix image: anywhere" -> false, // substring, not prefix (119-121)
      "imagery" -> true // 'image' without colon is fine
    )
    val got = cases.map(_._1).toDF("link")
      .select(col("link"), WikiIngest.isValidWikiLink(col("link")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (l, expect) => assert(got(l) == expect, s"link=$l") }
  }
}
