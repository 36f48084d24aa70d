package graft.wiki

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Wiki-dump ingestion — the Spark-native re-expression of the
  * reference's job 1 (/root/reference/src/PageRank/PageRank.java:
  * OutLinkMap 50-112 [P1 parse + link extraction], isValidWikiLink
  * 115-126 [P2 validity predicate]; XmlInputFormat.java:21-122 [S1
  * split-aware XML record reader]).
  *
  * The reference DOM-parses each `<page>` blob with a fresh
  * DocumentBuilderFactory per record (PageRank.java:63-67 — a hot-path
  * anti-pattern) and XPaths `/page/title` and `/page/revision/text`
  * (71-73). Here the whole parse is declarative: the `graft-xml`
  * source ([[graft.sources.XmlRecordSource]], the reference's
  * XmlInputFormat split rule) carves each `<page>` record into a string
  * column and `from_xml` parses it ([[parsePageXml]]); link extraction
  * is `regexp_extract_all` + higher-order array functions, all
  * codegen'd, no per-record parser allocation.
  *
  * Scale: parsing is embarrassingly parallel (one narrow stage, no
  * shuffle); the only shuffle downstream is the red-link semi-join
  * ([[graft.graph.LinkGraph.removeRedLinks]]).
  */
object WikiIngest {

  /** /page/title, /page/revision/text — the only two fields the
    * reference reads (PageRank.java:71-73). */
  val PageSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("revision", StructType(Seq(StructField("text", StringType))))
  ))

  /** S1: parse `<page>` XML blobs sitting in a string column — the
    * `graft-xml` source's records, or XML that arrives via another
    * table or a stream. */
  def parsePageXml(df: DataFrame, xmlCol: String): DataFrame =
    df.select(from_xml(col(xmlCol), PageSchema).as("p"))
      .select(col("p.title").as("title"), col("p.revision.text").as("text"))
      // malformed records parse to null — dropped silently, exactly the
      // reference's per-record try/catch swallow (PageRank.java:104-110)
      .filter(col("title").isNotNull)

  /** P2: the reference's isValidWikiLink (PageRank.java:115-126) —
    * reject links containing any of `{ } < > #`, or whose lowercase
    * contains `image:` or `file:` (substring match anywhere, not a
    * prefix — quirk preserved, PageRank.java:119-121). */
  def isValidWikiLink(link: Column): Column =
    !link.rlike("[{}<>#]") &&
      !lower(link).contains("image:") &&
      !lower(link).contains("file:")

  /** P1: per page, the outgoing wiki links.
    *
    * Reference semantics (PageRank.java:71-95), in order:
    *   1. title: spaces → `_` (line 72);
    *   2. scan body for `[[…]]` with the non-greedy regex
    *      `\[\[(.+?)\]\]` (74-75);
    *   3. keep the segment before the first `|` (piped links, 87),
    *      `trim()` it;
    *   4. drop invalid links (90, [[isValidWikiLink]]);
    *   5. spaces → `_` in the link (92);
    *   6. de-duplicate per page.
    *
    * Divergence (documented, SURVEY.md §7.5.4): the reference's dedup
    * checks the *pre*-underscore string but stores the *post*-underscore
    * one (91-93), so only single-word duplicates were deduped; we
    * implement the clean semantics — dedup on the final normalized link.
    *
    * @return DataFrame["page", "link"] — one row per distinct
    *         (page, outgoing link); pages with no valid links produce
    *         no rows (the vertex set keeps them alive downstream, as
    *         the reference's `(title,"!")` marker did).
    */
  def extractLinks(pages: DataFrame): DataFrame = {
    val links = regexp_extract_all(col("text"), lit("\\[\\[(.+?)\\]\\]"), lit(1))
    val cleaned = transform(links, l => trim(split(l, "\\|").getItem(0)))
    val valid = filter(cleaned, isValidWikiLink(_))
    val normalized = transform(valid, l => regexp_replace(l, " ", "_"))
    pages
      .select(regexp_replace(col("title"), " ", "_").as("page"),
        explode(array_distinct(normalized)).as("link"))
  }

  /** The vertex set of a dump: every page's normalized title. */
  def pageTitles(pages: DataFrame): DataFrame =
    pages.select(regexp_replace(col("title"), " ", "_").as("page"))
}
