package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** A seeded wiki dump: rootless `<page>…</page>` records, the shape the
  * engine's `graft-xml` source and the reference's XmlInputFormat read.
  *
  * The generator keeps its own edge list, so the expected PageRank is
  * computed without any XML or Spark machinery ([[RefPageRank]]).
  *
  * Graph shape:
  *   - in-degree is power-law: link targets are drawn as
  *     `floor(n · u^3)` (density ∝ r^(-2/3)) through a seeded
  *     permutation, so the hubs are scattered over the title space;
  *   - out-degree is geometric (mean [[MeanOutDegree]] distinct targets);
  *   - [[DanglingShare]] of the pages have no valid out-link at all.
  *
  * Every page body also carries the reference's link quirks
  * (PageRank.java:71-126 in the reference, `WikiIngest.extractLinks`
  * here), each at a fixed share:
  *   - piped links `[[Target|label]]`, padded `[[ Target ]]` and the
  *     underscore spelling of a spaced title — all normalize to the same
  *     edge;
  *   - repeated links — deduplicated per page;
  *   - `Image:` / `File:` links — dropped;
  *   - links with `#` or braces, or an escaped `<` — dropped;
  *   - red links to titles that are no page — dropped by the red-link
  *     semi-join;
  *   - titles with spaces — normalized to `_`.
  */
object WikiGen {

  val MeanOutDegree = 8.0
  val DanglingShare = 0.05

  /** A generated dump: the XML bytes plus the ground truth. `titles(i)`
    * is page i's normalized title, `adj(i)` its distinct valid targets. */
  final case class Dump(xml: Array[Byte], titles: Array[String],
                        adj: Array[Array[Int]]) {
    def edges: Long = adj.iterator.map(_.length.toLong).sum
  }

  private val Words = Array("alpha", "river", "stone", "delta", "maple",
    "orbit", "cedar", "lumen", "quartz", "harbor", "violet", "tundra",
    "ember", "glacier", "meadow", "summit", "canyon", "prairie", "coral",
    "falcon")

  def generate(pages: Int, seed: Long): Dump = {
    require(pages >= 10, "a dump needs at least 10 pages")
    val rng = new java.util.SplittableRandom(seed)
    // raw (display) titles: about half carry spaces
    val raw = Array.tabulate(pages) { i =>
      val w = Words(rng.nextInt(Words.length))
      if (rng.nextInt(2) == 0) s"$w $i ${Words(rng.nextInt(Words.length))}"
      else s"${w.capitalize}$i"
    }
    val titles = raw.map(_.replace(' ', '_'))
    val perm = Array.range(0, pages)
    var k = pages - 1
    while (k > 0) { // Fisher–Yates
      val j = rng.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1
    }
    def target(): Int = perm(math.min(pages - 1,
      (pages * math.pow(rng.nextDouble(), 3.0)).toInt))

    val adj = new Array[Array[Int]](pages)
    val out = new java.io.ByteArrayOutputStream(pages * 640)
    val sb = new java.lang.StringBuilder(4096)
    var red = 0
    var p = 0
    while (p < pages) {
      val targets =
        if (rng.nextDouble() < DanglingShare) Array.empty[Int]
        else {
          // geometric out-degree >= 1 with the given mean
          val q = 1.0 / MeanOutDegree
          val d = 1 + (math.log(1.0 - rng.nextDouble()) / math.log(1.0 - q)).toInt
          val set = scala.collection.mutable.LinkedHashSet.empty[Int]
          var tries = 0
          while (set.size < d && tries < 4 * d) {
            val t = target(); if (t != p) set += t; tries += 1
          }
          set.toArray
        }
      adj(p) = targets.sorted
      sb.setLength(0)
      sb.append("<page>\n  <title>").append(raw(p)).append("</title>\n  <ns>0</ns>\n  <id>")
        .append(p + 1).append("</id>\n  <revision>\n    <id>").append(1000000 + p)
        .append("</id>\n    <text>'''").append(raw(p)).append("''' is a page about ")
        .append(Words(rng.nextInt(Words.length))).append(".\n")
      val links = ArrayBuffer.empty[String]
      targets.foreach { t =>
        val r = raw(t)
        links += (rng.nextInt(10) match {
          case 0 | 1 => s"[[$r|${Words(rng.nextInt(Words.length))} label]]"
          case 2 => s"[[ $r ]]"
          case 3 => s"[[${titles(t)}]]"
          case _ => s"[[$r]]"
        })
        if (rng.nextInt(10) == 0) links += s"[[$r]]" // repeated link
      }
      // invalid links, each at a fixed share of pages
      if (rng.nextInt(4) == 0) links += s"[[Image:${Words(rng.nextInt(Words.length))}$p.png|thumb]]"
      if (rng.nextInt(5) == 0) links += s"[[File:scan $p.jpg]]"
      if (rng.nextInt(5) == 0 && targets.nonEmpty) links += s"[[${raw(targets(0))}#History]]"
      if (rng.nextInt(8) == 0) links += s"[[{{cite $p}}]]"
      if (rng.nextInt(16) == 0) links += s"[[a &lt;b&gt; $p]]"
      if (rng.nextInt(3) == 0) { links += s"[[Missing page $red]]"; red += 1 }
      // shuffle the link order, then interleave with filler prose
      var i = links.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1); val t = links(i); links(i) = links(j); links(j) = t; i -= 1
      }
      links.foreach { l =>
        sb.append("See ").append(l).append(" and ")
          .append(Words(rng.nextInt(Words.length))).append(' ')
          .append(Words(rng.nextInt(Words.length))).append(".\n")
      }
      sb.append("</text>\n  </revision>\n</page>\n")
      out.write(sb.toString.getBytes(UTF_8))
      p += 1
    }
    Dump(out.toByteArray, titles, adj)
  }

  def write(dump: Dump, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val os = new BufferedOutputStream(new FileOutputStream(path.toFile))
    try os.write(dump.xml) finally os.close()
  }
}

/** Plain-Scala PageRank over a generator edge list, with the reference's
  * conventions: 1/N start, 0.15/N teleport, 0.85 damping, the rank of
  * pages without out-links lost, fixed iteration count. */
object RefPageRank {

  /** Rank vectors after each iteration, index 0 = after iteration 1. */
  def run(adj: Array[Array[Int]], iters: Int): Seq[Array[Double]] = {
    val n = adj.length
    var rank = Array.fill(n)(1.0 / n)
    (1 to iters).map { _ =>
      val mass = new Array[Double](n)
      var s = 0
      while (s < n) {
        val outs = adj(s)
        if (outs.nonEmpty) {
          val c = rank(s) / outs.length.toDouble
          var j = 0
          while (j < outs.length) { mass(outs(j)) += c; j += 1 }
        }
        s += 1
      }
      rank = Array.tabulate(n)(p => 0.15 / n + 0.85 * mass(p))
      rank
    }
  }

  /** The reference's output file: pages with rank > multiplier/N, rank
    * descending, ties by title. */
  def top(titles: Array[String], rank: Array[Double],
          multiplier: Double = 5.0): Seq[(String, Double)] = {
    val cut = multiplier / titles.length
    titles.indices.filter(i => rank(i) > cut).map(i => (titles(i), rank(i)))
      .sortBy { case (t, r) => (-r, t) }
  }
}
