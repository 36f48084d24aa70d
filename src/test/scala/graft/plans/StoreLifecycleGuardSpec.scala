package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The store lifecycle — dropping a table, clearing its orphaned
  * managed location, sweeping stopped contexts — and the build-once
  * registry live in [[Lineage]] alone. Thirty hand copies of the
  * lifecycle and 81 per-artifact caches once grew from one original;
  * these scans fail the build when a copy reappears in `src/main`. The
  * last scan keeps graft's tuning in code: six `spark.graft.*` session
  * keys once carried settings no caller changed. */
class StoreLifecycleGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val home = Paths.get("src", "main", "scala", "graft", "plans",
    "Lineage.scala")
  private val patterns = Seq("DROP TABLE IF EXISTS", "defaultTablePath",
    ".isStopped")

  private def sources: Seq[Path] = {
    assert(Files.isRegularFile(home), s"run from the repo root: $home")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
    assert(files.size > 10)
    files
  }

  private def lineOf(text: String, at: Int): Int =
    text.substring(0, at).count(_ == '\n') + 1

  test("no store-lifecycle code outside plans/Lineage.scala") {
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      pat <- patterns if line.contains(pat)
    } yield s"$f:${i + 1}: $pat"
    assert(hits.isEmpty,
      "use Lineage.store / perContext / sweepStoppedKeys instead:\n" +
        hits.mkString("\n"))
  }

  test("no spark.graft.* conf key in src/main") {
    val hits = for {
      f <- sources :+ home
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("\"spark.graft.")
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty,
      "fix the setting as a named constant (a loop's size decision " +
        "belongs to LoopExec's gate) instead of reading a conf key:\n" +
        hits.mkString("\n"))
  }

  /** The two maps that are mutable state, not build-once caches: the
    * manifest mirror (updated by publish) and the row-bounded, clearable
    * event feed cache. */
  private val mutableMaps = Set("mirror", "feedCache")

  test("no TrieMap outside plans/Lineage.scala but the two mutable maps") {
    val made = """TrieMap\s*(\.\s*empty|\[|\()|new\s+TrieMap""".r
    val owner =
      """val\s+(\w+)\s*=\s*(scala\.collection\.concurrent\.)?\s*$""".r
    val hits = for {
      f <- sources
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- made.findAllMatchIn(text)
      before = text.substring(text.lastIndexOf("val ", m.start) max 0,
        m.start)
      name = owner.findFirstMatchIn(before).map(_.group(1))
      if !name.exists(mutableMaps)
    } yield s"$f:${lineOf(text, m.start)}: ${name.getOrElse("TrieMap")}"
    assert(hits.isEmpty,
      "name the artifact in the Lineage registry (perSession / " +
        "perContext / memo / store) instead of declaring a cache:\n" +
        hits.mkString("\n"))
  }

  test("each registry name and store prefix has one call site") {
    val call = """Lineage\.(perSession|perContext|memo|store)\(""".r
    val named = """Lineage\.(perSession|perContext|memo)\(\s*"([^"]+)"""".r
    val stored =
      """Lineage\.store\(\s*\w+,\s*\w+,\s*("[^"]+"|\w+)\s*\)""".r
    val imported = ("""import\s+graft\.plans\.Lineage\.(_|\{[^}]*""" +
      """\b(perSession|perContext|memo|store)\b|""" +
      """(perSession|perContext|memo|store)\b)""").r
    val texts = sources.map(f =>
      f -> new String(Files.readAllBytes(f), "UTF-8"))
    val sites = for {
      (f, text) <- texts
      m <- call.findAllMatchIn(text)
      rest = text.substring(m.start)
    } yield {
      val name = named.findPrefixMatchOf(rest).map(_.group(2))
        .orElse(stored.findPrefixMatchOf(rest).map(_.group(1)
          .stripPrefix("\"").stripSuffix("\"")))
      (name, s"$f:${lineOf(text, m.start)}")
    }
    assert(sites.size > 60, s"registry calls not found: ${sites.size}")
    val unnamed = sites.collect { case (None, at) => at }
    assert(unnamed.isEmpty,
      "give each registry call a literal name (a store its prefix):\n" +
        unnamed.mkString("\n"))
    val shared = sites.collect { case (Some(n), at) => n -> at }
      .groupBy(_._1).filter(_._2.size > 1)
    assert(shared.isEmpty,
      "two call sites share one registry name, so they would silently " +
        "share one cache; route them through one function:\n" +
        shared.map { case (n, at) => s"$n: ${at.map(_._2).mkString(", ")}" }
          .mkString("\n"))
    val imports = for {
      (f, text) <- texts
      m <- imported.findAllMatchIn(text)
    } yield s"$f:${lineOf(text, m.start)}"
    assert(imports.isEmpty,
      "call the registry as Lineage.<method> so this scan sees it:\n" +
        imports.mkString("\n"))
  }
}
