package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The store lifecycle — dropping a table, clearing its orphaned
  * managed location, sweeping stopped contexts — lives in
  * [[Lineage]] alone. Thirty hand copies once grew from one original;
  * this scan fails the build when a copy reappears in `src/main`. */
class StoreLifecycleGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")
  private val home = Paths.get("src", "main", "scala", "graft", "plans",
    "Lineage.scala")
  private val patterns = Seq("DROP TABLE IF EXISTS", "defaultTablePath",
    ".isStopped")

  test("no store-lifecycle code outside plans/Lineage.scala") {
    assert(Files.isRegularFile(home), s"run from the repo root: $home")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
    assert(files.size > 10)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      pat <- patterns if line.contains(pat)
    } yield s"$f:${i + 1}: $pat"
    assert(hits.isEmpty,
      "use Lineage.store / perContext / sweepStoppedKeys instead:\n" +
        hits.mkString("\n"))
  }
}
