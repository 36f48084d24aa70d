package graft.graph

import java.nio.file.Files

import graft.SparkSpec

/** The reliable-checkpoint branch of the PageRank loop — taken when the
  * SparkContext has a checkpoint dir configured (the production
  * fault-tolerance path: localCheckpoint blocks die with an executor) —
  * must produce bit-identical ranks AND actually write checkpoint data.
  *
  * Note: SparkContext has no public way to UNSET a checkpoint dir, so
  * this spec computes the local-checkpoint baseline FIRST and leaves the
  * dir configured afterwards; every other suite stays correct either way
  * (the branch only changes where lineage truncation persists to).
  */
class ReliableCheckpointSpec extends SparkSpec {

  test("reliable checkpoints: identical ranks, checkpoint files written") {
    val s = spark
    import s.implicits._
    val pages = Seq("a", "b", "c", "d").toDF("page")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
      .toDF("src", "dst")

    assert(s.sparkContext.getCheckpointDir.isEmpty) // local branch first
    val local = PageRank.run(pages, edges, iters = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val dir = Files.createTempDirectory("graft-chk").toString
    s.sparkContext.setCheckpointDir(dir)
    val reliable = PageRank.run(pages, edges, iters = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    assert(local.keySet == reliable.keySet)
    local.foreach { case (p, r) => assert(r == reliable(p), s"page $p") }
    // the run must have written real checkpoint data under the dir
    val written = Files.walk(java.nio.file.Paths.get(dir))
      .filter(Files.isRegularFile(_)).count()
    assert(written > 0, s"no checkpoint files under $dir")
  }

  /** The `rdd-*` checkpoint directories under the context's checkpoint
    * dir, which is set here when no earlier test set it. */
  private def rddDirs(): Set[String] = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(Files.createTempDirectory("graft-chk-gx").toString)
    val ckDir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
    val fs = ckDir.getFileSystem(sc.hadoopConfiguration)
    if (!fs.exists(ckDir)) Set.empty
    else fs.listStatus(ckDir).map(_.getPath.getName)
      .filter(_.startsWith("rdd-")).toSet
  }

  test("GraphX reliable run deletes its ids checkpoint, keeps the result's") {
    val s = spark
    import s.implicits._
    val before = rddDirs()
    val pages = Seq("a", "b", "c", "d").toDF("page")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
      .toDF("src", "dst")
    val out = PageRankGraphX.run(pages, edges, iters = 4)
    assert(out.count() == 4)
    // only the RESULT's checkpoint remains; the internal ids checkpoint
    // was cleaned up after materialization (ADVICE r5)
    val added = rddDirs() -- before
    assert(added.size == 1,
      s"expected exactly the result checkpoint to remain, got $added")
  }

  test("label propagation writes its final labels as a reliable " +
      "checkpoint") {
    val s = spark
    import s.implicits._
    val before = rddDirs()
    val pages = Seq("a", "b", "c", "d").toDF("page")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
      .toDF("src", "dst")
    val comps = Components.labelPropagation(pages, edges, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // every page is one undirected hop from "a", the minimum label
    assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
    assert((rddDirs() -- before).nonEmpty,
      "the final label vector wrote no checkpoint directory")
  }
}
