package graft.graph

import graft.SparkSpec
import graft.plans.LoopExec

/** The broadcast half of the loop size gate on its own: with the
  * session pinned to what the small-state scope derives for this graph
  * (AQE off, one shuffle partition), the above-gate run differs from
  * the small one only in its join strategy — shuffled instead of a
  * broadcast vertex vector, the code path a |V|-above-the-gate run
  * executes — and the ranks must be bit-identical.
  */
class BroadcastGateSpec extends SparkSpec {

  test("PageRank ranks are identical on the shuffled (above-gate) path") {
    val s = spark
    import s.implicits._
    val pages = Seq("a", "b", "c", "d").toDF("page")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "d" -> "a")
      .toDF("src", "dst")
    def ranks(): Map[String, Double] = PageRank.run(pages, edges, iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val (hinted, shuffled) =
      try (ranks(), LoopExec.smallRows.withValue(-1L)(ranks()))
      finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(hinted.keySet == shuffled.keySet)
    hinted.foreach { case (p, r) => assert(r == shuffled(p), s"page $p") }
  }
}
