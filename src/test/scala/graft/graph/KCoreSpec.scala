package graft.graph

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

/** [[KCore.peel]]: closed-form peel cascades, the fixed-round cap, and
  * empty-core degeneration. */
class KCoreSpec extends SparkSpec {

  import spark.implicits._

  private def peel(edges: Seq[(Long, Long)], k: Int,
                   rounds: Int): Map[Long, Long] =
    KCore.peel(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // triangle 1-2-3 with tail 3-4-5
  private val triTail =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))

  test("2-core of triangle+tail is the triangle; the tail cascades off") {
    // round 1 peels 5 (deg 1), round 2 peels 4 (its only neighbor left
    // is 3) — the cascade needs multiple rounds
    assert(peel(triTail, k = 2, rounds = 4) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("the pre-count of the undirected view plans no hash exchange") {
    // KCore.peel counts the view under the |V|-gated scope; the count's
    // only exchange is the single-partition final aggregate, so the
    // scope's derived shuffle width cannot change that job
    val (und, ownPin) = Components.undirectedView(triTail.toDF("src", "dst"))
    val plan = graft.plans.LoopExec.withSmallLoopExec(spark, 5L) { _ =>
      und.groupBy().count().queryExecution.executedPlan
    }
    if (ownPin) und.unpersist()
    val parts = plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning }
    assert(parts == Seq(SinglePartition), plan.toString)
  }

  test("3-core of a triangle is empty (deg 2 < 3 everywhere)") {
    assert(peel(triTail, k = 3, rounds = 4).isEmpty)
  }

  test("2-core of a chain is empty — endpoints cascade inward") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(peel(chain, k = 2, rounds = 4).isEmpty)
  }

  test("the round cap is a real cap: a 1-round peel stops mid-cascade") {
    // after one round only 5 is gone; survivors' induced degrees stand
    assert(peel(triTail, k = 2, rounds = 1) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("converged peel is invariant under extra rounds") {
    assert(peel(triTail, k = 2, rounds = 4) ==
      peel(triTail, k = 2, rounds = 8))
  }

  test("1-core keeps every non-isolated vertex with its degree") {
    assert(peel(triTail, k = 1, rounds = 4) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }
}
