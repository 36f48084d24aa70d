package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

import graft.SparkSpec
import graft.graph.{Bfs, Components, Hits, PageRank}

/** The one size gate of the loops (round-20 optimization): conf
  * hygiene, the gate, the broadcast hint it hands the loop, the derived
  * partition count, and — the part that matters — result invariance of
  * every loop on the small-state path vs the above-gate path (shuffled
  * joins, session AQE and partitioning), which the catalog never runs
  * at test scale. */
class LoopExecSpec extends SparkSpec {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val SpKey = "spark.sql.shuffle.partitions"

  /** Runs `f` with every loop state above the gate. */
  private def aboveGate[T](f: => T): T = LoopExec.smallRows.withValue(-1L)(f)

  private def hinted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[ResolvedHint])

  test("scope sets AQE off + derived partitions inside, restores after") {
    val aqeBefore = spark.conf.getOption(AqeKey)
    val spBefore = spark.conf.get(SpKey)
    var insideAqe: String = null
    var insideSp: String = null
    LoopExec.withSmallLoopExec(spark, 1000L) { hint =>
      insideAqe = spark.conf.get(AqeKey)
      insideSp = spark.conf.get(SpKey)
      assert(hinted(hint(spark.range(3).toDF())),
        "a small loop state must be broadcast")
    }
    assert(insideAqe == "false", "AQE must be off inside the scope")
    assert(insideSp == "1", "1k rows derive 1 partition")
    assert(spark.conf.getOption(AqeKey) == aqeBefore, "AQE conf restored")
    assert(spark.conf.get(SpKey) == spBefore, "shuffle partitions restored")
  }

  test("conf restored even when the body throws") {
    val spBefore = spark.conf.get(SpKey)
    intercept[RuntimeException] {
      LoopExec.withSmallLoopExec(spark, 1000L) { _ =>
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(SpKey) == spBefore)
  }

  test("no-op above the smallRows threshold and when disabled") {
    val spBefore = spark.conf.get(SpKey)
    val aqeBefore = spark.conf.getOption(AqeKey)
    def assertUnscoped(rows: Long): Unit =
      LoopExec.withSmallLoopExec(spark, rows) { hint =>
        assert(spark.conf.get(SpKey) == spBefore,
          s"$rows rows must keep the session partitioning")
        assert(spark.conf.getOption(AqeKey) == aqeBefore,
          s"$rows rows must keep the session AQE setting")
        val df = spark.range(3).toDF()
        assert(hint(df) eq df, s"$rows rows must not be broadcast")
      }
    assertUnscoped(LoopExec.SmallRows + 1)
    assertUnscoped(-1L) // unknown size
    aboveGate(assertUnscoped(1000L)) // the seam the specs below use
  }

  test("derived partition count: size-proportional, capped at session") {
    assert(LoopExec.partitionsFor(spark, 1L) == 1)
    assert(LoopExec.partitionsFor(spark, LoopExec.RowsPerPartition + 1) == 2)
    // session cap (the spec session runs shuffle=4): a state that would
    // derive 6 partitions is clamped to the session's 4
    assert(LoopExec.partitionsFor(spark, 6 * LoopExec.RowsPerPartition) == 4)
  }

  /** Keyed on the first column, the rest of each row as the value. */
  private def rows(df: DataFrame): Map[String, Seq[Any]] =
    df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap

  /** Same keys; doubles within 1e-12 relative unless `exact`, every
    * other value equal — the small/above-gate envelope for the
    * double-summing loops: the small path derives their reduce
    * partition count (VERDICT r20 item 1), so the two paths accumulate
    * doubles in a different order — ulp-level wiggle, bounded far under
    * the 1e-6 rounding every declared gate applies. Label and distance
    * loops are partition-invariant by algebra and must match exactly. */
  private def assertSame(small: Map[String, Seq[Any]],
      large: Map[String, Seq[Any]], exact: Boolean): Unit = {
    assert(small.keySet == large.keySet)
    for ((k, vs) <- small; (a, b) <- vs.zip(large(k))) (a, b) match {
      case (x: Double, y: Double) if !exact =>
        val scale = math.max(math.abs(x), math.abs(y)).max(1e-300)
        assert(math.abs(x - y) / scale <= 1e-12,
          s"$k: $x vs $y diverged past the ulp envelope")
      case _ => assert(a == b, s"$k: $a vs $b")
    }
  }

  private def graph(): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    (Seq("a", "b", "c", "d", "e").toDF("page"),
      Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"),
        ("a", "c"), ("e", "b")).toDF("src", "dst"))
  }

  /** Small-path run, a rerun of it, and the above-gate run: the derived
    * partition count is a pure function of the data, so the rerun is
    * bit-identical — the property the rank store's load-≡-fresh pin
    * stands on. Returns the small-path rows. */
  private def assertPathsAgree(exact: Boolean)(
      loop: (DataFrame, DataFrame) => DataFrame): Map[String, Seq[Any]] = {
    val (pages, edges) = graph()
    val small = rows(loop(pages, edges))
    assert(rows(loop(pages, edges)) == small,
      "small-path reruns must be bit-identical (deterministic derivation)")
    assertSame(small, aboveGate(rows(loop(pages, edges))), exact)
    small
  }

  test("PageRank under the scope ≡ PageRank with the scope disabled " +
      "(1e-12-relative ranks; scope-on reruns bit-identical)") {
    assertPathsAgree(exact = false)(PageRank.run(_, _, iters = 4))
    // the redistribute branch (driver-scalar dangling mass) too
    val redist = assertPathsAgree(exact = false)(
      PageRank.run(_, _, iters = 3, redistributeDangling = true))
    // mass conservation survives the scalar-literal dm fold
    assert(math.abs(redist.values.map(_.head.asInstanceOf[Double]).sum
      - 1.0) < 1e-9)
  }

  private val loops: Seq[(String, Boolean, (DataFrame, DataFrame) => DataFrame)] =
    Seq(
      ("Hits", false, Hits.run(_, _, iters = 4)),
      ("labelPropagation", true, Components.labelPropagation(_, _, rounds = 3)),
      ("Bfs", true, Bfs.hopDistances(_, _, "d")))

  for ((name, exact, loop) <- loops)
    test(s"small-state path ≡ above-gate path: $name") {
      assertPathsAgree(exact)(loop)
    }
}
