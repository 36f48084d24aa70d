package graft.graph

import graft.SparkSpec

/** Golden closed-form graphs for the reference-convention PageRank
  * (init 1/N, teleport 0.15/N, dangling mass lost —
  * /root/reference/src/PageRank/PageRank.java:259,305-316), plus
  * DataFrame ≡ GraphX parity. */
class PageRankSpec extends SparkSpec {

  /** In-memory reference implementation: the recurrence exactly as the
    * reference's RankReducer computes it. */
  private def refRanks(pages: Seq[String], edges: Seq[(String, String)],
                       iters: Int): Map[String, Double] = {
    val n = pages.size.toDouble
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = pages.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val mass = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = pages.map(p => p -> (0.15 / n + 0.85 * mass.getOrElse(p, 0.0))).toMap
    }
    r
  }

  private def dfRanks(pages: Seq[String], edges: Seq[(String, String)],
                      iters: Int): Map[String, Double] = {
    val s = spark
    import s.implicits._
    PageRank.run(pages.toDF("page"), edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  private val cycle = (Seq("a", "b"), Seq("a" -> "b", "b" -> "a"))
  private val star = (Seq("hub", "s1", "s2"), Seq("hub" -> "s1", "hub" -> "s2"))
  private val chain = (Seq("a", "b", "c"), Seq("a" -> "b", "b" -> "c")) // c dangling

  test("empty graph yields an empty rank vector, not Infinity") {
    val got = dfRanks(Seq.empty, Seq.empty, 4)
    assert(got.isEmpty)
  }

  test("2-cycle is stationary at 1/2 each") {
    val got = dfRanks(cycle._1, cycle._2, 8)
    assert(math.abs(got("a") - 0.5) < 1e-12 && math.abs(got("b") - 0.5) < 1e-12)
  }

  test("star and dangling chain match the hand-rolled reference recurrence") {
    for ((pages, edges) <- Seq(star, chain)) {
      val want = refRanks(pages, edges, 8)
      val got = dfRanks(pages, edges, 8)
      for (p <- pages)
        assert(math.abs(got(p) - want(p)) < 1e-12, s"page=$p got=$got want=$want")
    }
  }

  test("dangling mass is lost: total rank decays below 1") {
    val got = dfRanks(chain._1, chain._2, 8)
    val total = got.values.sum
    assert(total < 1.0 - 1e-6) // c's mass evaporates each iteration
  }

  test("GraphX variant matches the DataFrame loop within 1e-10") {
    val s = spark
    import s.implicits._
    val (pages, edges) = star
    val df = dfRanks(pages, edges, 8)
    val gx = PageRankGraphX.run(pages.toDF("page"), edges.toDF("src", "dst"), 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (p <- pages) assert(math.abs(df(p) - gx(p)) < 1e-10, s"page=$p")
  }

  /** Personalized reference recurrence: r0 = e_src, teleport
    * 0.15·[p = src], dangling mass lost — mirrors run(teleportTo). */
  private def refPersonalized(pages: Seq[String],
      edges: Seq[(String, String)], src: String,
      iters: Int): Map[String, Double] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = pages.map(p => p -> (if (p == src) 1.0 else 0.0)).toMap
    for (_ <- 1 to iters) {
      val mass = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = pages.map(p =>
        p -> ((if (p == src) 0.15 else 0.0) + 0.85 * mass.getOrElse(p, 0.0))).toMap
    }
    r
  }

  test("personalized ranks match the seeded reference recurrence") {
    val s = spark
    import s.implicits._
    for ((pages, edges) <- Seq(star, chain, cycle)) {
      val src = edges.map(_._1).min
      val want = refPersonalized(pages, edges, src, 8)
      val got = PageRank.run(pages.toDF("page"), edges.toDF("src", "dst"),
          iters = 8, teleportTo = Some(src))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for (p <- pages)
        assert(math.abs(got(p) - want(p)) < 1e-12, s"page=$p got=$got want=$want")
    }
  }

  test("personalized teleport concentrates rank near the source") {
    val s = spark
    import s.implicits._
    // two disjoint 2-cycles; seeding in one leaves the other at 0
    val pages = Seq("a", "b", "x", "y").toDF("page")
    val edges = Seq("a" -> "b", "b" -> "a", "x" -> "y", "y" -> "x")
      .toDF("src", "dst")
    val got = PageRank.run(pages, edges, iters = 8, teleportTo = Some("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("x") == 0.0 && got("y") == 0.0)
    assert(got("a") > 0.0 && got("b") > 0.0)
  }

  test("personalized + redistributeDangling is rejected") {
    val s = spark
    import s.implicits._
    assertThrows[IllegalArgumentException] {
      PageRank.run(star._1.toDF("page"), star._2.toDF("src", "dst"),
        redistributeDangling = true, teleportTo = Some("hub"))
    }
  }

  test("topRanks keeps the reference 5/N default and descending order") {
    val s = spark
    import s.implicits._
    // graph where one page concentrates rank: 100 spokes all citing hub
    // (hub stationary rank = 0.15/N · (1 + 0.85·100) ≈ 12.9/N > 5/N;
    // spokes sit at the 0.15/N teleport floor)
    val pages = "hub" +: (1 to 100).map(i => s"p$i")
    val edges = (1 to 100).map(i => s"p$i" -> "hub")
    val ranks = PageRank.run(pages.toDF("page"), edges.toDF("src", "dst"))
    val top5 = PageRank.topRanks(ranks, pages.size)
    val got = top5.collect().map(_.getString(0)).toSeq
    assert(got == Seq("hub")) // only hub exceeds 5/N
  }
}
