package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.DedupQueries

/** The skew guard on the blocked n-gram join (VERDICT r4 item 1): a
  * single oversized (source × length-bucket) block must NOT generate
  * O(block²) candidate pairs — oversized blocks route through 16
  * single-row minhash bands, so candidates are governed by true
  * similarity, not block size.
  */
class DedupNgramCapSpec extends SparkSpec {

  /** doc_id, source, lb, sh — the [[DedupQueries.ngramCandidates]]
    * input shape, from synthetic texts all in ONE block. */
  private def oneBlock(texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), lit("web").as("source"), lit(0L).as("lb"),
        call_function("char_shingle_hashes", col("text"), lit(5)).as("sh"))
  }

  private def randomTexts(n: Int, len: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    // random lowercase strings: 5-gram shingle space is 26^5 ≈ 12M, so
    // dissimilar docs share essentially no shingles
    Seq.fill(n)(Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString)
  }

  test("a 10k-doc skewed block of dissimilar docs yields bounded candidates") {
    val n = 10000
    val sh = oneBlock(randomTexts(n, 60, seed = 7)).localCheckpoint(true)
    val cand = DedupQueries.ngramCandidates(sh, blockCap = 64).count()
    val allPairs = n.toLong * (n - 1) / 2 // ≈ 50M under plain blocking
    // banding collisions on random text are rare: orders of magnitude
    // below all-pairs (observed ~0 at seed 7)
    assert(cand < allPairs / 100,
      s"skewed block generated $cand candidates (all-pairs would be $allPairs)")
  }

  test("banded route still surfaces true near-dups inside an oversized block") {
    val base = randomTexts(40, 60, seed = 11)
    // 40 dissimilar docs + 10 copies of doc 0 with a 1-char edit
    val texts = base ++ (1 to 10).map(i => base.head.updated(i, 'z'))
    val sh = oneBlock(texts).localCheckpoint(true)
    val cand = DedupQueries.ngramCandidates(sh, blockCap = 8)
    // every (copy, copy) and (orig, copy) pair shares nearly all
    // shingles → J ≈ 1 → caught by banding with overwhelming probability
    val dupIds = (0L +: (40L until 50L)).toSet
    val dupPairs = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count { case (a, b) => dupIds(a) && dupIds(b) }
    assert(dupPairs >= 50, s"expected ≥ 50 of 55 near-dup pairs, got $dupPairs")
  }

  test("under the cap the candidate set equals plain within-block all-pairs") {
    val sh = oneBlock(randomTexts(30, 60, seed = 3)).localCheckpoint(true)
    assert(DedupQueries.ngramCandidates(sh, blockCap = 1000).count() == 30L * 29 / 2)
  }

  /** (doc_id, pre, lb, pb) — the [[DedupQueries.editdistCandidates]]
    * input shape, single length bucket. */
  private def editdistBlock(texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("pre"),
        lit(1L).as("lb"), substring(col("text"), 1, 4).as("pb"))
  }

  test("editdist: an oversized shared-8-char-opening block yields bounded candidates") {
    // 2000 docs all sharing an 8-char boilerplate opening ("The quic")
    // but diverse after it: one (lb × pb4) block of 2000 → ~2M pairs
    // under plain blocking, and a deeper-PREFIX refinement (the old pb8
    // route) would keep the SAME ~2M because the openings agree through
    // char 8. Banding over the prefix's char-5-gram shingles collapses
    // it: dissimilar continuations share only the ~4 opening shingles
    // (J ≈ 4/68), and 4-row bands collide with P = 1-(1-J⁴)⁴ ≈ 5e-5.
    val rnd = new scala.util.Random(13)
    val p = editdistBlock(Seq.fill(2000)(
      "The quic" + Array.fill(32)(('a' + rnd.nextInt(26)).toChar).mkString))
    val n = 2000L
    val capped = DedupQueries.editdistCandidates(p, blockCap = 64).count()
    assert(capped < n * (n - 1) / 2 / 100,
      s"expected prefix-shingle banding to debulk the shared-opening block, got $capped")
  }

  test("editdist banding still surfaces true near-dup prefixes in an oversized block") {
    val rnd = new scala.util.Random(17)
    val base = Seq.fill(50)(
      "The quic" + Array.fill(32)(('a' + rnd.nextInt(26)).toChar).mkString)
    // 50 dissimilar docs + 10 copies of doc 0 with the same 1-char edit:
    // copy-copy prefixes are identical (J = 1, bands MUST collide) and
    // base-copy prefixes share ~31/41 shingles (J ≈ 0.76, P ≈ 0.8)
    val texts = base ++ Seq.fill(10)(base.head.updated(12, 'z'))
    val cand = DedupQueries.editdistCandidates(editdistBlock(texts), blockCap = 8)
    val dupIds = (50L until 60L).toSet
    val copyPairs = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count { case (a, b) => dupIds(a) && dupIds(b) }
    assert(copyPairs == 45, s"expected all 45 identical-prefix pairs, got $copyPairs")
  }

  test("editdist: shingle-less short prefixes in an oversized block stay on the exact route") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    // one (lb, pb) block of 80 (> cap 64): 70 banded long rows + 10
    // short rows whose pre ("abcd") is under the 5-char shingle width —
    // the shorts must pair with each other exactly (identical pre) and
    // must not be silently dropped by the null-sig banding route
    val longs = Seq.fill(70)(
      "abcd" + Array.fill(36)(('a' + rnd.nextInt(26)).toChar).mkString)
    val p = (longs.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        (70L until 80L).map(i => (i, "abcd")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("pre"),
        lit(0L).as("lb"), substring(col("text"), 1, 4).as("pb"))
    val cand = DedupQueries.editdistCandidates(p, blockCap = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortPairs = (for {
      a <- 70L until 80L; b <- (a + 1) until 80L
    } yield (a, b)).toSet
    assert(shortPairs.subsetOf(cand),
      s"missing short-prefix exact pairs: ${(shortPairs -- cand).take(5)}")
  }
}
