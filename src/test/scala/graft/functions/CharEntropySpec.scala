package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** [[CharEntropyUtil]] / the `char_entropy` expression: closed-form
  * values, the deterministic fold-order contract, and the codegen path
  * agreeing with direct eval. */
class CharEntropySpec extends SparkSpec {

  private def ent(s: String): Double =
    CharEntropyUtil.charEntropy(UTF8String.fromString(s))

  /** Naive reference: same formula, groupBy on chars, fold sorted. */
  private def refEnt(s: String): Double = {
    val cps = s.codePoints().toArray
    if (cps.isEmpty) return 0.0
    val n = cps.length.toDouble
    val ln2 = math.log(2.0)
    val acc = cps.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (_, g) =>
        val c = g.length.toDouble
        c * (math.log(c) / ln2)
      }.sum
    math.log(n) / ln2 - acc / n
  }

  test("closed forms: empty and single-symbol runs are exactly 0.0") {
    assert(ent("") == 0.0)
    assert(ent("a") == 0.0)
    assert(ent("aaaaaaa") == 0.0) // log2(n) − n·log2(n)/n cancels bitwise
  }

  test("closed forms: uniform alphabets hit log2(k) exactly") {
    assert(ent("abcd") == 2.0)
    assert(ent("aabbccdd") == 2.0) // 8 chars, 4 symbols × 2
    assert(ent("ab") == 1.0)
  }

  test("matches the naive reference on random strings (incl. non-ASCII)") {
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("abc", "abcdefghij", "aéß日本😀x")
    for (alpha <- alphabets; _ <- 1 to 20) {
      val cps = alpha.codePoints().toArray
      val s = new StringBuilder
      (0 until rnd.nextInt(200)).foreach { _ =>
        s.appendAll(Character.toChars(cps(rnd.nextInt(cps.length))))
      }
      val str = s.toString
      assert(ent(str) == refEnt(str), s"mismatch on ${str.take(40)}")
    }
  }

  test("surrogate pairs count as one code point") {
    // U+1F600 twice + 'a' twice = 4 code points, 2 symbols → 1.0
    assert(ent("😀a😀a") == 1.0)
  }

  test("expression path (codegen) agrees with direct eval, null-safe") {
    val s = spark
    import s.implicits._
    val texts = Seq("abcd", "", "aabbccdd", "mixed content 123", null)
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "t")
      .select(col("id"), call_function("char_entropy", col("t")).as("e"))
      .orderBy("id")
      .collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val want = texts.map(t => Option(t).map(ent))
    assert(got.toSeq == want)
  }
}
