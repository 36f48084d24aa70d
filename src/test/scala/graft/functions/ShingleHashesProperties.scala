package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.dedup.Dedup

/** Property-based parity: the native codegen'd sketch expressions must
  * equal the interpreted SQL forms on ScalaCheck-generated inputs —
  * including non-ASCII tokens (multi-byte UTF-8 reaches md5 and the
  * char/byte distinction in substring), repeated tokens, empty strings,
  * and single-char texts. Complements ShingleHashesSpec's real-corpus
  * sweep (the corpus is pure ASCII).
  */
class ShingleHashesProperties extends SparkSpec {

  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaNumChar),
    Gen.oneOf("münchen", "héllo", "日本語", "a", "", "naïve", "ωμέγα"),
    Gen.stringOfN(1, Gen.alphaChar))

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, tokenGen)
  } yield toks.mkString(" ")

  private def docs(k: Int): Seq[String] =
    (1 to k).flatMap(i => docGen.apply(Gen.Parameters.default, Seed(7L + i)))

  test("word_shingle_hashes / minhash_sig / simhash32 match SQL forms on random unicode docs") {
    val s = spark
    import s.implicits._
    val df = docs(60).toDF("text")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("refH", expr(Dedup.shingleHash32Expr(
        s"(${Dedup.wordShinglesExpr("toks", 3)})")))
      .withColumn("gotH", call_function("word_shingle_hashes", col("toks"), lit(3)))
      .withColumn("refS", expr(Dedup.minhashExpr("gotH", 8)))
      .withColumn("gotS", call_function("minhash_sig", col("gotH"), lit(8)))
      .withColumn("refSim", expr(Dedup.simhashExpr(
        s"(${Dedup.tokenHashesExpr("text")})", 32)))
      .withColumn("gotSim", call_function("simhash32", split(col("text"), "\\s+")))
    assert(df.filter(not(col("refH") === col("gotH"))).count() == 0)
    assert(df.filter(not(coalesce(col("refS") === col("gotS"),
      col("refS").isNull && col("gotS").isNull))).count() == 0)
    assert(df.filter(col("refSim") =!= col("gotSim")).count() == 0)
    assert(df.count() == 60)
  }

  test("char_shingle_hashes matches the SQL form on random unicode texts (char semantics)") {
    val s = spark
    import s.implicits._
    val df = docs(60).toDF("text")
      .withColumn("ref", expr(Dedup.shingleHash32Expr(
        s"(${Dedup.charShinglesExpr("text", 4)})")))
      .withColumn("got", call_function("char_shingle_hashes", col("text"), lit(4)))
    assert(df.filter(not(col("ref") === col("got"))).count() == 0)
  }

  test("char_gram_hashes + winnow match TextFunctions' interpreted SQL " +
      "forms on random unicode texts — positional order, duplicates, " +
      "first-occurrence dedup") {
    val s = spark
    import s.implicits._
    import graft.functions.TextFunctions
    val df = (docs(60) ++ Seq("", "ab", "abcdefgh", "aaaaaaaaaaaa",
      "日本語で書かれた文章です")).toDF("text")
      .withColumn("refH", expr(TextFunctions.shingleHashesExpr("text", 8)))
      .withColumn("gotH", call_function("char_gram_hashes", col("text"), lit(8)))
      .withColumn("refW", expr(TextFunctions.winnowExpr("refH", 4)))
      .withColumn("gotW", call_function("winnow", col("gotH"), lit(4)))
    assert(df.filter(not(col("refH") === col("gotH"))).count() == 0)
    assert(df.filter(not(col("refW") === col("gotW"))).count() == 0)
    assert(df.count() == 65)
  }

  test("word_gram_hashes60 matches the interpreted concat_ws/md5/conv " +
      "form on random unicode docs — positional order, duplicates, " +
      "60-bit values") {
    val s = spark
    import s.implicits._
    def refForm(k: Int) = expr(
      s"CASE WHEN size(toks) < $k THEN cast(array() as array<bigint>) " +
        s"ELSE transform(transform(sequence(1, size(toks) - ${k - 1}), " +
        s"i -> concat_ws(' ', slice(toks, i, $k))), " +
        "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)) END")
    val df = (docs(60) ++ Seq("", "a", "a a a a a a a a a a"))
      .toDF("text")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("ref3", refForm(3))
      .withColumn("got3", call_function("word_gram_hashes60", col("toks"), lit(3)))
      .withColumn("ref8", refForm(8))
      .withColumn("got8", call_function("word_gram_hashes60", col("toks"), lit(8)))
    assert(df.filter(not(col("ref3") === col("got3"))).count() == 0)
    assert(df.filter(not(col("ref8") === col("got8"))).count() == 0)
    assert(df.count() == 63)
  }

  test("char_grams matches the interpreted transform/substring lambda " +
      "on random unicode texts — order AND duplicates preserved") {
    val s = spark
    import s.implicits._
    // the exact lambda q_text_langid_ngram shipped before the native
    // expression — grams must be IDENTICAL element-for-element (counts
    // feed the rank model, so dedup or reorder breaks the gate)
    val df = (docs(60) ++ Seq("", "ab", "abc", "aaaa", "日本語で書く"))
      .toDF("text")
      .withColumn("ref", expr("IF(length(text) >= 3, " +
        "transform(sequence(1, length(text) - 2), " +
        "i -> substring(text, i, 3)), cast(array() as array<string>))"))
      .withColumn("got", call_function("char_grams", col("text"), lit(3)))
    assert(df.filter(not(col("ref") === col("got"))).count() == 0)
    assert(df.count() == 65)
  }
}
