package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** The native codegen'd sketch expressions must equal the interpreted
  * SQL-expr forms bit-for-bit — the SQL forms are what the DuckDB
  * oracles replicate, so equality here transfers oracle parity to the
  * native path. Checked over the real sf0.001 documents table plus
  * hand-built edge cases (short texts, duplicate shingles, empties).
  */
class ShingleHashesSpec extends SparkSpec {

  private def docs = {
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
  }

  test("hash32 one-block MD5 == MessageDigest across the 55-byte fallback boundary") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rnd = new scala.util.Random(11)
    for (len <- 0 to 60; trial <- 1 to 3) {
      val padded = new Array[Byte](len + 7) // exercise a non-zero offset
      rnd.nextBytes(padded)
      val off = trial % 5
      md.reset()
      md.update(padded, off, len)
      val d = md.digest()
      val want = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      assert(ShingleHashUtil.hash32(padded, off, len) == want,
        s"len=$len off=$off")
    }
  }

  test("word_shingle_hashes == array_sort∘distinct∘hash∘shingles (sf0.001 corpus)") {
    val df = docs
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("sh", expr(Dedup.wordShinglesExpr("toks", 3)))
      .withColumn("ref", expr(Dedup.shingleHash32Expr("sh")))
      .withColumn("got", call_function("word_shingle_hashes", col("toks"), lit(3)))
    assert(df.filter(not(col("ref") === col("got"))).count() == 0)
    assert(df.count() > 0)
  }

  test("char_shingle_hashes == reference form incl. short/empty texts") {
    val s = spark
    import s.implicits._
    val extra = Seq((1L, "abcd"), (2L, "abcde"), (3L, ""), (4L, "aaaaaaaa"),
      (5L, "ab"), (6L, "répé tition répé"))
      .toDF("doc_id", "text")
    val df = docs.unionAll(extra)
      .withColumn("sh5", expr(Dedup.charShinglesExpr("text", 5)))
      .withColumn("ref", expr(Dedup.shingleHash32Expr("sh5")))
      .withColumn("got", call_function("char_shingle_hashes", col("text"), lit(5)))
    assert(df.filter(not(col("ref") === col("got"))).count() == 0)
  }

  test("minhash_sig == interpreted affine-perm form, null on empty") {
    val df = docs
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("hs", call_function("word_shingle_hashes", col("toks"), lit(3)))
      .withColumn("ref", expr(Dedup.minhashExpr("hs", 16)))
      .withColumn("got", call_function("minhash_sig", col("hs"), lit(16)))
    assert(df.filter(not(coalesce(col("ref") === col("got"),
      col("ref").isNull && col("got").isNull))).count() == 0)
    // empty input → null signature (matches the IF(size>0, …, null) guard)
    val empty = spark.sql(
      "SELECT minhash_sig(cast(array() as array<bigint>), 16) AS s")
    assert(empty.head().isNullAt(0))
  }

  test("simhash32 == interpreted TF-weighted bit-vote form") {
    val df = docs
      .withColumn("ths", expr(Dedup.tokenHashesExpr("text")))
      .withColumn("ref", expr(Dedup.simhashExpr("ths", 32)))
      .withColumn("got", call_function("simhash32", split(col("text"), "\\s+")))
    assert(df.filter(col("ref") =!= col("got")).count() == 0)
  }

  test("sorted_intersect_count == size(array_intersect) on word_shingle_hashes pairs (sf0.001 corpus)") {
    // parquet-backed pairs: a literal Seq would be constant-folded into
    // a LocalRelation and never reach the codegen'd merge
    val d = docs.orderBy("doc_id").limit(10)
    val pairs = d.as("x").join(d.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(
        call_function("word_shingle_hashes",
          split(col("x.text"), " "), lit(2)).as("h1"),
        call_function("word_shingle_hashes",
          split(col("y.text"), " "), lit(2)).as("h2"))
      .select(
        size(array_intersect(col("h1"), col("h2"))).as("ref"),
        call_function("sorted_intersect_count", col("h1"), col("h2")).as("got"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(pairs.size == 45) // 10 choose 2
    assert(pairs.forall { case (ref, got) => ref == got }, pairs)
    assert(pairs.exists(_._1 > 0), "no pair shares a shingle: vacuous")
  }
}
