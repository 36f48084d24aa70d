package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

/** [[BloomMightContain]]: the no-false-negative contract, codegen vs
  * interpreted agreement, null/type analysis behavior, and the SQL
  * registration path. */
class BloomMightContainSpec extends SparkSpec {

  import spark.implicits._

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def filterOf(keys: Seq[Long]): Array[Byte] = {
    val bf = BloomFilter.create(math.max(keys.size.toLong, 1L), 0.01)
    keys.foreach(bf.putLong)
    serialize(bf)
  }

  test("no false negatives: every inserted key probes true") {
    val keys = (1L to 500L).map(_ * 1234567891L)
    val bytes = filterOf(keys)
    val hits = keys.toDF("h")
      .filter(call_function("bloom_might_contain", lit(bytes), col("h")))
      .count()
    assert(hits == keys.size)
  }

  test("false positive rate is in the configured ballpark, not ~1") {
    val inserted = (1L to 1000L).map(_ * 7919L)
    val bytes = filterOf(inserted)
    val probes = (1L to 20000L).map(_ * 104729L + 3L) // disjoint from inserted
    val fp = probes.toDF("h")
      .filter(call_function("bloom_might_contain", lit(bytes), col("h")))
      .count()
    assert(fp < probes.size / 10, s"fp=$fp of ${probes.size}")
  }

  test("codegen and interpreted eval agree row-for-row") {
    val bytes = filterOf(Seq(1L, 2L, 3L, 1000L))
    val probe = (0L to 2000L).toDF("h")
    val viaCodegen = probe.select(col("h"),
      call_function("bloom_might_contain", lit(bytes), col("h")).as("m"))
      .collect()
    val deser = BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    viaCodegen.foreach { r =>
      assert(r.getBoolean(1) == deser.mightContainLong(r.getLong(0)),
        s"h=${r.getLong(0)}")
    }
  }

  test("null probe value yields null, not false") {
    val bytes = filterOf(Seq(42L))
    val r = Seq(Some(42L), None).toDF("h")
      .select(call_function("bloom_might_contain", lit(bytes), col("h"))
        .as("m"))
      .collect()
    assert(r(0).getBoolean(0))
    assert(r(1).isNullAt(0))
  }

  test("non-foldable filter, null filter, and wrong types fail analysis") {
    val df = Seq((Array[Byte](1, 2), 1L)).toDF("b", "h")
    intercept[AnalysisException] {
      df.select(call_function("bloom_might_contain", col("b"), col("h")))
        .collect()
    }
    intercept[AnalysisException] {
      df.select(call_function("bloom_might_contain",
        lit(null).cast("binary"), col("h"))).collect()
    }
    intercept[AnalysisException] {
      df.select(call_function("bloom_might_contain",
        lit("notbinary"), col("h"))).collect()
    }
  }

  test("registered for SQL via extensions/registry") {
    val bytes = filterOf(Seq(7L))
    Seq(7L, 8L).toDF("h").createOrReplaceTempView("bloom_probe_t")
    val hex = bytes.map(b => f"$b%02x").mkString
    val rows = spark.sql(
      s"SELECT bloom_might_contain(X'$hex', h) AS m FROM bloom_probe_t " +
        "ORDER BY h").collect()
    assert(rows.map(_.getBoolean(0)).toSeq == Seq(true, false) ||
      rows(0).getBoolean(0)) // second row may rarely be a false positive
  }

  test("q_text_decontaminate_bloom equals the exact variant at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q_text_decontaminate")(spark, d)
      .collect().map(_.toSeq)
    val bloom =
      graft.SparkEntry.queries("q_text_decontaminate_bloom")(spark, d)
        .collect().map(_.toSeq)
    assert(bloom.nonEmpty)
    assert(exact.toSeq == bloom.toSeq)
  }
}
