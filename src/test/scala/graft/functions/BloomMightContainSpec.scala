package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

/** The eval-set bloom path — Spark's `bloom_filter_agg` built on the
  * executors, probed by `might_contain` through a scalar subquery: the
  * no-false-negative contract, a bounded false positive rate, the
  * empty-filter edge, the SQL registration, and exactness of the gate
  * that relies on it. */
class BloomMightContainSpec extends SparkSpec {

  import spark.implicits._

  /** A one-row frame holding the bloom of `keys`' `h` column, sized for
    * `keys.size` items at 1% fpp. */
  private def bloomOf(keys: DataFrame, n: Long): DataFrame =
    keys.agg(call_function("bloom_filter_agg", col("h"), lit(n),
      lit(BloomFilter.optimalNumOfBits(n, 0.01))))

  private def probe(bloom: DataFrame): Column =
    call_function("might_contain", bloom.scalar(), col("h"))

  test("no false negatives: every inserted key probes true") {
    val keys = (1L to 500L).map(_ * 1234567891L).toDF("h")
    val hits = keys.filter(probe(bloomOf(keys, 500L))).count()
    assert(hits == 500L)
  }

  test("false positive rate is in the configured ballpark, not ~1") {
    val inserted = (1L to 1000L).map(_ * 7919L).toDF("h")
    val probes = (1L to 20000L).map(_ * 104729L + 3L) // disjoint from inserted
    val fp = probes.toDF("h").filter(probe(bloomOf(inserted, 1000L)))
      .count()
    assert(fp < probes.size / 10, s"fp=$fp of ${probes.size}")
  }

  test("empty eval set: null filter, evalHits passes no rows") {
    val none = Seq.empty[Long].toDF("h")
    assert(bloomOf(none, 1000L).head().isNullAt(0))
    assert((1L to 100L).toDF("h").filter(probe(bloomOf(none, 1000L)))
      .isEmpty)
    // a corpus without src0 documents: the engine's eval artifacts
    // are empty, and the probe over its windows must neither throw
    // nor pass anything
    val d = java.nio.file.Files.createTempDirectory("graft-noeval").toString
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("source") =!= "src0").limit(20)
      .write.parquet(s"$d/documents.parquet")
    val wins = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(call_function("word_gram_hashes60",
        TextFunctions.tokens(col("text")), lit(8))).as("h"))
    assert(!wins.isEmpty)
    assert(graft.queries.TextQueries.evalHits(spark, d)(wins).isEmpty)
  }

  test("SQL: might_contain over a bloom_filter_agg subquery") {
    Seq(7L, 8L).toDF("h").createOrReplaceTempView("bloom_probe_t")
    val rows = spark.sql(
      "SELECT h FROM bloom_probe_t WHERE might_contain((SELECT " +
        "bloom_filter_agg(h, 100L, 1024L) FROM bloom_probe_t " +
        "WHERE h = 7), h) ORDER BY h").collect().map(_.getLong(0))
    // 8 may rarely be a false positive; 7 can never be missed
    assert(rows.headOption.contains(7L), rows.mkString(","))
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
