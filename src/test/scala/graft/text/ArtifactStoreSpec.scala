package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted text artifacts (VERDICT r16 item 4 — the
  * signature-store pattern applied to the tokenizer and the cleaned
  * corpus): the stored catalog tables must equal their in-session
  * builds row-for-row, so the write→load roundtrip can never drift
  * from the laws the builders are pinned under, and the consumers
  * (q_text_tokens_trained, q_text_curate_cleaned,
  * q_dedup_substring_removed) genuinely read from storage. */
class ArtifactStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("stored BPE merge table == a fresh in-session training run, " +
      "rule for rule, and the loaded driver table matches it") {
    val stored = graft.queries.TextQueries.trainedRulesStore(spark, dir)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val fresh = graft.queries.TextQueries
      .bpeTrain(graft.Tables.documents(spark, dir), 64)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(stored.size == 64)
    assert(stored == fresh,
      "the persisted merge table diverged from in-session training")
    val loaded = graft.queries.TextQueries.trainedRules(spark, dir)
    assert(loaded == stored.map(t => (t._2, t._3)),
      "the loaded driver artifact diverged from the stored table")
  }

  test("stored cleaned corpus == the in-session excision frame, " +
      "row for row (doc_id, source, n_tok, kept tokens)") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("source"), col("n_tok"),
        array_join(col("kept"), "").as("k"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val stored = canon(graft.queries.DedupQueries.cleanedStore(spark, dir))
    val mem = canon(graft.queries.DedupQueries.substringKeptFrame(spark, dir))
    assert(stored.nonEmpty && stored == mem,
      "the persisted cleaned corpus diverged from the excision run")
  }

  test("the consumers read CATALOG TABLES: both store plans scan " +
      "parquet through the catalog, and the cleaned store keeps its " +
      "doc_id bucketing") {
    val cat = spark.sessionState.catalog
    import org.apache.spark.sql.catalyst.TableIdentifier
    val rulesTbl = "graft_bpe_rules_" + org.apache.commons.codec.digest
      .DigestUtils.md5Hex(dir).take(8)
    val cleanTbl = "graft_clean_" + org.apache.commons.codec.digest
      .DigestUtils.md5Hex(dir).take(8)
    graft.queries.TextQueries.trainedRulesStore(spark, dir).count()
    graft.queries.DedupQueries.cleanedStore(spark, dir).count()
    assert(cat.tableExists(TableIdentifier(rulesTbl)),
      "merge table not in the catalog")
    val spec = cat.getTableMetadata(TableIdentifier(cleanTbl)).bucketSpec
    assert(spec.nonEmpty && spec.get.numBuckets == 8 &&
      spec.get.bucketColumnNames == Seq("doc_id"),
      s"cleaned store lost its doc_id bucketing: $spec")
  }

  test("Lineage.store clears an orphaned managed location, then writes " +
      "once per SparkContext — sibling sessions reuse the table") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    val prefix = "graft_lifecycle_probe_"
    val tbl = graft.plans.Lineage.storeTable(prefix, dir)
    // a previous JVM's leftovers: files at the managed location, no
    // catalog entry — saveAsTable alone refuses to adopt them
    val loc = new Path(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(tbl)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val junk = new Path(loc, "junk.txt")
    fs.create(junk).close()
    assert(!spark.catalog.tableExists(tbl) && fs.exists(junk))

    var writes = 0
    def build(s: org.apache.spark.sql.SparkSession): String =
      graft.plans.Lineage.store(s, dir, prefix) { t =>
        writes += 1
        graft.Tables.documents(s, dir).select("doc_id")
          .write.mode("overwrite").saveAsTable(t)
      }

    assert(build(spark) == tbl)
    assert(writes == 1)
    assert(!fs.exists(junk), "the orphaned file survived the build")
    val ids = spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq
    val want = graft.Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.nonEmpty && ids == want)

    assert(build(spark) == tbl && writes == 1,
      "a second call in the same context re-ran the write")
    assert(build(spark.newSession()) == tbl && writes == 1,
      "a sibling session of the same context re-ran the write")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("registry scopes: perSession and memo rebuild for a new session, " +
      "perContext and store do not") {
    import graft.plans.Lineage
    val builds = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def count(n: String): Unit = builds(n) += 1
    def all(s: org.apache.spark.sql.SparkSession): Unit = {
      Lineage.perSession("spec_scope_session", s, dir) {
        count("perSession"); 1
      }
      Lineage.perContext("spec_scope_context", s, dir) {
        count("perContext"); 1
      }
      Lineage.memo("spec_scope_memo", s, dir) {
        count("memo"); graft.Tables.documents(s, dir).select("doc_id")
      }
      Lineage.store(s, dir, "graft_spec_scope_") { t =>
        count("store")
        graft.Tables.documents(s, dir).select("doc_id").limit(1)
          .write.mode("overwrite").saveAsTable(t)
      }
    }
    all(spark)
    all(spark)
    all(spark.newSession())
    assert(builds == Map("perSession" -> 2, "memo" -> 2,
      "perContext" -> 1, "store" -> 1), builds)
    spark.sql(s"DROP TABLE ${Lineage.storeTable("graft_spec_scope_", dir)}")
  }

  test("registry names: same key under two names gives two values; a " +
      "nested build completes and each name builds once") {
    import graft.plans.Lineage
    var outer, inner = 0
    val a = Lineage.perSession("spec_names_a", spark, dir) { "a" }
    val b = Lineage.perSession("spec_names_b", spark, dir) { "b" }
    assert(a == "a" && b == "b")
    def innerCall(): Int =
      Lineage.perContext("spec_nested_inner", spark, dir) { inner += 1; 7 }
    def outerCall(): Int =
      Lineage.perSession("spec_nested_outer", spark, dir) {
        outer += 1; innerCall() + 1
      }
    assert(outerCall() == 8 && outerCall() == 8 && innerCall() == 7)
    assert(outer == 1 && inner == 1)
  }

  test("registry first call: 8 threads racing one name build it once") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val results = (1 to 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          graft.plans.Lineage.perSession("spec_race", spark, dir) {
            builds.incrementAndGet()
            Thread.sleep(200)
            42
          }
        }
      })
    }
    start.countDown()
    val got = results.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(got.forall(_ == 42))
    assert(builds.get == 1, s"${builds.get} builds")
  }
}
