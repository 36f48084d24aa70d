package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `spark.sql(...)` half of the declarative surface: after
  * [[Tables.registerAll]], every table is reachable from plain SQL, and
  * SQL results equal the DataFrame path (same plans underneath). Every
  * graft native function is there in any session, with no call at all:
  * the extension provider file loads them at session build.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("registered views answer SQL identically to the DataFrame path") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaDf = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaSql == viaDf)
    assert(viaSql.nonEmpty)
  }

  test("native graft functions are callable from SQL over the views") {
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      """SELECT doc_id, size(char_shingle_hashes(text, 5)) AS n_sh,
                simhash32(split(text, '\\s+')) AS sh32
         FROM documents ORDER BY doc_id LIMIT 5""").collect()
    assert(got.length == 5)
    assert(got.forall(r => r.getInt(1) > 0))
  }

  test("SQL joins across registered views plan broadcast joins for dims") {
    Tables.registerAll(spark, sf)
    val df = spark.sql(
      """SELECT n.n_name, COUNT(*) AS n_cust
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name""")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("a plain-builder session and its newSession() resolve every graft function") {
    spark // the shared SparkContext exists first; the fresh session reuses it
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the builder Bench, Verify and perfbench use: no spark.sql.extensions
      val fresh = SparkSession.builder().master("local[4]").getOrCreate()
      assert(fresh ne spark)
      for (s <- Seq(fresh, fresh.newSession())) {
        val missing = GraftFunctions.entries.map(_._1.funcName)
          .filterNot(s.catalog.functionExists)
        assert(missing.isEmpty, s"not in the session's registry: $missing")
        val dot = s.range(1).select(call_function("dot_product",
          array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))))
          .head().getDouble(0)
        assert(dot == 11.0)
        val n = s.sql("SELECT sorted_intersect_count(array(1L, 2L, 3L), " +
          "array(2L, 3L, 4L))").head().getInt(0)
        assert(n == 2)
      }
    } finally {
      SparkSession.clearActiveSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }
}
