package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CosineSimilaritySpec extends SparkSpec {

  test("matches the higher-order-function formulation bit for bit") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f), Array(-0.5f, 0.25f)),
      (Array.fill(64)(0.123f), Array.fill(64)(-0.456f))
    ).toDF("a", "b")
    val hof = "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, p) -> acc + p) " +
      "/ (sqrt(aggregate(a, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double))) * " +
      "sqrt(aggregate(b, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double))))"
    val rows = df.select(
      call_function("cosine_sim", col("a"), col("b")).as("native"),
      expr(hof).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native=${r.getDouble(0)} hof=${r.getDouble(1)}"))
  }

  test("interpreted eval equals codegen result") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 1.0f))).toDF("a", "b")
    val viaPlan = df
      .select(call_function("cosine_sim", col("a"), col("b"))).head().getDouble(0)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val direct = CosineSimilarity(Literal(null), Literal(null))
      .nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0f, 2.0f)),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(2.0f, 1.0f)))
      .asInstanceOf[Double]
    assert(viaPlan == direct)
    assert(math.abs(viaPlan - 4.0 / 5.0) < 1e-15) // (2+2)/(√5·√5)
  }

  test("null inputs yield null; wrong types fail analysis with a clear message") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df.select(call_function("cosine_sim", col("a"), col("b")))
      .head().isNullAt(0))
    val bad = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(call_function("cosine_sim", col("a"), col("b"))).collect()
    }
    assert(bad.getMessage.contains("cosine_sim"))
  }

  test("registered in SQL via extensions entry") {
    val got = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float)))").head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-15)
  }
}
