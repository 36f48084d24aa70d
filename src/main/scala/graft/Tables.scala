package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test data (TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read the
  * TPC-H-ish star schema from it. Reads are plain parquet scans so Catalyst
  * pushes filters/pruned columns straight into the scan — at 100 TB the same
  * code reads a partitioned parquet lake and partition pruning applies.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The session conf required to read TIMESTAMP(NANOS) parquet; set it
    * at session-BUILD time (Verify/Bench/SparkSpec all do). It cannot be
    * scoped to a single read: it is not a ParquetOptions key, and both
    * footer schema inference and `buildReaderWithPartitionValues` pull it
    * from the session SQLConf at execution time (verified against Spark
    * 4.1.2), so a set-then-restore around the lazy read would break the
    * later scan. */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** events.parquet's `ts` physical type has flipped across driver
    * testdata generations — TIMESTAMP(NANOS) originally, TIMESTAMP_MICROS
    * since 2026-08-13 — so the read adapts to the LOADED dtype instead of
    * assuming a generation (VERDICT r11 item 1: the nanos-only assumption
    * broke all 14 events/stream gates when the data regenerated):
    *
    *  - LongType: nanosAsLong turned TIMESTAMP(NANOS) into raw nanos
    *    (Spark's vectorized reader rejects nanos outright); truncate to
    *    micros with integer `div` — nanos since 2024 ≈ 1.7e18 > 2⁵³ would
    *    lose precision as a double. Matches DuckDB's implicit truncation
    *    (its TIMESTAMP is micro-precision).
    *  - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): cast to
    *    TimestampType — value-preserving under the UTC session timezone
    *    all our mains set, and downstream Dataset encoders expect
    *    java.sql.Timestamp (TimestampType), not LocalDateTime.
    *  - TimestampType already: pass through.
    *
    * The conf flip below is a deliberate, idempotent safety net for
    * sessions not built by our mains (e.g. the driver's own smoke-check
    * session) — ADVICE r2 item 3: the supported path is setting
    * [[NanosConf]] when the session is built, not here. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (!s.conf.getOption(NanosConf).contains("true"))
      s.conf.set(NanosConf, "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view, so the whole engine is
    * drivable from `spark.sql(...)` — the other half of the declarative
    * surface. Views are lazy plan aliases over the parquet scans:
    * pushdown/pruning reach the files exactly as in the DataFrame path. */
  def registerAll(s: SparkSession, d: String): Unit = {
    region(s, d).createOrReplaceTempView("region")
    nation(s, d).createOrReplaceTempView("nation")
    customer(s, d).createOrReplaceTempView("customer")
    supplier(s, d).createOrReplaceTempView("supplier")
    part(s, d).createOrReplaceTempView("part")
    orders(s, d).createOrReplaceTempView("orders")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    events(s, d).createOrReplaceTempView("events")
    documents(s, d).createOrReplaceTempView("documents")
    embeddings(s, d).createOrReplaceTempView("embeddings")
  }
}
