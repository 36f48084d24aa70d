package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.queries.{DedupQueries, TextQueries}

import Main.{Metrics, Tally, median, secs}

/** The `corpus_catalog` workload: query functions from
  * `SparkEntry.queries`, called cold once each in a fresh process, then
  * warm in seeded order, each call checked against a stored row count
  * and hash. */
object Catalogs {

  /** Catalog module of each benched query (not in `SparkEntry.gateOnly`). */
  val modules: Seq[(String, Set[String])] = Seq(
    "TextQueries" -> TextQueries.queries.keySet,
    "DedupQueries" -> DedupQueries.queries.keySet
  ).map { case (m, ks) => m -> ks.filterNot(SparkEntry.gateOnly) }

  def moduleOf(query: String): String =
    modules.collectFirst { case (m, ks) if ks(query) => m }.getOrElse(
      throw new IllegalArgumentException(s"$query is not a benched catalog query"))

  /** The catalog's queries: a fixed subset of the modules' benched
    * queries, small enough that a cold pass and the warm passes of one
    * run fit the benchmark's time budget, covering the mechanisms the
    * workload is for (see `BENCHMARK.json`). In a one-process probe of
    * all 88 benched Text, Dedup and Similarity queries at sf0.1 on 4
    * cores (224.5 s cold, 128.3 s warm), these read 0.71, 0.68 and
    * 2.13 s warm, with max-min over median 0.21, 0.14 and 0.06 across
    * five warm calls: the shingle/MinHash functions, the persisted dedup
    * store and a blocked pair join in a 3.5 s warm pass. */
  val queries: Seq[String] = Seq("q_dedup_incremental", "q_dedup_minhash", "q_text_allpairs")

  /** Order-insensitive content hash: the row count, two sums of 31-bit
    * per-row hashes and an xor of 64-bit ones, over the columns in name
    * order. */
  def contentHash(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).toSeq.map { case (f, i) =>
      f.dataType match {
        case _: MapType => to_json(map_entries(col(s"c$i"))) // maps do not hash
        case _ => col(s"c$i")
      }
    }
    val r = renamed.select(xxhash64(cols: _*).as("h"), hash(cols: _*).as("g"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 31))),
        sum(pmod(col("g").cast("long"), lit(1L << 31))), bit_xor(col("h")))
      .first()
    val rows = r.getLong(0)
    (rows, if (rows == 0) "empty" else f"${r.getLong(1)}%x-${r.getLong(2)}%x-${r.getLong(3)}%016x")
  }

  /** Expected (rows, hash) per query: `query \t rows \t hash` lines. */
  def expected(path: Path): Map[String, (Long, String)] =
    Files.readAllLines(path, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, rows, sig) = l.split("\t"); q -> (rows.toLong, sig) }
      .toMap

  /** Times of one call: the query function (build), the `noop` write
    * (write), and for traced calls the write's planning phases and the
    * tasks, shuffle bytes and plan size of the call. */
  final case class Call(build: Double, write: Double, plan: Double = 0,
                        tasks: Long = 0, shuffleMb: Double = 0, planChars: Long = 0) {
    def total: Double = build + write
    def exec: Double = write - plan
  }

  def measure(spark: SparkSession, sf: String, expectedPath: Path,
              seed: Long, seconds: Double,
              tracer: Option[Tracer], tally: Tally): (Metrics, Metrics) = {
    val expected = this.expected(expectedPath)
    val qs = queries.sorted

    /** One call: the query function, then a `noop` write that
      * materializes every column; the check runs after the clock stops. */
    def call(q: String, checked: Boolean, traced: Boolean): Option[Call] = {
      var out: Option[Call] = None
      tally(if (checked) q else s"$q (unchecked)") {
        val t = tracer.filter(_ => traced)
        def span[T](phase: String)(body: => T): (T, Census) =
          t.fold((body, Census.zero))(_.span(s"queries.${moduleOf(q)}.$phase")(body))
        val t0 = System.nanoTime()
        val (df, b) = span("build")(SparkEntry.queries(q)(spark, sf))
        val t1 = System.nanoTime()
        val (_, w) = span("write")(df.write.format("noop").mode("overwrite").save())
        out = Some(Call((t1 - t0) / 1e9, secs(t1), w.planS, b.tasks + w.tasks,
          b.shuffleMb + w.shuffleMb, w.planChars))
        !checked || expected.get(q).contains(contentHash(df))
      }
      graft.plans.Lineage.freeScratch(spark)
      out
    }

    tracer.foreach(_.start())
    val cold = qs.flatMap(q => call(q, checked = true, traced = true).map(q -> _)).toMap
    val cacheAndStore = tracer.fold(Nil: Metrics)(_ =>
      Main.cacheMetrics(spark) ++ Main.storeMetrics(spark))
    // Warm passes, each in a seeded order, for `seconds` and at least
    // three, so a query's median survives one slow pass; the first is
    // checked. A traced run follows the checked pass with alternating
    // untraced and traced passes, at least two traced, and ends on an
    // untraced one, so each traced pass has an untraced pass on either
    // side to measure the listener overhead against.
    val rng = new scala.util.Random(seed)
    val warm = mutable.ArrayBuffer.empty[(Boolean, String, Call)]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    def tracedPass(pass: Int): Boolean = tracer.isDefined && pass > 0 && pass % 2 == 0
    val minPasses = if (tracer.isDefined) 6 else 3
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || secs(start) < seconds || tracedPass(pass - 1)) {
      val traced = tracedPass(pass)
      tracer.foreach(t => if (traced) t.start() else t.stop())
      val calls = rng.shuffle(qs).flatMap(q => call(q, pass == 0, traced).map(c => (traced, q, c)))
      warm ++= calls
      passTotals += calls.map(_._3.total).sum
      pass += 1
    }
    tracer match {
      case None =>
        val warmBy = warm.toSeq.groupBy(_._2).map { case (q, cs) => q -> cs.map(_._3.total) }
        val (e2e, extra) = Main.endToEnd(cold.values.map(_.total).toSeq, warmBy)
        (e2e, extra ++ qs.flatMap { q =>
          Seq(s"cold.$q" -> (cold.get(q).fold(Double.NaN)(_.total), "s"),
            s"warm.$q" -> (warmBy.get(q).fold(Double.NaN)(median), "s"))
        })
      case Some(t) =>
        t.start()
        val tracedWarm = warm.filter(_._1).toSeq.groupBy(_._2)
          .map { case (q, cs) => q -> cs.map(_._3) }
        val overhead = median(passTotals.indices.filter(tracedPass).map(i =>
          passTotals(i) - (passTotals(i - 1) + passTotals(i + 1)) / 2))
        (modules.map(_._1).flatMap(moduleMetrics(_, cold.map { case (q, c) => q -> Seq(c) },
          tracedWarm)) ++ cacheAndStore ++ Seq(
          "catalyst.plan_kb" -> (tracedWarm.values.map(_.head.planChars).sum / 1024.0, "KB"),
          "trace.overhead_s" -> (overhead, "s")), Nil)
    }
  }

  /** Per-module sums over the module's queries of each query's median
    * call, cold and warm. */
  def moduleMetrics(m: String, cold: Map[String, Seq[Call]],
                    warm: Map[String, Seq[Call]]): Metrics = {
    def sumOf(calls: Map[String, Seq[Call]], f: Call => Double): Double =
      calls.collect { case (q, cs) if moduleOf(q) == m => median(cs.map(f)) }.sum
    val p = s"queries.$m"
    Seq(s"$p.cold.build_s" -> (sumOf(cold, _.build), "s"),
      s"$p.cold.plan_s" -> (sumOf(cold, _.plan), "s"),
      s"$p.cold.exec_s" -> (sumOf(cold, _.exec), "s"),
      s"$p.warm.build_s" -> (sumOf(warm, _.build), "s"),
      s"$p.warm.plan_s" -> (sumOf(warm, _.plan), "s"),
      s"$p.warm.exec_s" -> (sumOf(warm, _.exec), "s"),
      s"$p.warm.tasks" -> (sumOf(warm, _.tasks.toDouble), "count"),
      s"$p.warm.shuffle_mb" -> (sumOf(warm, _.shuffleMb), "MB"))
  }

  /** Writes each query's result as parquet under `dumps` (the layout of
    * `graft.Verify`, which `tools/compare.py` checks against the DuckDB
    * oracles) and its `query \t rows \t hash` line to `out`. */
  def record(spark: SparkSession, sf: String, dumps: Path, out: Path): Unit = {
    val qs = queries.sorted
    val lines = qs.map { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.coalesce(1).write.mode("overwrite").parquet(dumps.resolve(q).toString)
      val (rows, sig) = contentHash(df)
      graft.plans.Lineage.freeScratch(spark)
      s"$q\t$rows\t$sig"
    }
    val oracles = SparkEntry.oracleSql.filter(kv => qs.contains(kv._1))
      .map { case (k, v) => s""""$k":"${Main.esc(v)}"""" }.mkString("{", ",", "}")
    Main.write(dumps.resolve("oracle_sql.json"), oracles)
    Main.write(out, lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
