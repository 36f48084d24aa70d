package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` launches one fresh JVM per run
  * (`--mode run`); `--mode record` re-derives the catalog output checks.
  *
  * All state lives under `--work`, which the launcher deletes: the
  * warehouse, checkpoint, Spark local and output directories and the
  * generated dump. Results go to `--out` as one JSON object. */
object Main {

  type Metrics = Seq[(String, (Double, String))]

  final class Args(args: Array[String]) {
    private val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val work = Paths.get(a("work"))
    val cpus = a("cpus").toInt
    a("mode") match {
      case "run" => run(a, work, cpus)
      case "record" => Catalogs.record(session(work, cpus), a("sf"),
        Paths.get(a("dumps")), Paths.get(a("out")))
    }
  }

  /** A ready session: local[cpus] with `cpus` shuffle partitions, every
    * directory it writes under `work`, and one job run so the scheduler
    * is up. */
  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.NanosConf, "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoint").toString)
    spark.range(0L, 1000L, 1L, cpus).selectExpr("sum(id)").collect()
    spark
  }

  /** Calls attempted and failed; a call fails when it throws or its
    * output check does not hold. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def apply(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val verdict = try { if (ok) None else Some("wrong output") }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300)) }
      verdict.foreach { why => failed += 1; failures += s"$what: $why" }
    }
  }

  /** What one run measured: the metrics its mode reports, record-only
    * extras, and the call tally. */
  final case class Outcome(metrics: Metrics, extra: Metrics, tally: Tally)

  /** The measured part of a run, on a ready session; `wikiPages` is the
    * size of the generated dump. Untraced runs register no listener. */
  def measure(spark: SparkSession, work: Path, workload: String, seed: Long,
              seconds: Double, traced: Boolean, sf: String, expected: Path,
              wikiPages: Int = Wiki.Pages): Outcome = {
    val tally = new Tally
    val tracer = if (traced) Some(new Tracer(spark, s"$workload-$seed")) else None
    val (metrics, extra) = workload match {
      case "wiki_pipeline" =>
        Wiki.measure(spark, work, seed, seconds, tracer, tally, wikiPages)
      case "corpus_catalog" =>
        Catalogs.measure(spark, sf, expected, seed, seconds, tracer, tally)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer match {
      case None => Outcome(metrics, extra, tally)
      case Some(t) =>
        t.stop()
        Files.writeString(work.resolve("spans.jsonl"), t.spansJson)
        val layers = blankLayers()
        (metrics ++ Seq(
          "spark.jobs" -> (t.jobCount.toDouble, "count"),
          "spark.wait_s" -> (t.waitSeconds, "s"),
          "spark.gc_s" -> (t.gcSeconds, "s"),
          "jvm.rss_peak_mb" -> (rssPeakMb(), "MB"),
          "failed_frac" -> (tally.failed.toDouble / tally.attempted.max(1L), "ratio"))
        ).foreach { case (k, v) =>
          require(layers.contains(k), s"per-layer metric $k is not declared")
          layers(k) = v
        }
        Outcome(layers.toSeq, extra, tally)
    }
  }

  private def run(a: Args, work: Path, cpus: Int): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val spark = session(work, cpus)
    val readyMs = System.currentTimeMillis()
    val loadStart = graft.Bench.loadavg()
    val cpuStart = graft.Bench.cpuProbe()
    val out = measure(spark, work, workload, seed, a("seconds").toDouble,
      a("trace") == "1", a("sf"), Paths.get(a("expected")))
    val cpuEnd = graft.Bench.cpuProbe()
    val loadEnd = graft.Bench.loadavg()
    spark.stop()
    def obj(ms: Metrics): String = ms.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val t = out.tally
    write(Paths.get(a("out")),
      s"""{"workload":"$workload","seed":$seed,"trace":${a("trace")},""" +
        s""""ready_ms":$readyMs,"attempted":${t.attempted},"failed":${t.failed},""" +
        s""""failures":${t.failures.take(20).map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")},""" +
        s""""metrics":${obj(out.metrics)},"extra":${obj(out.extra)},""" +
        s""""context":{"nproc":$cpus,"loadavg_start":"$loadStart",""" +
        s""""loadavg_end":"$loadEnd","cpu_probe_start_s":${num(cpuStart)},""" +
        s""""cpu_probe_end_s":${num(cpuEnd)}}}""")
  }

  // ---------------------------------------------------------------------
  // metrics
  // ---------------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest whole percentile of `xs` that has at least ten values
    * above it, and that percentile; the maximum (100) below 11 values. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.length < 11) (s.last, 100)
    else {
      val pct = ((s.length - 10) * 100) / s.length
      (s(math.max(0, math.ceil(pct * s.length / 100.0).toInt - 1)), pct)
    }
  }

  /** The end-to-end metrics (set-up time is added by the launcher), and
    * for the record the median and tail over all warm calls, with the
    * tail's percentile and the call count. */
  def endToEnd(cold: Seq[Double], warm: Map[String, Seq[Double]]): (Metrics, Metrics) = {
    val all = warm.values.flatten.toSeq
    val (t, pct) = tail(all)
    (Seq("cold_total_s" -> (cold.sum, "s"),
      "warm_total_s" -> (warm.values.map(median).sum, "s")),
      Seq("warm_p50_s" -> (median(all), "s"), "warm_tail_s" -> (t, "s"),
        "warm_tail_pct" -> (pct.toDouble, "percent"),
        "warm_calls" -> (all.length.toDouble, "count")))
  }

  /** Spans with the full per-span suite. */
  val Spans = Seq("sources.read", "wiki.parse", "wiki.extract", "graph.redlinks",
    "graph.count", "graph.pagerank", "wiki.sink")

  /** The per-span suite; `wall_s` is the span's self time. */
  def suite(name: String, c: Census): Metrics =
    Seq(s"$name.wall_s" -> (c.self, "s"), s"$name.busy_s" -> (c.busy, "s"),
      s"$name.wait_s" -> (c.waitS, "s"), s"$name.tasks" -> (c.tasks.toDouble, "count"),
      s"$name.shuffle_mb" -> (c.shuffleMb, "MB"), s"$name.spill_mb" -> (c.spillMb, "MB"),
      s"$name.gc_s" -> (c.gc, "s"))

  /** Every per-layer metric at 0, in declaration order; a workload
    * overwrites the ones whose layer it calls. */
  def blankLayers(): mutable.LinkedHashMap[String, (Double, String)] = {
    def zeros(kus: (String, String)*): Metrics = kus.map { case (k, u) => k -> (0.0, u) }
    val all = Spans.flatMap(suite(_, Census.zero)) ++ zeros(
      "sources.splits" -> "count", "sources.records" -> "count",
      "sources.input_mb" -> "MB", "wiki.links" -> "count",
      "graph.redlinks.kept_ratio" -> "ratio", "graph.pagerank.stages" -> "count",
      "graph.pagerank.reduce_partitions" -> "count",
      "graph.pagerank.task_skew" -> "ratio") ++
      Catalogs.modules.map(_._1).flatMap(Catalogs.moduleMetrics(_, Map.empty, Map.empty)) ++
      zeros("catalyst.plan_kb" -> "KB", "cache.rdds" -> "count", "cache.storage_mb" -> "MB",
        "store.tables" -> "count", "store.disk_mb" -> "MB", "spark.jobs" -> "count",
        "spark.wait_s" -> "s", "spark.gc_s" -> "s", "jvm.rss_peak_mb" -> "MB",
        "trace.overhead_s" -> "s", "failed_frac" -> "ratio")
    mutable.LinkedHashMap(all: _*)
  }

  /** Cached RDDs and their size in the block store. */
  def cacheMetrics(spark: SparkSession): Metrics = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    Seq("cache.rdds" -> (infos.length.toDouble, "count"),
      "cache.storage_mb" -> (infos.map(i => i.memSize + i.diskSize).sum / 1e6, "MB"))
  }

  /** Persisted tables and the bytes under the warehouse directory. */
  def storeMetrics(spark: SparkSession): Metrics = {
    val tables = spark.catalog.listDatabases().collect().map { db =>
      spark.catalog.listTables(db.name).collect().count(!_.isTemporary)
    }.sum
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("store.tables" -> (tables.toDouble, "count"),
      "store.disk_mb" -> (treeBytes(Paths.get(wh)) / 1e6, "MB"))
  }

  // ---------------------------------------------------------------------

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def rssPeakMb(): Double = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
  }.getOrElse(0.0)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, s)
  }
}
