package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Option[Int], run: String,
                      start: Long, end: Long)

/** What the engine did while one span was the innermost open span.
  * Seconds unless named otherwise; `self` is the span's wall time not
  * covered by child spans. */
final case class Census(self: Double, busy: Double, waitS: Double, tasks: Long,
                        shuffleMb: Double, spillMb: Double, gc: Double, stages: Int,
                        taskSkew: Double, planS: Double, planChars: Long) {
  /** Two spans of one name, summed; the skew and plan size are maxima. */
  def +(o: Census): Census = Census(self + o.self, busy + o.busy, waitS + o.waitS,
    tasks + o.tasks, shuffleMb + o.shuffleMb, spillMb + o.spillMb, gc + o.gc,
    stages + o.stages, taskSkew max o.taskSkew, planS + o.planS, planChars max o.planChars)
}

object Census {
  val zero: Census = Census(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spans plus a job census. A [[SparkListener]] attributes each job to
  * the span open on the thread that submitted it (through a local
  * property), and a [[QueryExecutionListener]] books each query's
  * planning phases and physical-plan size to the innermost open span.
  * Spans are closed in LIFO order on one thread; each close drains the
  * listener bus, so a census is complete when its span ends. Spans stay
  * in memory until the run writes them out. */
final class Tracer(spark: SparkSession, val run: String) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext

  private final case class TaskRec(span: Int, stage: Int, runMs: Long,
                                   waitMs: Long, gcMs: Long,
                                   shuffleBytes: Long, spillBytes: Long)

  private val closed = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var innermost = -1
  private val jobSpan = TrieMap.empty[Int, Int]
  private val stageSpan = TrieMap.empty[Int, Int]
  private val stageSubmit = TrieMap.empty[Int, Long]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[(Int, Double, Long)]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageSpan(s) = id)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val launched = e.taskInfo.launchTime
        val wait = stageSubmit.get(e.stageId).map(s => (launched - s).max(0L))
          .getOrElse(0L)
        tasks.add(TaskRec(stageSpan.getOrElse(e.stageId, -1), e.stageId,
          m.executorRunTime, wait, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      plans.add((innermost, planMs / 1e3, qe.executedPlan.toString.length.toLong))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var listening = false

  /** Registers the listeners; a no-op while they are registered. */
  def start(): Unit = if (!listening) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    listening = true
  }

  /** Unregisters the listeners once every posted event has reached them. */
  def stop(): Unit = if (listening) {
    ListenerDrain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    listening = false
  }

  /** Runs `body` as a span; returns its result and census. */
  def span[T](name: String)(body: => T): (T, Census) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption
    val t0 = System.nanoTime()
    stack = id :: stack
    innermost = id
    sc.setLocalProperty(Key, id.toString)
    val out =
      try body
      finally {
        ListenerDrain(sc)
        stack = stack.tail
        innermost = stack.headOption.getOrElse(-1)
        sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
      }
    val t1 = System.nanoTime()
    closed += Span(id, name, parent, run, t0, t1)
    (out, census(id))
  }

  private def census(id: Int): Census = {
    val sp = closed.find(_.id == id).get
    val wall = (sp.end - sp.start) / 1e9
    val childWall = closed.filter(_.parent.contains(id))
      .map(c => (c.end - c.start) / 1e9).sum
    val ts = tasks.asScala.filter(_.span == id).toSeq
    val runs = ts.map(_.runMs).sorted
    val median = if (runs.isEmpty) 0L else runs(runs.length / 2)
    val ps = plans.asScala.filter(_._1 == id).toSeq
    Census(wall - childWall, ts.map(_.runMs).sum / 1e3,
      ts.map(_.waitMs).sum / 1e3, ts.length,
      ts.map(_.shuffleBytes).sum / 1e6, ts.map(_.spillBytes).sum / 1e6,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.stage).distinct.length,
      if (median > 0) runs.last.toDouble / median else 1.0,
      ps.map(_._2).sum, ps.map(_._3).foldLeft(0L)(_ max _))
  }

  /** Whole-run totals over every job seen, inside a span or not. */
  def jobCount: Int = jobSpan.size
  def waitSeconds: Double = tasks.asScala.iterator.map(_.waitMs).sum / 1e3
  def gcSeconds: Double = tasks.asScala.iterator.map(_.gcMs).sum / 1e3

  /** Every closed span as one JSON object per line. */
  def spansJson: String = closed.sortBy(_.start).map { s =>
    s"""{"run":"${s.run}","id":${s.id},"name":"${s.name}",""" +
      s""""parent":${s.parent.getOrElse("null")},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("\n")
}
