package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the enclosing span (0 for a root). `pass` is the pass the span was
  * recorded in (-1 for set-up). */
final case class Span(id: Long, name: String, layer: String, start: Double,
                      end: Double, parent: Long, pass: Int)

/** Wall clock in epoch milliseconds at nanoTime resolution, so spans the
  * benchmark times itself line up with the millisecond timestamps Spark's
  * listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced-run collector. It keeps spans and counters in memory; the
  * run writes them out when it ends. Spans the benchmark times itself
  * (ops, build, action, sink, publish) are "anchors"; spans taken from
  * Spark's listener events (jobs, stages, planner phases) get the
  * innermost anchor that contains their start as parent, which is exact
  * because one client issues one operation at a time. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val anchors = new ConcurrentLinkedQueue[Span]()
  private val events = new ConcurrentLinkedQueue[(String, String, Double, Double, Int)]()
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile var pass: Int = -1

  def count(name: String, v: Double): Unit = counters.synchronized { counters(name) += v }
  def snapshot(): Map[String, Double] = counters.synchronized { counters.toMap }

  /** Record an anchor span and return its id. */
  def anchor(name: String, layer: String, start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    anchors.add(Span(id, name, layer, start, end, 0L, pass))
    id
  }

  /** Time `body` as an anchor span. */
  def timed[T](name: String, layer: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally anchor(name, layer, t0, Clock.nowMs)
  }

  private val jobs = mutable.Map.empty[Int, (Double, Seq[Int], Int)]
  private val jobEnds = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]
  private val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]

  /** Spans with parents resolved: anchors nest by containment, jobs and
    * planner phases hang off the innermost anchor containing their
    * start, stages hang off the job that submitted them. */
  def spans(): Seq[Span] = {
    val as = anchors.asScala.toVector.sortBy(s => (s.start, -s.end))
    def innermost(t: Double): Long = {
      val c = as.filter(a => a.start <= t && t <= a.end)
      if (c.isEmpty) 0L else c.minBy(a => (a.end - a.start, -a.start)).id
    }
    def encloses(a: Span, b: Span) = a.start <= b.start && b.end <= a.end &&
      (a.end - a.start) > (b.end - b.start)
    val nested = as.map { s =>
      val c = as.filter(a => a.id != s.id && encloses(a, s))
      s.copy(parent = if (c.isEmpty) 0L else c.minBy(a => a.end - a.start).id)
    }
    val jobSpans = jobEnds.synchronized(jobEnds.toVector).map { case (jobId, st, en, p) =>
      jobId -> Span(ids.incrementAndGet(), s"job $jobId", "job", st, en, innermost(st), p)
    }.toMap
    val stageOf: Map[Int, Int] = jobs.synchronized(jobs.toVector)
      .flatMap { case (j, (_, ss, _)) => ss.map(_ -> j) }
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).max }
    val stageSpans = stages.synchronized(stages.toVector).map { case (sid, st, en, p) =>
      val parent = stageOf.get(sid).flatMap(jobSpans.get).map(_.id).getOrElse(innermost(st))
      Span(ids.incrementAndGet(), s"stage $sid", "stage", st, en, parent, p)
    }
    val eventSpans = events.asScala.toVector.map { case (name, layer, st, en, p) =>
      Span(ids.incrementAndGet(), name, layer, st, en, innermost(st), p)
    }
    nested ++ jobSpans.values ++ stageSpans ++ eventSpans
  }

  /** Spark scheduler events: job/stage spans and task counters. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = (e.time.toDouble, e.stageIds, pass)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobs.synchronized(jobs.get(e.jobId))
      st.foreach { case (t0, _, p) =>
        jobEnds.synchronized(jobEnds += ((e.jobId, t0, e.time.toDouble, p)))
      }
      count("scheduler.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.synchronized(stages += ((i.stageId, s.toDouble, c.toDouble, pass)))
      count("scheduler.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      count("scheduler.tasks", 1)
      count("scheduler.task_s", e.taskInfo.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        count("executor.cpu_s", m.executorCpuTime / 1e9)
        count("executor.gc_s", m.jvmGCTime / 1e3)
        count("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        count("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        count("executor.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  /** Planner phases per query execution, the count of executions
    * (including the hidden actions an operator runs while it builds its
    * plan), and the table loads that took the loader's repartition
    * branch (a hash repartition directly over a file scan). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      count("planner.executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        count(s"planner.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
        events.add((s"planner.$phase", "planner", s.startTimeMs.toDouble,
          s.endTimeMs.toDouble, pass))
      }
      count("sources.repartitions", scala.util.Try(repartitionedScans(qe.analyzed).toDouble).getOrElse(0.0))
    }
  }

  private def repartitionedScans(plan: LogicalPlan): Int = plan.collect {
    case r: RepartitionByExpression if r.child.isInstanceOf[LogicalRelation] => 1
  }.sum
}
