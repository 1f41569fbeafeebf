package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine, plus the Spark
  * listeners that attach jobs, stages, tasks and query executions to them.
  *
  * A span's id is set as the calling thread's job group for its duration,
  * so every job it starts carries the id and attaches exactly. A query
  * execution reported to the `QueryExecutionListener` attaches through the
  * execution-end event that carries it, whose execution id the matching
  * start event ties to a job group. Everything stays in memory until the
  * run ends.
  *
  * When disabled, `span` only runs its body: end-to-end metrics are
  * measured that way.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Epoch milliseconds of a `System.nanoTime` reading: spans and
    * listener events (epoch ms) share one time axis.
    */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private val ids = new AtomicLong()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String)(body: => T): T = spanned(name)(body)._1

  /** [[span]] that also hands back the span (null when disabled). */
  def spanned[T](name: String)(body: => T): (T, Span) =
    if (!enabled) (body, null)
    else {
      val stack = current.get
      val s = Span(s"pb-${ids.incrementAndGet()}", name,
        stack.headOption.map(_.id), System.nanoTime())
      spans.synchronized(spans += s)
      current.set(s :: stack)
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try (body, s)
      finally {
        s.endNs = System.nanoTime()
        current.set(stack)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val executions = mutable.ArrayBuffer.empty[Exec]
  // the two halves of an execution, by identity of its QueryExecution:
  // whichever listener sees it second completes the record
  private val planOf = new java.util.IdentityHashMap[QueryExecution, Exec]()
  private val idOf = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.job.description"), e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => Trace.this.synchronized(execGroup(s.executionId) = g))
      case x: SparkListenerSQLExecutionEnd =>
        Option(PerfbenchAccess.queryExecution(x)).foreach { qe =>
          Trace.this.synchronized {
            Option(planOf.remove(qe)) match {
              case Some(plan) => executions += plan.copy(execId = x.executionId)
              case None => idOf.put(qe, x.executionId)
            }
          }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val (files, rows) = scanMetrics(qe.executedPlan)
    val plan = Exec(-1L, phases, files, rows)
    synchronized {
      Option(idOf.remove(qe)) match {
        case Some(id) => executions += plan.copy(execId = id)
        case None => planOf.put(qe, plan)
      }
    }
  }

  /** Listen for jobs and query executions (on from construction when
    * enabled; off for a stretch that measures the tracing overhead).
    */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  if (enabled) attach()

  /** Jobs whose description names a streaming micro-batch, by batch id. */
  def streamingJobs(): Map[Long, Seq[Job]] = {
    drain()
    val re = """batch = (\d+)""".r
    synchronized(jobs.values.toSeq).flatMap(j =>
      j.desc.flatMap(d => re.findFirstMatchIn(d)).map(m => m.group(1).toLong -> j))
      .groupBy(_._1).map { case (b, js) => b -> js.map(_._2) }
  }

  def drain(): Unit = if (enabled) PerfbenchAccess.drainListeners(sc)

  /** Everything attached to one span and its descendants. */
  def stats(root: Span): SpanStats = {
    val all = spans.synchronized(spans.toList)
    val children = all.groupBy(_.parent)
    def subtree(s: Span): List[Span] =
      s :: children.getOrElse(Some(s.id), Nil).flatMap(subtree)
    val groups = subtree(root).map(_.id).toSet
    val (myJobs, myExecs) = synchronized {
      (jobs.values.filter(_.group.exists(groups)).toList,
        executions.filter(x => execGroup.get(x.execId).exists(groups)).toList)
    }
    val lo = epochMs(root.startNs)
    val hi = epochMs(root.endNs)
    def clip(iv: Seq[(Double, Double)]) =
      iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
    val jobIv = clip(myJobs.map(j => (j.startMs.toDouble,
      (if (j.endMs > 0) j.endMs else j.startMs).toDouble)))
    val catIv = clip(myExecs.flatMap(_.phases.map { case (a, b) => (a.toDouble, b.toDouble) }))
    val wall = hi - lo
    SpanStats(
      catalystMs = catIv.map(x => x._2 - x._1).sum,
      jobsMs = union(jobIv),
      driverGapMs = wall - union(jobIv ++ catIv),
      actions = myExecs.size,
      jobs = myJobs.size,
      stages = myJobs.map(_.stages).sum,
      tasks = myJobs.map(_.tasks).sum,
      shuffleBytes = myJobs.map(_.shuffleBytes).sum,
      spillBytes = myJobs.map(_.spillBytes).sum,
      filesRead = myExecs.map(_.files).sum,
      rowsScanned = myExecs.map(_.scanRows).sum)
  }

  def close(): Unit = if (enabled) detach()
}

object Trace {
  final case class Span(id: String, name: String, parent: Option[String],
      startNs: Long, var endNs: Long = 0L)

  final case class Job(id: Int, group: Option[String], desc: Option[String],
      startMs: Long, var endMs: Long = 0L, var stages: Int = 0,
      var tasks: Int = 0, var shuffleBytes: Long = 0L, var spillBytes: Long = 0L)

  final case class Exec(execId: Long, phases: Seq[(Long, Long)], files: Long,
      scanRows: Long)

  /** Per-span totals. `driverGapMs` is wall time not covered by any
    * Catalyst phase or job interval, so it is never negative.
    */
  final case class SpanStats(catalystMs: Double, jobsMs: Double,
      driverGapMs: Double, actions: Int, jobs: Int, stages: Int, tasks: Int,
      shuffleBytes: Long, spillBytes: Long, filesRead: Long, rowsScanned: Long)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files and rows read by the file scans of an executed plan, looking
    * through adaptive stages and cached relations.
    */
  def scanMetrics(plan: SparkPlan): (Long, Long) = {
    var files = 0L
    var rows = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def visit(p: SparkPlan): Unit = Plans.foreach(p) {
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case m: InMemoryTableScanExec if seen.add(m.relation.cachedPlan) =>
        visit(m.relation.cachedPlan)
      case _ =>
    }
    visit(plan)
    (files, rows)
  }
}
