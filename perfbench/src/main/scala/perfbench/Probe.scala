package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory store for everything the listeners observe. Spark builds the
  * listener instances itself (from `spark.extraListeners` and
  * `spark.sql.queryExecutionListeners`) for every SparkContext the program
  * creates, so they report into this JVM-wide object. Nothing is written
  * until the run ends. All times are epoch milliseconds. */
object Probe {
  final case class Task(stage: Int, end: Long, durMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, peakMem: Long, inRows: Long,
                        shWriteBytes: Long, shReadBytes: Long, shWriteRecs: Long,
                        spillBytes: Long, outBytes: Long, retry: Boolean)
  final case class Stage(id: Int, name: String, tasks: Int, start: Long, end: Long)
  final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int], sqlId: Long)
  final case class Sql(id: Long, start: Long, end: Long, desc: String)
  final case class Plan(end: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, exchanges: Int)
  final case class CounterSnap(at: Long, values: Map[String, Long])

  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val sqls = new ConcurrentLinkedQueue[Sql]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val counters = new ConcurrentLinkedQueue[CounterSnap]()
  val peakTaskMem = new AtomicLong(0L)

  def snapCounters(): Unit =
    counters.add(CounterSnap(System.currentTimeMillis(), graft.core.Counters.snapshot))
}

/** The only listener of an untraced run: largest task execution memory. */
class PeakProbe extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      Probe.peakTaskMem.accumulateAndGet(e.taskMetrics.peakExecutionMemory, math.max)
}

/** Traced runs: every task, stage, job and SQL execution, plus a snapshot of
  * the program's driver-side counters at each job start (so a counter bump
  * made between two jobs lands on the span that made it). */
class TraceProbe extends PeakProbe {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], Long)]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    super.onTaskEnd(e)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null)
      Probe.tasks.add(Probe.Task(e.stageId, i.finishTime, i.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        i.attemptNumber > 0 || i.failed))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Probe.stages.add(Probe.Stage(s.stageId, s.name, s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Probe.snapCounters()
    val sql = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (e.time, e.stageIds, sql))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, st, sql) =>
      Probe.jobs.add(Probe.Job(e.jobId, t0, e.time, st, sql))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, (s.time, s.description))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach { case (t0, d) =>
        Probe.sqls.add(Probe.Sql(s.executionId, t0, s.time, d))
      }
    case _ =>
  }
}

/** Planning phases of every successful query execution, and the number of
  * Exchange operators in its final (adaptive) physical plan. */
class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val ex = collect[SparkPlan](qe.executedPlan) { case x: Exchange => x }.size
    Probe.plans.add(Probe.Plan(System.currentTimeMillis(),
      ms("analysis"), ms("optimization"), ms("planning"), ex))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Span tree of a traced run: workload pass -> layer call (recorded by the
  * harness) -> SQL execution -> job -> stage (rebuilt from the listener
  * records at the end of the run). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def all: Seq[Span] = buf.toSeq

  /** Time `body` as a span of `kind` under the innermost open span. */
  def apply[T](kind: String, name: String)(body: => T): T = {
    val id = buf.size
    val parent = stack.headOption.getOrElse(-1)
    buf += Span(id, parent, kind, name, System.currentTimeMillis(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      buf(id) = buf(id).copy(end = System.currentTimeMillis())
    }
  }

  /** Record an already-measured interval under `parent`. */
  def add(parent: Int, kind: String, name: String, start: Long, end: Long): Int = {
    buf += Span(buf.size, parent, kind, name, start, end)
    buf.size - 1
  }

  /** Attach SQL executions, jobs and stages seen by the listeners to the
    * innermost harness span open when each began. */
  def attachEngine(): Unit = {
    val harness = buf.toIndexedSeq
    // latest start wins; on a tie the later-recorded span is the child
    def innermost(t: Long): Int =
      harness.filter(s => s.start <= t && t <= s.end)
        .maxByOption(s => (s.start, s.id)).map(_.id).getOrElse(-1)
    val sqlSpan = Probe.sqls.asScala.toSeq.sortBy(_.start).map { q =>
      q.id -> add(innermost(q.start), "sql", q.desc.take(80), q.start, q.end)
    }.toMap
    val stageById = Probe.stages.asScala.toSeq.groupBy(_.id)
    Probe.jobs.asScala.toSeq.sortBy(_.start).foreach { j =>
      val parent = sqlSpan.getOrElse(j.sqlId, innermost(j.start))
      val jid = add(parent, "job", s"job ${j.id}", j.start, j.end)
      // ids restart with every SparkContext: match by time as well
      j.stages.flatMap(stageById.getOrElse(_, Nil))
        .filter(s => s.start >= j.start && s.start <= j.end).foreach { s =>
        add(jid, "stage", s"stage ${s.id} (${s.tasks} tasks) ${s.name}", s.start, s.end)
      }
    }
  }

  /** Duration of `s` not covered by any of its children. */
  def selfTime(s: Span): Long =
    s.dur - covered(buf.toSeq.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end)))

  /** Length of the union of the intervals `iv`. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var cur = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val lo = a max cur
      if (b > lo) { total += b - lo; cur = b }
    }
    total
  }

  def clear(): Unit = { buf.clear(); stack = Nil }
}
