package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{CommandRunner, SubprocessRunner}

/** One timed interval of a traced run. Times are epoch microseconds. `op`
  * is the id of the root span of the operation it belongs to; `parent` is
  * the enclosing driver-side span, or -1 for spans recorded off the driver
  * thread (jobs, Catalyst phases, commands), which the summarizer places by
  * interval containment. */
final case class Span(id: Long, name: String, layer: String, startUs: Long,
    endUs: Long, parent: Long, op: Long) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** Spans kept in memory for the whole run and written out at the end.
  * Recording is on only while a traced operation runs; the engine itself
  * carries no instrumentation — spans come from timing calls into each
  * layer's public functions, from a [[SparkListener]] and from
  * `QueryExecution.tracker`. */
object Trace {
  @volatile var enabled = false
  @volatile private var currentOp = -1L
  private val ids = new AtomicLong
  private val recorded = new ConcurrentLinkedQueue[Span]
  private val stack = mutable.Stack[Long]()
  private val epochBaseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000

  val OpProperty = "perfbench.op"

  def nowUs: Long = epochBaseUs + System.nanoTime() / 1000
  def spans: Seq[Span] = recorded.asScala.toSeq

  def newId(): Long = ids.incrementAndGet()

  /** Open operation `op` (its id is already on the operation's Spark jobs
    * as a local property) as the root span around `body`. */
  def root[A](op: Long, name: String)(body: => A): A = {
    currentOp = op
    open(op, name, "bench", -1L, op)(body)
  }

  /** Time `body` as a driver-side span nested under the innermost open one. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled || stack.isEmpty) body
    else open(newId(), name, layer, stack.top, currentOp)(body)

  private def open[A](id: Long, name: String, layer: String, parent: Long, op: Long)(body: => A): A = {
    stack.push(id)
    val t0 = nowUs
    try body
    finally {
      stack.pop()
      recorded.add(Span(id, name, layer, t0, nowUs, parent, op))
    }
  }

  def record(name: String, layer: String, startUs: Long, endUs: Long, op: Long): Unit =
    recorded.add(Span(newId(), name, layer, startUs, endUs, -1L, op))

  /** Set in a traced run; [[frame]] hands it the frames the benchmark
    * builds, whose analysis happens before any execution is reported. */
  @volatile var catalyst: Option[CatalystPhases] = None

  def frame(df: DataFrame): DataFrame = {
    if (enabled) catalyst.foreach(_.add(df.queryExecution))
    df
  }
}

/** Per-operation engine totals, summed from task-end events. */
final class OpEngineStats {
  var jobs, shuffleStages, tasks = 0L
  var taskRunMs, taskGcMs, shuffleRead, shuffleWrite, spill, peakExecMem = 0L
}

/** Attributes every job, stage and task of a traced operation to that
  * operation through the job's `perfbench.op` local property, and records
  * each job as a `spark.job` span. */
final class SparkLayers extends SparkListener {
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val perOp = new java.util.concurrent.ConcurrentHashMap[Long, OpEngineStats]

  private def stats(op: Long): OpEngineStats = perOp.computeIfAbsent(op, _ => new OpEngineStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty))).foreach { s =>
      val op = s.toLong
      jobOp.put(e.jobId, op)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(stageOp.put(_, op))
      stats(op).synchronized(stats(op).jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { op =>
      Trace.record("spark.job", "spark", jobStartMs.remove(e.jobId) * 1000, e.time * 1000, op)
    }

  /** Stages that wrote shuffle output: one per exchange, so a tree
    * reduce's merge rounds. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (op <- Option(stageOp.get(e.stageInfo.stageId)); m <- Option(e.stageInfo.taskMetrics)
         if m.shuffleWriteMetrics.bytesWritten > 0) {
      val s = stats(op)
      s.synchronized(s.shuffleStages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = stats(op)
      s.synchronized {
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.taskGcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
}

/** Reads the Catalyst phase times (analysis, optimization, planning) of
  * every executed query from `QueryExecution.tracker`. Frames the benchmark
  * builds but does not execute itself are added with [[add]]; a tracker is
  * counted once however it arrives. */
final class CatalystPhases extends QueryExecutionListener {
  private val seen = new java.util.IdentityHashMap[AnyRef, mutable.Set[String]]

  def add(qe: QueryExecution): Unit = {
    val tracker = qe.tracker
    seen.synchronized {
      val done = seen.computeIfAbsent(tracker, _ => mutable.Set[String]())
      tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing" && done.add(phase))
          Trace.record(s"catalyst.$phase", "catalyst", s.startTimeMs * 1000, s.endTimeMs * 1000, -1L)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** A [[CommandRunner]] that records each command as an `operators.command`
  * span, attributed to the operation whose task runs it. Passed to the
  * operators through their public `runner` parameter. */
object TimingRunner extends CommandRunner {
  override def run(command: String, binds: Seq[(java.io.File, String)]): Unit = {
    val op = Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(-1L)
    val t0 = Trace.nowUs
    try SubprocessRunner.run(command, binds)
    finally Trace.record("operators.command", "operators", t0, Trace.nowUs, op)
  }
}
