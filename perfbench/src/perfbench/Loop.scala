package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The closed loop: one client thread runs each operation to completion
  * before starting the next. Every operation is timed, checked and counted.
  *
  * A traced run alternates traced cycles (spans on, listener attribution,
  * timing command runner) with untraced ones, so it measures its own
  * tracing overhead on the same code and data. */
final class Loop(spark: SparkSession) {
  /** Latencies in seconds of the checked-correct operations, per kind. */
  val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val tracedLatencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counts = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
  var attempted = 0L
  var failed = 0L
  /** Whether the operations now running are traced; workloads pass the
    * timing runner to the operators when they are. */
  var traced = false
  /** Peak heap in use right after a full collection at a cycle's end. */
  var liveHeapPeakMb = 0.0

  /** Run one operation of `kind`: `body` is timed, `check` (outside the
    * timer) says whether its answer is right. Throwing counts as failed.
    * A full collection runs first, outside the timer (as in graft.Bench),
    * so no operation pays for its predecessor's garbage. */
  def op[A](kind: String)(body: => A)(check: A => Boolean): Unit = {
    System.gc()
    counts(kind) += 1
    attempted += 1
    val id = Trace.newId()
    if (traced) {
      spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
      Trace.enabled = true
    }
    val t0 = System.nanoTime()
    val result =
      try Right(if (traced) Trace.root(id, kind)(body) else body)
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (traced) {
      Trace.enabled = false
      spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    }
    val ok = result match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => report(kind, e); false }
      case Left(e) => report(kind, e); false
    }
    if (ok) (if (traced) tracedLatencies else latencies)
      .getOrElseUpdate(kind, mutable.ArrayBuffer()) += dt
    else failed += 1
    System.err.println(f"[perfbench] $kind%s ${dt * 1e3}%.1f ms${if (traced) " traced" else ""}%s${if (ok) "" else " FAILED"}%s")
  }

  /** Heap left after a full collection: the data the workload retains.
    * Spark's cleaner thread frees broadcast and shuffle blocks only after a
    * collection has dropped their last reference, so a second collection,
    * once the cleaner has had time to run, leaves only what is still held. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapPeakMb = math.max(liveHeapPeakMb, used / 1048576.0)
  }

  /** Count `n` already-attempted operations as wrong (checks whose reference
    * answer is computed after the timed loop). */
  def fail(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    System.err.println(s"[perfbench] $n wrong answer(s): $why")
  }

  private def report(kind: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $kind failed: $e")
    e.printStackTrace()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
