package perfbench

import org.apache.spark.sql.SparkSession

/** One named benchmark workload. The harness ([[Main]]) owns the session,
  * the setup timing and the closed loop; a workload owns its inputs, its
  * operations and the reference answers they are checked against. */
abstract class Workload(val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long) {
  /** How many times [[input]] runs in setup; `setup_s` takes the median. */
  def setupReps: Int = 3

  /** Build what the timed loop reads, from scratch each time it runs. */
  def input(): Unit

  /** Untimed warm-up: every operation kind at least once, checked. */
  def warmup(loop: Loop): Unit

  /** One cycle of the closed loop; the harness repeats it until the
    * measuring time is up. */
  def cycle(loop: Loop): Unit

  /** Checks whose reference answers are computed after the timed loop. */
  def verify(loop: Loop): Unit = ()

  /** The workload's own end-to-end figures (seconds, milliseconds, ops/s),
    * by the names perfbench/README.md gives them. */
  def detail(loop: Loop): Map[String, Double]

  /** Median latency in seconds of each operation kind a user sees, the
    * figures `latency_p50_ms` averages: by default every kind the loop
    * timed. */
  def kindLatencies(loop: Loop): Map[String, Double] =
    loop.latencies.map { case (k, t) => k -> Stats.median(t.toSeq) }.toMap

  /** Per-layer counters only the workload sees (store shape, tree rounds). */
  def counters: Map[String, Double] = Map.empty

  /** Deck group of an operation kind (`queries.<group>_s`), if any. */
  def group(kind: String): Option[String] = None

  protected def p50(loop: Loop, kind: String): Double =
    Stats.median(loop.latencies.getOrElse(kind, Seq(0.0)).toSeq)
}
