package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced run, averaged over its traced operations.
  * perfbench/README.md maps each one to the end-to-end metric it moves. */
object Layers {

  /** Tolerance of interval containment: listener and tracker times are
    * whole milliseconds. perfbench/summarize.py places spans under the same
    * rule (SLACK_US). */
  val SlackUs = 1000L

  /** Give every span an operation: Catalyst phases arrive without one and
    * belong to the traced operation whose interval holds them, within
    * [[SlackUs]]; spans of no traced operation are dropped. */
  def assignOps(spans: Seq[Span]): Seq[Span] = {
    val roots = spans.filter(_.layer == "bench").sortBy(_.startUs).toArray
    val starts = roots.map(_.startUs)
    def owner(s: Span): Long = {
      val i = java.util.Arrays.binarySearch(starts, s.startUs + SlackUs)
      val at = if (i >= 0) i else -i - 2
      if (at >= 0 && roots(at).endUs + SlackUs >= s.endUs) roots(at).id else -1L
    }
    val ids = roots.map(_.id).toSet
    spans.map(s => if (s.op < 0) s.copy(op = owner(s)) else s).filter(s => ids(s.op))
  }

  def writeSpans(spans: Seq[Span], path: String): Unit =
    Files.write(Paths.get(path), spans.sortBy(_.startUs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString))
    }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Total length of the union of `intervals` (microseconds). */
  def unionUs(intervals: Seq[(Long, Long)]): Long = {
    var covered, reach = 0L
    var started = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > reach) { covered += e - s; reach = e; started = true }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    covered
  }

  def metrics(spans: Seq[Span], engine: SparkLayers, loop: Loop, w: Workload): Seq[(String, Double, String)] = {
    val roots = spans.filter(_.layer == "bench")
    val n = math.max(roots.size, 1).toDouble
    val byOp = spans.groupBy(_.op)
    def named(name: String) = spans.filter(_.name == name)
    def perOp(name: String): Double = named(name).map(_.durS).sum / n
    def meanDur(name: String): Double = Stats.mean(named(name).map(_.durS))
    def stat(f: OpEngineStats => Long): Double =
      roots.map(r => Option(engine.perOp.get(r.id)).fold(0L)(f)).sum / n
    def busyS(r: Span): Double = unionUs(byOp(r.id).filter(_.name == "spark.job")
      .map(j => math.max(j.startUs, r.startUs) -> math.min(j.endUs, r.endUs)).filter(t => t._2 > t._1)) / 1e6
    val commands = named("operators.command")
    val piped = roots.filter(r => byOp(r.id).exists(_.name == "operators.command"))
    val mountIo = piped.map { r =>
      Option(engine.perOp.get(r.id)).fold(0L)(_.taskRunMs) / 1e3 -
        byOp(r.id).filter(_.name == "operators.command").map(_.durS).sum
    }
    val pipeJobs = roots.filter(_.name == "pipe_job")
    val groups = QueryDeck.Groups.map { g =>
      (s"queries.${g}_s", Stats.mean(roots.filter(r => w.group(r.name).contains(g)).map(_.durS)), "s")
    }
    val overhead = loop.tracedLatencies.collect {
      case (k, t) if loop.latencies.contains(k) => Stats.median(t.toSeq) / Stats.median(loop.latencies(k).toSeq)
    }
    val mb = 1048576.0
    Seq(
      ("catalyst.analysis_s", perOp("catalyst.analysis"), "s"),
      ("catalyst.optimization_s", perOp("catalyst.optimization"), "s"),
      ("catalyst.planning_s", perOp("catalyst.planning"), "s"),
      ("spark.driver_gap_s", Stats.mean(roots.map(r => r.durS - busyS(r))), "s"),
      ("spark.jobs_per_op", stat(_.jobs), "count"),
      ("spark.job_busy_s", Stats.mean(roots.map(busyS)), "s"),
      ("spark.tasks_per_op", stat(_.tasks), "count"),
      ("spark.task_run_s", stat(_.taskRunMs) / 1e3, "s"),
      ("spark.task_gc_s", stat(_.taskGcMs) / 1e3, "s"),
      ("spark.shuffle_read_mb", stat(_.shuffleRead) / mb, "MB"),
      ("spark.shuffle_write_mb", stat(_.shuffleWrite) / mb, "MB"),
      ("spark.spill_mb", stat(_.spill) / mb, "MB"),
      ("spark.peak_exec_mem_mb",
        roots.map(r => Option(engine.perOp.get(r.id)).fold(0L)(_.peakExecMem)).maxOption.getOrElse(0L) / mb, "MB"),
      ("queries.build_s", meanDur("queries.build"), "s"),
      ("queries.exec_s", meanDur("queries.exec"), "s")) ++ groups ++ Seq(
      ("operators.command_s", commands.map(_.durS).sum / n, "s"),
      ("operators.commands", commands.size / n, "count"),
      ("operators.mount_io_s", Stats.mean(mountIo), "s"),
      ("operators.tree_rounds",
        Stats.mean(pipeJobs.map(r => Option(engine.perOp.get(r.id)).fold(0L)(_.shuffleStages).toDouble)), "count"),
      ("sources.lookup_decide_ms", meanDur("sources.lookup_decide") * 1e3, "ms"),
      ("sources.lookup_read_ms", meanDur("sources.lookup_read") * 1e3, "ms"),
      ("sources.zone_decide_ms", meanDur("sources.zone_decide") * 1e3, "ms"),
      ("sources.admit_bloom_s", meanDur("sources.admit_bloom"), "s"),
      ("sources.admit_zone_s", meanDur("sources.admit_zone"), "s"),
      ("sources.maintain_s", meanDur("sources.maintain"), "s")) ++
      Seq("sources.lookup_files_read_frac", "sources.zone_files_read_frac", "sources.compactions",
        "sources.live_files_max", "sources.delta_count_max", "sources.disk_bytes_per_row").map { k =>
        (k, w.counters.getOrElse(k, 0.0), if (k.endsWith("frac")) "frac" else if (k.endsWith("row")) "B/row" else "count")
      } ++ Seq(
      ("trace.overhead_frac", if (overhead.isEmpty) 0.0 else Stats.geomean(overhead) - 1, "frac"),
      ("trace.ops", roots.size.toDouble, "count"),
      ("trace.spans", spans.size.toDouble, "count"))
  }
}
