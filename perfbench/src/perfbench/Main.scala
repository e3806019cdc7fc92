package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up one workload, runs its closed loop for the given
  * time, checks every answer and writes the metrics as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <k> --data <input dir> --work <scratch dir> --out <result.json>
  *   [--inject-wrong 1]
  * }}}
  *
  * perfbench/run.py builds the classes, generates the inputs and runs this;
  * see perfbench/README.md for what each metric means. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val cores = opt("cores").toInt
    val (dataDir, workDir) = (opt("data"), opt("work"))
    val injectWrong = opt.get("inject-wrong").contains("1")

    val spark = session(cores, workDir)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    progress("session ready")
    val layers = new SparkLayers
    if (tracing) {
      spark.sparkContext.addSparkListener(layers)
      val phases = new CatalystPhases
      spark.listenerManager.register(phases)
      Trace.catalyst = Some(phases)
    }
    val manifest = Manifest.read(s"$dataDir/MANIFEST.json", injectWrong)
    val w: Workload = workload match {
      case "mare_pipe" => new MarePipe(spark, dataDir, workDir, seed, cores, manifest)
      case "deck_serve" => new DeckServe(new QueryDeck(spark, dataDir, workDir, seed, injectWrong),
        new StoreServe(spark, dataDir, workDir, seed, manifest, injectWrong), spark, dataDir, workDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // setup: the input is built from scratch setupReps times (setup_s takes
    // the median build), then warmed up once
    val inputS = (1 to w.setupReps).map(_ => timed(w.input()))
    val warm = new Loop(spark)
    val warmupS = timed(w.warmup(warm))
    val setupS = sessionS + Stats.median(inputS) + warmupS
    progress(s"setup done: inputs ${inputS.mkString(" ")} s, warm-up $warmupS s")

    val loop = new Loop(spark)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run alternates traced and untraced cycles, at least one each
    var cycles = 0
    while (System.nanoTime() < end || (tracing && cycles < 2)) {
      loop.traced = tracing && cycles % 2 == 0
      w.cycle(loop)
      loop.sampleLiveHeap()
      cycles += 1
    }
    loop.traced = false
    progress("loop done")
    w.verify(loop)
    progress("verified")
    loop.attempted += warm.attempted
    loop.failed += warm.failed

    val metrics: Seq[(String, Double, String)] =
      if (!tracing) {
        val all = loop.latencies.values.flatten
        Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_ms", Stats.geomean(w.kindLatencies(loop).values) * 1e3, "ms"),
          ("ops_per_s", all.size / all.sum, "1/s"),
          ("live_heap_peak_mb", loop.liveHeapPeakMb, "MB"))
      } else {
        PerfbenchBridge.drainListenerBus(spark)
        val spans = Layers.assignOps(Trace.spans)
        Layers.writeSpans(spans, s"$workDir/spans.jsonl")
        Layers.metrics(spans, layers, loop, w) ++ Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.input_s", Stats.median(inputS), "s"),
          ("setup.warmup_s", warmupS, "s"))
      }

    val result = Json.obj(Seq(
      "attempted" -> loop.attempted.toString,
      "failed" -> loop.failed.toString,
      "op_counts" -> Json.obj((warm.counts.keySet ++ loop.counts.keySet).toSeq.map(k =>
        k -> (warm.counts(k) + loop.counts(k)).toString)),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "detail" -> Json.obj((w.detail(loop) ++
          loop.latencies.flatMap { case (k, t) => Seq(s"p50_s.$k" -> Stats.median(t.toSeq), s"n.$k" -> t.size.toDouble) })
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(opt("out")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    progress("stopped")
  }

  private def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the repo's bench configuration (graft.Bench)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // keep every file the engine writes inside the work dir
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s: $what")

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

}

/** The generator's MANIFEST.json: sizes and exact reference answers. */
final class Manifest(root: com.fasterxml.jackson.databind.JsonNode, wrong: Boolean) {
  def long(key: String): Long = {
    val v = root.get(key).asLong()
    // self-test hook: a deliberately wrong expected answer
    if (wrong && key == "dna_gc") v + 1 else v
  }
  def longMap(key: String): Map[String, Long] =
    root.get(key).properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
}

object Manifest {
  def read(path: String, wrong: Boolean): Manifest =
    new Manifest(new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path)), wrong)
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
