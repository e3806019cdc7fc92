package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, sum}

import graft.operators.{CommandReduce, CommandRunner, Pipeline, SubprocessRunner, TextFile}

/** `mare_pipe`: the paper's own workload. Seeded DNA text, cached in four
  * partitions per core, is piped through `grep | wc` per partition and
  * combined by an `awk`-summing tree reduce; key/value text is summed per
  * key by a grouped `commandReduce`. Nearly all of the time is in the
  * operators: mount serialization, subprocess spawn, tree rounds. */
final class MarePipe(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
    cores: Int, manifest: Manifest)
  extends Workload(spark, dataDir, workDir, seed) {
  import spark.implicits._

  private val inMount = TextFile("/in.txt")
  private val outMount = TextFile("/out.txt")
  private val sumCommand = "awk '{s+=$1} END {print s}' in.txt > out.txt"
  private val depth = 3

  private var dna: Dataset[String] = _
  private var kv: DataFrame = _
  private var nativeSums: Map[String, Long] = Map.empty

  def input(): Unit = {
    Option(dna).foreach(_.unpersist(true))
    Option(kv).foreach(_.unpersist(true))
    dna = Pipeline.textFile(spark, s"$dataDir/dna").ds.repartition(4 * cores).cache()
    require(dna.count() == manifest.long("dna_records"), "DNA input lost records")
    kv = spark.read.option("sep", "\t").csv(s"$dataDir/kv").toDF("key", "value").cache()
    // reference for the grouped reduce: a native Spark sum, outside any timer
    nativeSums = kv.groupBy("key").agg(sum(col("value").cast("long")))
      .as[(String, Long)].collect().toMap
    require(nativeSums == manifest.longMap("kv_sums"), "native sums disagree with the generator")
  }

  private def runner(loop: Loop): CommandRunner = if (loop.traced) TimingRunner else SubprocessRunner

  private def pipeJob(loop: Loop): Unit =
    loop.op("pipe_job") {
      val r = runner(loop)
      Pipeline(dna)
        .mapPartitionsThrough(inMount, outMount, "grep -o '[GC]' in.txt | wc -l > out.txt", r)
        .treeReduce(inMount, outMount, sumCommand, depth, r)
        .ds.collect().toSeq
    }(out => out.map(_.trim.toLong) == Seq(manifest.long("dna_gc")))

  private def groupReduce(loop: Loop): Unit =
    loop.op("group_reduce") {
      kv.groupBy("key")
        .agg(element_at(CommandReduce.commandReduce(col("value"), sumCommand, runner = runner(loop)), 1)
          .cast("long"))
        .as[(String, Long)].collect().toMap
    }(_ == nativeSums)

  /** Three cycles: on a 4-core host, pipe jobs keep getting faster for
    * about that long after the first one. */
  def warmup(loop: Loop): Unit = (1 to 3).foreach(_ => cycle(loop))

  /** The grouped reduce is the shorter and noisier job: two of them per
    * pipe job give its median as many samples as the pipe job's. */
  def cycle(loop: Loop): Unit = { pipeJob(loop); groupReduce(loop); groupReduce(loop) }

  def detail(loop: Loop): Map[String, Double] = Map(
    "pipe_job_p50_s" -> p50(loop, "pipe_job"),
    "group_reduce_p50_s" -> p50(loop, "group_reduce"))
}
