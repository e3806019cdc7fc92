package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The deck half of `deck_serve`: a fixed deck of oracle-checked
  * `SparkEntry` queries, run through the `noop` sink in a seeded order each
  * pass. Exercises Catalyst, the scheduler, shuffle, `queries`, `functions`
  * and `plans`; never the store faces or subprocesses.
  *
  * The oracle check runs once per run: the warm-up pass writes every
  * result as parquet next to the DuckDB SQL of `SparkEntry.oracleSql`, and
  * perfbench/run.py compares them after the JVM exits, outside any timer. */
final class QueryDeck(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
    wrongOracle: Boolean)
  extends Workload(spark, dataDir, workDir, seed) {

  private val rng = new scala.util.Random(seed)

  def input(): Unit = {
    // the tables the deck reads, listed and footer-read once
    QueryDeck.Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
  }

  private def run(loop: Loop, q: String, sink: Option[String]): Unit =
    loop.op(q) {
      val df = Trace.span("queries.build", "queries")(Trace.frame(SparkEntry.queries(q)(spark, dataDir)))
      Trace.span("queries.exec", "queries") {
        sink match {
          case Some(dir) => df.write.mode("overwrite").parquet(dir)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
    }(_ => true)

  /** One pass that writes every result for the oracle check. */
  def warmup(loop: Loop): Unit = {
    val oracles = QueryDeck.Deck.map { case (q, _) =>
      val sql = SparkEntry.oracleSql(q)
      // self-test hook: a deliberately wrong reference for one query
      q -> (if (wrongOracle && q == QueryDeck.Deck.head._1) s"SELECT * FROM ($sql) LIMIT 0" else sql)
    }
    Files.createDirectories(Paths.get(workDir, "results"))
    Files.write(Paths.get(workDir, "oracle_sql.json"),
      Json.obj(oracles.map { case (q, s) => q -> Json.str(s) }).getBytes(StandardCharsets.UTF_8))
    QueryDeck.Deck.foreach { case (q, _) => run(loop, q, Some(s"$workDir/results/$q")) }
  }

  def cycle(loop: Loop): Unit = rng.shuffle(QueryDeck.Deck.map(_._1)).foreach(q => run(loop, q, None))

  /** One pass at median speed. */
  def passSeconds(loop: Loop): Double = QueryDeck.Deck.map { case (q, _) => p50(loop, q) }.sum

  def detail(loop: Loop): Map[String, Double] = Map(
    "deck_pass_s" -> passSeconds(loop),
    "query_geomean_s" -> Stats.geomean(QueryDeck.Deck.map { case (q, _) => p50(loop, q) }))

  override def group(kind: String): Option[String] = QueryDeck.Deck.toMap.get(kind)
}

object QueryDeck {
  /** The deck, one query or two per layer group. */
  val Deck: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "relational",
    "q03_join_revenue" -> "relational",
    "q55_distinct_window" -> "plans", // RewriteRunningDistinct
    "events_pagerank" -> "loops", // driver-loop gates
    "text_quality" -> "kernels", // codegen'd functions
    "sim_ivf_topk" -> "ann",
    "prep_outliers" -> "spill") // spillable window rank

  val Groups: Seq[String] = Deck.map(_._2).distinct

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}
