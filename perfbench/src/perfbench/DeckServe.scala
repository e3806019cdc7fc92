package perfbench

import org.apache.spark.sql.SparkSession

/** `deck_serve`: the query deck and the store's serve loop in one JVM —
  * each cycle is one deck pass followed by one round of store operations.
  * It measures the `queries`, `functions`, `plans` and `sources` layers in
  * one run, so the benchmark pays for one session, one cold start and one
  * warm-up instead of two. */
final class DeckServe(deck: QueryDeck, store: StoreServe, spark: SparkSession, dataDir: String,
    workDir: String, seed: Long)
  extends Workload(spark, dataDir, workDir, seed) {

  def input(): Unit = { deck.input(); store.input() }
  def warmup(loop: Loop): Unit = { deck.warmup(loop); store.warmup(loop) }
  def cycle(loop: Loop): Unit = { deck.cycle(loop); store.cycle(loop) }
  override def verify(loop: Loop): Unit = store.verify(loop)
  def detail(loop: Loop): Map[String, Double] = deck.detail(loop) ++ store.detail(loop)
  /** A deck pass counts as one kind, as each store operation does: a
    * slower lookup or admit moves `latency_p50_ms` as much as a slower
    * pass. */
  override def kindLatencies(loop: Loop): Map[String, Double] =
    Map("deck_pass" -> deck.passSeconds(loop)) ++
      StoreServe.Kinds.map(k => k -> p50(loop, k))
  override def counters: Map[String, Double] = store.counters
  override def group(kind: String): Option[String] = deck.group(kind)
}
