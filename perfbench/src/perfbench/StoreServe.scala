package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}

import graft.sources.{BloomIndex, Store, ZoneMaps}

/** The store half of `deck_serve`: one client on two warm stores built
  * from the seeded lineitem table — a bloom-indexed store keyed on
  * `l_orderkey` and a zone-indexed store on `l_shipdate`/`l_quantity`.
  * Each cycle admits one batch of new order keys into both stores (with
  * the maintenance call after each admit), then interleaves point lookups
  * and zone aggregates.
  *
  * Every admit invalidates the serve caches, so the first lookup after it
  * pays a refresh: with five lookups to an admit in [[Pattern]], those make
  * up a fifth of all lookups — far from the 5 % a p95 would otherwise sit
  * on. Maintenance runs a selective compaction after every admit: the
  * warm-up admit folds the whole base once, each later one folds only the
  * small files, so admits cost about the same and every run sees several
  * compaction cycles. */
final class StoreServe(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
    manifest: Manifest, wrongCount: Boolean)
  extends Workload(spark, dataDir, workDir, seed) {
  import spark.implicits._
  import StoreServe._

  private val bloomData = s"$workDir/bloom"
  private val bloomStats = s"$workDir/bloom.stats"
  private val zoneData = s"$workDir/zone"
  private val zoneStats = s"$workDir/zone.stats"
  private val zoneCols = Seq("l_shipdate", "l_quantity")

  private val rng = new scala.util.Random(seed)
  private var batches: DataFrame = _
  private var batchCounts: Map[Int, Map[Long, Long]] = Map.empty
  private val keyCounts = mutable.HashMap[Long, Long]()
  private var admitted = 0
  private var baseRows = 0L

  /** Zone aggregates answered so far, checked after the loop against the
    * rows of the base and the first `batches` batches. */
  private case class ZoneAnswer(kind: String, lo: Timestamp, hi: Timestamp, batches: Int,
      count: Long, min: Option[Double], max: Option[Double], sum: Option[Double])
  private val zoneAnswers = mutable.ArrayBuffer[ZoneAnswer]()

  private val lookupFrac = mutable.ArrayBuffer[Double]()
  private val zoneFrac = mutable.ArrayBuffer[Double]()
  private var liveFilesMax, deltaCountMax, compactions = 0

  def input(): Unit = {
    Seq(bloomData, bloomStats, zoneData, zoneStats).foreach(d => deleteTree(new File(d)))
    Option(batches).foreach(_.unpersist(true))
    val base = spark.read.parquet(s"$dataDir/lineitem.parquet")
    BloomIndex.admitIndexed(
      base.repartitionByRange(BaseFiles, col("l_orderkey")).sortWithinPartitions("l_orderkey"),
      bloomData, bloomStats, "l_orderkey", "base")
    ZoneMaps.admitIndexed(shapeForZones(base), zoneData, zoneStats, zoneCols, "base")
    // references, outside any timer: the key -> row count map of every
    // admitted row (absent keys count 0)
    keyCounts.clear()
    base.groupBy("l_orderkey").count().as[(Long, Long)].collect().foreach { case (k, n) => keyCounts(k) = n }
    baseRows = keyCounts.values.sum
    batches = spark.read.parquet(s"$dataDir/batches.parquet").cache()
    batchCounts = batches.groupBy("batch", "l_orderkey").count().as[(Int, Long, Long)].collect()
      .groupBy(_._1).map { case (b, rows) => b -> rows.map(r => r._2 -> r._3).toMap }
    admitted = 0
  }

  private def shapeForZones(df: DataFrame): DataFrame =
    df.repartitionByRange(math.max(df.rdd.getNumPartitions, 1), col("l_shipdate"))
      .sortWithinPartitions(zoneCols.map(col): _*)

  private def admit(loop: Loop): Unit = {
    val b = admitted
    loop.op("admit") {
      val batch = batches.filter(col("batch") === b).drop("batch")
      Trace.span("sources.admit_bloom", "sources")(
        BloomIndex.admitIndexed(batch.coalesce(1), bloomData, bloomStats, "l_orderkey", s"b$b"))
      Trace.span("sources.admit_zone", "sources")(
        ZoneMaps.admitIndexed(shapeForZones(batch.coalesce(1)), zoneData, zoneStats, zoneCols, s"b$b"))
      val deltas = Store.deltaCount(bloomData)
      Trace.span("sources.maintain", "sources") {
        BloomIndex.maintainIndexed(spark, bloomData, bloomStats, "l_orderkey", every = 1,
          minFileBytes = FoldBelowBytes)
        ZoneMaps.maintainIndexed(spark, zoneData, zoneStats, zoneCols, every = 1,
          minFileBytes = FoldBelowBytes)
      }
      deltaCountMax = math.max(deltaCountMax, deltas)
      if (Store.deltaCount(bloomData) < deltas) compactions += 1
    }(_ => true)
    // the new keys are served from here on, whatever the admit's outcome
    batchCounts.getOrElse(b, Map.empty).foreach { case (k, n) => keyCounts(k) = keyCounts.getOrElse(k, 0L) + n }
    admitted += 1
  }

  private def lookup(loop: Loop): Unit = {
    val key =
      if (rng.nextDouble() < AbsentShare) manifest.long("batch_key_base") * 2 + rng.nextInt(1 << 20)
      else if (admitted > 0 && rng.nextDouble() < 0.2)
        manifest.long("batch_key_base") + rng.nextLong(admitted * manifest.long("batch_orders"))
      else rng.nextLong(manifest.long("base_orders"))
    val expected = keyCounts.getOrElse(key, 0L) + (if (wrongCount) 1 else 0)
    loop.op("lookup") {
      val (df, (read, total)) = Trace.span("sources.lookup_decide", "sources")(
        BloomIndex.lookupIndexed(spark, bloomData, bloomStats, "l_orderkey", lit(key)))
      Trace.frame(df)
      val rows = Trace.span("sources.lookup_read", "sources")(df.collect().length.toLong)
      lookupFrac += read.toDouble / math.max(total, 1)
      liveFilesMax = math.max(liveFilesMax, total)
      rows
    }(_ == expected)
  }

  private def zoneAgg(loop: Loop, i: Int): Unit = {
    val startMonth = rng.nextInt(ShipMonths - 3)
    val (lo, hi) = (month(startMonth), month(startMonth + 1 + rng.nextInt(3)))
    val preds = Seq(("l_shipdate", lit(lo), lit(hi)))
    val kind = ZoneKinds(i % ZoneKinds.size)
    loop.op("zone_agg") {
      Trace.span("sources.zone_decide", "sources") {
        kind match {
          case "count" =>
            val (n, files) = ZoneMaps.countRangeIndexed(spark, zoneData, zoneStats, preds)
            (ZoneAnswer(kind, lo, hi, admitted, n, None, None, None), files)
          case "minmax" =>
            val (df, files) = ZoneMaps.minMaxRangeIndexed(spark, zoneData, zoneStats, preds, "l_quantity")
            val r = df.head()
            (ZoneAnswer(kind, lo, hi, admitted, 0, optD(r.get(0)), optD(r.get(1)), None), files)
          case _ =>
            val (df, files) = ZoneMaps.sumRangeIndexed(spark, zoneData, zoneStats, preds, "l_quantity")
            val r = df.head()
            (ZoneAnswer(kind, lo, hi, admitted, r.getLong(1), None, None, optD(r.get(0))), files)
        }
      }
    } { case (answer, (read, total)) =>
      zoneAnswers += answer
      zoneFrac += read.toDouble / math.max(total, 1)
      true
    }
  }

  def warmup(loop: Loop): Unit = {
    admit(loop)
    lookup(loop)
    ZoneKinds.indices.foreach(zoneAgg(loop, _))
  }

  /** One round of the [[Pattern]]. */
  def cycle(loop: Loop): Unit = Pattern.foreach {
    case 'a' => admit(loop)
    case 'l' => lookup(loop)
    case _ => zoneAgg(loop, loop.counts("zone_agg"))
  }

  /** Every zone aggregate against a plain Spark filter-and-aggregate over
    * the rows admitted when it ran — one pass over the admitted rows. */
  override def verify(loop: Loop): Unit = {
    val all = spark.read.parquet(s"$dataDir/lineitem.parquet").withColumn("batch", lit(-1))
      .unionByName(batches)
    val aggs: Seq[Column] = zoneAnswers.toSeq.zipWithIndex.flatMap { case (a, i) =>
      val in = col("l_shipdate") >= lit(a.lo) && col("l_shipdate") < lit(a.hi) && col("batch") < a.batches
      val q = when(in, col("l_quantity"))
      Seq(count(q).as(s"n$i"), min(q).as(s"lo$i"), max(q).as(s"hi$i"), sum(q).as(s"s$i"))
    }
    if (aggs.nonEmpty) {
      val ref = all.agg(aggs.head, aggs.tail: _*).head()
      val wrong = zoneAnswers.zipWithIndex.count { case (a, i) =>
        val n = ref.getLong(4 * i)
        val ok = a.kind match {
          case "count" => a.count == n
          case "minmax" => a.min == optD(ref.get(4 * i + 1)) && a.max == optD(ref.get(4 * i + 2))
          case _ => a.count == n && a.sum == optD(ref.get(4 * i + 3))
        }
        if (!ok) System.err.println(s"[perfbench] zone aggregate $a disagrees with the reference")
        !ok
      }
      loop.fail(wrong, "zone aggregates")
    }
  }

  def detail(loop: Loop): Map[String, Double] = {
    val lookups = loop.latencies.getOrElse("lookup", Seq(0.0)).toSeq
    val all = Kinds.flatMap(loop.latencies.getOrElse(_, Nil))
    Map(
      "lookup_p50_ms" -> Stats.median(lookups) * 1e3,
      "lookup_p95_ms" -> Stats.quantile(lookups, 0.95) * 1e3,
      "zone_agg_p50_ms" -> p50(loop, "zone_agg") * 1e3,
      "admit_p50_s" -> p50(loop, "admit"),
      "store_ops_per_s" -> all.size / all.sum)
  }

  override def counters: Map[String, Double] = Map(
    "sources.lookup_files_read_frac" -> Stats.mean(lookupFrac),
    "sources.zone_files_read_frac" -> Stats.mean(zoneFrac),
    "sources.compactions" -> compactions.toDouble,
    "sources.live_files_max" -> liveFilesMax.toDouble,
    "sources.delta_count_max" -> deltaCountMax.toDouble,
    "sources.disk_bytes_per_row" -> parquetBytes(new File(bloomData)).toDouble /
      (baseRows + (0 until admitted).map(b => batchCounts.getOrElse(b, Map.empty).values.sum).sum))
}

object StoreServe {
  val BaseFiles = 16
  /** Files under this size are folded by the compaction after each admit. */
  val FoldBelowBytes = 32L * 1024
  /** a = admit (+ maintenance), l = point lookup, z = zone aggregate. */
  val Pattern = "alzllzllz"
  val Kinds = Seq("admit", "lookup", "zone_agg")
  val AbsentShare = 0.1
  val ZoneKinds = Seq("count", "minmax", "sum")
  /** Ship dates span 1995-01 to 2001-10. */
  val ShipMonths = 82

  def month(i: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong).atStartOfDay())

  private def optD(v: Any): Option[Double] = Option(v).map(_.toString.toDouble)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_")).map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
