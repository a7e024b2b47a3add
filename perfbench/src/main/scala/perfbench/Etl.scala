package perfbench

import graft.io.TxTable
import graft.ops.{GoldModel, Interpolate, Report}
import graft.pipeline.FactPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** `hourly_etl`: the reference's hourly loop. Each op is one
  * `FactPipeline.runHour` over the transactional tables (compaction and
  * vacuum on), then the same client drains a plain `graft-tx` change-feed
  * consumer on fact_gold_price and runs the post-hour reader
  * (`Report.cheapExpensive` over `TxTable.snapshotPartitions` of the
  * interpolated table). Op latency is the runHour call; the feed lag
  * runs from runHour returning to the consumer having emitted every
  * change of that hour's commits. */
final class Etl(seed: Long, seconds: Double, work: String) extends Workload {
  import Etl._
  private val load = Ticks.generate(
    Ticks.shapeFor(timedHours = math.max(2, math.round(seconds / NominalOpS).toInt), replays = 1),
    seed)
  private val shape = load.shape
  def inputDir: String = s"$work/input"
  private def eventsPath = s"$inputDir/events.parquet"
  private var events: DataFrame = _
  private var sources: DataFrame = _
  private var wh: String = _
  private var feed: Feed = _

  /** Input generation: the ticks written as the events table, and the
    * sources dimension the reader joins. */
  def setup(spark: SparkSession, k: Int): Unit =
    steps("inputs" -> (() => {
      val rows = load.ticks.map(t => Row(t.eventId,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          t.tsMicros / 1000000L, (t.tsMicros % 1000000L) * 1000L)),
        t.source.toLong, t.side, t.price, s"""{"k": ${t.eventId % 100}}"""))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), EventsSchema)
        .write.mode("overwrite").parquet(eventsPath)
      events = spark.read.parquet(eventsPath)
      sources = GoldModel.sourcesDim(events).select("id", "name", "color").localCheckpoint()
    }))

  /** The history in one upsert and one window replacement (what those
    * hours' runs leave after compaction), then the feed consumer's first
    * drain, which bootstraps over it. */
  def warmUp(spark: SparkSession): Unit = {
    val date = shape.history.head.dateId
    val inHistory = col("date_id") === date && floor(col("time_id") / 10000) < shape.historyHours
    wh = s"$work/warehouse"
    Paths.rmrf(wh)
    TxTable.upsert(spark, s"$wh/$FactTable",
      GoldModel.fact(events).filter(inHistory).withColumn("etl_version", lit(1L)),
      key = "id", version = "etl_version", partitionCol = "date_id")
    val t1 = TxTable.snapshotPartitions(spark, s"$wh/$FactTable", Seq(lit(date))).get
      .filter(inHistory).drop("etl_version")
      .withColumn("rounded_time_id", GoldModel.roundedTimeId(col("time_id")))
      .withColumn("is_interpolated", lit(false))
    TxTable.replaceWindow(spark, s"$wh/$InterpTable", Interpolate.densify(t1),
      partitionCol = "date_id",
      windowPred = col("date_id") === date &&
        floor(col("rounded_time_id") / 10000) < shape.historyHours)
    feed = new Feed(spark, s"$wh/$FactTable", s"$wh-feed")
    Paths.rmrf(s"$wh-feed")
    val (counts, _) = feed.drain()
    val historyTicks = shape.history.map(load.count).sum
    require(counts == Map("insert" -> historyTicks),
      s"feed bootstrap emitted $counts, history holds $historyTicks ticks")
  }

  private def runHour(spark: SparkSession, wh: String, op: Ticks.Op) =
    FactPipeline.runHour(spark, events, wh, op.hour.dateId, op.hour.hour, op.runVersion,
      compactTargetBytes = Some(CompactTargetBytes), transactional = true,
      vacuumRetainVersions = Some(RetainVersions))

  private def read(spark: SparkSession, wh: String, dateId: Int): Array[Row] =
    Report.cheapExpensive(
      TxTable.snapshotPartitions(spark, s"$wh/$InterpTable", Seq(lit(dateId))).get,
      sources, dateId, "cheap").collect()

  def run(spark: SparkSession, spans: Spans, tracer: Option[Tracer], out: Outcome): Unit = {
    out.planned = load.ops.size
    val factRows = mutable.Map[Int, Long]().withDefaultValue(0L)
    val hoursOf = mutable.Map[Int, Set[Int]]().withDefaultValue(Set.empty)
    shape.history.foreach { h =>
      factRows(h.dateId) += load.count(h)
      hoursOf(h.dateId) += h.hour
    }
    val readS, feedLagS, resolveS = mutable.ArrayBuffer[Double]()
    val disk = new DiskProbe(wh)
    def versions() = Try(TxTable.latest(spark, s"$wh/$InterpTable")._1 +
      TxTable.latest(spark, s"$wh/$FactTable")._1).getOrElse(0L)
    if (tracer.isDefined) disk.start(versions())
    var feedRows, feedBatches = 0L
    var ingested = 0.0
    val tickBytes = Paths.size(new java.io.File(eventsPath)).toDouble / load.ticks.size

    load.ops.zipWithIndex.foreach { case (op, i) =>
      val h = op.hour
      val (run, sRun) = spans.time(i, "runHour", "pipeline")(runHour(spark, wh, op))
      val (fed, sFeed) = spans.time(i, "feed", "streaming")(Try(feed.drain()))
      val (rep, sRead) = spans.time(i, "read", "ops")(Try(read(spark, wh, h.dateId)))
      out.opNames(i) = s"${h.dateId}h${h.hour}v${op.runVersion}"
      out.ops += OpRec(i, out.opNames(i), sRun.seconds)
      out.wallS += (sRead.endMs - sRun.startMs) / 1e3
      feedLagS += (sFeed.endMs - sRun.endMs) / 1e3
      readS += sRead.seconds
      if (tracer.isDefined) {
        val (v, s) = spans.time(i, "resolve", "io")(versions())
        resolveS += s.seconds
        disk.afterHour(v, Try(TxTable.latest(spark, s"$wh/$InterpTable")._2.values.toSeq)
          .getOrElse(Nil))
        ingested += tickBytes * load.count(h)
      }

      // output checks, outside the spans
      val expected = load.count(h)
      if (!op.replay) {
        factRows(h.dateId) += expected
        hoursOf(h.dateId) += h.hour
      }
      run match {
        case Failure(e) => out.check(i, ok = false, s"runHour failed: $e")
        case Success(r) =>
          out.check(i, r.extracted == expected, s"extracted ${r.extracted}, generated $expected")
          out.check(i, r.gridMinutes == 60 && r.densifiedRows == shape.groups * 60L,
            s"densified ${r.densifiedRows} rows over ${r.gridMinutes} minutes, " +
              s"expected ${shape.groups} groups × 60")
      }
      fed match {
        case Failure(e) => out.check(i, ok = false, s"feed drain failed: $e")
        case Success((counts, batches)) =>
          val kind = if (op.replay) "update" else "insert"
          out.check(i, counts == Map(kind -> expected),
            s"feed emitted $counts, committed $expected ${kind}s")
          feedRows += counts.values.sum
          feedBatches += batches
      }
      rep match {
        case Failure(e) => out.check(i, ok = false, s"reader failed: $e")
        case Success(rows) =>
          val minutes = rows.map(_.getAs[Long]("minute_count")).sum
          out.check(i, minutes == 60L * hoursOf(h.dateId).size,
            s"reader covers $minutes minutes of ${hoursOf(h.dateId).size} hours")
      }
      if (op.replay) {
        val n = Try(TxTable.snapshotPartitions(spark, s"$wh/$FactTable", Seq(lit(h.dateId))).get.count())
        out.check(i, n.toOption.contains(factRows(h.dateId)),
          s"fact rows after replay $n, expected ${factRows(h.dateId)}")
      }
    }

    val n = load.ops.size.toDouble
    out.diag("ticks") = load.ticks.size
    out.diag("groups") = shape.groups
    out.diag("history_hours") = shape.historyHours
    out.diag("timed_hours") = shape.hours - shape.historyHours
    out.diag("replays") = load.ops.count(_.replay)
    out.diag("read_p50_s") = Main.median(readS.toSeq)
    out.diag("feed_lag_p50_s") = Main.median(feedLagS.toSeq)
    out.layer("pipeline.read_p50_s") = Main.median(readS.toSeq)
    out.layer("pipeline.feed_lag_p50_s") = Main.median(feedLagS.toSeq)
    if (tracer.isDefined) {
      out.layer("io.resolve_s") = resolveS.sum / n
      out.layer("io.commits_per_hour") = disk.commits.toDouble / n
      out.layer("io.bytes_written_per_hour") = disk.written.toDouble / n
      out.layer("io.write_amp") = disk.written / ingested
      out.layer("io.files_per_partition") = disk.leafFiles.sum / n
      out.layer("io.log_bytes") = disk.logBytes.toDouble
      out.layer("io.disk_bytes") = disk.bytes.toDouble
      out.layer("io.feed_rows") = feedRows / n
      out.layer("io.feed_batches") = feedBatches / n
    }
  }
}

object Etl {
  val FactTable = "fact_gold_price"
  val InterpTable = "fact_gold_price_interpolated"
  val CompactTargetBytes: Long = 16L << 20
  val RetainVersions = 4
  /** One op cycle (hour, feed drain, reader) on a 4-core host: sizes the
    * timed window from `--seconds`. */
  val NominalOpS = 7.0

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
}

/** A plain `graft-tx` change-feed consumer: each drain restarts the
  * stream from its checkpoint and runs it until it has caught up with
  * the table's tip, counting emitted rows by change type. */
final class Feed(spark: SparkSession, dir: String, checkpoint: String) {
  def drain(): (Map[String, Long], Long) = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val batches = new java.util.concurrent.atomic.AtomicLong
    val f: (DataFrame, Long) => Unit = (df, _) => {
      val c = df.groupBy("change_type").count().collect()
      if (c.nonEmpty) batches.incrementAndGet()
      c.foreach(r => counts.merge(r.getString(0), r.getLong(1), (a: Long, b: Long) => a + b))
    }
    val q = spark.readStream.format("graft-tx").option("key", "id").load(dir)
      .writeStream.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).foreachBatch(f).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    (counts.asScala.toMap, batches.get)
  }
}

/** Disk and manifest counts of the warehouse, read after each hour. */
final class DiskProbe(root: String) {
  private var seen = Map.empty[String, Long]
  private var lastVersions = 0L
  var written, commits, bytes, logBytes = 0L
  val leafFiles = mutable.ArrayBuffer[Double]()

  def start(versions: Long): Unit = {
    seen = Paths.files(new java.io.File(root))
    lastVersions = versions
  }

  /** @param leaves the interpolated table's live leaf directories */
  def afterHour(versions: Long, leaves: Seq[String]): Unit = {
    val files = Paths.files(new java.io.File(root))
    written += files.collect { case (p, s) if !seen.contains(p) => s }.sum
    seen = files
    bytes = files.values.sum
    logBytes = files.collect { case (p, s) if p.contains("/_graft_log/") => s }.sum
    commits += versions - lastVersions
    lastVersions = versions
    val perLeaf = leaves.map { l =>
      val d = if (l.startsWith("/")) l else s"$root/${Etl.InterpTable}/$l"
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet")).toDouble
    }
    leafFiles += (if (perLeaf.isEmpty) 0.0 else perLeaf.sum / perLeaf.size)
  }
}

object Paths {
  def rmrf(dir: String): Unit = graft.queries.rmrf(dir)
  def size(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
  /** Every regular file under `f`, path → bytes. */
  def files(f: java.io.File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).map(_.flatMap(c => files(c)).toMap).getOrElse(Map.empty)
    else if (f.exists()) Map(f.getPath -> f.length())
    else Map.empty
}
