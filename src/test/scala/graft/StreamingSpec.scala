package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.{FunnelStream, HourlyMicroBatch, IncrementalStream, StatefulOps, StreamDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming formulation of the reference's hourly
  * micro-batch (SURVEY.md §2.10): tumbling-window emission under the
  * 35-minute watermark, and idempotent keyed upsert under micro-batch
  * replay/late duplicates.
  */
class StreamingSpec extends SparkTestBase {

  case class Tick(id: Long, source: String, side: String, price: Double,
      created_at: Timestamp)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourly tumbling window emits a closed hour once the 35-min watermark passes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val in = MemoryStream[Tick]
    val q = HourlyMicroBatch.hourlyAggregates(in.toDF())
      .writeStream.format("memory").queryName("hourly_agg")
      .outputMode("append").start()
    try {
      // hour 10: two sources; src_a has two ticks to average
      in.addData(
        Tick(1, "src_a", "buy", 100.0, ts("2024-01-15 10:05:00")),
        Tick(2, "src_a", "buy", 102.0, ts("2024-01-15 10:40:00")),
        Tick(3, "src_b", "sell", 50.0, ts("2024-01-15 10:10:00")))
      q.processAllAvailable()
      // hour 10 not closed yet: watermark = max_event - 35m < 11:00
      assert(spark.table("hourly_agg").count() === 0)

      // a tick at 11:40 pushes the watermark past 11:00 → hour 10 emits
      in.addData(Tick(4, "src_a", "buy", 104.0, ts("2024-01-15 11:40:00")))
      q.processAllAvailable()
      val rows = spark.table("hourly_agg")
        .select("hour_start", "source", "side", "n_ticks", "avg_price")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getString(2), r.getLong(3), r.getDouble(4))).toSet
      assert(rows === Set(
        ("2024-01-15 10:00:00.0", "src_a", "buy", 2L, 101.0),
        ("2024-01-15 10:00:00.0", "src_b", "sell", 1L, 50.0)))

      // a tick older than the watermark horizon is dropped, not revised
      in.addData(Tick(5, "src_b", "sell", 999.0, ts("2024-01-15 10:20:00")))
      q.processAllAvailable()
      assert(spark.table("hourly_agg").count() === 2)
    } finally q.stop()
  }

  case class Evt(day: String, event_type: String, value: Double)

  test("incremental state sink maintains the partial log across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val dir = Files.createTempDirectory("graft_incr_stream").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_incr_ckpt").toString
    val keys = Seq("day", "event_type")

    val in = MemoryStream[Evt]
    def runBatch(evts: Evt*): Unit = {
      in.addData(evts: _*)
      val q = IncrementalStream.stateSink(in.toDF(), keys, "value", dir)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    runBatch(
      Evt("2024-01-01", "click", 10.0),
      Evt("2024-01-01", "click", 20.0),
      Evt("2024-01-01", "view", 5.0))
    runBatch(
      Evt("2024-01-01", "click", 30.0),
      Evt("2024-01-02", "view", 7.0))

    val out = IncrementalStream.readState(spark, dir, keys)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDecimal(3).doubleValue(), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out === Map(
      ("2024-01-01", "click") -> ((3L, 60.0, 10.0, 30.0)),
      ("2024-01-01", "view") -> ((1L, 5.0, 5.0, 5.0)),
      ("2024-01-02", "view") -> ((1L, 7.0, 7.0, 7.0))))
    // two micro-batches → two partials in the log
    assert(spark.read.parquet(dir).select("batch_id").distinct().count() === 2)
  }

  test("killed mid-stream after the sink write: checkpoint restart replays the batch, result hash-matches the uninterrupted run") {
    // The at-least-once window made real, then recovered from: the sink
    // write of batch 0 lands, the query is killed BEFORE the checkpoint
    // commit (an exception injected after applyBatch — exactly where a
    // crashed executor/driver dies), and a fresh query on the SAME
    // checkpoint restarts. Structured Streaming replays batch 0 with the
    // same batch id; the batch_id-partitioned dynamic overwrite rewrites
    // that batch's own partition instead of double-counting — the
    // replay-idempotence IncrementalStream's scaladoc claims, exercised
    // end-to-end through a real kill + restart rather than a unit call.
    // Ground truth is a parallel UNINTERRUPTED pipeline fed the same
    // micro-batches; the merged states must match exactly.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val keys = Seq("day", "event_type")
    val batch1 = Seq(
      Evt("2024-01-01", "click", 10.0),
      Evt("2024-01-01", "click", 20.0),
      Evt("2024-01-01", "view", 5.0))
    val batch2 = Seq(
      Evt("2024-01-01", "click", 30.0),
      Evt("2024-01-02", "view", 7.0))

    def mergedState(dir: String) =
      IncrementalStream.readState(spark, dir, keys)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDecimal(3).doubleValue(), r.getDouble(4), r.getDouble(5)))
        .toMap

    // --- crashed-and-restarted pipeline --------------------------------
    val dir = Files.createTempDirectory("graft_restart_state").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val in = MemoryStream[Evt]
    def sink(crashAfterWrite: Boolean) = {
      val w = in.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          IncrementalStream.applyBatch(batch, batchId, keys, "value", dir)
          if (crashAfterWrite)
            throw new RuntimeException("injected kill after sink write, before checkpoint commit")
        }
      w.option("checkpointLocation", ckpt)
    }

    in.addData(batch1: _*)
    val killed = sink(crashAfterWrite = true).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      killed.awaitTermination()
    }
    // the window is real: batch 0's partial IS on disk, its offset commit is not
    assert(spark.read.parquet(dir).select("batch_id").distinct().count() === 1)

    in.addData(batch2: _*)
    val restarted = sink(crashAfterWrite = false).start()
    restarted.awaitTermination()

    // --- uninterrupted pipeline, same micro-batch split ----------------
    val dirU = Files.createTempDirectory("graft_restart_state_u").toString + "/state"
    val ckptU = Files.createTempDirectory("graft_restart_ckpt_u").toString
    val inU = MemoryStream[Evt]
    def runU(evts: Seq[Evt]): Unit = {
      inU.addData(evts: _*)
      val q = IncrementalStream.stateSink(inU.toDF(), keys, "value", dirU)
        .option("checkpointLocation", ckptU)
        .start()
      q.awaitTermination()
    }
    runU(batch1); runU(batch2)

    assert(mergedState(dir) === mergedState(dirU),
      "restart double-counted or dropped the replayed batch")
    // and the replay really happened: batch 0 was written twice but the
    // log still holds exactly two partitions (0 replayed-in-place, 1 new)
    assert(spark.read.parquet(dir).select("batch_id").distinct().count() === 2)
  }

  test("flatMapGroupsWithState carries last-seen state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val in = MemoryStream[StatefulOps.Tick]
    val q = StatefulOps.withDeltas(in.toDF())
      .writeStream.format("memory").queryName("tick_deltas")
      .outputMode("append").start()
    try {
      // batch 1: two keys; src_a/buy sees two ticks (in-batch delta),
      // delivered out of event order to exercise the in-group sort
      in.addData(
        StatefulOps.Tick("src_a", "buy", 12L, 105.0),
        StatefulOps.Tick("src_a", "buy", 10L, 100.0),
        StatefulOps.Tick("src_b", "sell", 10L, 50.0))
      q.processAllAvailable()
      // batch 2: deltas must be computed against batch 1's state
      in.addData(
        StatefulOps.Tick("src_a", "buy", 15L, 110.0),
        StatefulOps.Tick("src_b", "sell", 20L, 47.0))
      q.processAllAvailable()

      val rows = spark.table("tick_deltas")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
      assert(rows === Set(
        ("src_a", "buy", 10L, None, None),
        ("src_a", "buy", 12L, Some(5.0), Some(2L)),
        ("src_b", "sell", 10L, None, None),
        ("src_a", "buy", 15L, Some(5.0), Some(3L)),   // vs batch-1 state
        ("src_b", "sell", 20L, Some(-3.0), Some(10L)) // vs batch-1 state
      ))
    } finally q.stop()
  }

  case class Doc(doc_id: Long, text: String, arrived: Timestamp)

  test("streaming dedup passes first arrivals and suppresses in-horizon duplicates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val in = MemoryStream[Doc]
    val q = StreamDedup.firstArrivals(in.toDF(), "arrived", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: a, b, and a same-batch duplicate of a (case-folded)
      in.addData(
        Doc(1, "the quick brown fox", ts("2024-01-15 10:00:00")),
        Doc(2, "hello world", ts("2024-01-15 10:01:00")),
        Doc(3, "The QUICK brown fox", ts("2024-01-15 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L))

      // batch 2, inside the horizon: another copy of doc 1's content is
      // suppressed; genuinely new content passes
      in.addData(
        Doc(4, "the quick brown fox", ts("2024-01-15 10:05:00")),
        Doc(5, "something new", ts("2024-01-15 10:06:00")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 5L))

      // push the watermark far past 10:02 + 10m: doc-1 state expires,
      // so a LATER re-crawl of the same content passes again (the
      // horizon is the dedup guarantee, by design)
      in.addData(Doc(6, "watermark pusher", ts("2024-01-15 11:00:00")))
      q.processAllAvailable()
      in.addData(Doc(7, "the quick brown fox", ts("2024-01-15 10:59:00")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 5L, 6L, 7L))
    } finally q.stop()
  }

  test("streaming session_window matches batch Sessionize on interior gaps") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = s.sqlContext

    val data = Seq(
      // user 1: 3 close events, a >30min jump, then 1 more
      (1L, 100L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, 101L, ts("2024-01-01 10:10:00"), 2.5),
      (1L, 102L, ts("2024-01-01 10:25:00"), 3.0),
      (1L, 103L, ts("2024-01-01 12:00:00"), 4.0),
      // user 2: one lone event
      (2L, 104L, ts("2024-01-01 09:00:00"), 7.0))

    val in = MemoryStream[(Long, Long, Timestamp, Double)]
    val stream = graft.streaming.SessionStream.sessionStats(
      in.toDF().toDF("user_id", "event_id", "ts", "value"),
      gap = "30 minutes", watermark = "1 minute")
    val q = stream.writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      // push the watermark far past every session's close so all emit
      in.addData((9L, 999L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()

      val streamed = spark.table("sessions_stream")
        .filter(col("user_id") < 9)
        .select("user_id", "session_start", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet

      val batch = graft.ops.Sessionize.sessionStats(
          data.toDF("user_id", "event_id", "ts", "value"),
          col("user_id"), col("ts"), col("event_id"), 1800, col("value"))
        .select("user_id", "session_start", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet

      assert(streamed === batch)
      assert(streamed === Set(
        (1L, "2024-01-01 10:00:00.0", 3L, 6.5),
        (1L, "2024-01-01 12:00:00.0", 1L, 4.0),
        (2L, "2024-01-01 09:00:00.0", 1L, 7.0)))
    } finally q.stop()
  }

  test("TxStreamSink: micro-batches land as transactional commits, replay stays idempotent") {
    // Each micro-batch = one TxTable commit; a replayed batch (the
    // at-least-once case) re-upserts the same (key, version) rows and
    // the keyed merge collapses them — state identical, one extra
    // version on the log (the replay IS a commit, it just changes
    // nothing).
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    case class Upd(id: Long, price: Double, etl_seq: Long, date_id: Int)
    val target = Files.createTempDirectory("graft_tx_stream").toString + "/fact"
    val ckpt = Files.createTempDirectory("graft_tx_stream_ckpt").toString
    val in = MemoryStream[(Long, Double, Long, Int)]
    def runBatch(rows: (Long, Double, Long, Int)*): Unit = {
      in.addData(rows: _*)
      val q = graft.streaming.TxStreamSink.sink(
          in.toDF().toDF("id", "price", "etl_seq", "date_id"),
          target, "id", "etl_seq", "date_id")
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    runBatch((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240101))
    runBatch((2L, 25.0, 2L, 20240101), (3L, 30.0, 2L, 20240102))

    def state() = graft.io.TxTable.snapshot(spark, target).get
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val afterStream = state()
    assert(afterStream === Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    val vStream = graft.io.TxTable.latest(spark, target)._1

    // at-least-once replay of batch 1's rows (what a recovered query
    // re-delivers): same keys, same versions — state unchanged
    graft.io.TxTable.upsert(spark, target,
      Seq((2L, 25.0, 2L, 20240101), (3L, 30.0, 2L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    assert(state() === afterStream, "replayed micro-batch changed state")
    assert(graft.io.TxTable.latest(spark, target)._1 === vStream + 1)
  }

  test("session state survives a query restart: a session spanning the stop is assembled whole") {
    // The state-STORE recovery path (complementing the foreachBatch
    // sink-replay test above): an OPEN session's only existence is rows
    // inside the streaming aggregation state when the query stops — no
    // sink has seen it. A fresh query on the same checkpoint must
    // reload that state, extend the session with post-restart events,
    // and emit ONE merged session when the watermark finally passes its
    // close. A recovery bug shows up as two fragments split at the
    // restart boundary (or a lost first half). File sink: the memory
    // sink deliberately refuses checkpoint recovery.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val outDir = Files.createTempDirectory("graft_sess_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_sess_restart_ckpt").toString
    val in = MemoryStream[(Long, Long, Timestamp, Double)]
    def start() = graft.streaming.SessionStream.sessionStats(
        in.toDF().toDF("user_id", "event_id", "ts", "value"),
        gap = "30 minutes", watermark = "1 minute")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // first life: two events of a session that stays OPEN (the
    // watermark never passes its close), then stop — the half-built
    // session now lives only in the checkpointed state store
    val q1 = start()
    in.addData(
      (1L, 100L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, 101L, ts("2024-01-01 10:10:00"), 2.5))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() === 0,
      "an open session leaked to the sink before its close")

    // second life: extend the SAME session across the restart, then
    // push the watermark past everything so it emits
    val q2 = start()
    in.addData((1L, 102L, ts("2024-01-01 10:25:00"), 3.0))
    q2.processAllAvailable()
    in.addData((9L, 999L, ts("2024-01-02 00:00:00"), 0.0))
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(outDir)
      .filter($"user_id" === 1L)
      .select("session_start", "session_close", "n_events", "total_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSet
    assert(out === Set(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:55:00.0", 3L, 6.5)
    ), s"session split or lost across the restart: $out")
  }

  test("streaming windowed OHLC bars match the batch argmax aggregation") {
    // t9's min_by/max_by argmax aggregates run unchanged inside a
    // watermarked streaming window — the bars a stream emits when its
    // window closes are the bars the batch operator computes over the
    // same ticks
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext

    val tickData = Seq(
      (1L, 100L, ts("2024-01-01 10:01:00"), 5.0),  // bar 10:00: open
      (1L, 101L, ts("2024-01-01 10:07:00"), 9.0),  //   high
      (1L, 102L, ts("2024-01-01 10:14:00"), 7.0),  //   close
      (1L, 103L, ts("2024-01-01 10:16:00"), 4.0),  // bar 10:15: single tick
      (2L, 104L, ts("2024-01-01 10:02:00"), 3.0))  // other instrument

    val in = MemoryStream[(Long, Long, Timestamp, Double)]
    val streamBars = in.toDF().toDF("user_id", "event_id", "ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "15 minutes").as("w"),
        col("user_id").cast("int").as("uid"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n_ticks"))
      .select(col("w.start").as("bar_start"), col("uid"),
        col("open"), col("close"), col("high"), col("low"), col("n_ticks"))
    val q = streamBars.writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("append").start()
    try {
      in.addData(tickData: _*)
      q.processAllAvailable()
      // close every window
      in.addData((9L, 999L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()

      val streamed = spark.table("ohlc_stream")
        .filter(col("uid") < 9)
        .collect().map(r => (r.getTimestamp(0).toString, r.getInt(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toSet

      val batch = graft.queries.Analytics.ohlcBars(
          tickData.toDF("user_id", "event_id", "ts", "value"))
        .select(timestamp_micros(col("bucket") * 900000000L).as("bar_start"),
          col("uid"), col("open"), col("close"), col("high"), col("low"),
          col("n_ticks"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getInt(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toSet

      assert(streamed === batch)
      assert(streamed === Set(
        ("2024-01-01 10:00:00.0", 1, 5.0, 7.0, 9.0, 5.0, 3L),
        ("2024-01-01 10:15:00.0", 1, 4.0, 4.0, 4.0, 4.0, 1L),
        ("2024-01-01 10:00:00.0", 2, 3.0, 3.0, 3.0, 3.0, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs within the horizon and matches batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = s.sqlContext

    // trades enriched with the quotes that precede them by <= 600s
    val tradeData = Seq(
      (1L, 100L, ts("2024-01-01 10:10:00"), 5.0),
      (1L, 101L, ts("2024-01-01 10:30:00"), 7.0),
      (2L, 102L, ts("2024-01-01 10:10:00"), 9.0))
    val quoteData = Seq(
      (1L, 900L, ts("2024-01-01 10:05:00"), 101.0), // pairs with trade 100
      (1L, 901L, ts("2024-01-01 10:25:00"), 102.0), // pairs with trade 101
      (1L, 902L, ts("2024-01-01 09:30:00"), 103.0), // out of horizon: never pairs
      (2L, 903L, ts("2024-01-01 10:10:00"), 104.0)) // equal ts pairs (<=)

    val trades = MemoryStream[(Long, Long, Timestamp, Double)]
    val quotes = MemoryStream[(Long, Long, Timestamp, Double)]
    def named(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.toDF("key", s"${a}_id", s"${a}_ts", b)
    val joined = graft.streaming.StreamJoin.intervalJoin(
      named(trades.toDF(), "trade", "qty"), "trade_ts", "1 minute",
      named(quotes.toDF(), "quote", "px"), "quote_ts", "1 minute",
      "key", horizonSec = 600)
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      quotes.addData(quoteData: _*)
      trades.addData(tradeData: _*)
      q.processAllAvailable()

      val streamed = spark.table("ss_join")
        .select("key", "trade_id", "quote_id", "px")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed === Set(
        (1L, 100L, 900L, 101.0),
        (1L, 101L, 901L, 102.0),
        (2L, 102L, 903L, 104.0)))

      // the same operator on batch frames computes the same pairs
      val batch = graft.streaming.StreamJoin.intervalJoin(
          named(tradeData.toDF("_1", "_2", "_3", "_4"), "trade", "qty"),
          "trade_ts", "1 minute",
          named(quoteData.toDF("_1", "_2", "_3", "_4"), "quote", "px"),
          "quote_ts", "1 minute",
          "key", horizonSec = 600)
        .select("key", "trade_id", "quote_id", "px")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(batch === streamed)
    } finally q.stop()
  }

  test("streaming funnel state machine matches batch first-touch stages, demotions included") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    def k(n: Int): String = f"$n%020d.0"
    // (user, step, k): user 1 walks the full funnel across two batches;
    // user 2's view precedes their signup (first-touch order broken ->
    // stage caps at 1); user 3 reaches stage 2, then a LATE earlier
    // view re-orders the first touches and demotes them to stage 1.
    val batch1 = Seq(
      (1L, 1, k(10)), (1L, 2, k(20)),
      (2L, 2, k(10)), (2L, 1, k(20)),
      (3L, 1, k(10)), (3L, 2, k(20)))
    val batch2 = Seq(
      (1L, 3, k(30)), (1L, 4, k(40)),
      (3L, 2, k(5))) // late data, before user 3's signup

    val in = MemoryStream[(Long, Int, String)]
    val q = FunnelStream.stageChanges(
        in.toDF().toDF("user_id", "step", "k"))
      .writeStream.format("memory").queryName("funnel_changes")
      .outputMode("append").start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()

      val changes = spark.table("funnel_changes")
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      // change log: every stage transition, at the event that caused
      // it, versioned per user (the demotion's at_k is OLDER than the
      // stage-2 row it supersedes — change_seq is what orders the log)
      assert(changes.toSet === Set(
        (1L, 1, k(10), 1), (1L, 2, k(20), 2), (1L, 3, k(30), 3), (1L, 4, k(40), 4),
        (2L, 1, k(20), 1),
        (3L, 1, k(10), 1), (3L, 2, k(20), 2), (3L, 1, k(5), 3))) // the demotion
      // latest-wins on change_seq = current stage (the CDC convention)
      val finalStages = changes.groupBy(_._1).map { case (u, cs) =>
        u -> cs.maxBy(_._4)._2
      }

      // batch truth: a22_funnel's first-touch construction on ALL events
      val all = (batch1 ++ batch2).toDF("user_id", "step", "k")
      def t(i: Int) = min(when(col("step") === i, col("k"))).as(s"t$i")
      val batchStages = all.groupBy(col("user_id"))
        .agg(t(1), t(2), t(3), t(4))
        .select(col("user_id"),
          when(col("t1") < col("t2") && col("t2") < col("t3") && col("t3") < col("t4"), 4)
            .when(col("t1") < col("t2") && col("t2") < col("t3"), 3)
            .when(col("t1") < col("t2"), 2)
            .when(col("t1").isNotNull, 1)
            .otherwise(0).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(finalStages === batchStages)
    } finally q.stop()
  }

  test("funnel stream = batch over randomized event logs and batch splits") {
    // the scenario test above pins one hand-built case; this drives the
    // operator with random event logs arriving in random order across
    // random micro-batch splits — late data and demotions arise
    // naturally — and asserts the CDC-log's latest state per user
    // always equals the batch first-touch computation. Fixed seed:
    // reproducible like every randomized differential in this suite.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rnd = new scala.util.Random(20260814L)

    for (trial <- 1 to 5) {
      val events = (for {
        u <- 1L to 3L
        i <- 1 to (8 + rnd.nextInt(12))
      } yield {
        val t = rnd.nextInt(100000)
        (u, 1 + rnd.nextInt(4), f"$t%020d.$u%03d$i%09d")
      }).toVector
      val arrival = rnd.shuffle(events)
      val nBatches = 1 + rnd.nextInt(3)
      val batches = arrival.grouped(
        math.max(1, arrival.size / nBatches + 1)).toSeq

      val in = MemoryStream[(Long, Int, String)]
      val sink = s"funnel_prop_$trial"
      val q = FunnelStream.stageChanges(
          in.toDF().toDF("user_id", "step", "k"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val changes = spark.table(sink)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
        val streamed = changes.groupBy(_._1).map { case (u, cs) =>
          u -> cs.maxBy(_._3)._2
        }
        def t(i: Int) = min(when(col("step") === i, col("k"))).as(s"t$i")
        val batchStages = events.toDF("user_id", "step", "k")
          .groupBy(col("user_id"))
          .agg(t(1), t(2), t(3), t(4))
          .select(col("user_id"),
            when(col("t1") < col("t2") && col("t2") < col("t3") && col("t3") < col("t4"), 4)
              .when(col("t1") < col("t2") && col("t2") < col("t3"), 3)
              .when(col("t1") < col("t2"), 2)
              .when(col("t1").isNotNull, 1)
              .otherwise(0).as("stage"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        // a user emits no change rows iff they never reach stage 1
        assert(streamed === batchStages.filter(_._2 > 0),
          s"trial $trial: arrival=$arrival batches=${batches.map(_.size)}")
      } finally q.stop()
    }
  }

  test("streaming windowed distinct-user counts match batch dedup-then-count") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val in = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.StreamUniques.uniquesPerWindow(
        in.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("uniq_win")
      .outputMode("append").start()
    try {
      // window 10:00-10:15: users 1 (twice - must count once), 2;
      // window 10:15-10:30: users 1, 3
      val batch = Seq(
        (1L, ts("2024-01-15 10:01:00")),
        (1L, ts("2024-01-15 10:07:00")),
        (2L, ts("2024-01-15 10:14:00")),
        (1L, ts("2024-01-15 10:16:00")),
        (3L, ts("2024-01-15 10:29:00")))
      in.addData(batch: _*)
      q.processAllAvailable()
      assert(spark.table("uniq_win").count() === 0) // nothing closed yet

      // 11:10 pushes the watermark (30 min) past 10:30 - both close
      in.addData((9L, ts("2024-01-15 11:10:00")))
      q.processAllAvailable()
      val streamed = spark.table("uniq_win")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toSet
      assert(streamed === Set(
        ("2024-01-15 10:00:00.0", 2L),
        ("2024-01-15 10:15:00.0", 2L)))

      // batch spelling of the same windows over the same events,
      // restricted to the windows the watermark closed
      val batchCounts: Set[(String, Long)] = batch.toDF("user_id", "ts")
        .select(col("user_id"), window(col("ts"), "15 minutes").as("w"))
        .distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .select(col("w.start").as("start"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1)))
        .filter(_._1 < "2024-01-15 10:30").toSet
      assert(batchCounts === streamed)
    } finally q.stop()
  }

  test("debounce stream = batch on in-order feeds over random logs and batch splits") {
    // the chained cool-down is order-sensitive; for feeds in event-time
    // order across batches (compacted log replay) the streamed kept set
    // must equal ops/Debounce exactly — keep_seq included. Random gap,
    // random per-key logs, random batch boundaries, fixed seed.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rnd = new scala.util.Random(77L)

    for (trial <- 1 to 4) {
      val gap = 20L + rnd.nextInt(60)
      val events = (for {
        k <- 1L to 4L
        i <- 1 to (10 + rnd.nextInt(20))
      } yield (k, rnd.nextInt(1000).toLong, (k * 1000 + i).toLong))
        .sortBy(e => (e._2, e._3)) // in event-time order across batches
      val nBatches = 1 + rnd.nextInt(4)
      val batches = events.grouped(
        math.max(1, events.size / nBatches + 1)).toSeq

      val in = MemoryStream[(Long, Long, Long)]
      val sink = s"debounce_prop_$trial"
      val q = graft.streaming.StreamDebounce.kept(
          in.toDF().toDF("k", "ep", "id"), gap)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val streamed = spark.table(sink)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        val batch = graft.ops.Debounce.debounce(
            events.toDF("k", "ep", "id"), "k", "ep", "id", gap)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        assert(streamed === batch, s"trial=$trial gap=$gap")
      } finally q.stop()
    }
  }

  test("anomaly stream = batch trailing-window z-scores on in-order feeds") {
    // same moments, same fixed z expression: streamed anomalies must
    // equal the batch ROWS-frame computation bit-for-bit (z included)
    // when events arrive in event-time order across batch splits
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rnd = new scala.util.Random(99L)

    for (trial <- 1 to 3) {
      val events = (for {
        k <- 1L to 3L
        i <- 1 to 80
      } yield {
        // mostly tame values with occasional spikes so anomalies exist
        val v = if (rnd.nextInt(12) == 0) 500.0 + rnd.nextInt(100)
        else 50.0 + rnd.nextInt(10)
        (k, i.toLong * 10, k * 10000 + i, math.round(v * 100) / 100.0)
      }).sortBy(e => (e._2, e._3))
      val batches = events.grouped(
        math.max(1, events.size / (1 + rnd.nextInt(3)) + 1)).toSeq

      val in = MemoryStream[(Long, Long, Long, Double)]
      val sink = s"anomaly_prop_$trial"
      val q = graft.streaming.StreamAnomaly.anomalies(
          in.toDF().toDF("k", "ep", "id", "value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val streamed = spark.table(sink)
          .select("k", "id", "z").as[(Long, Long, Double)].collect().toSet

        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("ep"), col("id")).rowsBetween(-20, -1)
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val batch = events.toDF("k", "ep", "id", "value")
          .withColumn("n", count(col("value")).over(w))
          .withColumn("sx", sum(col("value").cast(dec)).over(w).cast("double"))
          .withColumn("sx2", sum(col("value").cast(dec) * col("value").cast(dec))
            .over(w).cast("double"))
          .filter(col("n") >= 8)
          .withColumn("mean_prior", expr("sx / n"))
          .withColumn("std_prior", expr("sqrt((sx2 - sx * sx / n) / (n - 1))"))
          .filter(col("std_prior") > 0)
          .withColumn("z", expr("(value - mean_prior) / std_prior"))
          .filter(abs(col("z")) > 3)
          .select("k", "id", "z").as[(Long, Long, Double)].collect().toSet
        assert(streamed === batch, s"trial=$trial")
        assert(batch.nonEmpty, s"trial=$trial produced no anomalies — weak fixture")
      } finally q.stop()
    }
  }

  test("stream-maintained MG summaries + recount == batch heavy hitters under random batch splits") {
    // StreamHeavyHitters' exactness argument, driven adversarially: a
    // skewed key stream (hot keys + an open uniform tail) arrives in
    // random order across random micro-batch splits; the per-window MG
    // state folds across batches, and the candidate-filtered recount +
    // claim filter must equal the direct batch computation EXACTLY —
    // the MG guarantee is order- and batching-independent even though
    // the summary contents are not. Fixed seed, like every randomized
    // differential in this suite.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rnd = new scala.util.Random(20260816L)
    val m = 16
    for (trial <- 1 to 4) {
      val pairs = (for {
        w <- 0L to 1L
        _ <- 1 to 400
      } yield {
        val key = if (rnd.nextInt(10) < 4) s"hot_${rnd.nextInt(3)}"
                  else s"tail_${rnd.nextInt(200)}"
        (w, key)
      }).toVector
      val arrival = rnd.shuffle(pairs)
      val nBatches = 1 + rnd.nextInt(4)
      val batches = arrival.grouped(
        math.max(1, arrival.size / nBatches + 1)).toSeq

      val in = MemoryStream[(Long, String)]
      val sink = s"shh_prop_$trial"
      val q = graft.streaming.StreamHeavyHitters
        .summaries(in.toDF().toDF("w", "pair"), m)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val emitted = spark.table(sink).localCheckpoint(true)
        val byW = org.apache.spark.sql.expressions.Window.partitionBy(col("w"))
        val fin = emitted
          .withColumn("maxg", max(col("gen")).over(byW))
          .filter(col("gen") === col("maxg")).drop("maxg")
        val totals = fin.groupBy(col("w")).agg(max(col("total")).as("total"))
        val cand = fin.filter(col("pair").isNotNull).select(col("w"), col("pair"))
        val bi = pairs.toDF("w", "pair")
        val streamed = bi.join(cand, Seq("w", "pair"))
          .groupBy(col("w"), col("pair")).agg(count(lit(1)).as("cnt"))
          .join(totals, Seq("w"))
          .filter(col("cnt") * (m + 1L) > col("total"))
          .select("w", "pair", "cnt")
        val tot = bi.groupBy("w").agg(count(lit(1)).as("total"))
        val direct = bi.groupBy(col("w"), col("pair")).agg(count(lit(1)).as("cnt"))
          .join(tot, Seq("w"))
          .filter(col("cnt") * (m + 1L) > col("total"))
          .select("w", "pair", "cnt")
        assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
          s"trial $trial: streamed heavy hitters diverge from batch")
        // the per-window state stayed m-bounded: no generation ever
        // carried more than m candidate rows
        val maxCand = emitted.filter(col("pair").isNotNull)
          .groupBy(col("w"), col("gen")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).head().getLong(0)
        assert(maxCand <= m, s"trial $trial: state exceeded m ($maxCand > $m)")
        assert(direct.count() > 0, s"trial $trial: degenerate guarantee set")
      } finally q.stop()
    }
  }
}
