package graft

import java.nio.file.Files

import graft.io.TxTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The commit-log-native streaming source (io/TxStreamSource, reached
  * as `spark.readStream.format("graft-tx")`): offsets are commit
  * versions, each micro-batch is the stamped union of per-commit diffs,
  * the checkpoint carries the cursor across restarts, and the whole
  * thing needs no second copy of the change data.
  */
class TxStreamSourceSpec extends SparkTestBase {

  private def freshTable(): String =
    Files.createTempDirectory("graft_txss").toString + "/t"

  private def commit(target: String, rows: Seq[(Long, Double, Long, Int)]): Unit = {
    val s = spark
    import s.implicits._
    TxTable.upsert(spark, target,
      rows.toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
  }

  private def feed(dir: String, extraOpts: Map[String, String] = Map.empty) = {
    val r = spark.readStream.format("graft-tx").option("key", "id")
    extraOpts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(dir)
  }

  test("readStream.format(graft-tx) replays the full feed: inserts, updates, deletes, stamped by version") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(target, Seq((1L, 1.5, 2L, 20240101)))                  // update
    TxTable.delete(spark, target,
      { val s = spark; import s.implicits._
        Seq((2L, 20240102)).toDF("id", "date_id") }, "id", "date_id")

    val name = "txss_replay"
    val q = feed(target)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name)
      .select("_commit_version", "change_type", "id", "price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === Set(
      (1L, "insert", 1L, 1.0), (1L, "insert", 2L, 2.0),
      (2L, "update", 1L, 1.5),
      (3L, "delete", 2L, 2.0)))
  }

  test("the checkpoint carries the cursor: a restarted stream emits only commits past it") {
    val target = freshTable()
    val base = Files.createTempDirectory("graft_txss_ck").toString
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    commit(target, Seq((2L, 2.0, 2L, 20240102)))
    def runOnce(): Unit = {
      val q = feed(target)
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(sink).count() === 2L)
    // two more commits land while the stream is down
    commit(target, Seq((1L, 1.1, 3L, 20240101)))
    commit(target, Seq((3L, 3.0, 4L, 20240103)))
    runOnce()
    val versions = spark.read.parquet(sink)
      .select("_commit_version").collect().map(_.getLong(0)).toSeq.sorted
    assert(versions === Seq(1L, 2L, 3L, 4L),
      "restart must resume from the checkpointed version, no replays, no gaps")
    // caught up: another restart emits nothing new
    runOnce()
    assert(spark.read.parquet(sink).count() === 4L)
  }

  test("startingVersion skips history; stateful operators compose downstream") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(target, Seq((3L, 3.0, 2L, 20240103)))
    commit(target, Seq((4L, 4.0, 3L, 20240101)))

    val name = "txss_starting"
    // a windowed count over the feed — the stateful composition the
    // driver-loop feed cannot host — grouped by the stamped version
    val q = feed(target, Map("startingVersion" -> "1"))
      .groupBy(col("_commit_version")).count()
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(2L -> 1L, 3L -> 1L),
      "startingVersion=1 must skip the bootstrap commit")
  }

  test("maxCommitsPerTrigger bounds each micro-batch's commit span under AvailableNow") {
    val target = freshTable()
    (1 to 6).foreach(i => commit(target, Seq((i.toLong, i * 1.0, i.toLong, 20240101))))
    val name = "txss_bounded"
    val q = feed(target, Map("maxCommitsPerTrigger" -> "2"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all six commits arrive, in exactly ceil(6/2) = 3 data batches
    assert(spark.table(name).select("_commit_version")
      .collect().map(_.getLong(0)).toSet === (1L to 6L).toSet)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 3,
      s"expected 3 bounded batches, got $dataBatches: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("startingVersion=snapshot opens with the current state, then tails — the post-vacuum bootstrap") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(target, Seq((1L, 1.5, 2L, 20240101)))  // revision
    commit(target, Seq((3L, 3.0, 3L, 20240103)))
    // reclaim the early history: a from-zero replay can no longer
    // resolve versions 1-2, which is exactly the consumer this mode is
    // for (the log-tailing CDC re-bootstrap contract)
    TxTable.vacuum(spark, target, retainVersions = 1, graceMs = 0L)

    val base = Files.createTempDirectory("graft_txss_snap").toString
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    def runAvailableNow(): Unit = {
      val q = feed(target, Map("startingVersion" -> "snapshot"))
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runAvailableNow()
    // the opening batch IS the snapshot: every live row as an insert,
    // stamped with the pinned version (the tip at stream build — vacuum
    // publishes a checkpoint-on-demand commit, so never assert exact
    // version numbers across one)
    val pin = TxTable.latestVersion(spark, target)
    val got = spark.read.parquet(sink)
      .select("_commit_version", "change_type", "id", "price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === Set(
      (pin, "insert", 1L, 1.5), (pin, "insert", 2L, 2.0),
      (pin, "insert", 3L, 3.0)))

    // new commits tail per-commit; the restart does NOT re-emit the
    // snapshot (the checkpointed cursor is past the pin)
    commit(target, Seq((4L, 4.0, 4L, 20240101)))
    runAvailableNow()
    val got2 = spark.read.parquet(sink)
      .select("_commit_version", "change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got2 === got.map(t => (t._1, t._2, t._3)) + ((pin + 1, "insert", 4L)))
  }

  test("maxBytesPerTrigger bounds batches by staged data volume; an over-cap commit still drains alone") {
    val target = freshTable()
    // six commits of similar size: a tiny byte cap admits exactly one
    // commit per batch (admission is accumulate-until-exceeded with an
    // at-least-one floor)
    (1 to 6).foreach(i => commit(target, Seq((i.toLong, i * 1.0, i.toLong, 20240101))))
    val name = "txss_bytes_bounded"
    val q = feed(target, Map("maxBytesPerTrigger" -> "1"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table(name).select("_commit_version")
      .collect().map(_.getLong(0)).toSet === (1L to 6L).toSet)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 6,
      s"expected 6 single-commit batches under a 1-byte cap, got $dataBatches: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    // a generous cap admits everything in one batch; the caps compose
    val name2 = "txss_bytes_loose"
    val q2 = feed(target, Map(
      "maxBytesPerTrigger" -> (64L * 1024 * 1024).toString,
      "maxCommitsPerTrigger" -> "3"))
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table(name2).select("_commit_version")
      .collect().map(_.getLong(0)).toSet === (1L to 6L).toSet)
    val dataBatches2 = q2.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches2 === 2,
      s"expected the commit cap to bound (2 batches), got $dataBatches2")
  }

  test("source-to-sink through public formats only: a graft-tx stream mirrors table A into table B") {
    val a = freshTable()
    val b = freshTable()
    commit(a, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(a, Seq((1L, 1.5, 2L, 20240101)))                  // revision
    commit(a, Seq((3L, 3.0, 3L, 20240103)))
    val ckpt = Files.createTempDirectory("graft_txss_mirror").toString
    def mirrorOnce(): Unit = {
      val q = feed(a)
        .select("id", "price", "etl_seq", "date_id", "_commit_version")
        .writeStream.format("graft-tx")
        .option("key", "id").option("version", "_commit_version")
        .option("partitionColumns", "date_id")
        .option("checkpointLocation", s"$ckpt/c")
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start(b)
      q.awaitTermination()
    }
    mirrorOnce()
    def state(dir: String): Set[(Long, Double)] =
      TxTable.snapshot(spark, dir).get.select("id", "price")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(state(b) === state(a), "mirror diverged after first drain")
    // more commits land; the restarted stream applies only the delta,
    // and a replayed upsert batch stays idempotent through the merge
    commit(a, Seq((2L, 2.5, 4L, 20240102), (4L, 4.0, 4L, 20240101)))
    mirrorOnce()
    assert(state(b) === state(a), "mirror diverged after incremental drain")
    assert(state(b) === Set((1L, 1.5), (2L, 2.5), (3L, 3.0), (4L, 4.0)))
    // B is itself a first-class TxTable: 2 commits, one per micro-batch
    assert(TxTable.latestVersion(spark, b) === 2L)
  }

  test("startingVersion=latest emits only commits landing after the stream starts") {
    val target = freshTable()
    val base = Files.createTempDirectory("graft_txss_latest").toString
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    commit(target, Seq((2L, 2.0, 2L, 20240102)))
    def runAvailableNow(): Set[Long] = {
      val q = feed(target, Map("startingVersion" -> "latest"))
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$base/sink")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val f = new java.io.File(s"$base/sink")
      if (!f.exists() || f.listFiles().forall(!_.getName.endsWith(".parquet")))
        Set.empty
      else spark.read.parquet(s"$base/sink")
        .select("_commit_version").collect().map(_.getLong(0)).toSet
    }
    // history (v1, v2) is skipped: nothing emits
    assert(runAvailableNow() === Set.empty[Long])
    // a NEW commit lands; the restarted stream (same checkpoint, whose
    // WAL already pinned the latest-at-start cursor) emits only it
    commit(target, Seq((3L, 3.0, 3L, 20240103)))
    assert(runAvailableNow() === Set(3L))
  }

  test("the sink accepts .partitionBy as the partitionColumns spelling") {
    val s = spark; import s.implicits._
    val src = freshTable()
    val dst = freshTable()
    commit(src, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    val q = feed(src)
      .select("id", "price", "etl_seq", "date_id", "_commit_version")
      .writeStream.format("graft-tx")
      .option("key", "id").option("version", "_commit_version")
      .partitionBy("date_id")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_txss_pb").toString)
      .outputMode("update").trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination()
    assert(TxTable.partitionColumnsOf(s, dst).contains(Seq("date_id")))
    assert(TxTable.snapshot(s, dst).get.count() === 2L)
  }

  test("tip-relative starting versions are pinned in the checkpoint: a replanned opening batch cannot duplicate") {
    // the recovery hole this guards: batch 0's offset is WAL'd, the
    // stream dies before the batch commits, commits land meanwhile, and
    // the restarted source re-resolves startingVersion=snapshot to the
    // MOVED tip — its replanned opening would carry state beyond the
    // WAL'd end offset, and the incremental batches after it would
    // re-emit those commits. The pin makes the replan deterministic.
    import org.apache.spark.sql.GraftStreamingFrame
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    commit(target, Seq((2L, 2.0, 2L, 20240102)))           // tip = 2
    val meta = Files.createTempDirectory("graft_txss_pin").toString
    val provider = new graft.io.TxDataSource
    val params = Map("path" -> target, "key" -> "id",
      "startingVersion" -> "snapshot")
    val s1 = provider.createSource(spark.sqlContext, meta, None, "graft-tx", params)
    assert(s1.getOffset.map(_.json.trim.toLong) === Some(2L))
    // "the stream dies": a commit lands while it is down
    commit(target, Seq((3L, 3.0, 3L, 20240103)))           // tip = 3
    // recovery constructs a NEW source over the same checkpoint and
    // replans batch 0 against the WAL'd end offset (2)
    val s2 = provider.createSource(spark.sqlContext, meta, None, "graft-tx", params)
    // executing a getBatch frame outside MicroBatchExecution needs the
    // same conf relaxation the engine itself applies to its run session
    val checkFlag = "spark.sql.streaming.unsupportedOperationCheck"
    spark.conf.set(checkFlag, "false")
    try {
      val replanned = GraftStreamingFrame.ofMicroBatch(
        s2.getBatch(None, LongOffset(2)))
      val got = replanned.select("_commit_version", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((2L, 1L), (2L, 2L)),
        "the replanned opening must be the PINNED v2 snapshot — key 3 or a " +
          "v3 stamp means the restart re-resolved the moved tip")
      // and the next incremental batch emits commit 3 exactly once
      val inc = GraftStreamingFrame.ofMicroBatch(
        s2.getBatch(Some(LongOffset(2)), LongOffset(3)))
      assert(inc.select("_commit_version", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((3L, 3L)))
    } finally spark.conf.set(checkFlag, "true")
  }

  test("pinnedStartingVersion: first call resolves and pins; later calls read the pin; a torn pin fails loudly") {
    import graft.io.TxStreamSource
    val meta = Files.createTempDirectory("graft_txss_pinfile").toString
    assert(TxStreamSource.pinnedStartingVersion(spark, s"$meta/sources/0", 7L) === 7L)
    // the durable pin wins over any later resolution
    assert(TxStreamSource.pinnedStartingVersion(spark, s"$meta/sources/0",
      sys.error("must not re-resolve")) === 7L)
    // a damaged pin is refused, never silently re-resolved (written
    // through the Hadoop FS so the checksum sidecar stays consistent)
    val fs = new org.apache.hadoop.fs.Path(meta)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$meta/sources/0/graft-tx-start"), true)
    try out.write("not a version".getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      TxStreamSource.pinnedStartingVersion(spark, s"$meta/sources/0", 9L)
    }
    assert(ex.getMessage.contains("pin"))
  }

  test("non-positive admission caps refuse at source creation instead of stalling the stream") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    val provider = new graft.io.TxDataSource
    def create(opts: (String, String)*) =
      provider.createSource(spark.sqlContext,
        Files.createTempDirectory("graft_txss_caps").toString, None, "graft-tx",
        Map("path" -> target, "key" -> "id") ++ opts)
    intercept[IllegalArgumentException](create("maxBytesPerTrigger" -> "0"))
    intercept[IllegalArgumentException](create("maxCommitsPerTrigger" -> "-1"))
    create("maxBytesPerTrigger" -> "1", "maxCommitsPerTrigger" -> "1") // positive caps fine
  }

  test("a schema-widening commit's columns survive into the stream source") {
    // The pinned stream schema must be the widened one: a stream
    // started after the widening carries the new column from its first
    // batch (pre-widening commits null-padded), and a stream started
    // before it picks the column up on restart — never silently drops
    // it from the widened commit's rows.
    val s = spark
    import s.implicits._
    def widen(target: String): Unit =
      TxTable.upsert(spark, target,
        Seq((2L, 2.0, 2L, 20240101, "hello"))
          .toDF("id", "price", "etl_seq", "date_id", "note"),
        "id", "etl_seq", "date_id")
    def notes(rows: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      rows.select("id", "note").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

    val fresh = freshTable()
    commit(fresh, Seq((1L, 1.0, 1L, 20240101)))
    widen(fresh)
    val src = feed(fresh)
    assert(src.schema.fieldNames.contains("note"),
      s"widened column lost from the stream schema: ${src.schema.fieldNames.toSeq}")
    val name = "txss_widened"
    src.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    assert(notes(spark.table(name)) === Set((1L, null), (2L, "hello")))

    val restarted = freshTable()
    val base = Files.createTempDirectory("graft_txss_wide").toString
    def runOnce(): Unit =
      feed(restarted).writeStream.format("parquet").outputMode("append")
        .option("path", s"$base/sink").option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    commit(restarted, Seq((1L, 1.0, 1L, 20240101)))
    runOnce()
    widen(restarted)
    runOnce()
    val sunk = spark.read.option("mergeSchema", "true").parquet(s"$base/sink")
    assert(notes(sunk) === Set((1L, null), (2L, "hello")))
  }

  test("a never-committed table refuses to pin a stream schema") {
    val dir = freshTable()
    val ex = intercept[IllegalArgumentException] {
      feed(dir).schema
    }
    assert(ex.getMessage.contains("bootstrap"))
  }
}
