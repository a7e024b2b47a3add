package graft.io

import org.apache.spark.sql.{DataFrame, GraftStreamingFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `spark.readStream.format("graft-tx")` — the COMMIT-LOG-NATIVE
  * streaming source over a [[TxTable]], one of the two feed shapes:
  * the driver loop ([[graft.streaming.TxChangeFeed]], for
  * applyCdc-style consumers that own their cursor), and this — a
  * genuine Structured Streaming source a plain-Spark consumer reaches
  * with zero graft imports:
  *
  * {{{
  *   spark.readStream.format("graft-tx")
  *     .option("key", "event_id")          // the table's merge key
  *     .option("startingVersion", "0")     // 0 (default) = full replay
  *     .load(dir)
  *     .withWatermark("ts", "35 minutes")  // full stateful surface
  *     .groupBy(window($"ts", "1 day"), $"change_type").count()
  * }}}
  *
  * Offsets ARE commit versions (dense by the CAS construction, so a
  * LongOffset cursor is exact): `getOffset` is the O(1) `_tip` probe,
  * and each micro-batch (start, end] is the union of the per-commit
  * row-level diffs, every row stamped `_commit_version` — no second
  * copy of the change data and no retention verb to operate: replay
  * depth is governed by the table's own [[TxTable.vacuum]] retention,
  * and a checkpoint resuming below the oldest retained version fails
  * loudly in [[TxTable.diff]] (re-bootstrap from a snapshot), the same
  * contract every log-tailing CDC source documents. A consumer that
  * wants the feed as a replayable archive writes it with a plain
  * `writeStream.format("parquet")` and tails that with a file source
  * (the `t21_stream_feed_window` chain).
  *
  * Scale shape: a micro-batch costs the partitions its commits touched
  * (diff's manifest pruning) — never a table scan; an idle poll is one
  * tip probe. Why V1 `Source` and not a V2 `MicroBatchStream`: V1's
  * `getBatch` returns a DataFrame, so the batch can BE the diff's
  * manifest-pruned join plan; V2's `PartitionReader` contract would
  * force this source to re-implement (or driver-collect) that read.
  * The schema is pinned at stream start, like every streaming source:
  * columns a mid-stream widening commit adds surface on restart, not
  * mid-query.
  */
class TxStreamSource(
    spark: SparkSession, path: String, key: String,
    startingVersion: Long,
    maxCommitsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    initialSnapshot: Boolean = false)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  override val schema: StructType = TxStreamSource.feedSchema(spark, path, key)

  /** LongOffset on the live path, SerializedOffset("n") from the
    * checkpoint WAL on restart — both carry the version as json. */
  private def ver(o: Offset): Long = o.json.trim.toLong

  private def tipOffset(tip: Long): OffsetV2 =
    if (tip <= 0L && startingVersion <= 0L) null // V2 contract: null = nothing yet
    else LongOffset(math.max(tip, startingVersion))

  override def getOffset: Option[Offset] = {
    val tip = TxTable.latestVersion(spark, path) // O(1) _tip probe
    if (tip <= 0L && startingVersion <= 0L) None
    else Some(LongOffset(math.max(tip, startingVersion)))
  }

  // ---- Trigger.AvailableNow (admission control) -----------------------
  // pin the endpoint once at query start, then drain batches up to it
  // and stop — without this, the engine falls back to one giant batch
  // and warns. The commit log keeps growing; the pin is what makes the
  // trigger terminate on a live table.

  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(TxTable.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** `maxCommitsPerTrigger` bounds each micro-batch's commit span — a
    * 10k-commit catch-up otherwise plans one union of 10k diffs in a
    * single giant batch (the FileStreamSource maxFilesPerTrigger move).
    * `maxBytesPerTrigger` bounds it by DATA VOLUME instead: commits are
    * admitted in version order until their staged-leaf bytes
    * ([[TxTable.commitBytes]]) exceed the cap — always at least one, so
    * a single commit larger than the cap still drains (the public
    * file-source admission rule). The two caps compose (both apply);
    * the bytes walk costs one leaf listing per ADMITTED commit, never
    * the whole backlog. Under Trigger.AvailableNow the engine keeps
    * draining bounded batches until the pinned endpoint, then stops. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val end = availableNowEnd.getOrElse(TxTable.latestVersion(spark, path))
    // the CHECKPOINT wins once it exists (the Kafka/Delta startingOffsets
    // contract): startingVersion only seeds a fresh stream. The
    // latest/snapshot modes re-resolve startingVersion to the CURRENT
    // tip on restart, so clamping the restored cursor up to it would
    // admit every commit that landed while the stream was down into ONE
    // batch, ignoring the maxCommits/maxBytes pacing (getBatch reads
    // from the true cursor either way — pacing, not loss).
    val from = Option(start).map(o => o.json.trim.toLong)
      .getOrElse(startingVersion)
    val commitBounded = maxCommitsPerTrigger match {
      case None => end
      case Some(m) => math.min(end, from + m)
    }
    val bounded = maxBytesPerTrigger match {
      case None => commitBounded
      case Some(cap) =>
        var v = from
        var bytes = 0L
        while (v < commitBounded && bytes < cap) {
          v += 1
          bytes += TxTable.commitBytes(spark, path, v)
        }
        v
    }
    tipOffset(bounded)
  }

  override def reportLatestOffset(): OffsetV2 =
    tipOffset(TxTable.latestVersion(spark, path))

  /** Conform one commit's diff to the pinned schema: null-pad columns
    * the diff lacks (pre-evolution commits), fix the column order, and
    * drop columns the pinned schema predates (post-start widenings —
    * they surface when the stream restarts, the file-source rule). */
  private def align(d: DataFrame): DataFrame = {
    val padded = schema.fields.foldLeft(d)((acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType)))
    padded.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(ver).getOrElse(startingVersion)
    val toV = ver(end)
    // initial-snapshot bootstrap (startingVersion="snapshot"): the very
    // first batch (no prior offset) opens with the WHOLE state at the
    // pinned version as insert rows — diff(0 → pin) is exactly that and
    // never walks the per-commit chain, so it works where a from-zero
    // replay fails (early history vacuumed) and costs one table read
    // instead of O(commits) diffs. Recovery re-plans the same range
    // deterministically (start is still None for batch 0).
    val opening =
      if (initialSnapshot && start.isEmpty && startingVersion >= 1)
        Seq(align(TxTable.diff(spark, path, 0L, startingVersion, key)
          .withColumn("_commit_version", lit(startingVersion))))
      else Seq.empty
    val incremental =
      if (fromV >= toV) Seq.empty
      else ((fromV + 1) to toV).map { v =>
        align(TxTable.diff(spark, path, v - 1, v, key)
          .withColumn("_commit_version", lit(v)))
      }
    val parts = opening ++ incremental
    val body =
      if (parts.isEmpty) // defensive: an empty range is an empty batch
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      else parts.reduce(_ unionByName _)
    GraftStreamingFrame.ofBatch(body)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `df.writeStream.format("graft-tx")` — the WRITE half of the native
  * streaming seam ([[graft.streaming.TxStreamSink]]'s foreachBatch
  * helper, reachable with zero graft imports): each micro-batch lands
  * as ONE transactional keyed upsert commit, so concurrent writers
  * serialize through the CAS and a reader never observes half a batch.
  * Exactly-once without batch-id bookkeeping: under at-least-once
  * recovery a replayed micro-batch re-upserts the same (key, version)
  * rows and the latest-wins merge collapses them to the same state —
  * the idempotence is in the table's merge algebra, not the sink. */
private[io] class TxFormatSink(
    path: String, key: String, version: String, spec: PartitionSpec)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.Dataset[Row]): Unit = {
    // the engine hands a streaming-tagged frame; batch verbs refuse it —
    // re-wrap over the micro-batch's rows (the ForeachBatchSink move)
    val batch = org.apache.spark.sql.GraftStreamingFrame.ofMicroBatch(data.toDF())
    TxTable.upsert(batch.sparkSession, path, batch, key, version, spec)
  }

  override def toString: String = s"TxFormatSink[$path]"
}

object TxStreamSource {

  /** Durably resolve a tip-relative `startingVersion` ("latest" /
    * "snapshot") EXACTLY ONCE per stream. Without this, every restart
    * re-resolves the current tip (which moves while the stream is
    * down), and a recovery replanning batch 0 after its offset was
    * WAL'd — but before it committed — would open with a snapshot at a
    * NEWER version than the checkpointed end offset, then re-emit the
    * commits in between as incremental batches: duplicated rows,
    * breaking exactly-once recovery. So the FIRST `createSource` for a
    * checkpoint resolves the tip and pins it at
    * `<metadataPath>/graft-tx-start` (the engine hands each source a
    * private, durable slice of the checkpoint — the FileStreamSource
    * metadata-log location); every restart reads the pin back instead
    * of re-resolving. Create-without-overwrite + re-read on loss keeps
    * a racing double-start on one checkpoint consistent; any other
    * write failure propagates — an unpinnable checkpoint could not
    * hold the offset WAL either, and degrading to re-resolution would
    * silently reintroduce the duplicate-emission window. */
  def pinnedStartingVersion(
      spark: SparkSession, metadataPath: String, resolve: => Long): Long = {
    import java.nio.charset.StandardCharsets.UTF_8
    val pin = new org.apache.hadoop.fs.Path(metadataPath, "graft-tx-start")
    val fs = pin.getFileSystem(spark.sessionState.newHadoopConf())
    def read(): Option[Long] =
      if (!fs.exists(pin)) None
      else {
        val in = fs.open(pin)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        // a torn/empty pin is unreadable state, not "no pin": falling
        // through to re-resolve would be the exact bug being fixed
        require(s.nonEmpty && s.forall(_.isDigit),
          s"graft-tx: unreadable startingVersion pin at $pin ('$s') — " +
            "the checkpoint is damaged; delete it to restart the stream")
        Some(s.toLong)
      }
    read().getOrElse {
      val v = resolve
      try {
        fs.mkdirs(pin.getParent)
        val out = fs.create(pin, false)
        try out.write((v.toString + "\n").getBytes(UTF_8)) finally out.close()
        v
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          read().getOrElse(v)
        case _: java.nio.file.FileAlreadyExistsException =>
          read().getOrElse(v)
      }
    }
  }

  /** The feed's pinned schema: the table's diff readout (change_type,
    * key, payload) plus the `_commit_version` stamp. Requires at least
    * the bootstrap commit — a never-committed table has no schema to
    * pin (start the stream after the first write, exactly as a file
    * source needs its directory to exist). */
  def feedSchema(spark: SparkSession, path: String, key: String): StructType = {
    val tip = TxTable.latestVersion(spark, path)
    require(tip >= 1L,
      s"graft-tx streaming: $path holds no committed TxTable yet — " +
        "start the stream after the bootstrap commit")
    // schema-only use of a lazy diff plan (tip-1, tip]: nothing
    // executes. When retention has reclaimed tip-1 (vacuum publishes a
    // checkpoint-on-demand AT the tip, so a fresh table can sit exactly
    // on the floor), derive the identical readout shape from the
    // snapshot instead — change_type + key + payload, all nullable
    // (diff's when/otherwise projections are), + the version stamp.
    val base =
      try TxTable.diff(spark, path, tip - 1, tip, key).schema
      catch {
        case _: IllegalArgumentException =>
          val snap = TxTable.snapshot(spark, path).getOrElse(
            throw new IllegalArgumentException(
              s"graft-tx streaming: $path holds no live rows or readable " +
                "diff to pin a schema from"))
          val fields = snap.schema.fields
          val keyF = fields.find(_.name == key).getOrElse(
            throw new IllegalArgumentException(
              s"graft-tx streaming: key '$key' is not a column of $path"))
          StructType(
            StructField("change_type",
              org.apache.spark.sql.types.StringType, nullable = true) +:
            (keyF +: fields.filterNot(_.name == key).toSeq)
              .map(_.copy(nullable = true)))
      }
    require(!base.fieldNames.contains("_commit_version"),
      "change-feed payload carries reserved column _commit_version — rename it upstream")
    StructType(base.fields :+
      StructField("_commit_version", LongType, nullable = false))
  }
}
