package graft.streaming

import graft.io.TxTable
import graft.ops.Merge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-feed CONSUMERS over a [[graft.io.TxTable]] — the read half of
  * the CDC loop [[TxStreamSink]] opened: the sink lands each
  * micro-batch as one transactional commit; these fold the commits'
  * row-level changes into a mirror table or an in-memory replica, so a
  * downstream copy replays exactly what changed, in commit order, never
  * rescanning the table.
  *
  * Both read [[TxTable.changes]], the one change-range reader the
  * batch `changesFrom` read and the native `graft-tx` stream
  * ([[graft.io.TxStreamSource]]) share, and keep the cursor (a plain
  * version number) in the consumer's hands, which is exactly what a
  * CDC consumer checkpoints anyway.
  *
  * Scale shape: a call costs one commit-log tip probe (no manifest
  * fold — [[TxTable.latestVersion]]) plus the partitions the commits
  * past the cursor touched (diff prunes identical manifest entries
  * before opening a file). Versions are dense (the CAS admits no
  * gaps). The cursor must stay within [[TxTable.vacuum]]'s retention
  * window — resuming from below the oldest retained version throws
  * (re-bootstrap from a snapshot instead), the same contract every
  * log-tailing CDC source documents.
  */
object TxChangeFeed {

  /** `changes` as a CDC log for applyCdc: `change_type` becomes `_op`
    * (`D` for a delete, else `U`) and `_commit_version` becomes `_seq`.
    * A payload column already named `_op` or `_seq` is refused. */
  private def cdcLog(changes: DataFrame): DataFrame = {
    TxTable.requireUnreserved(changes.columns.toSeq, "_op", "_seq")
    changes
      .withColumn("_op", when(col("change_type") === "delete", "D").otherwise("U"))
      .withColumnRenamed("_commit_version", "_seq")
      .drop("change_type")
  }

  /** TABLE-TO-TABLE replication — the capstone the pieces compose to:
    * every source commit past the cursor is applied to a mirror
    * TxTable as ONE transactional commit ([[TxTable.applyCdc]] —
    * upserts and deletes land atomically), so after each commit the
    * mirror's snapshot is row-equal to the source's at that version
    * and mirror readers enjoy the same can't-tear guarantees as source
    * readers. The mirror lags by exactly (source tip − cursor)
    * commits; re-running from a persisted cursor resumes without
    * replays, and replaying a commit anyway is idempotent through the
    * keyed apply. Returns the new cursor.
    *
    * @param partitionCol the MIRROR's partition column — must appear in
    *   the source's payload (same column, typically) */
  def mirror(
      spark: SparkSession, srcDir: String, dstDir: String,
      key: String, partitionCol: graft.io.PartitionSpec,
      fromVersion: Long = 0L): Long = {
    val tip = TxTable.latestVersion(spark, srcDir)
    ((fromVersion + 1) to tip).foreach { v =>
      TxTable.applyCdc(spark, dstDir,
        cdcLog(TxTable.changes(spark, srcDir, key, v - 1, v)),
        key, "_op", "_seq", partitionCol)
    }
    math.max(tip, fromVersion)
  }

  /** Commits folded per applyCdc pass. Each pass's plan is one union
    * of ≤ this many diff subplans — wide enough that a realistic
    * backlog folds in one or two passes, bounded enough that a
    * thousands-of-commits replay cannot build an analyzer-breaking
    * left-deep Union (the per-chunk localCheckpoint re-roots the plan). */
  private val ReplicateChunk = 64

  /** The CDC loop closed in one call: fold the feed into a replica via
    * [[Merge.applyCdc]] (insert/update upsert, delete drops the key) —
    * the downstream "current state by key" table a change consumer
    * maintains. Starts from `base` (a prior replica at `fromVersion`)
    * or empty, shaped like the first chunk's changes. Returns
    * (cursor, replica); the replica equals `TxTable.snapshot` at that
    * version by construction, which is exactly what the t20 oracle
    * pins.
    *
    * Each chunk of ≤ `ReplicateChunk` commits folds in ONE applyCdc
    * pass: with `_seq` = commit version, applyCdc's keyed latest-wins
    * collapse picks each key's highest-version change, which is
    * EXACTLY what folding the commits one at a time produces — a key's
    * last change is an update/insert (payload = its state at that
    * version, untouched afterwards) or a delete (key gone). Catch-up
    * over an N-commit backlog costs one table-sized pass per chunk,
    * not N. */
  def replicate(
      spark: SparkSession, dir: String, key: String,
      fromVersion: Long = 0L, base: Option[DataFrame] = None): (Long, DataFrame) = {
    val tip = TxTable.latestVersion(spark, dir)
    require(tip > fromVersion || base.nonEmpty,
      s"nothing to replicate: no commits after $fromVersion and no base")
    val replica = ((fromVersion + 1) to tip).grouped(ReplicateChunk).foldLeft(base) {
      (acc, chunk) =>
        val log = cdcLog(TxTable.changes(spark, dir, key, chunk.head - 1, chunk.last))
        val target = acc.getOrElse(log.drop("_op", "_seq").limit(0))
        Some(Merge.applyCdc(target, log, key, "_op", "_seq").localCheckpoint(true))
    }
    (math.max(tip, fromVersion), replica.get)
  }
}
