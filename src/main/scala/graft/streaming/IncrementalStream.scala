package graft.streaming

import java.nio.charset.StandardCharsets

import graft.ops.Incremental
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Streaming maintenance of the [[graft.ops.Incremental]] state table —
  * the continuous form of `q:x_incr_agg`'s algebra.
  *
  * Each micro-batch writes its PARTIAL aggregate (count / decimal sum /
  * min / max per key) into a `batch_id=`-partitioned log of the state
  * directory, in dynamic partition-overwrite mode. That choice is what
  * makes the sink replay-idempotent: a recovered/re-run micro-batch
  * rewrites exactly its own partition instead of double-counting — the
  * failure mode that makes naive "read state, add delta, write state"
  * aggregation sinks wrong under at-least-once delivery. Readers merge
  * the partials on read (`merge ∘ state ≡ state ∘ ∪`, the law
  * IncrementalSpec pins), and a maintenance pass can compact old
  * partials into one at any time without changing any answer — the same
  * partial-log + merge-on-read + compaction design a table format's
  * incremental materialized view uses.
  *
  * Scale: per micro-batch the cluster touches delta-sized input and
  * writes key-cardinality-sized partials; no history is ever rescanned
  * and no per-key streaming state store is held (the log IS the state,
  * and it lives on the lake, not in executor memory).
  */
object IncrementalStream {

  /** One micro-batch of the sink: append `batch`'s partial aggregate as
    * partition `batch_id=<id>`, overwriting any previous attempt of the
    * SAME batch. Factored out so replay semantics are directly
    * testable. */
  def applyBatch(
      batch: DataFrame, batchId: Long,
      keys: Seq[String], valueCol: String, stateDir: String): Unit =
    Incremental.state(batch, keys, valueCol)
      .withColumn("batch_id", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite")
      .parquet(stateDir)

  /** The streaming sink: maintain the partial-aggregate log from a
    * stream of fact rows. */
  def stateSink(
      events: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): DataStreamWriter[Row] =
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, keys, valueCol, stateDir)
      }

  /** Merge-on-read: collapse the partial log into current per-key state
    * (finalize for user-facing measures). */
  def readState(
      spark: SparkSession, stateDir: String, keys: Seq[String]): DataFrame =
    Incremental.merge(keys)(spark.read.parquet(stateDir).drop("batch_id"))

  /** Compaction: fold COMMITTED partials into one `batch_id = -1`
    * partition (below any real micro-batch id). Changes no merged
    * answer, bounds the file count; run it like any other maintenance
    * pass.
    *
    * The newest batch in the log is deliberately left OUT of the fold:
    * under at-least-once delivery it is the one batch that may still
    * replay (its sink write can land before the checkpoint commit),
    * and replay-idempotence relies on the replay overwriting a
    * partition that still holds — only — that batch's partial. Every
    * batch below the maximum is provably committed, because batch N
    * only starts after N−1's commit.
    *
    * CRASH-SAFE, partition-scoped swap: the fold is staged into a
    * sibling dot-directory, a `_manifest.tmp` → `_manifest` rename inside
    * staging is the commit point (listing exactly the folded
    * `batch_id=` partitions), and only then are the superseded
    * partition directories deleted and the staged `batch_id=-1` moved
    * in. A crash before the commit leaves the log untouched (the next
    * run discards the unvalidated staging); a crash after it is
    * finished idempotently by the next run's recovery. Live partitions
    * are never rewritten, so a micro-batch that commits WHILE the fold
    * runs lands as a new `batch_id=` partition the manifest doesn't
    * list and is never touched — compact is safe to run concurrently
    * with an active [[stateSink]] stream (the one partition a replay
    * may overwrite, the maximum batch, is excluded from the fold). */
  def compact(
      spark: SparkSession, stateDir: String, keys: Seq[String]): Unit = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    recover(fs, root) // finish/discard any interrupted swap first
    // partition-value inference reads batch_id back as INT — normalize
    val log = spark.read.parquet(stateDir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    // bounded collect: one id per partition directory of the log
    val ids = log.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    if (ids.isEmpty) return
    val maxBatch = ids.max
    val foldIds = ids.filter(_ < maxBatch)
    // nothing beyond a previous fold (and the live batch): no-op
    if (!foldIds.exists(_ >= 0)) return
    val staging = stagingPath(root)
    fs.delete(staging, true)
    Incremental.merge(keys)(
        log.filter(col("batch_id") < maxBatch).drop("batch_id"))
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").parquet(staging.toString)
    // validate the staged fold before committing: exactly one row per
    // key group of the folded partials
    val expected = log.filter(col("batch_id") < maxBatch)
      .select(keys.map(col): _*).distinct().count()
    val staged = spark.read.parquet(staging.toString).count()
    require(staged == expected,
      s"incremental compaction staged $staged rows, expected $expected — aborting swap")
    commitManifest(fs, staging, foldIds.toIndexedSeq)
    recover(fs, root) // the committed swap and its recovery are one path
  }

  private val StagingSuffix = "-compact-staging"
  private val ManifestName = "_manifest"

  /** Sibling dot-directory: invisible to any reader of the log itself
    * and outside it, so the staging write never races the read. */
  private def stagingPath(root: Path): Path =
    new Path(root.getParent, "." + root.getName + StagingSuffix)

  /** Finish or discard an interrupted swap (idempotent; no-op without a
    * staging directory). After the manifest commit the staged fold is
    * authoritative: delete whatever superseded `batch_id=` partitions
    * remain, move the staged `batch_id=-1` in (unless a previous
    * recovery already did), drop staging. Every FileSystem call is
    * checked — an unchecked false here would lose the only copy. */
  private def recover(fs: FileSystem, root: Path): Unit = {
    val staging = stagingPath(root)
    if (!fs.exists(staging)) return
    val manifest = new Path(staging, ManifestName)
    if (!fs.exists(manifest)) {
      // crash before the commit point: log intact, staging unvalidated
      fs.delete(staging, true)
      return
    }
    val foldedIds: Seq[Long] = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.toLong).toList
      finally in.close()
    }
    // superseded real-batch partitions: their content lives in staging
    foldedIds.filter(_ >= 0).foreach { id =>
      val p = new Path(root, s"batch_id=$id")
      if (fs.exists(p))
        require(fs.delete(p, true),
          s"incremental compaction recovery: could not delete superseded $p")
    }
    val stagedPart = new Path(staging, "batch_id=-1")
    if (fs.exists(stagedPart)) {
      // the staged fold supersedes any live batch_id=-1 (the old fold
      // it absorbed); once the staged copy is moved, a re-run takes the
      // else-branch and never touches the live partition again
      val live = new Path(root, "batch_id=-1")
      if (fs.exists(live))
        require(fs.delete(live, true),
          s"incremental compaction recovery: could not delete old fold $live")
      require(fs.rename(stagedPart, live),
        s"incremental compaction recovery: could not move $stagedPart into $root")
    }
    require(fs.delete(staging, true),
      s"incremental compaction recovery: could not remove staging $staging")
  }

  /** Manifest commit: write under a temp name, atomically rename into
    * place — a torn manifest can never be observed. */
  private def commitManifest(
      fs: FileSystem, staging: Path, foldedIds: Seq[Long]): Unit = {
    val tmp = new Path(staging, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(foldedIds.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(staging, ManifestName)),
      s"could not commit incremental compaction manifest in $staging")
  }
}
