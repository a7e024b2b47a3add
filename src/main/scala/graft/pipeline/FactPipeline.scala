package graft.pipeline

import graft.io.{Compaction, Layout, MergeWriter, TxTable}
import graft.ops.{GoldModel, Interpolate, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** The reference's primary hourly pipeline (SURVEY.md §3.1,
  * /root/reference/dags/etl/fact_gold_price.py) as ONE driver program:
  * extract/normalize → keyed upsert → densify+interpolate → validation
  * gates → window replacement, sequenced on a single SparkSession with plain
  * DataFrame hand-offs — where the reference crosses a process or
  * serialization boundary between every task (scheduler → worker →
  * Postgres → XCom), this crosses only shuffle exchanges.
  *
  * Deviations by design:
  *  - the INTERPOLATED table is written by WINDOW REPLACEMENT
  *    (MergeWriter.replaceWindow): the recomputed hour supersedes the
  *    previous run's whole hour slice, so replay is idempotent AND
  *    late data retracts stale generated rows (a minute that gains a
  *    real tick stops being interpolated). The reference appends blind
  *    (fact_gold_price.py:354-368) and duplicates on replay; a keyed
  *    merge would need a synthetic key (collapsing two ticks in one
  *    second) and would still leave the stale-row case;
  *  - "now" is the (dateId, hour) parameter pair, never the wall clock
  *    (§7.4 determinism note), and the merge version is an explicit
  *    `runVersion` — replays with a higher version win, equal versions
  *    tie-break deterministically (Merge.upsertLatestWins);
  *  - the gates run BEFORE the interpolated window publishes
  *    (write-audit-publish): the densified hour is materialized once,
  *    audited, and only then replaces its window, so a failing hour
  *    leaves the interpolated table at its prior version with the prior
  *    window readable, where validating after the write would leave a
  *    bad hour visible to readers until a replay replaced it.
  *
  * The success/failure hooks are the Airflow TriggerRule analog
  * (ALL_SUCCESS → notify success, ONE_FAILED → notify failure,
  * fact_gold_price.py:509-527): both sinks (Telegram there) are out of
  * engine scope, so they surface here as callbacks on the Try.
  */
object FactPipeline {

  /** What a successful hour run observed (the reference logs the same
    * counters from its validation task). */
  case class HourRun(
      dateId: Int, hour: Int, extracted: Long, densifiedRows: Long,
      gridMinutes: Long)

  /** Run one closed hour end-to-end.
    *
    * @param events       raw tick source (events-shaped)
    * @param warehouseDir parquet warehouse root (fact + interpolated
    *                     tables live under it, partitioned by date_id)
    * @param dateId       processing date, Tehran wall-clock YYYYMMDD
    * @param hour         closed hour 0–23 (Tehran)
    * @param runVersion   merge priority for replays (e.g. attempt no.)
    * @param layout       physical layout applied to BOTH table writes
    *                     (sorted row groups / blooms / group size —
    *                     graft.io.Layout); default writes as before
    * @param compactTargetBytes when set, run small-file compaction on
    *                     the interpolated table after the write — the
    *                     legacy path's hourly cadence accumulates a few
    *                     files per run, so steady state without it is
    *                     thousands of small files per hot partition. In
    *                     transactional mode an hour's commit is small,
    *                     so it already stages its date leaf as ONE file
    *                     (TxTable.writeLaidOut) and the fold normally
    *                     finds nothing to do and publishes no version;
    *                     it only acts on a leaf a large or
    *                     coalescing-off commit fragmented, and then
    *                     re-applies `layout`, so sorted row groups and
    *                     blooms survive compaction. The legacy path
    *                     rewrites leaves via concatenation (per-file
    *                     sort order coarsens to per-run runs —
    *                     recluster with SortedWriter in a maintenance
    *                     window there)
    * @param vacuumRetainVersions transactional mode only: after the
    *                     hour lands, run TxTable.vacuum on both tables
    *                     keeping this many versions readable — the
    *                     steady-state retention maintenance an hourly
    *                     cadence needs (24 commits/day/table would
    *                     otherwise accumulate forever). The one-hour
    *                     grace period leaves any concurrent writer's
    *                     staging alone; readers of retained versions
    *                     are safe by construction
    * @param transactional run both tables as TxTables (io/TxTable):
    *                     every write is a CAS-committed manifest
    *                     version, so a concurrent backfill or a second
    *                     hourly run cannot clobber this one, readers
    *                     never see a torn hour, and the run history is
    *                     time-travelable. Same merge/replace semantics,
    *                     same HourRun counters; small-file folding
    *                     rides TxTable.compactFiles. Default off — the
    *                     single-writer layout reads with any plain
    *                     parquet tool, the TxTable layout needs the
    *                     manifest-aware snapshot read
    */
  def runHour(
      spark: SparkSession, events: DataFrame, warehouseDir: String,
      dateId: Int, hour: Int, runVersion: Long,
      onSuccess: HourRun => Unit = _ => (),
      onFailure: Throwable => Unit = _ => (),
      layout: Layout = Layout.none,
      compactTargetBytes: Option[Long] = None,
      transactional: Boolean = false,
      vacuumRetainVersions: Option[Int] = None): Try[HourRun] = {
    val result = Try {
      // extract + normalize + key derivation (S1: P1/P2/P3), the closed
      // hour only — on a date-partitioned lake the predicate prunes to
      // one partition's hour slice
      val hourFacts = GoldModel.fact(events)
        .filter(col("date_id") === dateId &&
          floor(col("time_id") / 10000) === hour)
        .withColumn("etl_version", lit(runVersion))

      // S5: keyed latest-wins upsert into the raw fact — replay-safe.
      // The transactional upsert counts the batch in its one pass
      val factDir = s"$warehouseDir/fact_gold_price"
      val extracted =
        if (transactional)
          TxTable.upsert(spark, factDir, hourFacts,
            key = "id", version = "etl_version", partitionCol = "date_id",
            layout = layout.restrictedTo(hourFacts.columns.toSeq))
        else {
          val n = hourFacts.count()
          MergeWriter.upsertPartitioned(spark, factDir, hourFacts,
            key = "id", version = "etl_version", partitionCol = "date_id",
            layout = layout.restrictedTo(hourFacts.columns.toSeq))
          n
        }

      // T1–T3: read-back the hour (read-your-writes, like the
      // reference's interpolation task re-selecting from the warehouse),
      // densify + interpolate. Transactional read-back is PARTITION-
      // PRUNED at the manifest (snapshotPartitions): only this date's
      // leaf opens, matching the legacy path's date_id= directory
      // pruning instead of planning over every leaf in the table.
      val factTable =
        if (transactional)
          TxTable.snapshotPartitions(spark, factDir, Seq(lit(dateId))).get
        else spark.read.parquet(factDir)
      val t1 = factTable
        .filter(col("date_id") === dateId &&
          floor(col("time_id") / 10000) === hour)
        .drop("etl_version")
        .withColumn("rounded_time_id", GoldModel.roundedTimeId(col("time_id")))
        .withColumn("is_interpolated", lit(false))
      // materialized once, by the gate's own pass (a lazy checkpoint):
      // the gate audits and the window write stages the same rows
      val densified = Interpolate.densify(t1).localCheckpoint(eager = false)

      // §2.12 gates BEFORE publishing (class doc): one action, the
      // hour's own grid is the completeness target
      val profile = Validation.windowGate(densified)

      // S6/S7 as hour-window replacement instead of blind appends (see
      // class doc): the recomputed hour replaces its previous slice
      val interpDir = s"$warehouseDir/fact_gold_price_interpolated"
      val hourWindow = col("date_id") === dateId &&
        floor(col("rounded_time_id") / 10000) === hour
      if (transactional) {
        TxTable.replaceWindow(spark, interpDir, densified,
          partitionCol = "date_id", windowPred = hourWindow,
          layout = layout.restrictedTo(densified.columns.toSeq))
        // same byte-threshold semantics as the legacy Compaction.compact
        // path: the target decides which leaves are fragmented enough
        // to fold (TxTable.compactSmallFiles), not a fixed file count —
        // normally none, the hour's leaf having staged as one file.
        // The fold restates the table's layout — a compaction that
        // dropped it would silently un-sort the row groups the write
        // just laid down
        compactTargetBytes.foreach(t =>
          TxTable.compactSmallFiles(spark, interpDir, "date_id", t,
            layout = layout.restrictedTo(densified.columns.toSeq)))
      } else {
        MergeWriter.replaceWindow(spark, interpDir, densified,
          partitionCol = "date_id", windowPred = hourWindow,
          layout = layout.restrictedTo(densified.columns.toSeq))
        compactTargetBytes.foreach(t => Compaction.compact(spark, interpDir, t))
      }
      val run = HourRun(dateId, hour, extracted, profile.nRows, profile.nMinutes)

      // retention maintenance AFTER the gates: a failed hour never
      // triggers reclamation of the state it might need to re-read
      if (transactional) vacuumRetainVersions.foreach { n =>
        val grace = 3600L * 1000
        TxTable.vacuum(spark, factDir, retainVersions = n, graceMs = grace)
        TxTable.vacuum(spark, interpDir, retainVersions = n, graceMs = grace)
      }
      run
    }
    result match {
      case Success(r) => onSuccess(r)
      case Failure(e) => onFailure(e)
    }
    result
  }
}
