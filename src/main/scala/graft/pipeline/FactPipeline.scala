package graft.pipeline

import graft.io.{Layout, TxTable}
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
  * Postgres → XCom), this crosses only shuffle exchanges. Both tables
  * are TxTables (io/TxTable): every write is a CAS-committed manifest
  * version, so a concurrent backfill or a second hourly run cannot
  * clobber this one, readers never see a torn hour, and the run
  * history is time-travelable. The trade: the warehouse directory is
  * no plain parquet tree — readers go through `TxTable.snapshot` or
  * `spark.read.format("graft-tx")`.
  *
  * Deviations by design:
  *  - the INTERPOLATED table is written by WINDOW REPLACEMENT
  *    (TxTable.replaceWindow): the recomputed hour supersedes the
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
    * @param compactTargetBytes when set, run small-file compaction
    *                     (TxTable.compactSmallFiles) on the interpolated
    *                     table after the write. An hour's commit is
    *                     small, so it already stages its date leaf as
    *                     ONE file (TxTable.writeLaidOut) and the fold
    *                     normally finds nothing to do and publishes no
    *                     version; it only acts on a leaf a large or
    *                     coalescing-off commit fragmented, and then
    *                     re-applies `layout`, so sorted row groups and
    *                     blooms survive compaction
    * @param vacuumRetainVersions after the hour lands, run
    *                     TxTable.vacuum on both tables
    *                     keeping this many versions readable — the
    *                     steady-state retention maintenance an hourly
    *                     cadence needs (24 commits/day/table would
    *                     otherwise accumulate forever). The one-hour
    *                     grace period leaves any concurrent writer's
    *                     staging alone; readers of retained versions
    *                     are safe by construction
    * @param transactional must be `true` (the default; `false` throws
    *                     IllegalArgumentException before any write):
    *                     TxTable is the only storage path. Kept only
    *                     because the frozen perfbench harness passes
    *                     it; the next benchmark change drops it
    */
  def runHour(
      spark: SparkSession, events: DataFrame, warehouseDir: String,
      dateId: Int, hour: Int, runVersion: Long,
      onSuccess: HourRun => Unit = _ => (),
      onFailure: Throwable => Unit = _ => (),
      layout: Layout = Layout.none,
      compactTargetBytes: Option[Long] = None,
      transactional: Boolean = true,
      vacuumRetainVersions: Option[Int] = None): Try[HourRun] = {
    require(transactional, "runHour(transactional = false): the hive-layout " +
      "storage path (plain partitioned parquet plus its small-file " +
      "compaction) was removed; TxTable is the only storage")
    val result = Try {
      // extract + normalize + key derivation (S1: P1/P2/P3), the closed
      // hour only — on a date-partitioned lake the predicate prunes to
      // one partition's hour slice
      val hourFacts = GoldModel.fact(events)
        .filter(col("date_id") === dateId &&
          floor(col("time_id") / 10000) === hour)
        .withColumn("etl_version", lit(runVersion))

      // S5: keyed latest-wins upsert into the raw fact — replay-safe.
      // The upsert counts the batch in its one pass
      val factDir = s"$warehouseDir/fact_gold_price"
      val extracted = TxTable.upsert(spark, factDir, hourFacts,
        key = "id", version = "etl_version", partitionCol = "date_id",
        layout = layout.restrictedTo(hourFacts.columns.toSeq))

      // T1–T3: read-back the hour (read-your-writes, like the
      // reference's interpolation task re-selecting from the warehouse),
      // densify + interpolate. The read-back is PARTITION-PRUNED at the
      // manifest (snapshotPartitions): only this date's leaf opens
      // instead of planning over every leaf in the table.
      val t1 = TxTable.snapshotPartitions(spark, factDir, Seq(lit(dateId))).get
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
      TxTable.replaceWindow(spark, interpDir, densified,
        partitionCol = "date_id", windowPred = hourWindow,
        layout = layout.restrictedTo(densified.columns.toSeq))
      // a byte threshold: the target decides which leaves are
      // fragmented enough to fold (TxTable.compactSmallFiles), not a
      // fixed file count — normally none, the hour's leaf having staged
      // as one file. The fold restates the table's layout — a
      // compaction that dropped it would silently un-sort the row
      // groups the write just laid down
      compactTargetBytes.foreach(t =>
        TxTable.compactSmallFiles(spark, interpDir, "date_id", t,
          layout = layout.restrictedTo(densified.columns.toSeq)))
      val run = HourRun(dateId, hour, extracted, profile.nRows, profile.nMinutes)

      // retention maintenance AFTER the gates: a failed hour never
      // triggers reclamation of the state it might need to re-read
      vacuumRetainVersions.foreach { n =>
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
