package graft.streaming

import graft.io.TxTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Streaming upserts into a [[graft.io.TxTable]] — each micro-batch
  * lands as ONE transactional commit.
  *
  * What each layer contributes:
  *  - the TxTable CAS makes the stream safe to run CONCURRENTLY with
  *    other writers (a batch backfill, a second stream on disjoint or
  *    even overlapping partitions): commits serialize
  *    first-committer-wins and losers re-merge, so nobody clobbers
  *    anybody (TxTable's injected-race and live-contention specs);
  *  - the keyed latest-wins merge makes micro-batch REPLAY idempotent:
  *    under at-least-once delivery a recovered batch re-upserts the
  *    same (key, version) rows, which the merge collapses to the same
  *    state — no batch-id bookkeeping needed, unlike the append-log
  *    sink ([[IncrementalStream]]) whose partials are not keyed;
  *  - snapshot reads see each commit atomically — a reader never
  *    observes half a micro-batch.
  *
  * Upsert-shaped streams (CDC apply, dimension maintenance, "current
  * state by key" serving tables) want THIS sink; additive
  * aggregate-state streams want IncrementalStream's partial log.
  * [[TxTable.vacuum]] is a maintenance-window operation — pause the
  * stream for it (its scaladoc explains why).
  */
object TxStreamSink {

  /** @param events       streaming DataFrame of upsert rows
    * @param targetDir    TxTable root
    * @param key          conflict key (latest wins)
    * @param version      priority column within a key
    * @param partitionCol table partition column
    * @param layout       physical layout applied to every micro-batch
    *                     commit (graft.io.Layout) — a stream feeding a
    *                     Z-ordered/bloomed table must restate the
    *                     table's layout here or its commits would
    *                     land unsorted leaves and the table's zone-map
    *                     skipping decays with every batch */
  def sink(
      events: DataFrame, targetDir: String,
      key: String, version: String, partitionCol: graft.io.PartitionSpec,
      layout: graft.io.Layout = graft.io.Layout.none): DataStreamWriter[Row] =
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TxTable.upsert(batch.sparkSession, targetDir, batch,
          key, version, partitionCol, layout = layout): Unit
      }
}
