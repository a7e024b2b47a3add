package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming formulation of the reference's scheduled
  * micro-batch semantics (SURVEY.md §2.10).
  *
  * The reference approximates streaming with an hourly cron: process the
  * last CLOSED hour 35 minutes past the hour
  * (/root/reference/dags/etl/fact_gold_price.py:35, :64-66), with keyed
  * upsert making replays idempotent (:171-179). The exact Spark
  * equivalents:
  *
  *  - cron "35 * * * *" over the closed hour  →  1-hour tumbling
  *    `window($"created_at", "1 hour")` — a window closes when the
  *    watermark passes its end;
  *  - the 35-minute processing cushion        →  `withWatermark("35
  *    minutes")` — late ticks inside the cushion still land in their
  *    hour; later ones are dropped, which the reference equally never
  *    re-processes (catchup=False, fact_gold_price.py:36);
  *  - ON CONFLICT(id) DO UPDATE               →  [[TxStreamSink]]: each
  *    micro-batch lands as one keyed TxTable upsert commit — replay of a
  *    micro-batch overwrites instead of duplicating.
  *
  * Scale: state is one row per (source, side, hour) per watermark
  * horizon — bounded regardless of tick volume; the merge shuffles on
  * the tick id exactly like the batch path.
  */
object HourlyMicroBatch {

  /** Tick-shaped streaming input → per (source, side, closed hour)
    * aggregates: tick count, exact decimal mean price, min/max.
    * Append mode: a row emits exactly once, when its hour closes. */
  def hourlyAggregates(ticks: DataFrame): DataFrame =
    ticks
      .withWatermark("created_at", "35 minutes")
      .groupBy(
        window(col("created_at"), "1 hour").as("hour"),
        col("source"), col("side"))
      .agg(
        count(lit(1)).as("n_ticks"),
        (sum(col("price").cast("decimal(18,2)")).cast("double") /
          count(col("price"))).as("avg_price"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))
      .select(
        col("hour.start").as("hour_start"),
        col("source"), col("side"),
        col("n_ticks"), col("avg_price"), col("min_price"), col("max_price"))
}
