package graft.ops

import graft.functions.Param
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship analytical query: which source was
  * cheapest / most expensive, for how long, yesterday
  * (/root/reference/dags/report/cheap_expensive_chart.py:40-84).
  *
  * Shape: interpolated fact ⋈ dims, filter to the report date, average
  * price per (source, minute), dual ROW_NUMBER ranking per minute
  * (ascending = cheap, descending = expensive — W1), then per-source
  * minute counts with a grand-total share window (W2) formatted as a
  * "HH:MM of the day" duration string (F9–F11).
  *
  * Differences by design (SURVEY.md §4.1): the reference executes the
  * whole CTE twice, once per rank direction; we parameterize the rank
  * direction (P8's dynamic column) and — by default — compute the
  * per-minute winner as a sort-free argmin/argmax aggregation instead
  * of ranking windows (see `useWindows` below). Rank ordering gets a
  * deterministic tie-break on source name (the reference inherits
  * Postgres's arbitrary order).
  *
  * Scale: the sources dimension is broadcast; the only shuffles are the
  * per-minute aggregation and the tiny post-aggregate window. The W2
  * grand-total window (single partition) runs on the already-aggregated
  * per-source rows — a few hundred rows no matter how big the fact is.
  */
object Report {

  /** @param densified output of Interpolate.densify (or the raw fact)
    * @param sources   sources dim (id, name, color)
    * @param dateId    report date (dd.yesterday = 1 in the reference)
    * @param rankCol   "cheap" | "expensive" — P8 dynamic predicate
    * @param useWindows true = the reference-literal dual ROW_NUMBER
    *                  window formulation (W1); false (default) = the
    *                  argmin/argmax hash-aggregation rewrite. rank=1 of
    *                  ROW_NUMBER() OVER (PARTITION BY m ORDER BY price,
    *                  source) IS min_by(source, (price, source)) — the
    *                  struct ordering matches the window ordering and is
    *                  unique per row, so the two formulations are
    *                  value-identical (ReportSpec asserts it). The agg
    *                  form needs NO sort: at 1000 sources × 1440 minutes
    *                  the two per-partition window sorts are the
    *                  report's dominant cost, and at lake scale argmax
    *                  is a partial-aggregable one-pass.
    */
  def cheapExpensive(
      densified: DataFrame, sources: DataFrame,
      dateId: Int, rankCol: String, useWindows: Boolean = false): DataFrame = {
    require(rankCol == "cheap" || rankCol == "expensive")

    // aggregate on the two INT keys first, attach dim attributes after:
    // name/color functionally depend on id, so grouping by them only
    // adds per-row string hashing; and joining post-aggregate moves the
    // (broadcast) join off the fact-sized side. The inner join applies
    // the dim filter identically before or after the per-source mean.
    val perMinute = densified
      .filter(col("date_id") === Param(dateId))
      .groupBy(col("source_id"), col("rounded_time_id").as("time_id"))
      .agg((sum(col("price").cast("decimal(28,10)")).cast("double") /
        count(col("price"))).as("price"))
      .join(broadcast(sources), col("source_id") === sources("id"))
      .select(col("id"), col("name").as("source"), col("color"),
        col("time_id"), col("price"))

    val winners =
      if (useWindows) {
        val byMinute = Window.partitionBy(col("time_id"))
        perMinute
          .withColumn("cheap",
            row_number().over(byMinute.orderBy(col("price").asc, col("source").asc)))
          .withColumn("expensive",
            row_number().over(byMinute.orderBy(col("price").desc, col("source").desc)))
          .filter(col(rankCol) === 1)
          .select(col("time_id"), col("source"), col("color"))
      } else {
        val ord = struct(col("price"), col("source"))
        val pick = struct(col("source"), col("color"))
        val agg = if (rankCol == "cheap") min_by(pick, ord) else max_by(pick, ord)
        perMinute
          .groupBy(col("time_id"))
          .agg(agg.as("w"))
          .select(col("time_id"), col("w.source").as("source"),
            col("w.color").as("color"))
      }

    val counted = winners
      .groupBy(col("source"), col("color"))
      .agg(count(col("time_id")).as("minute_count"))

    // share-of-day duration: ROUND(cnt/total, 2)·24 split into HH:MM
    // (cheap_expensive_chart.py:74-78). Computed in pure integer
    // arithmetic — round-half-up(a/b) = (2a+b) div 2b — so the result is
    // bit-identical in any engine (a double `round` here differs between
    // engines on ties):
    //   p2     = round(100·cnt/total)          — the percentage, 2dp
    //   hours  = p2·24/100 = p2·6/25           — floor = hour hand
    //   minute = round((p2·6 mod 25)·60/25)    — = (24·rem + 5) div 10
    // SUM(...) OVER () like the reference. The single-partition window
    // (and its WindowExec warning) is deliberate: `counted` is the
    // post-aggregate per-source table — a few hundred rows at ANY fact
    // size — so one partition is free. The tempting rewrite
    // crossJoin(broadcast(counted.agg(sum))) recomputes the entire
    // report subtree for the broadcast side (16 extra scans measured);
    // a window reuses the rows it already has.
    val total = sum(col("minute_count")).over(Window.partitionBy())
    counted
      .withColumn("_total", total)
      .withColumn("_p2", expr("(200 * minute_count + _total) div (2 * _total)"))
      .withColumn("_h", expr("(_p2 * 6) div 25"))
      .withColumn("_m", expr("((_p2 * 6) % 25 * 24 + 5) div 10"))
      .select(
        col("source"), col("color"), col("minute_count"),
        concat(
          lpad(col("_h").cast("string"), 2, "0"), lit(":"),
          lpad(col("_m").cast("string"), 2, "0")).as("duration"))
      .orderBy(col("minute_count").desc, col("source").asc)
  }
}
