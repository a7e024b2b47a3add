package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The typed reference kernel for `Interpolate.densify`: the literal
  * numpy nearest-2 scan as a groupByKey → flatMapGroups fold (the
  * SURVEY §2.11 UDTF-shaped formulation). InterpolateSpec and
  * InterpolatePropertySpec compare the declarative plan against it. */
object TypedDensify {

  case class FactPoint(
      source_id: Option[Int], side_id: Option[Int], date_id: Int,
      time_id: Int, rounded_time_id: Int, price: Option[Double],
      is_interpolated: Boolean)

  /** Same contract as `Interpolate.densify` but with the per-group
    * interpolation done imperatively inside flatMapGroups, mirroring
    * fact_gold_price.py:307-351 line for line. Per-group memory is
    * bounded by the day's tick count — the same bound the reference
    * relies on ("chunk by date", rebuild_all_time_interpolation.py:67).
    */
  def densify(factRows: DataFrame, gridByDate: Map[Int, Seq[Int]]): DataFrame = {
    val spark = factRows.sparkSession
    import spark.implicits._
    val bGrid = spark.sparkContext.broadcast(gridByDate)

    // canonical 7-column projection (same contract as
    // Interpolate.densify(), which also drops any pass-through columns like the tick id)
    val pts = factRows.select(
      $"source_id", $"side_id", $"date_id", $"time_id", $"rounded_time_id",
      $"price", $"is_interpolated").as[FactPoint]
    val generated = pts
      .groupByKey(p => (p.source_id, p.side_id, p.date_id))
      .flatMapGroups { (key: (Option[Int], Option[Int], Int), it: Iterator[FactPoint]) =>
        val (src, side, dateId) = key
        val rows = it.toArray
        val existing = rows.map(_.rounded_time_id).toSet
        val grid = bGrid.value.getOrElse(dateId, Seq.empty)
        val missing = grid.filterNot(existing.contains)
        if (missing.isEmpty || rows.length < 2) Iterator.empty
        else {
          // exact per-minute mean of the NON-NULL prices, time-sorted —
          // matches densify(); a minute whose every tick is NULL-priced
          // is still a point (it anchors gaps) with mean None
          val actuals = rows
            .groupBy(_.rounded_time_id).toArray
            .map { case (t, rs) =>
              val defined = rs.flatMap(_.price)
              val mean =
                if (defined.isEmpty) None
                else {
                  // HALF_UP to match the declarative path's
                  // decimal(18,2) cast; double division AFTER the exact
                  // decimal sum — the same operation order as the
                  // declarative plan, so results are bit-identical
                  val s = defined.map(p =>
                    BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
                  Some(s.toDouble / defined.length)
                }
              (t, mean)
            }
            .sortBy(_._1)
          if (actuals.length < 1) Iterator.empty
          else missing.iterator.map { m =>
            val byDist = actuals.zipWithIndex
              .sortBy { case ((t, _), i) => (math.abs(t.toLong - m), i) }
            val (t1, p1) = byDist(0)._1
            // NULL endpoints propagate exactly like the declarative
            // plan's arithmetic: flat → p1 (possibly None); two-point →
            // None unless both defined
            val price: Option[Double] =
              if (byDist.length < 2) p1
              else {
                val (t2, p2) = byDist(1)._1
                if (t2 == t1) p1
                else for (a <- p1; b <- p2)
                  yield a + (m - t1) * (b - a) / (t2 - t1)
              }
            FactPoint(src, side, dateId, m, m, price, is_interpolated = true)
          }
        }
      }
    pts.toDF().unionByName(generated.toDF())
  }

  /** Per-date [min,max] minute grids, computed distributed then collected
    * (one tiny row per date) for the typed kernel's broadcast. */
  def gridByDate(factRows: DataFrame): Map[Int, Seq[Int]] = {
    val spark = factRows.sparkSession
    import spark.implicits._
    factRows
      .groupBy($"date_id")
      .agg(min($"rounded_time_id").as("lo"), max($"rounded_time_id").as("hi"))
      .as[(Int, Int, Int)]
      .collect()
      .map { case (d, lo, hi) =>
        def mod(t: Int) = t / 10000 * 60 + t % 10000 / 100
        def tid(m: Int) = m / 60 * 10000 + m % 60 * 100
        d -> (mod(lo) to mod(hi)).map(tid)
      }
      .toMap
  }
}
