package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Runtime data-quality gates (SURVEY.md §2.12): the reference's only
  * correctness assurance is in-pipeline validation —
  * `validate_interpolated_data`
  * (/root/reference/dags/etl/fact_gold_price.py:382-469) and
  * `verify_dim_date_data` (dags/etl/dim_date_etl_dag.py:103-137). The
  * window gate audits an hour's rows already on the driver; the
  * dim_date gate is one aggregate computed distributed and asserted on
  * the driver. A violation throws, which is the Spark-native equivalent
  * of the reference failing the task and routing to its ONE_FAILED
  * alert.
  */
object Validation {

  final case class GateViolation(msg: String) extends RuntimeException(msg)

  /** What [[windowGate]] measured over a densified window. */
  final case class WindowProfile(
      nSources: Long, nSides: Long, nMinutes: Long, nRows: Long)

  /** The densified-window gates (fact_gold_price.py:433-460) over the
    * window's rows, on the driver in one pass and with no Spark job:
    * each (source_id, side_id) group's grid minutes, then the window's
    * grid minutes and row count, the number of groups short of
    * `expectedMinutes` and the NULL/NaN-price total. The verdicts are
    * asserted in order:
    *
    *  - completeness (:433-440), as per-group coverage: the window must
    *    hold `expectedMinutes` grid minutes, and EVERY (source_id,
    *    side_id) group must cover all of them — the reference's
    *    `total == sources × sides × 60` identity made robust to
    *    minutes holding more than one actual tick: a group the
    *    interpolator skipped (<2 actuals) or a group missing grid
    *    minutes fails even when every minute is covered by some other
    *    group;
    *  - null price (:443-460): no NULL or NaN price may survive
    *    densification.
    *
    * `expectedMinutes` defaults to the window's own grid (the distinct
    * non-NULL `rounded_time_id`s), the hourly pipeline's use. A NULL
    * side counts as its own side, like the reference's pandas
    * dropna=False grouping; a NULL source is a group but not a source.
    * Columns are read by name (source_id, side_id, rounded_time_id,
    * price), so the rows carry a schema, as collected rows and
    * `Interpolate.densifyHour`'s do. Returns the profile it checked. */
  def windowGate(
      rows: Seq[Row], expectedMinutes: Option[Long] = None): WindowProfile = {
    val minutesOf = mutable.HashMap.empty[(Any, Any), mutable.HashSet[Int]]
    val gridMinutes = mutable.HashSet.empty[Int]
    var bad = 0L
    rows.headOption.foreach { first =>
      val Seq(src, side, minute, price) =
        Seq("source_id", "side_id", "rounded_time_id", "price").map(first.fieldIndex)
      rows.foreach { r =>
        val seen = minutesOf.getOrElseUpdate((r.get(src), r.get(side)), mutable.HashSet.empty)
        if (!r.isNullAt(minute)) { seen += r.getInt(minute); gridMinutes += r.getInt(minute) }
        if (r.isNullAt(price) || r.getDouble(price).isNaN) bad += 1
      }
    }
    val groups = minutesOf.keys
    val profile = WindowProfile(
      groups.flatMap(g => Option(g._1)).toSet.size.toLong,
      groups.map(_._2).toSet.size.toLong,
      gridMinutes.size.toLong, rows.size.toLong)
    val want = expectedMinutes.getOrElse(profile.nMinutes)
    val short = minutesOf.values.count(_.size < want)
    if (profile.nMinutes < want)
      throw GateViolation(
        s"completeness: ${profile.nMinutes} of $want grid minutes present")
    if (short > 0)
      throw GateViolation(
        s"completeness: $short source×side groups cover fewer than " +
          s"$want grid minutes")
    if (bad > 0) throw GateViolation(s"null/NaN prices: $bad rows")
    profile
  }

  /** dim_date integrity gates (dim_date_etl_dag.py:113-128): non-empty
    * (fatal like the reference), no NULL date_string, dates inside the
    * sanity range, exactly one `today`. */
  def dimDateGate(dimDate: DataFrame): Unit = {
    val r = dimDate.agg(
      count(lit(1)).as("n"),
      sum(when(col("date_string").isNull, 1).otherwise(0)).as("null_ds"),
      sum(when(to_date(col("date_string")) < lit("1900-01-01").cast("date") ||
        to_date(col("date_string")) > lit("2100-12-31").cast("date"), 1)
        .otherwise(0)).as("out_of_range"),
      sum(col("today")).as("n_today")).collect()(0)
    if (r.getAs[Long]("n") == 0L) throw GateViolation("dim_date is empty")
    if (r.getAs[Long]("null_ds") > 0L) throw GateViolation("NULL date_string")
    if (r.getAs[Long]("out_of_range") > 0L) throw GateViolation("date out of sanity range")
    // != 1, not > 1: a stale dimension where the run date is absent
    // (zero today flags) is exactly the failure this gate exists to catch
    if (r.getAs[Long]("n_today") != 1L)
      throw GateViolation(
        s"expected exactly one 'today' flag, found ${r.getAs[Long]("n_today")}")
  }
}
