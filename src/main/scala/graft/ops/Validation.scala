package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime data-quality gates (SURVEY.md §2.12): the reference's only
  * correctness assurance is in-pipeline validation —
  * `validate_interpolated_data`
  * (/root/reference/dags/etl/fact_gold_price.py:382-469) and
  * `verify_dim_date_data` (dags/etl/dim_date_etl_dag.py:103-137). Each
  * gate is one aggregate computed distributed and asserted on the
  * driver; a violation throws, which is the Spark-native equivalent of
  * the reference failing the task and routing to its ONE_FAILED alert.
  */
object Validation {

  final case class GateViolation(msg: String) extends RuntimeException(msg)

  /** What [[windowGate]] measured over a densified window. */
  final case class WindowProfile(
      nSources: Long, nSides: Long, nMinutes: Long, nRows: Long)

  /** The densified-window gates (fact_gold_price.py:433-460) in ONE
    * action: a per-(source_id, side_id) pass collects each group's grid
    * minutes, row count and NULL/NaN-price count, then a global pass
    * over those groups yields the window's grid minutes and row count,
    * the number of groups short of `expectedMinutes` and the bad-price
    * total. The verdicts are then asserted on the driver, in order:
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
    * dropna=False grouping. Returns the profile it checked. */
  def windowGate(
      densified: DataFrame, expectedMinutes: Option[Long] = None): WindowProfile = {
    val groups = densified
      .groupBy(col("source_id"), col("side_id"))
      .agg(
        collect_set(col("rounded_time_id")).as("minutes"),
        count(lit(1)).as("rows"),
        count(when(col("price").isNull || isnan(col("price")), 1)).as("bad"))
    val totals = groups.agg(
      size(collect_set(col("source_id"))).as("n_sources"),
      // wrapped in a struct so a NULL side is collected as a side
      size(collect_set(struct(col("side_id")))).as("n_sides"),
      size(array_distinct(flatten(collect_list(col("minutes"))))).as("n_minutes"),
      collect_list(size(col("minutes"))).as("group_minutes"),
      coalesce(sum(col("rows")), lit(0L)).as("n_rows"),
      coalesce(sum(col("bad")), lit(0L)).as("n_bad"))
    val expected = expectedMinutes.fold(col("n_minutes"))(lit(_))
    val r = totals.select(
      col("n_sources").cast("long"),
      col("n_sides").cast("long"),
      col("n_minutes").cast("long"),
      col("n_rows"),
      size(filter(col("group_minutes"), _ < expected)).cast("long"),
      col("n_bad")).collect()(0)
    val profile = WindowProfile(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (short, bad) = (r.getLong(4), r.getLong(5))
    val want = expectedMinutes.getOrElse(profile.nMinutes)
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
