package graft.ops

import graft.functions.{InterpKernel, LinearInterpolateRows}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Minute-grain densification + nearest-two-point linear interpolation —
  * the reference's one genuinely procedural computation, re-expressed
  * declaratively (SURVEY.md §2.9).
  *
  * Semantics replicated from /root/reference/dags/etl/fact_gold_price.py:
  *  - grid: every minute `time_id` between the per-date min and max
  *    observed minute (full-rebuild variant,
  *    dags/archived/rebuild_all_time_interpolation.py:73-96);
  *  - per (source_id, side_id, date_id) group — NULL keys form their own
  *    group exactly like pandas dropna=False (fact_gold_price.py:310);
  *  - a minute already covered by the group is not generated (anti-join
  *    semantics, fact_gold_price.py:312-315);
  *  - for each missing minute m, take the two nearest actual points by
  *    |rounded_time_id − m| measured on the RAW HHmmss encoding (the
  *    reference's quirk: the 59→00 minute boundary is 4100 units wide,
  *    fact_gold_price.py:330-333) — nearest-by-distance, NOT bracketing,
  *    so head/tail gaps extrapolate;
  *  - linear: p1 + (m − t1)·(p2 − p1)/(t2 − t1); equal times → p1
  *    (fact_gold_price.py:336-340);
  *  - groups with < 2 actual ticks generate nothing
  *    (fact_gold_price.py:321 counts rows, not distinct minutes).
  *
  * Two deliberate determinism refinements over the reference (which
  * inherits unspecified ordering from Postgres when several ticks share
  * a minute, SURVEY.md §7.4):
  *  - actual points are pre-aggregated to one point per minute using an
  *    exact decimal mean (order-independent);
  *  - distance ties (equidistant minutes either side of m) break toward
  *    the EARLIER minute, matching numpy argsort's stable order on the
  *    time-sorted array.
  *
  * Plan shape (the part that matters at 100 TB): every shuffle is
  * INPUT-sized, never output-sized. The tick rows are aggregated to one
  * point per (group, minute); one window pass over those points attaches
  * each point's ±1/±2 neighbors; the (typically much larger) set of
  * missing minutes is then generated by explode(sequence) per gap with
  * its interpolation endpoints already on the row. The generated rows
  * flow through a single codegen'd projection — no join, window, or
  * exchange ever touches them. Per-group state is bounded by 1440
  * minutes/day regardless of total data size; a hot source/date still
  * caps at its day's minute count, so there is no unbounded skew.
  */
object Interpolate {

  private val keys = Seq("source_id", "side_id", "date_id")

  /** HHmmss minute encoding → minute-of-day. */
  private def minuteOfDay(t: Column) =
    floor(t / 10000) * 60 + floor((t % 10000) / 100)

  /** minute-of-day → HHmmss minute encoding. */
  private def toTimeId(mod: Column) =
    (floor(mod / 60) * 10000 + (mod % 60) * 100).cast("int")

  /** Full densified table from a T1-shaped input
    * (source_id, side_id, date_id, time_id, rounded_time_id, price,
    * is_interpolated=false): actual rows unioned with generated rows. */
  def densify(factRows: DataFrame): DataFrame = {
    val spark = factRows.sparkSession
    import spark.implicits._

    // The points subtree is repartitioned by the group keys with an
    // EXPLICIT width. Two reasons, both scale-critical:
    //  - AQE sizes post-shuffle stages by their INPUT bytes, but this
    //    stage's downstream explode amplifies rows 100–1000× (minutes
    //    generated per point). On a small-input/huge-output day the
    //    points shuffle is a few MB, AQE coalesces it to a handful of
    //    partitions, and the output-sized kernel loop runs nearly
    //    serial — measured 4× wall-clock on the 30-day rebuild. A
    //    user-specified partition count is exempt from coalescing, so
    //    the generation stage keeps the width the session sized for
    //    the lake (spark.sql.shuffle.partitions).
    //  - HashPartitioning on the 3 keys satisfies BOTH downstream
    //    clustering requirements — the per-minute aggregate (groups =
    //    keys + minute ⊇ partition keys) and the neighbor window
    //    (partition by keys) — so the whole points pipeline runs on
    //    ONE exchange instead of two.
    val width = spark.sessionState.conf.numShufflePartitions
    val ticks = factRows.repartition(width, keys.map(col): _*)

    // One exact point per (group, minute): decimal mean of that minute's
    // non-NULL prices (deterministic — see scaladoc; all-NULL → NULL
    // mean), plus the minute's ROW count: eligibility is ≥ 2 ticks per
    // GROUP counting rows — len(group) in the reference
    // (fact_gold_price.py:321) and COUNT(*) in the oracle — so a
    // NULL-priced tick still counts toward eligibility.
    val actuals = ticks
      .groupBy((keys :+ "rounded_time_id").map(col): _*)
      .agg(
        (sum($"price".cast("decimal(18,2)")).cast("double") / count($"price"))
          .as("aprice"),
        count(lit(1)).as("minute_ticks"))

    // T2 bounds: per-date [min, max] observed minute in minute-of-day
    // space (rebuild-style grid). One row per date → broadcast. The
    // optimizer collapses this into a direct per-date aggregate over a
    // SECOND scan (column-pruned to the three key-deriving columns;
    // partition-prunable when the lake is date-partitioned). The
    // alternative — min/max window over the points partitioned by date —
    // would avoid the rescan but funnel every group of a date through
    // one task; broadcasting keeps the generation stage partitioned by
    // (source, side, date), so a hot date never serializes. PLANS.md
    // shows the resulting shape.
    val bounds = actuals
      .groupBy($"date_id")
      .agg(min($"rounded_time_id").as("t_min"),
        max($"rounded_time_id").as("t_max"))
      .select($"date_id", minuteOfDay($"t_min").as("lo_mod"),
        minuteOfDay($"t_max").as("hi_mod"))

    // The single window pass, over POINTS (input-sized): neighbors ±1/±2
    // and the group's tick total. The two nearest actuals of a missing
    // minute m can only be drawn from {prev2, prev1, next1, next2}
    // around m's gap — for m strictly inside (t_i, t_{i+1}) that is
    // {P_{i-1}, P_i, P_{i+1}, P_{i+2}}; before the first point
    // {P_1, P_2}; after the last {P_{n-1}, P_n}. So each gap generator
    // below emits its minutes with the right candidates attached, and
    // nothing downstream needs the group context again.
    val w = Window.partitionBy(keys.map(col): _*).orderBy($"pos")
    val wAll = Window.partitionBy(keys.map(col): _*)
    val points = actuals
      .withColumnRenamed("rounded_time_id", "pos")
      .withColumn("pt", struct($"pos".as("t"), $"aprice".as("p")))
      .withColumn("prev1", lag($"pt", 1).over(w))
      .withColumn("next1", lead($"pt", 1).over(w))
      .withColumn("next2", lead($"pt", 2).over(w))
      .withColumn("grp_ticks", sum($"minute_ticks").over(wAll))
      .join(broadcast(bounds), Seq("date_id"))
      .filter($"grp_ticks" >= 2)
      .withColumn("pos_mod", minuteOfDay($"pos"))

    // ONE gap generator for all three cases — interior gaps, the head
    // run before a group's first point, the tail run after its last.
    // A 3-way union would re-execute the whole points subtree (agg +
    // window) once per branch; instead each point emits one concat of
    // up-to-three minute sequences with the CASE ENCODED IN THE VALUE
    // (case·2000 + minute-of-day, mod < 1440 < 2000), so a single
    // explode stays entirely inside whole-stage codegen — no interpreted
    // lambda, no union, one pass. sequence(a, b) counts DOWN when a > b,
    // so every case guards non-emptiness explicitly.
    val emptySeq = typedLit(Array.empty[Long])
    val nextMod = minuteOfDay($"next1.t")
    val slotsRaw = points.select(
      col("source_id"), col("side_id"), col("date_id"),
      $"pt.t".as("c_t"), $"pt.p".as("c_p"),
      $"prev1.t".as("pv_t"), $"prev1.p".as("pv_p"),
      $"next1.t".as("nx_t"), $"next1.p".as("nx_p"),
      $"next2.t".as("n2_t"), $"next2.p".as("n2_p"),
      explode(concat(
        when($"next1".isNotNull && nextMod - $"pos_mod" >= 2,
          sequence($"pos_mod" + 1, nextMod - 1)).otherwise(emptySeq),
        when($"prev1".isNull && $"pos_mod" > $"lo_mod",
          sequence($"lo_mod" + 2000L, $"pos_mod" + 1999L)).otherwise(emptySeq),
        when($"next1".isNull && $"pos_mod" < $"hi_mod",
          sequence($"pos_mod" + 4001L, $"hi_mod" + 4000L)).otherwise(emptySeq)
      )).as("enc"))

    // Nearest-2 selection + linear formula in ONE native expression
    // (graft.functions.InterpKernel): this projection runs once per
    // GENERATED row — the output-sized hot loop — and a single static
    // compiled call keeps the codegen'd stage tiny (a when-tree
    // formulation of the same selection measured 3× slower cold, see
    // the kernel's scaladoc). Missing candidates are coalesced to the
    // kernel's t = −1 sentinel so every input is non-nullable; a NULL
    // minute mean (every tick of that minute has NULL price) rides
    // through the kernel as NaN — selection is time-only, so NaN
    // reaches the output exactly when the OLD formulation's arithmetic
    // produced NULL — and nanvl converts it back to NULL. (Data prices
    // are never legitimately NaN; Tables reads them from parquet
    // doubles written by the generator.)
    val cse = ($"enc" / 2000).cast("int") // 0=interior, 1=head, 2=tail
    val pos = toTimeId($"enc" % 2000)
    val nan = lit(Double.NaN)
    val interpolated = slotsRaw
      .withColumn("pos", pos)
      .select(
        col("source_id"), col("side_id"), col("date_id"),
        $"pos".as("time_id"), $"pos".as("rounded_time_id"),
        nanvl(
          InterpKernel.nearestTwoPrice(
            cse, $"pos",
            coalesce($"pv_t", lit(-1)), coalesce($"pv_p", nan),
            $"c_t", coalesce($"c_p", nan),
            coalesce($"nx_t", lit(-1)), coalesce($"nx_p", nan),
            coalesce($"n2_t", lit(-1)), coalesce($"n2_p", nan)),
          lit(null).cast("double")
        ).as("price"),
        lit(true).as("is_interpolated"))

    val actualsOut = factRows.select(
      $"source_id", $"side_id", $"date_id", $"time_id", $"rounded_time_id",
      $"price", $"is_interpolated")

    actualsOut.unionByName(interpolated)
  }

  /** [[densify]]'s contract over rows already on the driver, with no
    * Spark plan: the hourly pipeline's hour (FactPipeline.runHour),
    * fetched by one read-back, densified and audited here and handed to
    * the window write as local rows. `rows` are T1-shaped, in
    * [[densify]]'s column order (source_id, side_id, date_id, time_id,
    * rounded_time_id, price, is_interpolated); the result is `rows`
    * unaltered followed by the generated rows, group by group (keys
    * ascending, NULL first), each group's minutes ascending, under the
    * first row's schema.
    *
    * It groups by (source_id, side_id, date_id), NULL keys as groups of
    * their own; takes each minute's exact decimal mean as [[densify]]
    * does; keeps groups of ≥ 2 rows; and grids each date from its
    * minimum to its maximum observed minute. The nearest-two selection
    * and the linear formula are the SQL generator's own
    * ([[graft.functions.LinearInterpolateRows.interpolate]]), so the
    * three formulations stay bit-identical (InterpolatePropertySpec).
    *
    * Bound: the driver holds the densified rows, groups × the grid's
    * minutes — at most 60 per group for an hour, the rows a single task
    * would hold. It is for an hour-sized batch; a day or a rebuild goes
    * through [[densify]]. */
  def densifyHour(rows: Seq[Row]): Seq[Row] = {
    def minute(r: Row): Int = r.getInt(4)
    def mod(t: Int) = t / 10000 * 60 + t % 10000 / 100
    // T2 bounds: a NULL date matches no grid, as it joins no bounds row
    val grids = rows.groupBy(_.get(2)).collect {
      case (date, rs) if date != null =>
        val ms = rs.map(minute)
        date -> (mod(ms.min) to mod(ms.max)).map(m => m / 60 * 10000 + m % 60 * 100).toArray
    }
    val schema = rows.headOption.map(_.schema).orNull
    def key(v: Any): Option[Int] = Option(v).map(_.asInstanceOf[Int])
    val groups = rows.groupBy(r => (r.get(0), r.get(1), r.get(2))).toSeq
      .sortBy { case ((src, side, date), _) => (key(src), key(side), key(date)) }
    val generated = groups.flatMap { case ((src, side, date), rs) =>
      grids.get(date).filter(_ => rs.size >= 2).toSeq.flatMap { grid =>
        // one exact point per minute: the decimal(18,2) HALF_UP mean of
        // its non-NULL prices (NULL when it has none)
        val points = rs.groupBy(minute).iterator.map { case (t, ts) =>
          val defined = ts.filterNot(_.isNullAt(5)).map(_.getDouble(5))
          val mean: java.lang.Double =
            if (defined.isEmpty) null
            else defined.map(p => BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP))
              .sum.toDouble / defined.size
          (t, mean)
        }.toArray
        LinearInterpolateRows.interpolate(points, grid).map { case (m, price) =>
          new GenericRowWithSchema(Array[Any](src, side, date, m, m, price, true), schema)
        }
      }
    }
    rows ++ generated
  }

  /** Same contract as [[densify]], expressed as plain SQL text over the
    * session's extension surface: per-group points are collect_list'd
    * and the `linear_interpolate` table function (a Catalyst Generator,
    * graft.functions.LinearInterpolateRows) emits the missing minutes
    * via LATERAL VIEW. Third formulation of T3 — declarative ≡ typed ≡
    * SQL, all bit-identical (InterpolatePropertySpec differential +
    * the shared t3/t8 oracle).
    *
    * Scale: one collect_list per group (bounded by the day's minute
    * count), generator output is exactly the missing rows — like the
    * declarative path, nothing output-sized ever shuffles. */
  def densifySql(spark: org.apache.spark.sql.SparkSession,
      factRows: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // unique per call: a fixed name would race concurrent callers on
    // the shared session catalog and shadow user tables for the
    // session's lifetime; spark.sql() analyzes eagerly, so the view can
    // be dropped as soon as the plan is built
    val view = s"graft_densify_sql_in_${viewSeq.incrementAndGet()}"
    // explicit-width repartition of the per-group points, same rationale
    // as densify(): the LATERAL VIEW below amplifies rows 100–1000×, so
    // the stage must keep full width even when AQE would coalesce its
    // (tiny) input shuffle
    val width = spark.sessionState.conf.numShufflePartitions
    factRows.createOrReplaceTempView(view)
    try spark.sql(
      s"""WITH actuals AS (
         |  SELECT source_id, side_id, date_id, rounded_time_id AS t,
         |         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(price) AS aprice,
         |         COUNT(*) AS nticks
         |  FROM (SELECT /*+ REPARTITION($width, source_id, side_id, date_id) */ *
         |        FROM $view)
         |  GROUP BY 1, 2, 3, 4),
         |bounds AS (
         |  SELECT date_id, MIN(t) AS tmin, MAX(t) AS tmax
         |  FROM actuals GROUP BY 1),
         |grid AS (
         |  SELECT date_id,
         |         transform(
         |           sequence((tmin div 10000) * 60 + (tmin % 10000) div 100,
         |                    (tmax div 10000) * 60 + (tmax % 10000) div 100),
         |           m -> CAST((m div 60) * 10000 + (m % 60) * 100 AS INT)) AS grid
         |  FROM bounds),
         |grp AS (
         |  SELECT source_id, side_id, date_id,
         |         sort_array(collect_list(struct(t, aprice))) AS pts
         |  FROM actuals GROUP BY 1, 2, 3
         |  HAVING SUM(nticks) >= 2),
         |gen AS (
         |  SELECT g.source_id, g.side_id, g.date_id,
         |         x.time_id, x.time_id AS rounded_time_id, x.price,
         |         TRUE AS is_interpolated
         |  FROM grp g JOIN grid b ON g.date_id = b.date_id
         |  LATERAL VIEW linear_interpolate(
         |    transform(pts, p -> p.t), transform(pts, p -> p.aprice),
         |    grid) x AS time_id, price)
         |SELECT source_id, side_id, date_id, time_id, rounded_time_id,
         |       price, is_interpolated
         |FROM $view
         |UNION ALL SELECT * FROM gen""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
}
