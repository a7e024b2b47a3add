package graft.queries

import graft.Tables
import graft.ops.{DateFlags, DimTime, GoldModel, Interpolate, Merge, Report}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gold-price pipeline parity queries (SURVEY.md §2.9, §2.1, §2.3, §2.5)
  * on the `events` table mapped through graft.ops.GoldModel. Each oracle
  * re-derives the same semantics in independent DuckDB SQL (the
  * interpolation oracle uses the quadratic missing×actuals formulation,
  * deliberately different from the engine's linear window plan — a
  * cross-algorithm check, not a mirror).
  */
object Gold {

  /** Report date used by the single-date queries: present at every SF
    * (events span 2024-01-01..30 at all scale factors). */
  private val D = 20240115

  /** DuckDB CTE chain ending in `densified` — the reference's
    * fact_gold_price_interpolated table shape for rows matching `pred`
    * (nearest-2 interpolation, rebuild-style per-date [min,max] grid;
    * fact_gold_price.py:307-351, rebuild_all_time_interpolation.py:73-96).
    */
  private def densifiedCte(pred: String): String =
    s"""$FactCte,
       |f AS (
       |  SELECT source_id, side_id, date_id, time_id,
       |         time_id - (time_id % 100) AS rounded_time_id, price,
       |         FALSE AS is_interpolated
       |  FROM fact WHERE $pred),
       |actuals AS (
       |  SELECT source_id, side_id, date_id, rounded_time_id AS t,
       |         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(price) AS aprice
       |  FROM f GROUP BY 1, 2, 3, 4),
       |bounds AS (
       |  SELECT date_id,
       |         (MIN(rounded_time_id) // 10000) * 60 + (MIN(rounded_time_id) % 10000) // 100 AS lo,
       |         (MAX(rounded_time_id) // 10000) * 60 + (MAX(rounded_time_id) % 10000) // 100 AS hi
       |  FROM f GROUP BY 1),
       |grid AS (
       |  SELECT b.date_id,
       |         CAST((g.mod // 60) * 10000 + (g.mod % 60) * 100 AS INT) AS rounded_time_id
       |  FROM bounds b
       |  JOIN (SELECT generate_series AS mod FROM generate_series(0, 1439)) g
       |    ON g.mod BETWEEN b.lo AND b.hi),
       |grps AS (SELECT DISTINCT source_id, side_id, date_id FROM f),
       |expected AS (
       |  SELECT g.source_id, g.side_id, gr.date_id, gr.rounded_time_id
       |  FROM grps g JOIN grid gr USING (date_id)),
       |covered AS (SELECT DISTINCT source_id, side_id, date_id, rounded_time_id FROM f),
       |missing AS (
       |  SELECT e.* FROM expected e
       |  ANTI JOIN covered c
       |    ON e.source_id IS NOT DISTINCT FROM c.source_id
       |   AND e.side_id IS NOT DISTINCT FROM c.side_id
       |   AND e.date_id = c.date_id AND e.rounded_time_id = c.rounded_time_id),
       |eligible AS (
       |  SELECT source_id, side_id, date_id FROM f
       |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
       |cand AS (
       |  SELECT m.source_id, m.side_id, m.date_id, m.rounded_time_id AS mm,
       |         a.t, a.aprice,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY m.source_id, m.side_id, m.date_id, m.rounded_time_id
       |           ORDER BY ABS(a.t - m.rounded_time_id), a.t) AS rn
       |  FROM missing m
       |  SEMI JOIN eligible g
       |    ON m.source_id IS NOT DISTINCT FROM g.source_id
       |   AND m.side_id IS NOT DISTINCT FROM g.side_id
       |   AND m.date_id = g.date_id
       |  JOIN actuals a
       |    ON m.source_id IS NOT DISTINCT FROM a.source_id
       |   AND m.side_id IS NOT DISTINCT FROM a.side_id
       |   AND m.date_id = a.date_id),
       |near AS (
       |  SELECT source_id, side_id, date_id, mm,
       |         MAX(CASE WHEN rn = 1 THEN t END) AS t1,
       |         MAX(CASE WHEN rn = 1 THEN aprice END) AS p1,
       |         MAX(CASE WHEN rn = 2 THEN t END) AS t2,
       |         MAX(CASE WHEN rn = 2 THEN aprice END) AS p2
       |  FROM cand WHERE rn <= 2 GROUP BY 1, 2, 3, 4),
       |densified AS (
       |  SELECT source_id, side_id, date_id, time_id, rounded_time_id,
       |         price, is_interpolated
       |  FROM f
       |  UNION ALL
       |  SELECT source_id, side_id, date_id, mm AS time_id,
       |         mm AS rounded_time_id,
       |         CASE WHEN t2 IS NULL OR t2 = t1 THEN p1
       |              ELSE p1 + (mm - t1) * (p2 - p1) / (t2 - t1) END AS price,
       |         TRUE AS is_interpolated
       |  FROM near)""".stripMargin

  /** Spark side of `densifiedCte(pred)`. */
  private def densified(
      s: org.apache.spark.sql.SparkSession, dir: String,
      pred: org.apache.spark.sql.Column) =
    Interpolate.densify(
      GoldModel.factDensifyInput(Tables.events(s, dir)).filter(pred))

  /** W1/W2 report oracle on top of the densified CTE (the reference's
    * main_query, cheap_expensive_chart.py:40-84, integer-exact duration
    * — see graft.ops.Report). */
  private def reportOracle(rankCol: String): String = {
    val dir = if (rankCol == "cheap") "ASC" else "DESC"
    s"""WITH ${densifiedCte(s"date_id = $D")},
       |$SourcesCte,
       |perminute AS (
       |  SELECT s.id, s.name AS source, s.color, d.rounded_time_id AS time_id,
       |         CAST(SUM(CAST(d.price AS DECIMAL(28,10))) AS DOUBLE) / COUNT(d.price) AS price
       |  FROM densified d
       |  JOIN sources s ON s.id = d.source_id AND s.deleted_at IS NULL
       |  GROUP BY 1, 2, 3, 4),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY time_id ORDER BY price $dir, source $dir) AS rnk
       |  FROM perminute),
       |counted AS (
       |  SELECT source, color, COUNT(time_id) AS minute_count
       |  FROM ranked WHERE rnk = 1 GROUP BY 1, 2),
       |tot AS (SELECT *, SUM(minute_count) OVER () AS total FROM counted),
       |pct AS (SELECT *, (200 * minute_count + total) // (2 * total) AS p2 FROM tot)
       |SELECT source, color, minute_count,
       |       lpad(CAST((p2 * 6) // 25 AS VARCHAR), 2, '0') || ':' ||
       |       lpad(CAST(((p2 * 6) % 25 * 24 + 5) // 10 AS VARCHAR), 2, '0') AS duration
       |FROM pct
       |ORDER BY minute_count DESC, source ASC""".stripMargin
  }

  val all: Map[String, Q] = Map(

    // T1–T3+T5: single processing window (one date), full densified
    // output — the engine's distinctive operator, value-compared row by
    // row against an independent DuckDB formulation.
    "t3_densify_interpolate" -> Q(
      (s, dir) => densified(s, dir, col("date_id") === D),
      "WITH " + densifiedCte(s"date_id = $D") +
        "\nSELECT * FROM densified"),

    // Gap REPORT — the reference's completeness gate
    // (/root/reference/dags/etl/fact_gold_price.py:433-440 expects
    // sources × sides × 60 rows/hour) generalized into a queryable
    // per-key coverage profile: observed/missing minute counts plus the
    // largest intra-key gap. One distinct pass at minute grain, one
    // window (lag over the SAME key partitioning — EnsureRequirements
    // rides the distinct's exchange), one aggregate. This is the
    // monitoring query a densify pipeline runs to decide WHERE
    // interpolation is even defensible.
    "t10_gap_report" -> Q(
      (s, dir) => {
        val minuteIdx = expr(
          "CAST((rounded_time_id div 10000) * 60 + (rounded_time_id div 100) % 100 AS INT)")
        val w = Window
          .partitionBy(col("source_id"), col("side_id"), col("date_id"))
          .orderBy(col("m"))
        GoldModel.factDensifyInput(Tables.events(s, dir))
          .select(col("source_id"), col("side_id"), col("date_id"),
            minuteIdx.as("m"))
          .distinct()
          .withColumn("gap", col("m") - lag(col("m"), 1).over(w))
          .groupBy(col("source_id"), col("side_id"), col("date_id"))
          .agg(
            count(lit(1)).as("observed_minutes"),
            (lit(1440) - count(lit(1))).as("missing_minutes"),
            max(col("gap")).as("largest_gap"),
            min(col("m")).as("first_minute"),
            max(col("m")).as("last_minute"))
          .orderBy(col("source_id"), col("side_id"), col("date_id"))
      },
      s"""WITH $FactDensifyCte,
         |m AS (SELECT DISTINCT source_id, side_id, date_id,
         |        CAST((rounded_time_id // 10000) * 60 + (rounded_time_id // 100) % 100 AS INT) AS m
         |      FROM factd),
         |g AS (SELECT *, m - lag(m) OVER (PARTITION BY source_id, side_id, date_id
         |                                 ORDER BY m) AS gap
         |      FROM m)
         |SELECT source_id, side_id, date_id,
         |  COUNT(*) AS observed_minutes,
         |  1440 - COUNT(*) AS missing_minutes,
         |  MAX(gap) AS largest_gap,
         |  MIN(m) AS first_minute, MAX(m) AS last_minute
         |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // T3 again, through the SQL extension surface (§2.11): the same
    // densification written as plain SQL text with the
    // `linear_interpolate` table function (a Catalyst Generator,
    // fn/InterpGenerator) doing the per-group kernel via LATERAL VIEW
    // over collect_list'd points. Same oracle as t3 — the two
    // formulations must agree to the bit.
    "t8_interp_sql" -> Q(
      (s, dir) =>
        Interpolate.densifySql(s,
          GoldModel.factDensifyInput(Tables.events(s, dir))
            .filter(col("date_id") === D)),
      "WITH " + densifiedCte(s"date_id = $D") +
        "\nSELECT * FROM densified"),

    // T6 full-history rebuild over the whole corpus, verified through a
    // per-date profile. Deliberately cast-free aggregates (count +
    // min/max + distinct minutes): a double→decimal cast of an
    // interpolated price rounds differently between engines at the ulp
    // level, while MIN/MAX select raw doubles bit-exactly. Row-level
    // value parity is covered by t3 on a full date.
    "t6_rebuild_summary" -> Q(
      (s, dir) =>
        // two-level aggregation: pre-aggregate at minute grain so the
        // distinct-minute count needs no expand over the (output-sized)
        // densified rows — COUNT DISTINCT via a 275× smaller second pass
        densified(s, dir, lit(true))
          .groupBy(col("date_id"), col("is_interpolated"),
            col("rounded_time_id"))
          .agg(
            count(lit(1)).as("_n"),
            min(col("price")).as("_min"),
            max(col("price")).as("_max"))
          .groupBy(col("date_id"), col("is_interpolated"))
          .agg(
            sum(col("_n")).as("n"),
            count(lit(1)).as("n_minutes"),
            min(col("_min")).as("min_price"),
            max(col("_max")).as("max_price"))
          .orderBy(col("date_id"), col("is_interpolated")),
      "WITH " + densifiedCte("TRUE") +
        """
          |SELECT date_id, is_interpolated, COUNT(*) AS n,
          |       COUNT(DISTINCT rounded_time_id) AS n_minutes,
          |       MIN(price) AS min_price, MAX(price) AS max_price
          |FROM densified GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // W1+W2+A2+A3+F9-F11+P8+S3/P4: the flagship report, both rank
    // directions (the dynamic-column predicate parameterizes the query).
    "w1_report_cheap" -> Q(
      (s, dir) => Report.cheapExpensive(
        densified(s, dir, col("date_id") === D),
        GoldModel.sourcesDim(Tables.events(s, dir))
          .filter(col("deleted_at").isNull)
          .select("id", "name", "color"),
        D, "cheap"),
      reportOracle("cheap")),

    "w1_report_expensive" -> Q(
      (s, dir) => Report.cheapExpensive(
        densified(s, dir, col("date_id") === D),
        GoldModel.sourcesDim(Tables.events(s, dir))
          .filter(col("deleted_at").isNull)
          .select("id", "name", "color"),
        D, "expensive"),
      reportOracle("expensive")),

    // S5: keyed latest-wins upsert — incoming (doubled price) beats
    // existing on the overlap; oracle is the natural FULL OUTER form.
    "s5_upsert_latest_wins" -> Q(
      (s, dir) => {
        val base = GoldModel.fact(Tables.events(s, dir))
        val existing = base.filter(col("id") % 3 =!= 0)
        val incoming = base.filter(col("id") % 2 === 0)
          .withColumn("price", col("price") * 2)
        Merge.upsertLatestWins(existing, incoming, "id", "time_id")
      },
      s"""WITH $FactCte,
         |e AS (SELECT * FROM fact WHERE id % 3 != 0),
         |i AS (SELECT id, source_id, side_id, price * 2 AS price, date_id, time_id
         |      FROM fact WHERE id % 2 = 0)
         |SELECT COALESCE(i.id, e.id) AS id,
         |       CASE WHEN i.id IS NOT NULL THEN i.source_id ELSE e.source_id END AS source_id,
         |       CASE WHEN i.id IS NOT NULL THEN i.side_id ELSE e.side_id END AS side_id,
         |       CASE WHEN i.id IS NOT NULL THEN i.price ELSE e.price END AS price,
         |       CASE WHEN i.id IS NOT NULL THEN i.date_id ELSE e.date_id END AS date_id,
         |       CASE WHEN i.id IS NOT NULL THEN i.time_id ELSE e.time_id END AS time_id
         |FROM e FULL OUTER JOIN i ON e.id = i.id""".stripMargin),

    // S8: column-merging upsert keyed by name (COALESCE old over new,
    // populate_sources_dag.py:142-152).
    "s8_upsert_coalesce" -> Q(
      (s, dir) => {
        val dim = GoldModel.sourcesDim(Tables.events(s, dir))
        val existing = dim.filter(col("id") < 10)
          .withColumn("color", when(col("id") % 2 =!= 0, col("color")))
          .select("name", "color", "first_id")
        val incoming = dim.filter(col("id") >= 5)
          .withColumn("first_id", lit(-1L))
          .select("name", "color", "first_id")
        Merge.upsertCoalesceColumns(existing, incoming, "name",
          Seq("color", "first_id"))
      },
      s"""WITH $SourcesCte,
         |e AS (SELECT name, CASE WHEN id % 2 != 0 THEN color END AS color, first_id
         |      FROM sources WHERE id < 10),
         |i AS (SELECT name, color, CAST(-1 AS BIGINT) AS first_id
         |      FROM sources WHERE id >= 5)
         |SELECT COALESCE(e.name, i.name) AS name,
         |       COALESCE(e.color, i.color) AS color,
         |       COALESCE(e.first_id, i.first_id) AS first_id
         |FROM e FULL OUTER JOIN i USING (name)""".stripMargin),

    // S12+F1+F6-F8: the 17 derived dim_date columns, run date injected
    // (dim_date_etl_dag.py:46-73; 'now' as a parameter per SURVEY §7.4).
    "s12_date_flags" -> Q(
      (s, dir) => {
        val dim = DateFlags.dimDateFrom(
          Tables.events(s, dir)
            .select(GoldModel.tehran(col("ts")).as("local")), "local")
        DateFlags.withDerivedColumns(dim, lit("2024-01-16"))
      }, {
        val run = "DATE '2024-01-16'"
        def prev(n: Int) =
          s"CASE WHEN d >= $run - $n AND d < $run THEN 1 ELSE 0 END AS prev_${n}_days"
        s"""WITH dd AS (
           |  SELECT DISTINCT
           |    CAST(strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y%m%d') AS INT) AS date_id,
           |    strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y-%m-%d') AS date_string
           |  FROM events),
           |t AS (SELECT date_id, date_string, CAST(date_string AS DATE) AS d FROM dd)
           |SELECT date_id, date_string,
           |  CAST(date_diff('day', d, $run) AS INT) AS day_lag,
           |  CASE WHEN d = $run THEN 1 ELSE 0 END AS today,
           |  CASE WHEN d = $run - 1 THEN 1 ELSE 0 END AS yesterday,
           |  ${Seq(7, 14, 30, 45, 60, 90, 180, 270, 360).map(prev).mkString(",\n  ")},
           |  CAST((EXTRACT(YEAR FROM $run) - EXTRACT(YEAR FROM d)) * 12
           |     + (EXTRACT(MONTH FROM $run) - EXTRACT(MONTH FROM d)) AS INT) AS persian_month_lag,
           |  CAST((EXTRACT(YEAR FROM $run) - EXTRACT(YEAR FROM d)) * 52
           |     + (EXTRACT(WEEK FROM $run) - EXTRACT(WEEK FROM d)) AS INT) AS persian_week_lag,
           |  CAST(EXTRACT(YEAR FROM $run) - EXTRACT(YEAR FROM d) AS INT) AS persian_year_lag,
           |  CAST((EXTRACT(YEAR FROM $run) - EXTRACT(YEAR FROM d)) * 52
           |     + (EXTRACT(WEEK FROM $run) - EXTRACT(WEEK FROM d)) + 1 AS INT) AS persian_shifted_week_lag,
           |  (EXTRACT(MONTH FROM d) = EXTRACT(MONTH FROM $run - INTERVAL 1 MONTH)
           |   AND EXTRACT(YEAR FROM d) = EXTRACT(YEAR FROM $run - INTERVAL 1 MONTH)) AS is_last_month_mtd
           |FROM t""".stripMargin
      }),

    // A5: conditional-flag sums over the derived dimension
    // (dim_date_etl_dag.py:82-93).
    "a5_flag_sums" -> Q(
      (s, dir) => {
        val dim = DateFlags.dimDateFrom(
          Tables.events(s, dir)
            .select(GoldModel.tehran(col("ts")).as("local")), "local")
        DateFlags.withDerivedColumns(dim, lit("2024-01-16"))
          .agg(
            sum(col("today")).as("sum_today"),
            sum(col("yesterday")).as("sum_yesterday"),
            sum(col("prev_7_days")).as("sum_prev_7"),
            sum(col("prev_30_days")).as("sum_prev_30"),
            count(lit(1)).as("n_dates"))
      },
      """WITH dd AS (
        |  SELECT DISTINCT CAST(strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y-%m-%d') AS DATE) AS d
        |  FROM events)
        |SELECT CAST(SUM(CASE WHEN d = DATE '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS sum_today,
        |       CAST(SUM(CASE WHEN d = DATE '2024-01-16' - 1 THEN 1 ELSE 0 END) AS BIGINT) AS sum_yesterday,
        |       CAST(SUM(CASE WHEN d >= DATE '2024-01-16' - 7 AND d < DATE '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS sum_prev_7,
        |       CAST(SUM(CASE WHEN d >= DATE '2024-01-16' - 30 AND d < DATE '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS sum_prev_30,
        |       COUNT(*) AS n_dates
        |FROM dd""".stripMargin),

    // J5: anti-join source discovery — names seen in the full stream but
    // absent from the bootstrap window (populate_sources_dag.py:114-115).
    "j5_new_sources" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        val existing = e.filter(col("user_id") < 10)
          .select(concat(lit("src_"), col("user_id").cast("int")).as("name"))
          .distinct()
        val incoming = e
          .select(concat(lit("src_"), col("user_id").cast("int")).as("name"))
          .distinct()
        incoming.join(existing, Seq("name"), "left_anti")
      },
      """WITH existing AS (
        |  SELECT DISTINCT 'src_' || CAST(CAST(user_id AS INT) AS VARCHAR) AS name
        |  FROM events WHERE user_id < 10),
        |incoming AS (
        |  SELECT DISTINCT 'src_' || CAST(CAST(user_id AS INT) AS VARCHAR) AS name
        |  FROM events)
        |SELECT i.name FROM incoming i ANTI JOIN existing e ON i.name = e.name""".stripMargin),

    // J9: as-of neighbor lookup — last tick at/before noon and first
    // after, per group, with the price gap between them
    // (fact_gold_price_temp.py:280-327 generalized).
    "j9_asof_noon" -> Q(
      (s, dir) => {
        val f = GoldModel.fact(Tables.events(s, dir))
          .filter(col("date_id") === D)
        val gk = Seq("source_id", "side_id")
        val beforeW = Window.partitionBy(gk.map(col): _*)
          .orderBy(col("time_id").desc, col("id").desc)
        val afterW = Window.partitionBy(gk.map(col): _*)
          .orderBy(col("time_id").asc, col("id").asc)
        val before = f.filter(col("time_id") <= 120000)
          .withColumn("rn", row_number().over(beforeW)).filter(col("rn") === 1)
          .select(col("source_id"), col("side_id"),
            col("time_id").as("before_time"), col("price").as("before_price"))
        val after = f.filter(col("time_id") > 120000)
          .withColumn("rn", row_number().over(afterW)).filter(col("rn") === 1)
          .select(col("source_id").as("a_source_id"), col("side_id").as("a_side_id"),
            col("time_id").as("after_time"), col("price").as("after_price"))
        before.join(after,
          col("source_id") <=> col("a_source_id") &&
            col("side_id") <=> col("a_side_id"))
          .select(col("source_id"), col("side_id"),
            col("before_time"), col("before_price"),
            col("after_time"), col("after_price"),
            (col("after_price") - col("before_price")).as("price_gap"))
      },
      s"""WITH $FactCte,
         |f AS (SELECT * FROM fact WHERE date_id = $D),
         |b AS (
         |  SELECT source_id, side_id, time_id AS before_time, price AS before_price,
         |         ROW_NUMBER() OVER (PARTITION BY source_id, side_id
         |                            ORDER BY time_id DESC, id DESC) AS rn
         |  FROM f WHERE time_id <= 120000),
         |a AS (
         |  SELECT source_id, side_id, time_id AS after_time, price AS after_price,
         |         ROW_NUMBER() OVER (PARTITION BY source_id, side_id
         |                            ORDER BY time_id ASC, id ASC) AS rn
         |  FROM f WHERE time_id > 120000)
         |SELECT b.source_id, b.side_id, b.before_time, b.before_price,
         |       a.after_time, a.after_price,
         |       a.after_price - b.before_price AS price_gap
         |FROM b JOIN a ON b.source_id IS NOT DISTINCT FROM a.source_id
         |              AND b.side_id IS NOT DISTINCT FROM a.side_id
         |WHERE b.rn = 1 AND a.rn = 1""".stripMargin),

    // J9 generalized: the custom backward as-of join OPERATOR
    // (graft.plans.AsOfJoinExec — logical node + strategy + physical
    // merge), value-checked against DuckDB's native ASOF JOIN: every
    // buy tick gets the last per-minute sell price at/before its time
    // for the same source, left-outer.
    "j10_asof_spread" -> Q(
      (s, dir) => {
        val f = GoldModel.fact(Tables.events(s, dir))
          .filter(col("date_id") === D)
        val buys = f.filter(col("side_id") === 1)
          .select(col("id"), col("source_id"), col("time_id"), col("price"))
        val sells = f.filter(col("side_id") === 2)
          .groupBy(col("source_id").as("s_source"), col("time_id").as("s_time"))
          .agg((sum(col("price").cast("decimal(18,2)")).cast("double") /
            count(col("price"))).as("s_price"))
        graft.plans.AsOf.joinBackward(buys, sells,
            Seq("source_id" -> "s_source"), "time_id", "s_time")
          .select(col("id"), col("source_id"), col("time_id"), col("price"),
            col("s_time"), col("s_price"),
            (col("price") - col("s_price")).as("spread"))
          .orderBy(col("id"))
      },
      s"""WITH $FactCte,
         |f AS (SELECT * FROM fact WHERE date_id = $D),
         |b AS (SELECT id, source_id, time_id, price FROM f WHERE side_id = 1),
         |s AS (SELECT source_id AS s_source, time_id AS s_time,
         |             CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(price) AS s_price
         |      FROM f WHERE side_id = 2 GROUP BY 1, 2)
         |SELECT b.id, b.source_id, b.time_id, b.price, s.s_time, s.s_price,
         |       b.price - s.s_price AS spread
         |FROM b ASOF LEFT JOIN s
         |  ON b.source_id = s.s_source AND b.time_id >= s.s_time
         |ORDER BY b.id""".stripMargin),

    // Salted two-stage aggregation (skew path of A2/A4): result must be
    // identical to the direct GROUP BY — the oracle IS the direct form,
    // so the equivalence is value-checked, not just asserted in a spec.
    "a2_salted_stats" -> Q(
      (s, dir) =>
        graft.ops.Skew.saltedStats(
          GoldModel.fact(Tables.events(s, dir)),
          Seq("side_id"), "price", col("id"), buckets = 32)
          .orderBy(col("side_id")),
      s"""WITH $FactCte
         |SELECT side_id,
         |       CAST(SUM(CAST(price AS DECIMAL(28,10))) AS DOUBLE) AS sum_price,
         |       COUNT(price) AS cnt_price,
         |       MIN(price) AS min_price,
         |       MAX(price) AS max_price
         |FROM fact GROUP BY side_id ORDER BY side_id""".stripMargin),

    // A6+P9: per-date observed minute range over actuals only.
    "a6_minmax_range" -> Q(
      (s, dir) =>
        GoldModel.factDensifyInput(Tables.events(s, dir))
          .filter(!col("is_interpolated"))
          .groupBy(col("date_id"))
          .agg(
            min(col("rounded_time_id")).as("t_min"),
            max(col("rounded_time_id")).as("t_max"),
            count(lit(1)).as("n_ticks"))
          .orderBy(col("date_id")),
      s"""WITH $FactDensifyCte
         |SELECT date_id, MIN(rounded_time_id) AS t_min,
         |       MAX(rounded_time_id) AS t_max, COUNT(*) AS n_ticks
         |FROM factd WHERE NOT is_interpolated
         |GROUP BY date_id ORDER BY date_id""".stripMargin),

    // A8: DISTINCT projection.
    "a8_distinct_dates" -> Q(
      (s, dir) =>
        GoldModel.fact(Tables.events(s, dir))
          .select(col("date_id")).distinct().orderBy(col("date_id")),
      s"""WITH $FactCte
         |SELECT DISTINCT date_id FROM fact ORDER BY date_id""".stripMargin),

    // O2: multi-key global sort of the densify input
    // (fact_gold_price.py:302).
    "o2_multikey_sort" -> Q(
      (s, dir) =>
        GoldModel.factDensifyInput(Tables.events(s, dir))
          .select("source_id", "side_id", "date_id", "rounded_time_id", "price")
          .orderBy(col("source_id"), col("side_id"), col("date_id"),
            col("rounded_time_id")),
      s"""WITH $FactDensifyCte
         |SELECT source_id, side_id, date_id, rounded_time_id, price
         |FROM factd
         |ORDER BY source_id, side_id, date_id, rounded_time_id""".stripMargin),

    // S14+J1+J2+J4+P6+F9/F10+F17: the sheets-shaped export — densified
    // rows joined to dim_date (USING-style) / sources / sides, timestamp
    // reconstructed from date_string+minute and range-filtered
    // (gold_price_to_sheets.py:40-82).
    "s14_sheets_export" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        val dd = DateFlags.dimDateFrom(
          e.select(GoldModel.tehran(col("ts")).as("local")), "local")
        // J2: minute string via the generated dim_time (second = 0 rows)
        // joined on the rounded minute — fact_gold_price.py:283-288
        val dtMinutes = DimTime.build(s)
          .filter(col("second") === 0)
          .select(col("time_id").as("dt_time_id"),
            col("minutefullstring24"))
        densified(s, dir, col("date_id") === D)
          .join(broadcast(dd), Seq("date_id"))
          .join(broadcast(GoldModel.sourcesDim(e).select(col("id"), col("name").as("source"))),
            col("source_id") === col("id"))
          .join(broadcast(GoldModel.sidesDim(e)
            .select(col("id").as("sid"), col("name").as("side"))),
            col("side_id") === col("sid"), "left")
          .join(broadcast(dtMinutes),
            col("rounded_time_id") === col("dt_time_id"))
          .withColumn("minute_str", col("minutefullstring24"))
          // full 'yyyy-MM-dd HH:mm:ss' — a seconds-less string is not a
          // valid TIMESTAMP in every engine (DuckDB rejects it)
          .withColumn("ts_str",
            concat(col("date_string"), lit(" "), col("minute_str"), lit(":00")))
          .filter(to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss")
            .between(lit("2024-01-15 06:00:00").cast("timestamp"),
              lit("2024-01-15 18:00:00").cast("timestamp")))
          .select(col("date_string"), col("minute_str"), col("ts_str"),
            col("source"), col("side"), col("price"), col("is_interpolated"))
      },
      s"""WITH ${densifiedCte(s"date_id = $D")},
         |$SourcesCte,
         |sides AS (
         |  SELECT DISTINCT
         |    CASE event_type WHEN 'click' THEN 1 WHEN 'purchase' THEN 2
         |                    WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END AS id,
         |    event_type AS name
         |  FROM events WHERE event_type IN ('click','purchase','signup','view')),
         |dd AS (
         |  SELECT DISTINCT
         |    CAST(strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y%m%d') AS INT) AS date_id,
         |    strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y-%m-%d') AS date_string
         |  FROM events),
         |rows_ AS (
         |  SELECT dd.date_string,
         |         lpad(CAST(d.rounded_time_id // 10000 AS VARCHAR), 2, '0') || ':' ||
         |         lpad(CAST(d.rounded_time_id % 10000 // 100 AS VARCHAR), 2, '0') AS minute_str,
         |         s.name AS source, sd.name AS side, d.price, d.is_interpolated
         |  FROM densified d
         |  JOIN dd USING (date_id)
         |  JOIN sources s ON s.id = d.source_id
         |  LEFT JOIN sides sd ON sd.id = d.side_id)
         |SELECT date_string, minute_str,
         |       date_string || ' ' || minute_str || ':00' AS ts_str,
         |       source, side, price, is_interpolated
         |FROM rows_
         |WHERE CAST(date_string || ' ' || minute_str || ':00' AS TIMESTAMP)
         |      BETWEEN TIMESTAMP '2024-01-15 06:00:00' AND TIMESTAMP '2024-01-15 18:00:00'""".stripMargin)
  )
}
