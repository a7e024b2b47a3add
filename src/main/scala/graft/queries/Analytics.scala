package graft.queries

import graft.Tables
import graft.functions.Exact._
import graft.ops.{RangeJoin, Sessionize}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Beyond-reference analytics surface (SURVEY.md §7.5): framed windows,
  * sessionization, hierarchical aggregates, exact percentiles, range
  * joins. The reference's window usage stops at ROW_NUMBER and a
  * grand-total SUM (§2.5 W1/W2); these are the next operators any
  * warehouse user reaches for, expressed Spark-first with DuckDB value
  * oracles.
  *
  * Float determinism: every windowed/grouped SUM of a 2-dp double goes
  * through a decimal cast (graft.functions.Exact discipline) so results
  * are bit-identical at any parallelism and in any engine.
  */
object Analytics {
  private val Dec = DecimalType(18, 2)

  /** t9's OHLC aggregation over an events-shaped frame — shared with
    * the ScaleCheck probe (same discipline as Text.minhashPairsOver:
    * scale measurements must exercise the PRODUCTION aggregation, not a
    * re-spelling that can drift). */
  private[graft] def ohlcBars(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.select(col("user_id").cast("int").as("uid"),
        expr("unix_micros(ts) div 900000000").as("bucket"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("uid"), col("bucket"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_ticks"),
        dsum(col("value")).as("volume"))

  val all: Map[String, Q] = Map(

    // RFM customer segmentation — the classic lifecycle readout:
    // recency (last purchase), frequency (count), monetary (exact
    // decimal total) per user, each turned into a 1–5 quintile score
    // by RANK (rank-based quintiles are deterministic under ties with
    // the user_id tie-break, where value-threshold quintiles collapse
    // on duplicated values), then a rule-based segment label. The
    // three ranks are ops/DenseId over the USER-grain frame (fact
    // collapses first; no un-partitioned NTILE/ROW_NUMBER window
    // anywhere), quintile = 1 + (5·rank0) div n with n from a 1-row
    // broadcast. Scores join back on user_id — user-grain exchanges
    // only.
    "a31_rfm" -> Q(
      (s, dir) => {
        val per = graft.ops.PlanCache.materialized(
          Tables.events(s, dir)
            .filter(col("event_type") === "purchase" && col("value").isNotNull)
            .groupBy(col("user_id"))
            .agg(max(unix_micros(col("ts"))).as("last_ep"),
              count(lit(1)).as("freq"),
              sum(col("value").cast(Dec)).as("mon")))
        val n = per.agg(count(lit(1)).as("n"))
        def score(orderCol: String, name: String) =
          graft.ops.DenseId.assign(
              per.select(col("user_id"), col(orderCol)),
              Seq(col(orderCol), col("user_id")), "rk0")
            .crossJoin(broadcast(n))
            .select(col("user_id"),
              expr("cast(1 + (5 * rk0) div n AS int)").as(name))
        per
          .join(score("last_ep", "r_score"), "user_id")
          .join(score("freq", "f_score"), "user_id")
          .join(score("mon", "m_score"), "user_id")
          .select(col("user_id"), col("last_ep"), col("freq"),
            col("mon").cast("double").as("monetary"),
            col("r_score"), col("f_score"), col("m_score"),
            expr("""CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                   |     WHEN f_score >= 4 THEN 'loyal'
                   |     WHEN r_score >= 4 THEN 'recent'
                   |     WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                   |     WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                   |     ELSE 'regular' END""".stripMargin).as("segment"))
          .orderBy(col("user_id"))
      },
      """WITH per AS (
        |  SELECT user_id, epoch_us(MAX(ts)) AS last_ep,
        |         COUNT(*) AS freq,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS mon
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n FROM per),
        |r AS (SELECT user_id,
        |        CAST(1 + (5 * (ROW_NUMBER() OVER (ORDER BY last_ep, user_id) - 1)) // t.n AS INT) AS r_score
        |      FROM per CROSS JOIN t),
        |f AS (SELECT user_id,
        |        CAST(1 + (5 * (ROW_NUMBER() OVER (ORDER BY freq, user_id) - 1)) // t.n AS INT) AS f_score
        |      FROM per CROSS JOIN t),
        |m AS (SELECT user_id,
        |        CAST(1 + (5 * (ROW_NUMBER() OVER (ORDER BY mon, user_id) - 1)) // t.n AS INT) AS m_score
        |      FROM per CROSS JOIN t)
        |SELECT per.user_id, per.last_ep, per.freq,
        |  CAST(per.mon AS DOUBLE) AS monetary,
        |  r.r_score, f.f_score, m.m_score,
        |  CASE WHEN r.r_score >= 4 AND f.f_score >= 4 THEN 'champion'
        |       WHEN f.f_score >= 4 THEN 'loyal'
        |       WHEN r.r_score >= 4 THEN 'recent'
        |       WHEN r.r_score <= 2 AND f.f_score >= 3 THEN 'at_risk'
        |       WHEN r.r_score <= 2 AND f.f_score <= 2 THEN 'hibernating'
        |       ELSE 'regular' END AS segment
        |FROM per JOIN r USING (user_id) JOIN f USING (user_id) JOIN m USING (user_id)
        |ORDER BY per.user_id""".stripMargin),

    // W3 (beyond W1/W2): explicit ROWS frame — 7-event moving average
    // per user plus exact lag delta. One shuffle on user_id; both
    // windows share the same sort.
    "w3_moving_avg" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val frame = w.rowsBetween(-6, 0)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("mov_avg7",
            sum(col("value").cast(Dec)).over(frame).cast("double") /
              count(lit(1)).over(frame))
          .withColumn("delta",
            (col("value").cast(Dec) - lag(col("value"), 1).over(w).cast(Dec))
              .cast("double"))
          // parquet TIMESTAMP(NANOS) vs DuckDB micros: emit timestamps
          // as microsecond strings so the value compare is exact
          .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
      },
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_avg7,
        |  CAST(CAST(value AS DECIMAL(18,2))
        |       - lag(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS DOUBLE) AS delta
        |FROM events
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // RANGE frame (event-TIME window, vs w3's row-count window): per
    // user, the rolling 10-minute sum/count of values. Peers at equal
    // timestamps share a frame, so no tie-break is needed for value
    // determinism; decimal sums keep it exact.
    "w5_range_frame" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_us"))
          .rangeBetween(-600L * 1000000L, 0L)
        Tables.events(s, dir)
          .withColumn("epoch_us", unix_micros(col("ts")))
          .select(col("user_id"), col("event_id"), col("epoch_us"), col("value"))
          .withColumn("roll_sum",
            sum(col("value").cast(Dec)).over(w).cast("double"))
          .withColumn("roll_n", count(lit(1)).over(w))
          .orderBy(col("user_id"), col("epoch_us"), col("event_id"))
      },
      """SELECT user_id, event_id, epoch_us(ts) AS epoch_us, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum,
        |  COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS roll_n
        |FROM events
        |ORDER BY user_id, epoch_us, event_id""".stripMargin),

    // Pivot (long → wide): per-user event-type counts as columns.
    // Spark's relational pivot with an explicit value list (no
    // discovery scan); absent combinations back-fill 0 like the
    // conditional-count spelling.
    "a13_pivot" -> Q(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "purchase", "signup", "view"))
          .count()
          .na.fill(0L)
          .orderBy(col("user_id")),
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Unpivot (wide → long), the inverse reshape of a13: the per-user
    // type-count matrix melts back to (user, type, n) rows. Spark's
    // native unpivot is a zero-shuffle Expand over the pivoted result;
    // the oracle spells the same melt as a UNION ALL (engine-portable,
    // no UNPIVOT dialect dependence).
    "a17_unpivot" -> Q(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id").cast("int").as("uid"))
          .pivot("event_type", Seq("click", "purchase", "signup", "view"))
          .count()
          .na.fill(0L)
          .unpivot(
            Array(col("uid")),
            Array(col("click"), col("purchase"), col("signup"), col("view")),
            "event_type", "n")
          .orderBy(col("uid"), col("event_type")),
      """WITH w AS (
        |  SELECT CAST(user_id AS INT) AS uid,
        |    COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |    COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |    COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |  FROM events GROUP BY 1)
        |SELECT uid, event_type, n FROM (
        |  SELECT uid, 'click' AS event_type, click AS n FROM w
        |  UNION ALL SELECT uid, 'purchase', purchase FROM w
        |  UNION ALL SELECT uid, 'signup', signup FROM w
        |  UNION ALL SELECT uid, 'view', view FROM w)
        |ORDER BY uid, event_type""".stripMargin),

    // Top-k per group: ROW_NUMBER ≤ k with a deterministic tie-break.
    // Catalyst plans the rank filter as a WindowGroupLimit (top-k per
    // partition pushed below the full sort) — no global sort of the
    // fact.
    "w4_topk_per_group" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"), col("value"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy(col("event_type"), col("rk"))
      },
      """SELECT event_type, event_id, value, rk FROM (
        |  SELECT event_type, event_id, value,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |              ORDER BY value DESC, event_id ASC) AS INT) AS rk
        |  FROM events)
        |WHERE rk <= 3
        |ORDER BY event_type, rk""".stripMargin),

    // Hierarchical aggregate: ROLLUP over (returnflag, linestatus) with
    // GROUPING flags — subtotal and grand-total rows in one pass
    // (Spark plans one Expand + single hash aggregate).
    "a11_rollup" -> Q(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"),
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"))
          .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
            col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin),

    // Full CUBE over (returnflag, linestatus) — all four grouping-set
    // combinations (detail, each one-key subtotal, grand total) in a
    // single Expand + hash-aggregate pass, completing the hierarchical
    // family next to a11's ROLLUP and a13's pivot. GROUPING flags
    // disambiguate subtotal rows from genuine NULL keys.
    "a14_cube" -> Q(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"),
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"))
          .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
            col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin),

    // The full ranking/navigation window surface in ONE pass: lag/lead,
    // rank/dense_rank, ntile, percent_rank/cume_dist, first/last value.
    // All nine functions share a single (partition, sort) — one shuffle,
    // one sort, every function evaluated in the same WindowExec. The
    // (ts, event_id) sort key is unique per partition, so every rank —
    // and therefore every value — is deterministic at any parallelism.
    "w6_window_kitchen" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val full = w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("next_value", lead(col("value"), 1).over(w))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .withColumn("first_val", first(col("value")).over(w))
          .withColumn("last_val", last(col("value")).over(full))
          // micro-second strings — see w3_moving_avg note
          .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
      },
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(value) OVER w AS first_val,
        |  last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // Set operations (§2.7 — absent from the reference, free in Spark):
    // high-value clicker/purchaser audiences composed via INTERSECT /
    // EXCEPT / UNION-distinct. Each set op plans as an aggregate or
    // semi/anti hash join on the key — never a sort — and the inputs
    // are pre-distinct projections, so the whole query stays
    // input-sized.
    "o5_set_ops" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        def audience(t: String) = e
          .filter(col("event_type") === t && col("value") > 200)
          .select(col("user_id").cast("int").as("uid")).distinct()
        val c = audience("click")
        val p = audience("purchase")
        c.intersect(p).withColumn("tag", lit("both"))
          .unionByName(c.except(p).withColumn("tag", lit("click_only")))
          .unionByName(p.except(c).withColumn("tag", lit("purchase_only")))
          .unionByName(c.union(p).distinct().withColumn("tag", lit("any")))
          .select(col("tag"), col("uid"))
          .orderBy(col("tag"), col("uid"))
      },
      """WITH c AS (SELECT DISTINCT CAST(user_id AS INT) AS uid FROM events
        |           WHERE event_type = 'click' AND value > 200),
        |     p AS (SELECT DISTINCT CAST(user_id AS INT) AS uid FROM events
        |           WHERE event_type = 'purchase' AND value > 200)
        |SELECT 'both' AS tag, uid FROM (SELECT uid FROM c INTERSECT SELECT uid FROM p)
        |UNION ALL
        |SELECT 'click_only', uid FROM (SELECT uid FROM c EXCEPT SELECT uid FROM p)
        |UNION ALL
        |SELECT 'purchase_only', uid FROM (SELECT uid FROM p EXCEPT SELECT uid FROM c)
        |UNION ALL
        |SELECT 'any', uid FROM (SELECT uid FROM c UNION SELECT uid FROM p)
        |ORDER BY tag, uid""".stripMargin),

    // Exact linear-interpolated percentiles per group. Integer inputs ×
    // quarter fractions make every interpolation product exact in
    // IEEE double, so Spark's (1−f)·a + f·b and DuckDB's a + f·(b−a)
    // agree bitwise.
    "a12_percentiles" -> Q(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("q25"),
            expr("percentile(l_quantity, 0.5)").as("median"),
            expr("percentile(l_quantity, 0.75)").as("q75"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Cohort retention — the classic warehouse activity matrix: users
    // grouped by first-seen date, counted by day-offset of each active
    // day in the following week. Two aggregation grains (per-user
    // first-seen; distinct user-days) meet in a user-keyed join whose
    // build side is one row per user — at lake scale both grains
    // partial-aggregate map-side and the join shuffles user-grain rows,
    // never raw events.
    "a18_cohort_retention" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        val firstSeen = e
          .groupBy(col("user_id").cast("int").as("uid"))
          .agg(min(to_date(col("ts"))).as("cohort"))
        val activity = e
          .select(col("user_id").cast("int").as("uid"),
            to_date(col("ts")).as("d"))
          .distinct()
        activity.join(firstSeen, Seq("uid"))
          .withColumn("day_offset", datediff(col("d"), col("cohort")))
          .filter(col("day_offset").between(0, 7))
          .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("day_offset"))
          .agg(countDistinct(col("uid")).as("n_users"))
          .orderBy(col("cohort"), col("day_offset"))
      },
      """WITH first_seen AS (
        |  SELECT CAST(user_id AS INT) AS uid, MIN(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT CAST(user_id AS INT) AS uid, CAST(ts AS DATE) AS d
        |  FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |       CAST(date_diff('day', f.cohort, a.d) AS INT) AS day_offset,
        |       COUNT(DISTINCT a.uid) AS n_users
        |FROM activity a JOIN first_seen f USING (uid)
        |WHERE date_diff('day', f.cohort, a.d) BETWEEN 0 AND 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Bivariate statistics from exact moments: Pearson correlation and
    // OLS slope/intercept of extendedprice on quantity per returnflag.
    // The five moments aggregate in decimal (order-independent, one
    // hash-agg pass); corr/slope/intercept are then ONE fixed
    // IEEE-double expression over the exact moments — so the floats
    // hash-match across engines, where native corr()/regr_slope()
    // implementations (streaming covariance updates) would not. The
    // JVM and DuckDB sqrt/division still drift by 1 ulp on some inputs
    // (seen at sf0.001), so each output is round(…, 9) in both engines
    // (the x_bm25 discipline).
    "a15_corr_moments" -> Q(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(Dec)).cast("double").as("_sx"),
            sum(col("l_extendedprice").cast(Dec)).cast("double").as("_sy"),
            sum(col("l_quantity").cast(Dec) * col("l_extendedprice").cast(Dec))
              .cast("double").as("_sxy"),
            sum(col("l_quantity").cast(Dec) * col("l_quantity").cast(Dec))
              .cast("double").as("_sx2"),
            sum(col("l_extendedprice").cast(Dec) * col("l_extendedprice").cast(Dec))
              .cast("double").as("_sy2"))
          .select(
            col("l_returnflag"), col("n"),
            round((col("n") * col("_sxy") - col("_sx") * col("_sy")) /
              (sqrt(col("n") * col("_sx2") - col("_sx") * col("_sx")) *
                sqrt(col("n") * col("_sy2") - col("_sy") * col("_sy"))), 9)
              .as("corr_qty_price"),
            round((col("n") * col("_sxy") - col("_sx") * col("_sy")) /
              (col("n") * col("_sx2") - col("_sx") * col("_sx")), 9)
              .as("slope"),
            round((col("_sy") - (col("n") * col("_sxy") - col("_sx") * col("_sy")) /
              (col("n") * col("_sx2") - col("_sx") * col("_sx")) * col("_sx")) /
              col("n"), 9).as("intercept"))
          .orderBy(col("l_returnflag")),
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 9) AS corr_qty_price,
        |  round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 9) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n, 9) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // Ordered list aggregation: each user's full event-type sequence in
    // event order. collect_list is partition-order-nondeterministic, so
    // the order key rides inside the collected struct and an array_sort
    // (unique leading key) restores a deterministic sequence — the
    // portable spelling of DuckDB's list(x ORDER BY y). Per-group state
    // is the user's whole event run — the bound ANY sequence assembly
    // has; at lake scale, cap with slice() after the sort when only a
    // prefix is needed.
    "a16_list_agg" -> Q(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id").cast("int").as("uid"))
          .agg(
            expr("""array_join(
                   |  transform(array_sort(collect_list(struct(event_id, event_type))),
                   |            s -> s.event_type), ',')""".stripMargin).as("seq"),
            count(lit(1)).as("n_events"))
          .orderBy(col("uid")),
      """SELECT CAST(user_id AS INT) AS uid,
        |       array_to_string(list(event_type ORDER BY event_id), ',') AS seq,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Gap sessionization (ops/Sessionize): 30-min sessions per user,
    // rolled up to session stats. Window + aggregate share one shuffle.
    "t7_sessionize" -> Q(
      (s, dir) =>
        Sessionize.sessionStats(
            Tables.events(s, dir),
            col("user_id"), col("ts"), col("event_id"),
            gapSec = 1800, valueCol = col("value"))
          // micro-second strings — see w3_moving_avg note
          .withColumn("session_start",
            date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .withColumn("session_end",
            date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .orderBy(col("user_id"), col("session_no")),
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged
        |)
        |SELECT user_id, session_no,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec
        |FROM numbered
        |GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin),

    // Banded range join (ops/RangeJoin, bucketed strategy): lineitems
    // to discount bands via interval membership, then exact revenue per
    // band. The bucketed path shuffles on bucket ids instead of
    // broadcasting — the large-right-side plan, exercised here and
    // equivalence-checked against the broadcast loop in RangeJoinSpec.
    "j11_discount_bands" -> Q(
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("low", 0.00, 0.03), ("mid", 0.03, 0.07), ("high", 0.07, 0.11))
          .toDF("band", "lo", "hi")
        RangeJoin.bucketed(
            Tables.lineitem(s, dir).select(col("l_discount"), col("l_extendedprice")),
            col("l_discount"), bands, col("lo"), col("hi"), width = 0.01)
          .groupBy(col("band"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(Dec) * (lit(1) - col("l_discount").cast(Dec)))
              .cast("double").as("revenue"))
          .orderBy(col("band"))
      },
      """WITH bands(band, lo, hi) AS (
        |  VALUES ('low',  CAST(0.00 AS DOUBLE), CAST(0.03 AS DOUBLE)),
        |         ('mid',  CAST(0.03 AS DOUBLE), CAST(0.07 AS DOUBLE)),
        |         ('high', CAST(0.07 AS DOUBLE), CAST(0.11 AS DOUBLE)))
        |SELECT band, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN bands
        |  ON l_discount >= lo AND l_discount < hi
        |GROUP BY band ORDER BY band""".stripMargin),

    // Explicit GROUPING SETS — the general form a11's ROLLUP and a14's
    // CUBE are sugar for: two independent one-key breakdowns plus the
    // grand total, NOT the cross product. Catalyst plans the same single
    // Expand + hash aggregate (3 replicas per row vs cube's 4) — at lake
    // scale choosing sets over cube is a 25% input-volume cut per
    // dropped set. Via SQL text: the DataFrame API has no grouping-sets
    // verb (rollup/cube only), so the SQL surface IS the Spark-first
    // spelling.
    "a19_grouping_sets" -> Q(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        s.sql(
          """SELECT event_type, CAST(user_id AS INT) AS uid, COUNT(*) AS n,
            |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |  CAST(GROUPING(event_type) AS INT) AS g_t,
            |  CAST(GROUPING(user_id) AS INT) AS g_u
            |FROM events
            |GROUP BY GROUPING SETS ((event_type), (user_id), ())
            |ORDER BY g_t, g_u, event_type, uid""".stripMargin)
      },
      """SELECT event_type, CAST(user_id AS INT) AS uid, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(event_type) AS INT) AS g_t,
        |  CAST(GROUPING(user_id) AS INT) AS g_u
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id), ())
        |ORDER BY g_t, g_u, event_type, uid""".stripMargin),

    // Full-outer join (§2.3 notes the reference never needs one — Spark
    // gives it free): reconcile two aggregates with disjoint-ish key
    // sets, keeping unmatched rows from BOTH sides. Both inputs are
    // pre-aggregated to user grain before the join, so the full-outer
    // shuffles user-grain rows, never raw events; the USING form
    // coalesces the key like the SQL standard.
    "j14_full_outer" -> Q(
      (s, dir) => {
        val e = Tables.events(s, dir)
        def grain(t: String) = e
          .filter(col("event_type") === t)
          .groupBy(col("user_id").cast("int").as("uid"))
          .agg(dsum(col("value")).as(s"${t}_total"),
            count(lit(1)).as(s"n_${t}s"))
        grain("signup").join(grain("purchase"), Seq("uid"), "full_outer")
          .withColumn("tag",
            when(col("signup_total").isNull, "purchase_only")
              .when(col("purchase_total").isNull, "signup_only")
              .otherwise("both"))
          .orderBy(col("uid"))
      },
      """WITH s AS (
        |  SELECT CAST(user_id AS INT) AS uid,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS signup_total,
        |    COUNT(*) AS n_signups
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT CAST(user_id AS INT) AS uid,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_total,
        |    COUNT(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT uid, signup_total, n_signups, purchase_total, n_purchases,
        |  CASE WHEN signup_total IS NULL THEN 'purchase_only'
        |       WHEN purchase_total IS NULL THEN 'signup_only'
        |       ELSE 'both' END AS tag
        |FROM s FULL OUTER JOIN p USING (uid)
        |ORDER BY uid""".stripMargin),

    // Time-series resample to 15-minute OHLC bars — the financial-tick
    // reduction the gold-price domain (SURVEY §0) reaches for next.
    // open/close are min_by/max_by on the (ts, event_id) struct: an
    // argmax AGGREGATE, so ticks collapse to bar grain map-side and
    // only bar rows cross the shuffle (the struct ordering key costs a
    // SortAggregate — group-key sort, still partial+final — vs the
    // window formulation, which materializes and sorts every tick per
    // partition; the oracle spells it that way precisely to prove the
    // cheap plan computes the same bars). Bucket = integer epoch-µs
    // division; unique (ts, event_id) makes every bar deterministic.
    "t9_resample_ohlc" -> Q(
      (s, dir) =>
        ohlcBars(Tables.events(s, dir))
          .withColumn("bar_start", date_format(
            timestamp_micros(col("bucket") * 900000000L), "yyyy-MM-dd HH:mm:ss"))
          .orderBy(col("uid"), col("bucket")),
      """WITH t AS (
        |  SELECT CAST(user_id AS INT) AS uid,
        |         epoch_us(ts) // 900000000 AS bucket, ts, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 900000000
        |                       ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 900000000
        |                       ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT uid, bucket,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  MAX(value) AS high, MIN(value) AS low,
        |  COUNT(*) AS n_ticks,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  strftime(CAST(to_timestamp(bucket * 900) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS bar_start
        |FROM t
        |GROUP BY uid, bucket
        |ORDER BY uid, bucket""".stripMargin),

    // Fixed-width histogram — the distribution-profiling pass a
    // training-data pipeline runs over every numeric feature: bin by
    // integer division, count per bin, share of total via a grand-total
    // window over the ALREADY-AGGREGATED bin rows (the W2 pattern — the
    // single-partition window sees ~#bins rows, never the corpus).
    // Everything before it is one partial+final hash aggregate.
    "a20_histogram" -> Q(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(floor(col("value") / 50).cast("int").as("bin"))
          .agg(count(lit(1)).as("n"))
          .withColumn("lo", (col("bin") * 50).cast("double"))
          .withColumn("share", col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy()).cast("double"))
          .orderBy(col("bin")),
      """SELECT CAST(FLOOR(value / 50) AS INT) AS bin, COUNT(*) AS n,
        |  CAST(CAST(FLOOR(value / 50) AS INT) * 50 AS DOUBLE) AS lo,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
        |FROM events
        |GROUP BY 1
        |ORDER BY bin""".stripMargin),

    // SCD2-style version history via gaps-and-islands: each maximal run
    // of consecutive equal event_type per user becomes one versioned row
    // [valid_from, valid_to]. The island id is the running sum of
    // change flags — one window (shuffle+sort on user) feeding one
    // aggregate on (user, version): the standard two-pass history build
    // a warehouse uses to reconstruct dimension versions from a change
    // log, with no self-join.
    "s16_scd2_history" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("uid")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id").cast("int").as("uid"),
            col("ts"), col("event_id"), col("event_type"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(w).isNull ||
              lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
              .otherwise(0))
          .withColumn("version",
            sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("uid"), col("version"))
          .agg(
            min(col("event_type")).as("state"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
            count(lit(1)).as("n_events"))
          .orderBy(col("uid"), col("version"))
      },
      """WITH flagged AS (
        |  SELECT CAST(user_id AS INT) AS uid, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY CAST(user_id AS INT) ORDER BY ts, event_id)
        |), islands AS (
        |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY uid ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        |  FROM flagged)
        |SELECT uid, version, MIN(event_type) AS state,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  COUNT(*) AS n_events
        |FROM islands
        |GROUP BY uid, version
        |ORDER BY uid, version""".stripMargin),

    // Deterministic-sample quantiles — the lake-scale companion to
    // a12's exact percentiles: a hash-Bernoulli sample (keep rows whose
    // uniform 60-bit key falls below 2^60/8 — exact integer threshold,
    // no rand()) makes the order-statistics buffer 8× smaller while
    // keeping the estimate reproducible at any parallelism and in any
    // engine — the properties a reservoir or rand() sample can't give.
    // The filter is a map-side projection; the sample, not the corpus,
    // is what shuffles into the per-group buffer. Sampling ROWS (not
    // per-group) keeps the estimator unbiased per group; est_total
    // rescales by the exact inverse rate. The interpolation is spelled
    // EXPLICITLY (identical expression tree in both engines): native
    // percentile()/quantile_cont() order their lower+frac·span
    // arithmetic differently and drift a ulp apart on non-integer
    // values — a12 only escapes because integer quantities make every
    // formulation exact (measured at sf0.1: 110.04 vs
    // 110.04000000000002).
    "x_quantile_sample" -> Q(
      (s, dir) => {
        def q(p: String, alias: String) = {
          val pos = s"$p * (size(v) - 1)"
          val lo = s"element_at(v, cast(floor($pos) AS int) + 1)"
          val hi = s"element_at(v, cast(ceil($pos) AS int) + 1)"
          expr(s"$lo + ($hi - $lo) * ($pos - floor($pos))").as(alias)
        }
        Tables.events(s, dir)
          .filter(expr(md5Hash60Spark("event_id")) < lit(144115188075855872L))
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("value"))).as("v"))
          .select(col("event_type"),
            size(col("v")).cast("long").as("n_sample"),
            (size(col("v")).cast("long") * 8).as("est_total"),
            q("0.5d", "p50_sample"), q("0.9d", "p90_sample"))
          .orderBy(col("event_type"))
      }, {
        def q(p: String, alias: String) = {
          val pos = s"$p * (len(v) - 1)"
          val lo = s"v[CAST(floor($pos) AS INT) + 1]"
          val hi = s"v[CAST(ceil($pos) AS INT) + 1]"
          s"$lo + ($hi - $lo) * ($pos - floor($pos)) AS $alias"
        }
        s"""WITH samp AS (
           |  SELECT event_type, value FROM events
           |  WHERE ${md5Hash60Duck("event_id")} < 144115188075855872),
           |g AS (SELECT event_type, list(value ORDER BY value) AS v
           |      FROM samp GROUP BY 1)
           |SELECT event_type,
           |  CAST(len(v) AS BIGINT) AS n_sample,
           |  CAST(len(v) AS BIGINT) * 8 AS est_total,
           |  ${q("CAST(0.5 AS DOUBLE)", "p50_sample")},
           |  ${q("CAST(0.9 AS DOUBLE)", "p90_sample")}
           |FROM g ORDER BY event_type""".stripMargin
      }),

    // KMV distinct-count sketch (Bar-Yossef et al., RANDOM'02) — the
    // ENGINE-PORTABLE mergeable form of COUNT(DISTINCT) for lake-scale
    // profiling: keep the k=64 smallest values of a uniform 60-bit
    // hash; distinct ≈ (k−1)·2^60 / h_k. Unlike HLL++ sketch bytes
    // (implementation-private), every quantity here is a deterministic
    // function of the input SET, so a profile computed by this engine
    // reconciles bit-for-bit with one computed anywhere else — which is
    // what this oracle proves. Plan: the ops/Sketches.KmvDistinct typed
    // Aggregator partial-aggregates map-side (ObjectHashAggregate, one
    // ≤64-long array per (partition, group)) through a single exchange
    // — where the exact form first dedups at (group, value) grain, a
    // second full-data exchange the sketch never pays. The
    // oracle spells the same sketch via ROW_NUMBER over distinct
    // hashes; KmvSketchSpec pins the ~1/√k accuracy against exact.
    "x_kmv_distinct" -> Q(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            expr(md5Hash60Spark("l_orderkey")).as("hh"))
          .groupBy(col("l_returnflag"))
          .agg(graft.ops.Sketches.kmv(64)(col("hh")).as("kmv"))
          .select(col("l_returnflag"),
            col("kmv.n_kept").as("n_kept"),
            col("kmv.kth_hash").as("kth_hash"),
            col("kmv.est_distinct").as("est_distinct"))
          .orderBy(col("l_returnflag")),
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
         |  ${md5Hash60Duck("l_orderkey")} AS hh
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, hh,
         |        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hh) AS rk
         |      FROM h)
         |SELECT l_returnflag, CAST(COUNT(*) AS INT) AS n_kept,
         |  MAX(hh) AS kth_hash,
         |  CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
         |       ELSE 63.0 * $Hash60Space / MAX(hh) END AS est_distinct
         |FROM r WHERE rk <= 64 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Table profiling — the first query anyone runs against an unknown
    // 100 TB table: per-column row/null/distinct counts and value
    // range, as (column, metrics) rows. ONE scan pass computes every
    // column's aggregates side by side (a per-column loop would scan
    // the table once per column); the pivot to row-per-column happens
    // on the single 1-row aggregate result, so the explode costs
    // nothing. Exact distincts: Spark plans one Expand over the scan
    // (grouping-id per distinct column) — still a single pass of the
    // data; a 100 TB profile that can tolerate error swaps in the KMV
    // sketch per column (a21_profile_kmv below, oracle-gated itself). Averages via the engine's exact
    // decimal construction; all metrics cast to double for one uniform
    // schema.
    "a21_profile" -> Q(
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
        val agg1 = Tables.lineitem(s, dir).agg(
          count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"),
            (sum(col(c).cast("decimal(28,8)")).cast("double") / count(col(c)))
              .as(s"av_$c"))): _*)
        agg1.select(explode(array(cols.map(c => struct(
            lit(c).as("col_name"), col("n_rows"),
            col(s"nn_$c").as("n_nulls"), col(s"nd_$c").as("n_distinct"),
            col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"),
            round(col(s"av_$c"), 6).as("avg_val"))): _*)).as("p"))
          .select("p.*")
          .orderBy("col_name")
      }, {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS DOUBLE) AS min_val,
             |  CAST(MAX($c) AS DOUBLE) AS max_val,
             |  round(CAST(SUM(CAST($c AS DECIMAL(28,8))) AS DOUBLE) / COUNT($c), 6) AS avg_val
             |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
          .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // a21's 100 TB form: same one-pass profile with the exact
    // countDistincts swapped for the KMV sketch (ops/Sketches, the
    // x_kmv_distinct machinery). The exact profile's COUNT(DISTINCT)
    // expands the scan #columns× (one grouping-id per distinct column)
    // and dedups each at full value grain through the exchange; the
    // sketch carries one ≤64-long array per column through a single
    // partial-aggregate — constant shuffle bytes per column regardless
    // of cardinality. Values are hashed at a CANONICAL DECIMAL(28,8)
    // string grain (double→string renderings are not engine-portable;
    // fixed-scale decimal renderings are), so the sketch — like
    // x_kmv_distinct — is a deterministic function of the value set and
    // the DuckDB oracle reproduces it bit-for-bit. CorpusOpsSpec pins
    // estimate accuracy against the exact profile.
    "a21_profile_kmv" -> Q(
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
        def hash60(c: String) = expr(md5Hash60Spark(s"cast($c AS decimal(28,8))"))
        val agg1 = Tables.lineitem(s, dir).agg(
          count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
            graft.ops.Sketches.kmv(64)(hash60(c)).as(s"kmv_$c"),
            min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"),
            (sum(col(c).cast("decimal(28,8)")).cast("double") / count(col(c)))
              .as(s"av_$c"))): _*)
        agg1.select(explode(array(cols.map(c => struct(
            lit(c).as("col_name"), col("n_rows"),
            col(s"nn_$c").as("n_nulls"),
            col(s"kmv_$c.n_kept").as("n_kept"),
            round(col(s"kmv_$c.est_distinct"), 6).as("est_distinct"),
            col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"),
            round(col(s"av_$c"), 6).as("avg_val"))): _*)).as("p"))
          .select("p.*")
          .orderBy("col_name")
      }, {
        def one(c: String) = {
          val hh = md5Hash60Duck(s"CAST($c AS DECIMAL(28,8))")
          s"""SELECT '$c' AS col_name,
             |  (SELECT COUNT(*) FROM lineitem) AS n_rows,
             |  (SELECT CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |   FROM lineitem) AS n_nulls,
             |  k.n_kept, k.est_distinct,
             |  (SELECT CAST(MIN($c) AS DOUBLE) FROM lineitem) AS min_val,
             |  (SELECT CAST(MAX($c) AS DOUBLE) FROM lineitem) AS max_val,
             |  (SELECT round(CAST(SUM(CAST($c AS DECIMAL(28,8))) AS DOUBLE) / COUNT($c), 6)
             |   FROM lineitem) AS avg_val
             |FROM (
             |  SELECT CAST(COUNT(*) AS INT) AS n_kept,
             |    round(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
             |               ELSE 63.0 * $Hash60Space / MAX(hh) END, 6) AS est_distinct
             |  FROM (SELECT hh, ROW_NUMBER() OVER (ORDER BY hh) AS rk
             |        FROM (SELECT DISTINCT $hh AS hh FROM lineitem WHERE $c IS NOT NULL))
             |  WHERE rk <= 64) k""".stripMargin
        }
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
          .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // Ordered-step funnel conversion (first-touch semantics): a user
    // advances to step k iff their FIRST signup precedes their FIRST
    // view precedes their FIRST click … — the standard product-analytics
    // funnel over an event log. One aggregation pass computes all four
    // first-touch times as conditional MINs over a totally-ordered
    // string key (zero-padded epoch-µs + event_id tie-break — struct
    // MINs would work in Spark but DuckDB's arg/struct MIN rules differ,
    // the string key is engine-portable by construction); a second
    // 1-row aggregate counts stage survivors. Scale: events collapse to
    // user grain map-side (partial MIN), only |users| rows cross the
    // exchange, and the funnel verdict is a codegen'd projection —
    // no sort, no window, no per-user event list ever materializes.
    // NULL step times fail every `<` strictly (UNKNOWN → not counted),
    // identically in both engines.
    "a22_funnel" -> Q(
      (s, dir) => {
        val k = format_string("%020d.%012d", unix_micros(col("ts")), col("event_id"))
        val perUser = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), k.as("k"))
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "signup", col("k"))).as("t1"),
            min(when(col("event_type") === "view", col("k"))).as("t2"),
            min(when(col("event_type") === "click", col("k"))).as("t3"),
            min(when(col("event_type") === "purchase", col("k"))).as("t4"))
        perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("t1")).as("n_signup"),
          count(when(col("t1") < col("t2"), 1)).as("n_signup_view"),
          count(when(col("t1") < col("t2") && col("t2") < col("t3"), 1))
            .as("n_signup_view_click"),
          count(when(col("t1") < col("t2") && col("t2") < col("t3") &&
            col("t3") < col("t4"), 1)).as("n_full_funnel"))
          .withColumn("conv_full",
            when(col("n_signup") > 0,
              col("n_full_funnel").cast("double") / col("n_signup")))
      },
      """WITH per AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup'
        |             THEN printf('%020d.%012d', epoch_us(ts), event_id) END) AS t1,
        |    MIN(CASE WHEN event_type = 'view'
        |             THEN printf('%020d.%012d', epoch_us(ts), event_id) END) AS t2,
        |    MIN(CASE WHEN event_type = 'click'
        |             THEN printf('%020d.%012d', epoch_us(ts), event_id) END) AS t3,
        |    MIN(CASE WHEN event_type = 'purchase'
        |             THEN printf('%020d.%012d', epoch_us(ts), event_id) END) AS t4
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(t1) AS n_signup,
        |  COUNT(CASE WHEN t1 < t2 THEN 1 END) AS n_signup_view,
        |  COUNT(CASE WHEN t1 < t2 AND t2 < t3 THEN 1 END) AS n_signup_view_click,
        |  COUNT(CASE WHEN t1 < t2 AND t2 < t3 AND t3 < t4 THEN 1 END) AS n_full_funnel,
        |  CASE WHEN COUNT(t1) > 0
        |       THEN CAST(COUNT(CASE WHEN t1 < t2 AND t2 < t3 AND t3 < t4 THEN 1 END)
        |                 AS DOUBLE) / COUNT(t1) END AS conv_full
        |FROM per""".stripMargin),

    // LOCF gap fill (last observation carried forward) — the step-
    // function fill semantics a price/telemetry series wants when
    // linear interpolation (t3's nearest-2) would invent values between
    // regime changes. Same gap-local generation discipline as
    // ops/Interpolate: per (user, 15-min bucket) the closing
    // observation is an argmax AGGREGATE (ticks collapse map-side);
    // one lead() window attaches each point's next bucket; missing
    // buckets are explode(sequence)-generated per gap CARRYING the left
    // endpoint's close — so the (typically much larger) generated set
    // flows through a single codegen'd projection and no join, window,
    // or exchange ever touches it. The explicit-width repartition on
    // uid alone serves both the (uid, bucket) aggregate and the uid
    // window on ONE exchange, and keeps AQE from under-sizing the
    // explode stage (same rationale as Interpolate.densify). Grid
    // bounds are per-user [first, last] observed bucket, so LOCF never
    // extrapolates past either end. Oracle spells the same fill as
    // a grid anti-shape LEFT JOIN + IGNORE NULLS window — a deliberately
    // different formulation.
    "t12_locf_fill" -> Q(
      (s, dir) => {
        val width = s.sessionState.conf.numShufflePartitions
        val pts = Tables.events(s, dir)
          .select(col("user_id").cast("int").as("uid"),
            expr("unix_micros(ts) div 900000000").as("bucket"),
            col("ts"), col("event_id"), col("value"))
          .repartition(width, col("uid"))
          .groupBy(col("uid"), col("bucket"))
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
        val w = Window.partitionBy(col("uid")).orderBy(col("bucket"))
        val filled = pts
          .withColumn("nxt", lead(col("bucket"), 1).over(w))
          .filter(col("nxt").isNotNull && col("nxt") - col("bucket") >= 2)
          .select(col("uid"),
            explode(sequence(col("bucket") + 1, col("nxt") - 1)).as("bucket"),
            col("close"), lit(true).as("is_filled"))
        pts.select(col("uid"), col("bucket"), col("close"),
            lit(false).as("is_filled"))
          .unionByName(filled)
          .orderBy(col("uid"), col("bucket"))
      },
      """WITH e AS (
        |  SELECT CAST(user_id AS INT) AS uid,
        |         epoch_us(ts) // 900000000 AS bucket, ts, event_id, value
        |  FROM events),
        |r AS (SELECT uid, bucket, value,
        |        ROW_NUMBER() OVER (PARTITION BY uid, bucket
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM e),
        |p AS (SELECT uid, bucket, value AS close FROM r WHERE rn = 1),
        |b AS (SELECT uid, MIN(bucket) AS mn, MAX(bucket) AS mx FROM p GROUP BY uid),
        |grid AS (SELECT uid, UNNEST(generate_series(mn, mx)) AS bucket FROM b),
        |j AS (SELECT g.uid, g.bucket, p.close, p.uid IS NOT NULL AS has
        |      FROM grid g LEFT JOIN p ON g.uid = p.uid AND g.bucket = p.bucket)
        |SELECT uid, bucket,
        |  last_value(close IGNORE NULLS) OVER (
        |    PARTITION BY uid ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
        |  NOT has AS is_filled
        |FROM j ORDER BY uid, bucket""".stripMargin),

    // Market-basket co-occurrence with lift — frequent-itemset mining's
    // first pass (parts ordered together, scored by how far their joint
    // frequency exceeds independence). Scale shape: lineitems collapse
    // to per-order part SETS on one l_orderkey exchange (map-side
    // partial collect_set), and the C(b,2) pair fan-out is a per-row
    // nested transform + ONE explode — entirely map-side ABOVE the
    // aggregate, so no self-join exists at all. The join spelling (kept
    // as the oracle) re-shuffles the basket frame and sort-merges it
    // against itself — at sf0.1 that only measures ~10% slower (min
    // warm exec 1.13s vs 1.00s; fixture shuffles are cheap), but at
    // lake scale it is one extra corpus-sized exchange plus two
    // corpus-sized sorts that this formulation simply doesn't have.
    // The quadratic
    // blow-up is bounded by BASKET size (TPC-H ~7 lines/order → ≤21
    // pairs), never corpus size — the x_fuzzy_match bounded-block
    // discipline. Pair counts partial-aggregate map-side on
    // (part_a, part_b); top-25 by support is a driver heap
    // (TakeOrderedAndProject); per-part counts and the one-row order
    // total attach AFTER the cut, joining dimension-sized frames to 25
    // rows. All scores are exact integer ratios evaluated in double
    // (products < 2⁵³) — bit-identical in any engine.
    "j16_basket_pairs" -> Q(
      (s, dir) => {
        val b = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val nOrders = b.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        val itemCnt = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        val baskets = b.groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
        // sequence(a, b) counts DOWN when a > b, so 1-part baskets must
        // yield an empty pair list explicitly (the x_quality_repetition
        // guard)
        val top = baskets
          .select(explode(expr(
            """CASE WHEN size(parts) >= 2 THEN
              |  flatten(transform(sequence(1, size(parts) - 1), i ->
              |    transform(sequence(i + 1, size(parts)), j ->
              |      struct(element_at(parts, i) AS part_a,
              |             element_at(parts, j) AS part_b))))
              |ELSE cast(array() AS array<struct<part_a: bigint, part_b: bigint>>)
              |END""".stripMargin))
            .as("p"))
          .select(col("p.part_a"), col("p.part_b"))
          .groupBy(col("part_a"), col("part_b"))
          .agg(count(lit(1)).as("pair_n"))
          .orderBy(col("pair_n").desc, col("part_a"), col("part_b"))
          .limit(25)
        top
          .join(itemCnt.withColumnRenamed("l_partkey", "part_a")
            .withColumnRenamed("cnt", "cnt_a"), Seq("part_a"))
          .join(itemCnt.withColumnRenamed("l_partkey", "part_b")
            .withColumnRenamed("cnt", "cnt_b"), Seq("part_b"))
          .crossJoin(broadcast(nOrders))
          .select(col("part_a"), col("part_b"), col("pair_n"),
            col("cnt_a"), col("cnt_b"), col("n_orders"),
            (col("pair_n").cast("double") / col("n_orders")).as("support"),
            ((col("pair_n") * col("n_orders")).cast("double") /
              (col("cnt_a") * col("cnt_b"))).as("lift"))
          .orderBy(col("pair_n").desc, col("part_a"), col("part_b"))
      },
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
        |c AS (SELECT l_partkey, COUNT(*) AS cnt FROM b GROUP BY 1),
        |p AS (SELECT a.l_partkey AS part_a, bb.l_partkey AS part_b,
        |        COUNT(*) AS pair_n
        |      FROM b a JOIN b bb
        |        ON a.l_orderkey = bb.l_orderkey AND a.l_partkey < bb.l_partkey
        |      GROUP BY 1, 2),
        |t AS (SELECT * FROM p ORDER BY pair_n DESC, part_a, part_b LIMIT 25)
        |SELECT t.part_a, t.part_b, t.pair_n, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  n.n_orders,
        |  CAST(t.pair_n AS DOUBLE) / n.n_orders AS support,
        |  CAST(t.pair_n * n.n_orders AS DOUBLE) / (ca.cnt * cb.cnt) AS lift
        |FROM t
        |JOIN c ca ON t.part_a = ca.l_partkey
        |JOIN c cb ON t.part_b = cb.l_partkey
        |CROSS JOIN n
        |ORDER BY pair_n DESC, part_a, part_b""".stripMargin),

    // Event-type transition matrix — the Markov first-order view of a
    // behavior log (what follows what, and with what probability):
    // lag() pairs each event with its predecessor per user, pairs
    // aggregate to the |types|² matrix, and each row normalizes by its
    // outgoing total via a window over the ALREADY-AGGREGATED matrix
    // rows (the W2 pattern — the window sees ≤16 rows, never the
    // corpus). One user-keyed shuffle+sort for the lag, one matrix-
    // keyed aggregate; probabilities are exact bigint ratios in
    // double.
    "a23_transition_matrix" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("prev"))))
          .orderBy(col("prev"), col("next"))
      },
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (SELECT prev, event_type AS next, COUNT(*) AS n
        |      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
        |FROM m ORDER BY prev, next""".stripMargin),

    // Sliding-window distinct cardinality — rolling 1-hour unique users
    // per event type at 15-min steps. COUNT(DISTINCT) OVER a sliding
    // frame doesn't exist as a window function in either engine; the
    // scalable exact construction buckets first (per-bucket user SETS —
    // the corpus collapses on one (type, bucket) exchange) and then
    // unions the trailing 4 buckets' sets per output row, so window
    // state is bucket-grain, never event-grain. The RANGE frame (not
    // ROWS) keeps the window time-correct across empty buckets. The
    // oracle deliberately computes the same counts via a bucket-range
    // self-join + COUNT(DISTINCT) — a formulation that re-touches
    // events 4×, kept oracle-side only.
    "w7_sliding_uniques" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
          .rangeBetween(-3, 0)
        Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 900000000").as("bucket"), col("user_id"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(collect_set(col("user_id")).as("us"))
          .withColumn("n_bucket_users", size(col("us")).cast("long"))
          .withColumn("uniq_hour",
            size(array_distinct(flatten(collect_list(col("us")).over(w))))
              .cast("long"))
          .select(col("event_type"), col("bucket"), col("n_bucket_users"),
            col("uniq_hour"))
          .orderBy(col("event_type"), col("bucket"))
      },
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 900000000 AS bucket, user_id
        |  FROM events),
        |b AS (SELECT DISTINCT event_type, bucket FROM e)
        |SELECT b.event_type, b.bucket,
        |  COUNT(DISTINCT CASE WHEN e.bucket = b.bucket THEN e.user_id END)
        |    AS n_bucket_users,
        |  COUNT(DISTINCT e.user_id) AS uniq_hour
        |FROM b JOIN e
        |  ON e.event_type = b.event_type
        | AND e.bucket BETWEEN b.bucket - 3 AND b.bucket
        |GROUP BY b.event_type, b.bucket
        |ORDER BY b.event_type, b.bucket""".stripMargin),

    // Two-proportion z-test — experiment readout over an event log
    // (variant = user-id parity; conversion = HEAVY purchaser, ≥14
    // purchase events — "any purchase" is degenerate on this fixture,
    // every user has one, and a pooled rate of 1 makes the z
    // denominator 0; per-user event volume is scale-invariant in the
    // generator so the count threshold is stable across sf): the
    // statistical-inference operator an A/B platform runs thousands of
    // times a day. Events collapse to user grain map-side (one keyed
    // exchange carries |users| rows), variants reduce to ONE row of
    // integer counts, and the entire z computation is a fixed scalar
    // expression over exact integers — every division/sqrt is one IEEE
    // double op evaluated in the same order in both engines, so even
    // the test statistic hash-matches with no tolerance. (1.96 and 1.0
    // are spelled via CAST in the oracle: DuckDB parses bare decimal
    // literals as DECIMAL, which would silently shift the arithmetic.)
    "a24_abtest_ztest" -> Q(
      (s, dir) => {
        val per = Tables.events(s, dir)
          .select(col("user_id"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("c"))
          .groupBy(col("user_id"))
          .agg(when(sum(col("c")) >= 14, 1).otherwise(0).as("conv"))
          .withColumn("v", pmod(col("user_id"), lit(2)))
        per.agg(
            count(when(col("v") === 0, 1)).as("n0"),
            sum(when(col("v") === 0, col("conv"))).cast("long").as("c0"),
            count(when(col("v") === 1, 1)).as("n1"),
            sum(when(col("v") === 1, col("conv"))).cast("long").as("c1"))
          .withColumn("p0", col("c0").cast("double") / col("n0"))
          .withColumn("p1", col("c1").cast("double") / col("n1"))
          .withColumn("z", expr(
            """(cast(c1 AS double) / n1 - cast(c0 AS double) / n0)
              |/ sqrt((cast(c0 + c1 AS double) / (n0 + n1))
              |       * (cast(1 AS double) - cast(c0 + c1 AS double) / (n0 + n1))
              |       * (cast(1 AS double) / n0 + cast(1 AS double) / n1))"""
              .stripMargin))
          .withColumn("significant", abs(col("z")) > lit(1.96d))
      },
      """WITH per AS (
        |  SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |v AS (SELECT user_id % 2 AS v, conv FROM per),
        |st AS (SELECT
        |  COUNT(CASE WHEN v = 0 THEN 1 END) AS n0,
        |  CAST(SUM(CASE WHEN v = 0 THEN conv END) AS BIGINT) AS c0,
        |  COUNT(CASE WHEN v = 1 THEN 1 END) AS n1,
        |  CAST(SUM(CASE WHEN v = 1 THEN conv END) AS BIGINT) AS c1
        |  FROM v)
        |SELECT n0, c0, n1, c1,
        |  CAST(c0 AS DOUBLE) / n0 AS p0,
        |  CAST(c1 AS DOUBLE) / n1 AS p1,
        |  (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
        |    / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (CAST(1 AS DOUBLE) - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)) AS z,
        |  abs((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
        |    / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (CAST(1 AS DOUBLE) - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)))
        |    > CAST(1.96 AS DOUBLE) AS significant
        |FROM st""".stripMargin))
}
