package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.Tables
import graft.ops.Incremental
import org.apache.spark.sql.functions._

/** Warehouse-maintenance patterns that only matter at scale: work that
  * a small warehouse does by recomputing and a 100 TB lake must do
  * incrementally.
  */
object Maintenance {

  /** Fixed split point inside the events corpus (2024-01-01 →
    * 2024-01-30 at every sf): "history" is days 1–20, the "new
    * arrivals" delta is days 21–30. In production the history side is
    * a persisted state table, not a scan — the query exercises the
    * merge algebra end-to-end. */
  private val Cutoff = "2024-01-21 00:00:00"

  /** In-memory Derby DB names must be unique per invocation (Bench runs
    * each query several times; a fixed name would collide with — or
    * silently reuse — the previous invocation's state). */
  private val jdbcSeq = new AtomicInteger(0)

  val all: Map[String, Q] = Map(

    // The JDBC seam round-tripped under the oracle gate: a bootstrap
    // slice lands in an embedded Derby warehouse through Spark's JDBC
    // writer (which owns the DDL), a revision batch upserts on top
    // through io/JdbcWriter (batched UPDATE-then-INSERT — the
    // set-based form of the reference's per-row ON CONFLICT loop,
    // fact_gold_price.py:169-196), and the final state reads back
    // through io/JdbcSource into a decimal aggregate the DuckDB oracle
    // recomputes from the raw batch algebra. Values cross
    // Spark→JDBC→Spark bit-exactly (doubles round-trip; ×2 is an
    // exponent bump). The in-memory database is dropped once the
    // result materializes (the t16 temp-state discipline — a bench run
    // is 10+ invocations). Scale posture: the JDBC seam is for
    // warehouse-sided exports, so the query ships a bounded slice, not
    // the table.
    "x_jdbc_roundtrip" -> Q(
      (s, dir) => {
        val db = s"graft_rt_${jdbcSeq.incrementAndGet()}"
        val url = s"jdbc:derby:memory:$db;create=true"
        val d4 = lit("2024-01-04 00:00:00").cast("timestamp")
        val d6 = lit("2024-01-06 00:00:00").cast("timestamp")
        val d8 = lit("2024-01-08 00:00:00").cast("timestamp")
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        ev.filter(col("ts") < d6).drop("ts")
          .write.format("jdbc")
          .option("url", url).option("dbtable", "events_rt")
          .mode("overwrite").save()
        // the conflict column needs a unique index, exactly as the
        // reference's ON CONFLICT target does — without it every
        // batched UPDATE is a full table scan (measured 75 s vs 3 s
        // for this slice)
        val ddl = java.sql.DriverManager.getConnection(url)
        try ddl.createStatement().execute(
          """CREATE UNIQUE INDEX events_rt_pk ON events_rt ("event_id")""")
        finally ddl.close()
        graft.io.JdbcWriter.upsert(
          ev.filter(col("ts") >= d4 && col("ts") < d8)
            .select(col("event_id"), col("event_type"),
              (col("value") * 2).as("value")),
          url, "events_rt", "event_id")
        val out = graft.io.JdbcSource.read(s, url, "events_rt")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        try java.sql.DriverManager
          .getConnection(s"jdbc:derby:memory:$db;drop=true")
        catch { case _: java.sql.SQLException => () } // 08006 = dropped
        out
      },
      """WITH b AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-06 00:00:00'),
        |r AS (
        |  SELECT event_id, event_type, value * 2 AS value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-08 00:00:00'),
        |fin AS (
        |  SELECT * FROM r
        |  UNION ALL
        |  SELECT * FROM b WHERE event_id NOT IN (SELECT event_id FROM r))
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM fin
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Incremental rollup maintenance — per (day, event_type) stats kept
    // as mergeable components: state(history) ⊎ state(delta) is proven
    // equal to the full recompute (the oracle IS the full recompute —
    // one direct GROUP BY over all events). Each state pass is one
    // partial+final hash aggregate over its slice; the merge
    // re-aggregates two key-cardinality-sized state tables — at lake
    // scale that's delta-sized input + a tiny state read instead of a
    // history rescan, and the decimal sums make the merged result
    // bit-identical to the rebuild regardless of how many increments
    // composed it.
    "x_incr_agg" -> Q(
      (s, dir) => {
        val keys = Seq("day", "event_type")
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        val cut = lit(Cutoff).cast("timestamp")
        val history = Incremental.state(ev.filter(col("ts") < cut), keys, "value")
        val delta = Incremental.state(ev.filter(col("ts") >= cut), keys, "value")
        Incremental.finalize(Incremental.merge(keys)(history, delta))
          .orderBy(col("day"), col("event_type"))
      },
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  COUNT(value) AS cnt,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_v
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // The layout layer run END-TO-END under the oracle gate: events
    // land in a TxTable partitioned by event_type and are re-clustered
    // by OPTIMIZE ZORDER on (user_id, value) with deliberately small
    // row groups, then a 2-D range probe — the exact query shape
    // Z-ordering exists for — reads the snapshot BACK through the
    // skipping path (both predicates push to the parquet scan, whose
    // row-group min/max bounds are tight in both dimensions under the
    // Z layout) and aggregates per event_type with decimal sums. The
    // oracle runs the same probe over the RAW table: values must
    // survive the rewrite bit-for-bit, proving the layout pass reorders
    // rows and nothing else. Temp table dirs are deleted once the
    // result materializes (the t16 discipline — a bench run is 10+
    // invocations).
    "x_zorder_scan" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_zorder").toString
        val tbl = s"$base/events_z"
        graft.io.TxTable.replaceAll(s, tbl, Tables.events(s, dir), "event_type")
        graft.io.TxTable.optimizeZOrderBy(s, tbl, "event_type",
          Seq("user_id", "value"),
          graft.io.Layout(rowGroupBytes = Some(256L * 1024)))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .filter(col("user_id").between(10, 60) &&
            col("value").between(10.0, 60.0))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE user_id BETWEEN 10 AND 60
        |  AND value BETWEEN 10.0 AND 60.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // The TRANSACTIONAL table (io/TxTable) under the oracle gate,
    // end-to-end: bootstrap-commit the first 20 days of events keyed by
    // event_id and partitioned by event_type, then upsert a revision
    // batch (days 15–25 re-land with doubled values — ×2 is an exponent
    // bump, exact in double in both engines), and read the final
    // SNAPSHOT back through the manifest. The oracle states the upsert
    // algebra directly: revision rows, plus bootstrap rows whose key the
    // revision didn't touch. Every row crosses a manifest-committed
    // parquet round-trip, so the protocol's read path (latest-pointer
    // resolution, per-partition data dirs, snapshot union) is value-
    // checked by the same harness as every operator — concurrency
    // itself is TxTable's race-seam specs; this gates the
    // single-writer data path those races reduce to. Temp table dirs
    // are deleted once the result materializes (the t16 discipline).
    "x_tx_upsert" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txq").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val cut = lit("2024-01-21 00:00:00").cast("timestamp")
        val lo = lit("2024-01-15 00:00:00").cast("timestamp")
        val hi = lit("2024-01-26 00:00:00").cast("timestamp")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") < cut),
          "event_id", "ts", "event_type")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") >= lo && col("ts") < hi)
            .withColumn("value", col("value") * 2),
          "event_id", "ts", "event_type")
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .select(col("event_id"), col("event_type"), col("value"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH b1 AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
        |b2 AS (
        |  SELECT event_id, event_type, value * 2 AS value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-26 00:00:00')
        |SELECT event_id, event_type, value FROM b2
        |UNION ALL
        |SELECT event_id, event_type, value FROM b1
        |WHERE event_id NOT IN (SELECT event_id FROM b2)
        |ORDER BY event_id""".stripMargin),

    // PREDICATE-pruned transactional snapshot under the oracle gate:
    // events land in a TxTable partitioned by DAY (31 partitions, one
    // partitionBy staging job), then a date-RANGE read comes back
    // through snapshotWhere — the manifest's stored partition values
    // are filtered engine-side and only the ~10 matching day leaves
    // are opened, never the table (the pruning the md5-key-only
    // manifest could not serve). The oracle restates the range over
    // the raw events. Decimal sums; temp dirs deleted on materialize.
    "x_tx_where" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txw").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("day"), col("event_type"), col("value"))
        graft.io.TxTable.upsert(s, tbl, ev,
          key = "event_id", version = "event_id", partitionCol = "day")
        val out = graft.io.TxTable.snapshotWhere(s, tbl, "day",
            col("day") >= "2024-01-10" && col("day") < "2024-01-20").get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-10'
        |  AND strftime(ts, '%Y-%m-%d') <  '2024-01-20'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // MULTI-COLUMN transactional partitioning under the oracle gate:
    // events land in a TxTable partitioned by the (day, event_type)
    // TUPLE — one manifest key per distinct pair, ~150 partitions in
    // one partitionBy staging job — then a read predicated on BOTH
    // columns comes back through snapshotWhere: the stored per-column
    // values are filtered engine-side and only the matching
    // (10 days × 2 types) leaves open, never the table. This is the
    // partition shape real fact tables use — (date, source), (date,
    // hour) — and the pruning math is what survives 100 TB: a day+type
    // probe opens ~20 of N leaves whatever N grows to. The oracle
    // restates the two-column predicate over the raw events.
    "x_tx_multi" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txmc").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("day"), col("event_type"), col("value"))
        graft.io.TxTable.upsert(s, tbl, ev,
          key = "event_id", version = "event_id",
          partitionCol = Seq("day", "event_type"))
        val out = graft.io.TxTable.snapshotWhere(s, tbl,
            Seq("day", "event_type"),
            col("day") >= "2024-01-10" && col("day") < "2024-01-20" &&
              col("event_type").isin("click", "purchase")).get
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("day"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-10'
        |  AND strftime(ts, '%Y-%m-%d') <  '2024-01-20'
        |  AND event_type IN ('click', 'purchase')
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // Table-to-table CDC replication under the oracle gate: a source
    // TxTable takes a bootstrap upsert then a keyed DELETE; the change
    // feed mirrors both commits onto a SECOND TxTable, each as one
    // atomic applyCdc commit (upserts and deletes together — the
    // tombstoned partition replicates too); the aggregate reads the
    // MIRROR's snapshot. The oracle is the recompute of the source's
    // final state — mirror ≡ source proven on values through the
    // driver's hash gate, not just the spec suite.
    "x_tx_mirror" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txm").toString
        val src = s"$base/src"
        val dst = s"$base/dst"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val d20 = lit("2024-01-20 00:00:00").cast("timestamp")
        val d05 = lit("2024-01-05 00:00:00").cast("timestamp")
        graft.io.TxTable.upsert(s, src, ev.filter(col("ts") < d20),
          "event_id", "ts", "event_type")
        graft.io.TxTable.delete(s, src,
          ev.filter(col("event_type") === "click" && col("ts") < d05)
            .select(col("event_id"), col("event_type")),
          "event_id", "event_type")
        graft.streaming.TxChangeFeed.mirror(s, src, dst,
          "event_id", "event_type")
        val out = graft.io.TxTable.snapshot(s, dst).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Version-to-version CDC over the transactional table — the
    // `table_changes` readout: the same bootstrap + revision commits as
    // x_tx_upsert, then TxTable.diff(v1 → v2) keyed by event_id. The
    // oracle restates the change algebra over the raw batches: days
    // 21–25 exist only at v2 (insert), days 15–20 exist in both with a
    // doubled value (update, NEW payload emitted — ×2 differs for every
    // non-zero double, exactly), earlier days are untouched and emit
    // NOTHING (the silence of unchanged keys is the point — a consumer
    // replaying this stream touches only what moved). One full-outer
    // hash join of two manifest-pruned snapshots; at 100 TB the caller
    // restricts to partitions whose manifest entries differ.
    "x_tx_diff" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txd").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val cut = lit("2024-01-21 00:00:00").cast("timestamp")
        val lo = lit("2024-01-15 00:00:00").cast("timestamp")
        val hi = lit("2024-01-26 00:00:00").cast("timestamp")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") < cut),
          "event_id", "ts", "event_type")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") >= lo && col("ts") < hi)
            .withColumn("value", col("value") * 2),
          "event_id", "ts", "event_type")
        val out = graft.io.TxTable.diff(s, tbl, 1L, 2L, "event_id")
          .select(col("change_type"), col("event_id"), col("event_type"),
            col("value"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH b1 AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
        |rev AS (
        |  SELECT event_id, event_type, value * 2 AS value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-26 00:00:00')
        |SELECT 'insert' AS change_type, event_id, event_type, value
        |FROM rev WHERE event_id NOT IN (SELECT event_id FROM b1)
        |UNION ALL
        |SELECT 'update' AS change_type, r.event_id, r.event_type, r.value
        |FROM rev r JOIN b1 USING (event_id)
        |WHERE r.value IS DISTINCT FROM b1.value
        |   OR r.event_type IS DISTINCT FROM b1.event_type
        |ORDER BY event_id""".stripMargin),

    // General transactional MERGE INTO under the oracle gate: a
    // bootstrap slice lands in a TxTable, then ONE merge commit carries
    // all three conditional clauses at once — matched 'view' rows
    // DELETE, other matched rows UPDATE only when the source value
    // beats the target's, unmatched source rows INSERT only when
    // positive — and the aggregate reads the post-merge snapshot. The
    // oracle restates the clause algebra as a FULL OUTER JOIN + CASE
    // (what MERGE desugars to). O(touched): only the partitions the
    // source touches are read/rewritten; tombstoning and clause edges
    // are spec'd in TxMergeRestoreSpec.
    "x_tx_merge" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txmg").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val cut = lit("2024-01-21 00:00:00").cast("timestamp")
        val lo = lit("2024-01-15 00:00:00").cast("timestamp")
        val hi = lit("2024-01-26 00:00:00").cast("timestamp")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") < cut).drop("ts"),
          "event_id", "value", "event_type")
        graft.io.TxTable.merge(s, tbl,
          ev.filter(col("ts") >= lo && col("ts") < hi)
            .withColumn("value", col("value") * 3).drop("ts"),
          key = "event_id", partitionCol = "event_type",
          updateSet = Seq("value" -> col("s.value")),
          updateCond = col("s.value") > col("t.value"),
          deleteCond = Some(col("s.event_type") === "view"),
          insertCond = Some(col("s.value") > 0))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH t AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
        |s AS (
        |  SELECT event_id, event_type, value * 3 AS value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-26 00:00:00'),
        |m AS (
        |  SELECT
        |    COALESCE(t.event_type, s.event_type) AS event_type,
        |    CASE WHEN t.event_id IS NOT NULL AND s.event_id IS NOT NULL
        |         THEN CASE WHEN s.value > t.value THEN s.value ELSE t.value END
        |         WHEN t.event_id IS NOT NULL THEN t.value
        |         ELSE s.value END AS value
        |  FROM t FULL OUTER JOIN s ON t.event_id = s.event_id
        |  WHERE NOT (t.event_id IS NOT NULL AND s.event_id IS NOT NULL
        |             AND s.event_type = 'view')
        |    AND (t.event_id IS NOT NULL OR s.value > 0))
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM m GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Durable rollback under the oracle gate: bootstrap → a revision
    // upsert mutates days 10–20 — then TxTable.restore publishes a NEW
    // commit that is bit-exactly the bootstrap state, and the aggregate
    // reads the post-restore snapshot. The oracle recomputes from the
    // BOOTSTRAP slice alone: if restore leaked any of the revision (or
    // failed to land as a commit) the hash breaks. History stays
    // append-only — the rolled-back version remains time-travel-readable
    // (spec'd in TxMergeRestoreSpec alongside diff-across-the-restore).
    "x_tx_restore" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txr").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val cut = lit("2024-01-15 00:00:00").cast("timestamp")
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-20 00:00:00").cast("timestamp")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") < cut),
          "event_id", "ts", "event_type")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("ts") >= lo && col("ts") < hi)
            .withColumn("value", col("value") * 2),
          "event_id", "ts", "event_type")
        graft.io.TxTable.restore(s, tbl, 1L)
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // The graft-tx DATA-SOURCE seam under the oracle gate: the table
    // lands through the plain `df.write.format("graft-tx")` path (a
    // keyed upsert) and reads back through `spark.read.format` with a
    // day-range predicate — Catalyst pushes the filter into the V1
    // relation, which prunes at the MANIFEST (snapshotWhere) before
    // the inner parquet scan ever plans; a consumer needs zero graft
    // imports. The never-opens-non-matching-leaves proof and the
    // Not-translation edge live in TxFormatSpec.
    "x_tx_format" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txf").toString
        val tbl = s"$base/fact"
        Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("day"), col("event_type"), col("value"))
          .write.format("graft-tx")
          .option("key", "event_id").option("version", "event_id")
          .option("partitionColumns", "day")
          .mode("append").save(tbl)
        val out = s.read.format("graft-tx")
          .option("partitionColumns", "day").load(tbl)
          .filter(col("day") >= "2024-01-05" && col("day") < "2024-01-12")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') <  '2024-01-12'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Transactional OPTIMIZE ZORDER under the oracle gate: events land
    // in a TxTable, one rows-preserving maintenance commit re-clusters
    // every leaf on the (value, event_id) Morton curve — the layout
    // that serves range probes on BOTH columns when only one dimension
    // can own the partitioning — and a post-optimize value-range probe
    // aggregates the snapshot. The oracle recomputes from raw events:
    // any row the rewrite dropped, duplicated, or mutated breaks the
    // hash. The physical claim (tight per-row-group bounding boxes,
    // diff-to-nothing) is measured on footers in TxOptimizeSpec.
    "x_tx_optimize" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txz").toString
        val tbl = s"$base/fact"
        graft.io.TxTable.upsert(s, tbl,
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value")),
          "event_id", "event_id", "event_type")
        graft.io.TxTable.optimizeZOrderBy(s, tbl, "event_type",
          Seq("value", "event_id"))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .filter(col("value") >= 100.0 && col("value") < 400.0)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE value >= 100.0 AND value < 400.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // OPTIMIZE ... WHERE ... ZORDER BY (3 columns) under the oracle
    // gate — the scoped form that makes the maintenance verb operable
    // at 100 TB (an unscoped OPTIMIZE is one world-sized commit; the
    // scoped one rewrites only the manifest entries whose partition
    // value matches, leaving every other leaf's file identity alone —
    // io/TxTable.optimizeZOrderBy). Here: events partitioned by day,
    // the BACK HALF of the month re-clustered on the 3-D Morton curve
    // of (value, user_id, event_id), then one value-range probe
    // aggregates the FULL snapshot. The oracle recomputes from raw
    // events, so a scoped rewrite that dropped/duplicated/mutated a
    // row on EITHER side of the scope boundary breaks the hash; the
    // physical claims (only matching leaves re-pointed, 3-D bounding
    // boxes tightened) are footer-asserted in TxOptimizeSpec.
    "x_tx_optimize_scoped" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txzs").toString
        val tbl = s"$base/fact"
        graft.io.TxTable.upsert(s, tbl,
          Tables.events(s, dir)
            .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("day")),
          "event_id", "event_id", "day")
        graft.io.TxTable.optimizeZOrderBy(s, tbl, "day",
          Seq("value", "user_id", "event_id"),
          where = Some(col("day") >= "2024-01-15"))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .filter(col("value") >= 100.0 && col("value") < 400.0)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE value >= 100.0 AND value < 400.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // SCHEMA EVOLUTION under the oracle gate (S10 was spec-only): the
    // bootstrap commit lands the narrow shape, a second commit carries
    // a WIDENED schema (a quality score the pipeline started emitting
    // mid-history) touching only the back half of the month, and the
    // post-evolution snapshot reads the union shape with pre-evolution
    // rows nulled (the recorded schema read across immutable leaves of
    // different vintages). The aggregate pins all of it: per-type counts and
    // value sums span BOTH vintages, the non-null count and sum of the
    // new column come only from post-evolution rows — the oracle
    // restates the column's backfill-free semantics with a CASE.
    "x_tx_evolution" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txev").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") < "2024-01-16"),
          "event_id", "event_id", "day")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-16")
            .withColumn("quality", col("value") / 1000.0),
          "event_id", "event_id", "day")
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"),
            count(col("quality")).as("n_scored"),
            sum(col("quality").cast("decimal(18,6)")).cast("double").as("sum_q"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  COUNT(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-16'
        |             THEN 1 END) AS n_scored,
        |  CAST(SUM(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-16'
        |                THEN CAST(value / 1000.0 AS DECIMAL(18,6)) END)
        |       AS DOUBLE) AS sum_q
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // TRANSACTIONAL WINDOW REPLACEMENT under the oracle gate (S11 was
    // spec-only): the recompute-style idempotent write — a corrected
    // reprocess of the mid-month window lands as ONE commit in which,
    // within the partitions the batch touches, existing rows matching
    // the window predicate DROP and the recompute takes their place
    // (here the recompute keeps only non-view events, doubled — so
    // replacement is observable as a count change, which an upsert
    // could never produce). Rows outside the window and partitions the
    // recompute doesn't touch survive untouched; the oracle restates
    // exactly that per-touched-partition contract.
    "x_tx_replace_window" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txrw").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl, ev, "event_id", "event_id", "day")
        val windowPred =
          col("day") >= "2024-01-10" && col("day") < "2024-01-20"
        val recompute = ev
          .filter(windowPred && col("event_type") =!= "view")
          .withColumn("value", col("value") * 2)
        graft.io.TxTable.replaceWindow(s, tbl, recompute, "day", windowPred)
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |recompute AS (
        |  SELECT event_id, event_type, value * 2 AS value, day FROM ev
        |  WHERE day >= '2024-01-10' AND day < '2024-01-20'
        |    AND event_type <> 'view'),
        |touched AS (SELECT DISTINCT day FROM recompute),
        |kept AS (
        |  SELECT * FROM ev
        |  WHERE NOT (day >= '2024-01-10' AND day < '2024-01-20'
        |             AND day IN (SELECT day FROM touched)))
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM recompute)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // BATCH change-feed read through the public format (the
    // table_changes / readChangeFeed surface, io/TxChangesRelation):
    // two commits land (bootstrap, then a doubled-value revision of
    // the mid-month span plus late inserts), and
    // `option("changesFrom", 1)` reads ONLY the second commit's
    // row-level diff — updates where the revision actually changed the
    // value (diff suppresses no-op updates) and inserts for the new
    // span — as a plain batch frame, zero graft imports. The oracle
    // rebuilds that diff from the raw events.
    "x_tx_changes" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txch").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") < "2024-01-15"),
          "event_id", "event_id", "day")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-10" && col("day") < "2024-01-20")
            .withColumn("value", col("value") * 2),
          "event_id", "event_id", "day")
        val out = s.read.format("graft-tx")
          .option("key", "event_id").option("changesFrom", "1")
          .load(tbl)
          .groupBy(col("change_type"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("change_type"), col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |feed AS (
        |  SELECT CASE WHEN day < '2024-01-15' THEN 'update'
        |              ELSE 'insert' END AS change_type,
        |         event_type, value * 2 AS value
        |  FROM ev
        |  WHERE day >= '2024-01-10' AND day < '2024-01-20'
        |    AND (day >= '2024-01-15' OR value * 2 IS DISTINCT FROM value))
        |SELECT change_type, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM feed
        |GROUP BY change_type, event_type
        |ORDER BY change_type, event_type""".stripMargin),

    // Predicate DELETE under the oracle gate (DELETE FROM … WHERE —
    // io/TxTable.deleteWhere): a retention-style delete drops every
    // low-value row inside a day-range SCOPE (the scope prunes the
    // find pass at the manifest; matching rows OUTSIDE it survive,
    // which the oracle's AND restates), as one CAS commit, and the
    // post-delete snapshot aggregates. Deletion is observable as a
    // count change per type on both sides of the scope boundary.
    "x_tx_delete_where" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txdw").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl, ev, "event_id", "event_id", "day")
        graft.io.TxTable.deleteWhere(s, tbl, "day",
          col("value") < 150.0,
          scope = Some(col("day") >= "2024-01-08" && col("day") < "2024-01-22"))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM ev
        |WHERE NOT (value < 150.0
        |           AND day >= '2024-01-08' AND day < '2024-01-22')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Predicate UPDATE under the oracle gate (UPDATE … SET … WHERE —
    // io/TxTable.updateWhere): clicks inside the scoped day range take
    // a doubled value (exact in doubles — an exponent bump), every
    // other row rides through, only partitions holding clicks rewrite.
    // The oracle restates the assignment as a CASE over the raw table.
    "x_tx_update_where" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txuw").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl, ev, "event_id", "event_id", "day")
        graft.io.TxTable.updateWhere(s, tbl, "day",
          set = Seq("value" -> (col("value") * 2)),
          pred = col("event_type") === "click",
          scope = Some(col("day") >= "2024-01-12" && col("day") < "2024-01-18"))
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(
        |    CASE WHEN event_type = 'click'
        |              AND day >= '2024-01-12' AND day < '2024-01-18'
        |         THEN value * 2 ELSE value END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM ev
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // The SQL DML face under the oracle gate (io/TxSqlDml): the same
    // UPDATE / DELETE / MERGE verbs driven as SQL STATEMENTS against a
    // `USING graft-tx` view — parser → analyzer → TxSqlDml conversion →
    // TxTable commit, one transactional version per statement. The day
    // conjuncts become the verbs' manifest scopes automatically
    // (pruned find passes), and the MERGE exercises SQL's first-match-
    // wins clause order (the UPDATE clause shadows the DELETE clause).
    // The oracle restates the three statements algebraically; the
    // update-first shadowing appears as `NOT COALESCE(s>t)` inside the
    // delete predicate.
    // Shallow clone under the oracle gate (io/TxTable.cloneShallow +
    // materialize): branch the bootstrap table with ONE manifest write
    // (zero data movement — the 100 TB branching story), land a tripled
    // revision in the CLONE only (copy-on-write: the source never
    // observes it), then cut the clone's source dependency with a
    // rows-preserving materialize commit. The readout aggregates BOTH
    // tables tagged by name; the oracle restates source = bootstrap and
    // clone = bootstrap latest-wins-merged with the revision — if the
    // clone leaked into the source (or the branch missed rows, or
    // materialize changed any row) the hash breaks.
    "x_tx_clone" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txcl").toString
        val src = s"$base/src"
        val dst = s"$base/dst"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, src,
          ev.filter(col("day") < "2024-01-21"),
          "event_id", "event_id", "day")
        graft.io.TxTable.cloneShallow(s, src, dst)
        graft.io.TxTable.upsert(s, dst,
          ev.filter(col("day") >= "2024-01-15" && col("day") < "2024-01-26")
            .withColumn("value", col("value") * 3),
          "event_id", "event_id", "day")
        graft.io.TxTable.materialize(s, dst, "day")
        val out = graft.io.TxTable.snapshot(s, src).get
          .withColumn("tbl", lit("source"))
          .unionByName(graft.io.TxTable.snapshot(s, dst).get
            .withColumn("tbl", lit("clone")))
          .groupBy(col("tbl"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("tbl"), col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |t0 AS (SELECT event_id, event_type, value FROM ev
        |       WHERE day < '2024-01-21'),
        |r AS (SELECT event_id, event_type, value * 3 AS value FROM ev
        |      WHERE day >= '2024-01-15' AND day < '2024-01-26'),
        |cl AS (
        |  SELECT COALESCE(r.event_type, t0.event_type) AS event_type,
        |         COALESCE(r.value, t0.value) AS value
        |  FROM t0 FULL OUTER JOIN r ON t0.event_id = r.event_id),
        |u AS (SELECT 'source' AS tbl, event_type, value FROM t0
        |      UNION ALL
        |      SELECT 'clone' AS tbl, event_type, value FROM cl)
        |SELECT tbl, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM u GROUP BY tbl, event_type
        |ORDER BY tbl, event_type""".stripMargin),

    "x_tx_sql_dml" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txsql").toString
        val tbl = s"$base/fact"
        val n = jdbcSeq.incrementAndGet()
        val v = s"tx_sql_fact_$n"
        val src = s"tx_sql_src_$n"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") < "2024-01-21"),
          "event_id", "event_id", "day")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW $v " +
          s"USING `graft-tx` OPTIONS (path '$tbl')")
        ev.filter(col("day") >= "2024-01-15" && col("day") < "2024-01-26")
          .withColumn("value", col("value") * 3)
          .createOrReplaceTempView(src)
        graft.io.TxCatalog.sql(s,
          s"UPDATE $v SET value = value * 2 WHERE event_type = 'click' " +
            "AND day >= '2024-01-12' AND day < '2024-01-18'")
        graft.io.TxCatalog.sql(s,
          s"DELETE FROM $v WHERE value < 100 " +
            "AND day >= '2024-01-05' AND day < '2024-01-09'")
        graft.io.TxCatalog.sql(s,
          s"""MERGE INTO $v t USING $src s ON t.event_id = s.event_id
             |WHEN MATCHED AND s.value > t.value THEN UPDATE SET value = s.value
             |WHEN MATCHED AND s.event_type = 'view' THEN DELETE
             |WHEN NOT MATCHED AND s.value > 0 THEN INSERT *""".stripMargin)
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        s.catalog.dropTempView(v): Unit
        s.catalog.dropTempView(src): Unit
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |t0 AS (SELECT * FROM ev WHERE day < '2024-01-21'),
        |t1 AS (SELECT event_id, event_type, day,
        |         CASE WHEN event_type = 'click'
        |                   AND day >= '2024-01-12' AND day < '2024-01-18'
        |              THEN value * 2 ELSE value END AS value FROM t0),
        |t2 AS (SELECT * FROM t1
        |       WHERE NOT (value < 100
        |                  AND day >= '2024-01-05' AND day < '2024-01-09')),
        |s AS (SELECT event_id, event_type, day, value * 3 AS value FROM ev
        |      WHERE day >= '2024-01-15' AND day < '2024-01-26'),
        |m AS (
        |  SELECT COALESCE(t.event_type, s.event_type) AS event_type,
        |    CASE WHEN t.event_id IS NOT NULL AND s.event_id IS NOT NULL THEN
        |           CASE WHEN s.value > t.value THEN s.value ELSE t.value END
        |         WHEN t.event_id IS NOT NULL THEN t.value
        |         ELSE s.value END AS value
        |  FROM t2 t FULL OUTER JOIN s ON t.event_id = s.event_id
        |  WHERE NOT (t.event_id IS NOT NULL AND s.event_id IS NOT NULL
        |             AND NOT COALESCE(s.value > t.value, FALSE)
        |             AND s.event_type = 'view')
        |    AND (t.event_id IS NOT NULL OR s.value > 0))
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM m GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // SQL maintenance statements (io/TxCatalog + GraftSqlParser): the
    // operational verbs driven purely as SQL text — RESTORE TABLE
    // reverts a bad batch as a NEW commit (history append-only, feed
    // replays it), OPTIMIZE … ZORDER BY re-clusters rows-preserving,
    // VACUUM RETAIN 1 VERSIONS reclaims the travel window — and the
    // final state still reads exactly. The oracle restates the surviving
    // algebra: bootstrap ∪ post-restore batch, the reverted batch
    // invisible. All statements Spark's grammar lacks (additive parser,
    // the DESCRIBE HISTORY discipline).
    "x_tx_sql_maintenance" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txmaint").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") < "2024-01-21").withColumn("seq", lit(1L)),
          "event_id", "seq", "day")
        // a bad batch lands (values ×100) — the incident RESTORE reverts
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-10").withColumn("value", col("value") * 100)
            .withColumn("seq", lit(2L)),
          "event_id", "seq", "day")
        graft.io.TxCatalog.sql(s, s"RESTORE TABLE '$tbl' TO VERSION AS OF 1")
        // recovery continues on top of the restored state
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-21").withColumn("seq", lit(3L)),
          "event_id", "seq", "day")
        val vOpt = graft.io.TxCatalog
          .sql(s, s"OPTIMIZE '$tbl' ZORDER BY (event_id, value)")
          .head().getLong(0)
        require(vOpt >= 4L, s"OPTIMIZE must report the tip version, got $vOpt")
        graft.io.TxCatalog.sql(s, s"VACUUM '$tbl' RETAIN 1 VERSIONS")
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |final AS (
        |  SELECT event_type, value FROM ev WHERE day < '2024-01-21'
        |  UNION ALL
        |  SELECT event_type, value FROM ev WHERE day >= '2024-01-21')
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM final GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // The CATALOG lifecycle end-to-end (io/TxCatalog): a graft-tx table
    // created through `saveAsTable`, written through SQL `INSERT INTO`
    // (keyed latest-wins upsert, versioned by an explicit seq), widened
    // through `ALTER TABLE ADD COLUMNS` (one rows-preserving commit +
    // the metastore schema update), inventoried through
    // `SHOW PARTITIONS` (manifest readout) and `DESCRIBE HISTORY`
    // (commit-log readout), and read back from a NEW session through
    // the shared catalog — the reference's populate_sources_dag
    // information_schema-probe + ALTER flow as the SQL a warehouse
    // operator types (populate_sources_dag.py:89-107). The oracle
    // restates the final state from the batch algebra (seq3 > seq2 >
    // seq1 priority) and pins the partition and commit counts the
    // lifecycle determines.
    "x_tx_catalog" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txcat").toString
        val path = s"$base/fact"
        val n = jdbcSeq.incrementAndGet()
        val tbl = s"cat_fact_$n"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        // 1. CREATE via saveAsTable: the bootstrap commit binds catalog
        // name to storage in one statement
        ev.filter(col("day") < "2024-01-21").withColumn("seq", lit(1L))
          .write.format("graft-tx").option("path", path)
          .option("key", "event_id").option("version", "seq")
          .option("partitionColumns", "day")
          .saveAsTable(tbl)
        // 2. SQL INSERT INTO = the keyed upsert; seq=2 wins the overlap
        ev.filter(col("day") >= "2024-01-15")
          .withColumn("value", col("value") * 3).withColumn("seq", lit(2L))
          .createOrReplaceTempView(s"${tbl}_b1")
        s.sql(s"INSERT INTO $tbl SELECT event_id, event_type, value, day, seq " +
          s"FROM ${tbl}_b1")
        // 3. ALTER TABLE ADD COLUMNS: storage + catalog widen together
        graft.io.TxCatalog.sql(s, s"ALTER TABLE $tbl ADD COLUMNS (flag STRING)")
        // 4. a post-evolution INSERT lands values into the new column
        ev.filter(col("event_type") === "click" && col("day") >= "2024-01-28")
          .withColumn("value", col("value") * 5).withColumn("seq", lit(3L))
          .withColumn("flag", lit("late"))
          .createOrReplaceTempView(s"${tbl}_b2")
        s.sql(s"INSERT INTO $tbl SELECT event_id, event_type, value, day, seq, flag " +
          s"FROM ${tbl}_b2")
        // 5. management readouts: partition inventory + commit history
        val nParts = graft.io.TxCatalog
          .sql(s, s"SHOW PARTITIONS $tbl").count()
        val nCommits = graft.io.TxCatalog
          .sql(s, s"DESCRIBE HISTORY $tbl").count()
        // 6. read back from a NEW session — the catalog, not the
        // session, holds the binding
        val out = s.newSession().sql(
          s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
             |  COUNT(flag) AS n_flag
             |FROM $tbl GROUP BY event_type""".stripMargin)
          .withColumn("n_parts", lit(nParts))
          .withColumn("n_commits", lit(nCommits))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        s.catalog.dropTempView(s"${tbl}_b1"): Unit
        s.catalog.dropTempView(s"${tbl}_b2"): Unit
        s.sql(s"DROP TABLE $tbl")
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |b1 AS (SELECT * FROM ev WHERE day < '2024-01-21'),
        |b2 AS (SELECT event_id, event_type, value * 3 AS value, day FROM ev
        |       WHERE day >= '2024-01-15'),
        |b3 AS (SELECT event_id, event_type, value * 5 AS value, day FROM ev
        |       WHERE event_type = 'click' AND day >= '2024-01-28'),
        |final AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id IN (SELECT event_id FROM b3)
        |           THEN (SELECT value FROM b3 WHERE b3.event_id = ev.event_id)
        |         WHEN event_id IN (SELECT event_id FROM b2)
        |           THEN (SELECT value FROM b2 WHERE b2.event_id = ev.event_id)
        |         ELSE value END AS value,
        |    CASE WHEN event_id IN (SELECT event_id FROM b3)
        |         THEN 'late' END AS flag
        |  FROM ev
        |  WHERE event_id IN (SELECT event_id FROM b1)
        |     OR event_id IN (SELECT event_id FROM b2)),
        |counts AS (
        |  SELECT (SELECT COUNT(DISTINCT day) FROM final f
        |            JOIN ev USING (event_id)) AS n_parts,
        |         CAST(4 AS BIGINT) AS n_commits)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  COUNT(flag) AS n_flag,
        |  (SELECT n_parts FROM counts) AS n_parts,
        |  (SELECT n_commits FROM counts) AS n_commits
        |FROM final GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // CHECK constraints end-to-end (io/TxConstraints): ADD CONSTRAINT
    // validates the snapshot and arms the write-side gate; a violating
    // upsert and a violating SQL UPDATE both refuse their WHOLE commit
    // (nothing half-lands — the requires in the query body pin the
    // refusals); passing writes flow through the armed gate; DROP
    // CONSTRAINT lifts it and the late correction batch (a negative
    // sentinel the gate would have stopped) lands. The oracle restates
    // only the surviving algebra — bootstrap, doubled tail, click
    // increment, sentinel overwrite — because the refused attempts,
    // by the constraint contract, must leave zero trace.
    "x_tx_constraints" -> Q(
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_txcons").toString
        val tbl = s"$base/fact"
        val ev = Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .select(col("event_id"), col("event_type"), col("value"), col("day"))
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") < "2024-01-21").withColumn("seq", lit(1L)),
          "event_id", "seq", "day")
        graft.io.TxConstraints.add(s, tbl, "value_sane", "value >= 0")
        // violating batch: refused whole, zero rows land
        val refusedUpsert =
          try {
            graft.io.TxTable.upsert(s, tbl,
              ev.filter(col("day") >= "2024-01-21")
                .withColumn("value", -col("value") - lit(1.0))
                .withColumn("seq", lit(2L)),
              "event_id", "seq", "day")
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("value_sane") }
        require(refusedUpsert, "violating upsert must refuse on value_sane")
        // passing batch flows through the armed gate
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-21")
            .withColumn("value", col("value") * 2).withColumn("seq", lit(2L)),
          "event_id", "seq", "day")
        val v = s"txcons_v_${jdbcSeq.incrementAndGet()}"
        s.sql(s"CREATE TEMPORARY VIEW $v USING `graft-tx` OPTIONS (path '$tbl')")
        // gated SQL UPDATE: a passing assignment lands…
        graft.io.TxCatalog.sql(s,
          s"UPDATE $v SET value = value + 1 WHERE event_type = 'click'")
        // …a violating one refuses and changes nothing
        val refusedUpdate =
          try {
            graft.io.TxCatalog.sql(s,
              s"UPDATE $v SET value = -1.0 WHERE event_type = 'view'")
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("value_sane") }
        require(refusedUpdate, "violating UPDATE must refuse on value_sane")
        // DROP lifts the gate: the sentinel correction now lands
        graft.io.TxConstraints.drop(s, tbl, "value_sane")
        graft.io.TxTable.upsert(s, tbl,
          ev.filter(col("day") >= "2024-01-28" && col("event_type") === "view")
            .withColumn("value", lit(-5.0)).withColumn("seq", lit(3L)),
          "event_id", "seq", "day")
        val out = graft.io.TxTable.snapshot(s, tbl).get
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
        s.catalog.dropTempView(v): Unit
        rmrf(base)
        out
      },
      """WITH ev AS (SELECT event_id, event_type, value,
        |                   strftime(ts, '%Y-%m-%d') AS day FROM events),
        |u AS (SELECT event_id, event_type, day,
        |        CASE WHEN day < '2024-01-21' THEN value ELSE value * 2 END AS v0
        |      FROM ev),
        |c AS (SELECT event_id, event_type, day,
        |        CASE WHEN event_type = 'click' THEN v0 + 1 ELSE v0 END AS v1
        |      FROM u),
        |f AS (SELECT event_type,
        |        CASE WHEN day >= '2024-01-28' AND event_type = 'view'
        |             THEN -5.0 ELSE v1 END AS value
        |      FROM c)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM f GROUP BY event_type
        |ORDER BY event_type""".stripMargin))
}
