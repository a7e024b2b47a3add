package graft

import java.nio.file.Files

import graft.io.{TxCatalog, TxTable}

/** SQL DML over graft-tx (io/TxSqlDml): `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` statements against a `USING graft-tx` view convert at
  * analysis time to the transactional verbs — through the live-session
  * entry (TxCatalog.sql) and through a GraftExtensions-built session's
  * plain `spark.sql`. Pins the statement→verb mapping: scope-pruned
  * deletes keep untouched-partition file identity, SQL's first-match-
  * wins clause order survives the verb's fixed precedence, identity
  * key/partition assignments drop while real reassignments refuse, and
  * every unsupported shape fails loudly at conversion.
  */
class TxSqlDmlSpec extends SparkTestBase {

  private val viewSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Seed a 3-day two-type table and register a view over it. */
  private def seed(prefix: String): (String, String) = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory(prefix).toString + "/fact"
    val rows = Seq(
      (1L, "2024-01-01", "click", 10.0),
      (2L, "2024-01-01", "view", 200.0),
      (3L, "2024-01-02", "click", 30.0),
      (4L, "2024-01-02", "view", 400.0),
      (5L, "2024-01-03", "view", 500.0),
      (6L, "2024-01-04", "click", 60.0))
      .toDF("id", "day", "event_type", "v")
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    val view = s"tx_sql_v${viewSeq.incrementAndGet()}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-tx` OPTIONS (path '$dir')")
    (dir, view)
  }

  private def state(dir: String): Set[(Long, Double)] =
    TxTable.snapshot(spark, dir).get.select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("SQL DELETE: predicate applies, partition conjunct prunes (file identity kept)") {
    val (dir, view) = seed("graft_sqldel")
    val before = TxTable.latest(spark, dir)._2
    TxCatalog.sql(spark,
      s"DELETE FROM $view WHERE day = '2024-01-02' AND v > 100")
    assert(state(dir) ===
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (5L, 500.0), (6L, 60.0)))
    // the day conjunct became the verb's manifest scope: every other
    // day's leaf keeps file identity (day-03 holds v=500 > 100 but sits
    // outside the scoped day — pruning is semantics-neutral because the
    // scope is a conjunct of the predicate itself)
    val after = TxTable.latest(spark, dir)._2
    val kept = after.filter { case (k, l) => before.get(k).contains(l) }
    assert(kept.size === 3, s"expected 3 untouched leaves, got $after")
  }

  test("SQL DELETE without WHERE empties the table") {
    val (dir, view) = seed("graft_sqldel_all")
    TxCatalog.sql(spark, s"DELETE FROM $view")
    // every partition tombstoned out: the snapshot has no live entries
    assert(TxTable.snapshot(spark, dir).forall(_.count() === 0L))
    assert(TxTable.latest(spark, dir)._2.isEmpty)
  }

  test("SQL UPDATE: simultaneous assignment against the old row, expressions allowed") {
    val (dir, view) = seed("graft_sqlupd")
    TxCatalog.sql(spark,
      s"UPDATE $view SET v = v + id, id = id + 100 WHERE event_type = 'click'")
    assert(state(dir) === Set(
      (101L, 11.0), (2L, 200.0), (103L, 33.0), (4L, 400.0),
      (5L, 500.0), (106L, 66.0)))
  }

  test("SQL MERGE: conditional clauses, update-first shadows delete, conditional insert") {
    val s = spark; import s.implicits._
    val (dir, view) = seed("graft_sqlmrg")
    // id=2 (v=200): source v=250 > t.v → UPDATE wins although the
    //   delete condition (event_type='view') ALSO holds — SQL order.
    // id=4 (v=400): source v=10 ≤ t.v → update misses → DELETE fires.
    // id=5 (v=500): source v=600 > t.v → UPDATE (matched, view type).
    // id=7: unmatched, v>0 → INSERT. id=8: unmatched, v<0 → filtered.
    Seq(
      (2L, "2024-01-01", "view", 250.0),
      (4L, "2024-01-02", "view", 10.0),
      (5L, "2024-01-03", "view", 600.0),
      (7L, "2024-01-04", "click", 70.0),
      (8L, "2024-01-04", "click", -1.0))
      .toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView(s"${view}_src")
    TxCatalog.sql(spark,
      s"""MERGE INTO $view t USING ${view}_src s ON t.id = s.id
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
         |WHEN MATCHED AND s.event_type = 'view' THEN DELETE
         |WHEN NOT MATCHED AND s.v > 0 THEN INSERT *""".stripMargin)
    assert(state(dir) === Set(
      (1L, 10.0), (2L, 250.0), (3L, 30.0),
      (5L, 600.0), (6L, 60.0), (7L, 70.0)))
  }

  test("SQL MERGE: delete-first order is the verb's native precedence") {
    val s = spark; import s.implicits._
    val (dir, view) = seed("graft_sqlmrg2")
    // id=2 satisfies BOTH clauses: DELETE written first wins now
    Seq((2L, "2024-01-01", "view", 250.0))
      .toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView(s"${view}_src")
    TxCatalog.sql(spark,
      s"""MERGE INTO $view t USING ${view}_src s ON t.id = s.id
         |WHEN MATCHED AND s.event_type = 'view' THEN DELETE
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(dir) === Set(
      (1L, 10.0), (3L, 30.0), (4L, 400.0), (5L, 500.0), (6L, 60.0)))
  }

  test("SQL MERGE: UPDATE SET * drops key/partition identity assignments and applies the rest") {
    val s = spark; import s.implicits._
    val (dir, view) = seed("graft_sqlmrg3")
    Seq((1L, "2024-01-01", "tap", 11.0), (9L, "2024-01-05", "tap", 90.0))
      .toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView(s"${view}_src")
    TxCatalog.sql(spark,
      s"""MERGE INTO $view t USING ${view}_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(dir) === Set(
      (1L, 11.0), (2L, 200.0), (3L, 30.0), (4L, 400.0),
      (5L, 500.0), (6L, 60.0), (9L, 90.0)))
    // the non-partition payload column came along with the star update
    val et = TxTable.snapshot(spark, dir).get
      .filter(org.apache.spark.sql.functions.col("id") === 1L)
      .select("event_type").head().getString(0)
    assert(et === "tap")
  }

  test("unsupported shapes refuse loudly at conversion") {
    val (dir, view) = seed("graft_sqlrefuse")
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception](TxCatalog.sql(spark, sql))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"wanted '$needle' in: ${e.getMessage}")
    }
    refuse(s"DELETE FROM $view WHERE id IN (SELECT id FROM $view)",
      "subqueries are not supported")
    refuse(s"UPDATE $view SET day = '2024-02-01' WHERE id = 1",
      "partition")
    refuse(s"MERGE INTO $view t USING $view s ON t.id > s.id " +
      "WHEN MATCHED THEN DELETE", "single equality")
    refuse(s"MERGE INTO $view t USING (SELECT id AS key_id, day, v " +
      s"FROM $view) s ON t.id = s.key_id WHEN MATCHED THEN DELETE",
      "share a name")
    refuse(s"MERGE INTO $view t USING $view s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET day = '2024-09-09'",
      "partition")
    refuse(s"MERGE INTO $view t USING $view s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE",
      "NOT MATCHED BY SOURCE")
    // duplicate assignment targets would silently keep only the last
    refuse(s"UPDATE $view SET v = 1, v = 2 WHERE id = 1", "more than once")
    refuse(s"MERGE INTO $view t USING $view s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v, v = s.v + 1", "more than once")
    // a partial INSERT list would silently insert source values where
    // SQL requires NULL -- refuse with the projection guidance
    refuse(s"MERGE INTO $view t USING $view s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, day) VALUES (s.id, s.day)",
      "every source column")
    // time-travel views are read-only
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${view}_tt " +
      s"USING `graft-tx` OPTIONS (path '$dir', versionAsOf '1')")
    refuse(s"DELETE FROM ${view}_tt WHERE id = 1", "time travel")
  }

  test("MERGE source-only columns feed clauses but never widen the target schema") {
    val s = spark; import s.implicits._
    val (dir, view) = seed("graft_sqlwiden")
    // `op` exists only in the source: it drives the clauses and must
    // NOT become a target column (SQL MERGE never widens; WITH SCHEMA
    // EVOLUTION is the explicit spelling and is refused)
    Seq((2L, "2024-01-01", "view", 200.0, "D"),
        (7L, "2024-01-04", "click", 70.0, "I"))
      .toDF("id", "day", "event_type", "v", "op")
      .createOrReplaceTempView(s"${view}_src")
    TxCatalog.sql(spark,
      s"""MERGE INTO $view t USING ${view}_src s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (id, day, event_type, v)
         |VALUES (s.id, s.day, s.event_type, s.v)""".stripMargin)
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.columns.toSet === Set("id", "day", "event_type", "v"),
      s"schema widened: ${snap.columns.mkString(", ")}")
    assert(snap.select("id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L, 5L, 6L, 7L))
  }

  test("catalog table (CREATE TABLE USING graft-tx): reads and SQL DML through a scheme-qualified location") {
    val (dir, _) = seed("graft_sqlcat")
    val tbl = s"tx_cat_t${viewSeq.incrementAndGet()}"
    // the catalog normalizes locations to URI form (file:/…) — this
    // pins that the commit store tolerates the scheme (a literal
    // Paths.get("file:/…") would read the live table as uncommitted)
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path 'file:$dir')")
    try {
      assert(spark.table(tbl).count() === 6L)
      TxCatalog.sql(spark, s"DELETE FROM $tbl WHERE v >= 400")
      assert(state(dir) === Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (6L, 60.0)))
      TxCatalog.sql(spark, s"UPDATE $tbl SET v = v + 1 WHERE id = 1")
      assert(spark.table(tbl).filter("id = 1")
        .select("v").head().getDouble(0) === 11.0)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("GraftExtensions session: plain spark.sql drives all three verbs") {
    val (dir, _) = seed("graft_sqlext")
    withExtSession { s2 =>
      import s2.implicits._
      s2.sql(s"CREATE TEMPORARY VIEW fact USING `graft-tx` OPTIONS (path '$dir')")
      s2.sql("DELETE FROM fact WHERE v >= 400")
      s2.sql("UPDATE fact SET v = v * 10 WHERE event_type = 'click'")
      Seq((2L, "2024-01-01", "view", 999.0), (7L, "2024-01-04", "click", 70.0))
        .toDF("id", "day", "event_type", "v").createOrReplaceTempView("delta")
      s2.sql("""MERGE INTO fact t USING delta s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = TxTable.snapshot(s2, dir).get.select("id", "v")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got === Set(
        (1L, 100.0), (2L, 999.0), (3L, 300.0), (6L, 600.0), (7L, 70.0)))
    }
  }
}
