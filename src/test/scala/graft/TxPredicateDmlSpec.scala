package graft

import java.nio.file.Files

import graft.io.TxTable
import org.apache.spark.sql.functions._

/** Predicate DML (io/TxTable.deleteWhere / updateWhere — the public
  * formats' `DELETE FROM … WHERE` / `UPDATE … SET … WHERE`): two-phase
  * find-then-rewrite, scope-pruned at the manifest, matches-only
  * rewrite set, tombstoned empties, CAS races re-run whole.
  */
class TxPredicateDmlSpec extends SparkTestBase {

  private def seed(prefix: String): String = {
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
    dir
  }

  private def state(dir: String): Set[(Long, Double)] =
    TxTable.snapshot(spark, dir).get.select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("deleteWhere drops matching rows, rewrites ONLY partitions holding matches, tombstones empties") {
    val dir = seed("graft_dml_del")
    val before = TxTable.latest(spark, dir)._2

    TxTable.deleteWhere(spark, dir, "day", col("v") >= 400.0)

    assert(state(dir) === Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (6L, 60.0)))
    val after = TxTable.latest(spark, dir)._2
    // day-01 and day-04 hold no matches: their leaves keep file identity
    val kept = after.filter { case (k, l) => before.get(k).contains(l) }
    assert(kept.size === 2, s"expected 2 untouched leaves, got ${kept.size}")
    // day-03 was emptied entirely: its manifest key tombstoned out
    assert(after.size === 3, s"emptied partition still mapped: $after")
    // the deletes surface in the CDC readout
    val d = TxTable.diff(spark, dir, 1L, 2L, "id")
      .select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(d === Set(("delete", 4L), ("delete", 5L)))
    // no-match predicate publishes nothing
    TxTable.deleteWhere(spark, dir, "day", col("v") > 1e9)
    assert(TxTable.latestVersion(spark, dir) === 2L)
  }

  test("deleteWhere scope bounds candidacy: matches outside the scope survive") {
    val dir = seed("graft_dml_scope")
    TxTable.deleteWhere(spark, dir, "day", col("v") >= 400.0,
      scope = Some(col("day") === "2024-01-02"))
    // the day-03 row also satisfies pred but sits outside the scope
    assert(state(dir) ===
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (5L, 500.0), (6L, 60.0)))
  }

  test("updateWhere assigns simultaneously against the OLD row; untouched partitions keep identity") {
    val dir = seed("graft_dml_upd")
    val before = TxTable.latest(spark, dir)._2
    // simultaneous semantics: v uses the old id, id uses the old v —
    // sequential application would feed one into the other
    TxTable.updateWhere(spark, dir, "day",
      set = Seq("v" -> (col("v") + col("id")), "id" -> (col("id") + lit(100L))),
      pred = col("event_type") === "click")
    assert(state(dir) === Set(
      (101L, 11.0), (2L, 200.0), (103L, 33.0), (4L, 400.0),
      (5L, 500.0), (106L, 66.0)))
    val after = TxTable.latest(spark, dir)._2
    // day-03 holds no clicks: its leaf is untouched
    val kept = after.filter { case (k, l) => before.get(k).contains(l) }
    assert(kept.size === 1, s"expected day-03 untouched, got ${kept.size} kept")
    // partition columns may not be reassigned; unknown columns refuse
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, dir, "day",
        Seq("day" -> lit("2024-02-01")), lit(true))
    }
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, dir, "day",
        Seq("nope" -> lit(1)), lit(true))
    }
  }

  test("updateWhere refuses an assignment that re-types a column; the table stays readable") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_dml_retype").toString + "/fact"
    TxTable.upsert(s, dir,
      Seq((1L, "2024-01-01", 3), (2L, "2024-01-02", 4)).toDF("id", "day", "qty"),
      "id", "id", "day")
    val v = TxTable.latestVersion(spark, dir)
    // int column, double assignment: committing double leaves under the
    // int table schema would break every later read
    val e = intercept[IllegalArgumentException](TxTable.updateWhere(spark, dir, "day",
      Seq("qty" -> lit(1.5)), col("id") === 1L))
    assert(e.getMessage.contains("add-only"), e.getMessage)
    assert(TxTable.latestVersion(spark, dir) === v)
    assert(TxTable.snapshot(spark, dir).get.select("id", "qty").as[(Long, Int)]
      .collect().toSet === Set((1L, 3), (2L, 4)))
    // an assignment of the column's own type commits
    TxTable.updateWhere(spark, dir, "day", Seq("qty" -> lit(7)), col("id") === 1L)
    assert(TxTable.snapshot(spark, dir).get.select("id", "qty").as[(Long, Int)]
      .collect().toSet === Set((1L, 7), (2L, 4)))
  }

  test("a predicate rewrite losing the CAS race re-runs against the winner") {
    val s = spark; import s.implicits._
    val dir = seed("graft_dml_race")
    FaultStore.racing(dir) {
      TxTable.upsert(s, dir,
        Seq((7L, "2024-01-01", "click", 70.0)).toDF("id", "day", "event_type", "v"),
        "id", "v", "day")
    }(TxTable.deleteWhere(spark, dir, "day", col("v") >= 400.0))
    // the racing writer's row survives AND the delete applied
    assert(state(dir) ===
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (6L, 60.0), (7L, 70.0)))
    assert(TxTable.latestVersion(spark, dir) === 3L)
  }

  test("right-to-be-forgotten: delete + vacuum leaves zero physical trace") {
    val dir = seed("graft_dml_rtbf")
    // logical delete first: the row disappears from every read...
    TxTable.deleteWhere(spark, dir, "day", col("id") === 2L)
    assert(!state(dir).exists(_._1 == 2L))
    // ...but the PRE-delete leaf is still on disk (time travel serves
    // it) until retention reclaims it — that file is what a compliance
    // delete must also destroy
    def allParquet(): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(root).forEach(p =>
        if (p.toString.endsWith(".parquet")) out += p.toString: Unit)
      out.toSeq
    }
    def idsOnDisk(): Set[Long] =
      allParquet().flatMap(f =>
        spark.read.parquet(f).select("id").collect().map(_.getLong(0))).toSet
    assert(idsOnDisk().contains(2L),
      "pre-vacuum, the old leaf must still hold the row (travel window)")
    // vacuum to the tip: every superseded leaf is reclaimed, and with
    // it the last physical copy of the forgotten row
    TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(!idsOnDisk().contains(2L),
      "post-vacuum, no parquet file under the table may hold the row")
    // the surviving rows still read exactly
    assert(state(dir) ===
      Set((1L, 10.0), (3L, 30.0), (4L, 400.0), (5L, 500.0), (6L, 60.0)))
  }
}
