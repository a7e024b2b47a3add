package graft

import java.nio.file.Files

import graft.io.TxTable
import org.apache.spark.sql.functions._

/** The `graft-tx` data-source seam (io/TxDataSource): plain-Spark
  * reads/writes of a TxTable with pushed filters pruning at the
  * manifest — including the only proof that matters for pruning (a
  * pruned read never touches non-matching leaves: their files can be
  * GONE and the read still answers) and the translation edge a weakened
  * Not would get wrong.
  */
class TxFormatSpec extends SparkTestBase {

  private def seed(prefix: String): String = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory(prefix).toString + "/fact"
    val rows = Seq(
      (1L, "2024-01-01", "click", 10.0),
      (2L, "2024-01-01", "view", 20.0),
      (3L, "2024-01-02", "click", 30.0),
      (4L, "2024-01-02", "purchase", 40.0),
      (5L, "2024-01-03", "view", 50.0))
      .toDF("id", "day", "event_type", "v")
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    dir
  }

  test("format read equals the native snapshot; filters and projection behave") {
    val s = spark
    val dir = seed("graft_fmt_rt")
    val viaFormat = s.read.format("graft-tx")
      .option("partitionColumns", "day").load(dir)
    val native = TxTable.snapshot(s, dir).get
    assert(viaFormat.select("id", "day", "event_type", "v")
      .orderBy("id").collect().toSeq ==
      native.select("id", "day", "event_type", "v")
        .orderBy("id").collect().toSeq)
    // range + equality filters, pruned + residual together
    val got = viaFormat
      .filter(col("day") >= "2024-01-02" && col("v") < 45.0)
      .select("id").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L, 4L))
  }

  test("a pruned read never opens non-matching leaves: their files can be gone") {
    val s = spark
    val dir = seed("graft_fmt_prune")
    // resolve the relation (schema pass) while every leaf is alive
    val df = s.read.format("graft-tx")
      .option("partitionColumns", "day").load(dir)
    // destroy days 02/03 AT THE FILE LEVEL (not a table operation):
    // only manifest pruning can keep a day-01 read alive now
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    val (v, _) = TxTable.latest(s, dir)
    assert(v == 1L)
    val dataDir = new org.apache.hadoop.fs.Path(s"$dir/data")
    val commitDirs = fs.listStatus(dataDir).map(_.getPath)
    val leaves = commitDirs.flatMap(d => fs.listStatus(d).map(_.getPath))
      .filter(_.getName.startsWith("__p="))
    assert(leaves.length == 3) // one per day
    // keep exactly the leaf holding day 01 (probe each by reading it)
    val keep = leaves.filter { p =>
      s.read.parquet(p.toString).filter(col("day") === "2024-01-01").count() > 0
    }
    assert(keep.length == 1)
    leaves.filterNot(keep.contains).foreach(p => fs.delete(p, true))

    val pruned = df.filter(col("day") === "2024-01-01")
      .select("id").orderBy("id").collect().map(_.getLong(0))
    assert(pruned.toSeq == Seq(1L, 2L))
    // the unpruned read genuinely needs those leaves — it must fail
    intercept[Exception] { df.select("id").collect() }
  }

  test("Not over partition columns translates exactly (never weakened)") {
    val s = spark
    val dir = seed("graft_fmt_not")
    val df = s.read.format("graft-tx")
      .option("partitionColumns", "day").load(dir)
    val got = df.filter(!(col("day") === "2024-01-01" || col("day") === "2024-01-03"))
      .select("id").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L, 4L))
  }

  test("versionAsOf reads history; SQL view over the format works") {
    val s = spark; import s.implicits._
    val dir = seed("graft_fmt_sql")
    TxTable.upsert(s, dir,
      Seq((1L, "2024-01-01", "click", 999.0)).toDF("id", "day", "event_type", "v"),
      "id", "v", "day")
    val v1 = s.read.format("graft-tx")
      .option("partitionColumns", "day").option("versionAsOf", "1").load(dir)
    assert(v1.filter(col("id") === 1L).select("v").head().getDouble(0) == 10.0)

    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW fmt_fact USING `graft-tx`
      OPTIONS (path '$dir', partitionColumns 'day')""")
    val viaSql = s.sql(
      "SELECT sum(v) AS sv FROM fmt_fact WHERE day = '2024-01-01'")
      .head().getDouble(0)
    assert(viaSql == 999.0 + 20.0)
  }

  test("append writes are keyed upserts; other save modes refuse") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_fmt_w").toString + "/fact"
    def w(rows: Seq[(Long, String, Double)]) =
      rows.toDF("id", "day", "v").write.format("graft-tx")
        .mode("append")
        .option("key", "id").option("version", "v")
        .option("partitionColumns", "day")
    w(Seq((1L, "d1", 1.0), (2L, "d2", 2.0))).save(dir)
    w(Seq((1L, "d1", 10.0), (3L, "d1", 3.0))).save(dir) // 1 upserts, 3 inserts
    val out = s.read.format("graft-tx").load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 10.0), (2L, 2.0), (3L, 3.0)))
    intercept[Exception] {
      Seq((9L, "d1", 9.0)).toDF("id", "day", "v").write.format("graft-tx")
        .mode("overwrite")
        .option("key", "id").option("version", "v")
        .option("partitionColumns", "day").save(dir)
    }
  }

  test("changesFrom reads the version range's row-level diffs, stamped by version") {
    val s = spark; import s.implicits._
    val dir = seed("graft_fmt_cdc")
    // v2: update id=1, insert id=6; v3: delete id=2
    TxTable.upsert(s, dir,
      Seq((1L, "2024-01-01", "click", 15.0), (6L, "2024-01-03", "click", 60.0))
        .toDF("id", "day", "event_type", "v"),
      "id", "v", "day")
    TxTable.delete(s, dir,
      Seq((2L, "2024-01-01")).toDF("id", "day"), "id", "day")

    def changes(from: Long, extra: Map[String, String] = Map.empty) = {
      val r = s.read.format("graft-tx")
        .option("key", "id").option("changesFrom", from.toString)
      extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(dir)
    }
    val got = changes(1L)
      .select("_commit_version", "change_type", "id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === Set(
      (2L, "update", 1L, 15.0), (2L, "insert", 6L, 60.0),
      (3L, "delete", 2L, 20.0)))
    // changesTo bounds the range; an empty range is an empty frame of
    // the feed's shape, not a crash
    assert(changes(1L, Map("changesTo" -> "2"))
      .select("_commit_version").collect().map(_.getLong(0)).toSet === Set(2L))
    val empty = changes(3L)
    assert(empty.count() === 0L)
    assert(empty.columns.contains("change_type") &&
      empty.columns.contains("_commit_version"))
    // ...and the full-history read equals the per-commit diffs stamped
    // by hand
    val byHand = (1L to 3L)
      .map(v => TxTable.diff(s, dir, v - 1, v, "id").withColumn("_commit_version", lit(v)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .collect().map(_.toString).sorted.toSeq
    val viaFormat = changes(0L).collect().map(_.toString).sorted.toSeq
    assert(viaFormat === byHand)
    // versionAsOf and changesFrom cannot combine
    intercept[IllegalArgumentException] {
      changes(1L, Map("versionAsOf" -> "1")).collect()
    }
    // the changes read is SQL-reachable through the same seam
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW fmt_changes
      |USING `graft-tx`
      |OPTIONS (path '$dir', key 'id', changesFrom '2')""".stripMargin)
    val viaSql = s.sql(
      "SELECT change_type, id FROM fmt_changes ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql === Seq(("delete", 2L)))
  }

  test("changesFrom refuses a payload column named _commit_version, as the stream does") {
    // the stamp would replace the column's values with the version
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_fmt_cdc_reserved").toString + "/fact"
    TxTable.upsert(s, dir,
      Seq((1L, "2024-01-01", 7L, 1.0), (2L, "2024-01-01", 107L, 2.0),
        (3L, "2024-01-02", 207L, 3.0)).toDF("id", "day", "_commit_version", "v"),
      "id", "v", "day")
    val ex = intercept[IllegalArgumentException] {
      s.read.format("graft-tx").option("key", "id").option("changesFrom", "0")
        .load(dir).collect()
    }
    assert(ex.getMessage.contains(
      "change-feed payload carries reserved column(s) _commit_version"))
    val exS = intercept[IllegalArgumentException](
      s.readStream.format("graft-tx").option("key", "id").load(dir))
    assert(exS.getMessage === ex.getMessage)
  }

  test("an EMPTY append to a fresh path is a no-op, not a crash") {
    // TxTable.upsert documents empty batches as no-ops (an hour with
    // zero events must not fail the pipeline); the format seam must
    // not break that by eagerly resolving the returned relation's
    // schema against a table that was never created.
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_fmt_empty").toString + "/fact"
    Seq.empty[(Long, String, Double)].toDF("id", "day", "v")
      .write.format("graft-tx").mode("append")
      .option("key", "id").option("version", "v")
      .option("partitionColumns", "day").save(dir)
    assert(TxTable.latestVersion(s, dir) == 0L)
  }
}
