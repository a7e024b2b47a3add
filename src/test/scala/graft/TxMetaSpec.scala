package graft

import java.nio.file.Files

import graft.io.TxTable
import org.apache.spark.sql.functions._

/** The `_meta` partition-spec record (io/TxTable.ensureSpec): a table's
  * first committer records its partition columns; every later writer is
  * held to them — the failure this buys is loud (commit-time require)
  * where the unrecorded failure mode was silent double-keying (two
  * specs derive different manifest keys for the same rows, so the table
  * duplicates on read). Plus the reader-side payoff: graft-tx prunes
  * without being told the columns.
  */
class TxMetaSpec extends SparkTestBase {

  private def rows = {
    val s = spark; import s.implicits._
    Seq((1L, "2024-01-01", "click", 10.0), (2L, "2024-01-02", "view", 20.0))
      .toDF("id", "day", "event_type", "v")
  }

  test("first commit records the spec; a mismatched writer fails loudly on every DML and maintenance verb") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_meta").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    assert(TxTable.partitionColumnsOf(s, dir).contains(Seq("day")))

    val batch = Seq((3L, "2024-01-03", "click", 30.0))
      .toDF("id", "day", "event_type", "v")
    intercept[IllegalArgumentException] {
      TxTable.upsert(s, dir, batch, "id", "v", "event_type")
    }
    intercept[IllegalArgumentException] {
      TxTable.delete(s, dir, batch.select("id", "event_type"),
        "id", "event_type")
    }
    intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, batch, "id", "event_type")
    }
    intercept[IllegalArgumentException] {
      TxTable.compactFiles(s, dir, "event_type", maxFilesPerLeaf = 1)
    }
    intercept[IllegalArgumentException] {
      TxTable.optimizeZOrder(s, dir, "event_type", "v", "id")
    }
    // multi-column mismatch (same first column) is equally fatal
    intercept[IllegalArgumentException] {
      TxTable.upsert(s, dir, batch, "id", "v", Seq("day", "event_type"))
    }
    // the matching spec still commits
    TxTable.upsert(s, dir, batch, "id", "v", "day")
    assert(TxTable.snapshot(s, dir).get.count() == 3)
  }

  test("_meta records merge key + version column; mismatched writers refuse; keyless verbs record partitions only") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_meta_kv").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    assert(TxTable.mergeKeyOf(s, dir).contains("id"))
    assert(TxTable.versionColumnOf(s, dir).contains("v"))

    val batch = Seq((3L, "2024-01-03", "click", 30.0))
      .toDF("id", "day", "event_type", "v")
    // a writer merging on a different identity (or version order) is
    // the same silent-corruption class as a partition mismatch
    val e1 = intercept[IllegalArgumentException] {
      TxTable.upsert(s, dir, batch, "event_type", "v", "day")
    }
    assert(e1.getMessage.contains("keyed by"))
    val e2 = intercept[IllegalArgumentException] {
      TxTable.upsert(s, dir, batch, "id", "id", "day")
    }
    assert(e2.getMessage.contains("orders versions by"))
    intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, batch, "event_type", "day")
    }
    // keyless verbs don't carry a version: no enforcement beyond key
    TxTable.deleteWhere(s, dir, "day", col("id") === 999L) // no-op, no error

    // a table bootstrapped by a KEYLESS verb records partitions only —
    // the key/version fields read as None and self-describing consumers
    // must ask for explicit options instead of guessing
    val dir2 = Files.createTempDirectory("graft_meta_kv2").toString + "/fact"
    TxTable.replaceWindow(s, dir2, rows, "day", col("day") >= "2024-01-01")
    assert(TxTable.partitionColumnsOf(s, dir2).contains(Seq("day")))
    assert(TxTable.mergeKeyOf(s, dir2).isEmpty)
    assert(TxTable.versionColumnOf(s, dir2).isEmpty)
    // and a later keyed writer on that table is NOT constrained (no
    // record to disagree with) — pre-record compatibility
    TxTable.upsert(s, dir2, batch, "id", "v", "day")
    assert(TxTable.snapshot(s, dir2).get.count() === 3L)
  }

  test("self-describing surfaces: option-less format writes and SQL INSERT INTO ride the _meta record") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_meta_ins").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", "day")

    // option-less format append: key/version/partitions all default
    Seq((3L, "2024-01-03", "tap", 30.0), (1L, "2024-01-01", "click", 99.0))
      .toDF("id", "day", "event_type", "v")
      .write.format("graft-tx").mode("append").save(dir)
    val got = TxTable.snapshot(s, dir).get
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 99.0), (2L, 20.0), (3L, 30.0)))

    // SQL INSERT INTO = keyed upsert (positional values, renamed to the
    // table's columns before the by-name merge); re-inserting a live
    // key revises it rather than duplicating
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW meta_ins " +
      s"USING `graft-tx` OPTIONS (path '$dir')")
    s.sql("INSERT INTO meta_ins VALUES " +
      "(4, '2024-01-04', 'view', 40.0), (2, '2024-01-02', 'view', 222.0)")
    val got2 = TxTable.snapshot(s, dir).get
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got2 === Set((1L, 99.0), (2L, 222.0), (3L, 30.0), (4L, 40.0)))

    // INSERT OVERWRITE refuses (no honest transactional meaning)
    val e = intercept[Exception] {
      s.sql("INSERT OVERWRITE TABLE meta_ins VALUES (9, '2024-01-09', 'x', 9.0)")
    }
    assert(e.getMessage.contains("INSERT OVERWRITE is not supported"))

    // a keyless-bootstrapped table refuses INSERT INTO with guidance
    val dir2 = Files.createTempDirectory("graft_meta_ins2").toString + "/fact"
    TxTable.replaceWindow(s, dir2, rows, "day", col("day") >= "2024-01-01")
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW meta_ins2 " +
      s"USING `graft-tx` OPTIONS (path '$dir2')")
    val e2 = intercept[Exception] {
      s.sql("INSERT INTO meta_ins2 VALUES (9, '2024-01-09', 'x', 9.0)")
    }
    assert(e2.getMessage.contains("merge key"))
    s.catalog.dropTempView("meta_ins"): Unit
    s.catalog.dropTempView("meta_ins2"): Unit
  }

  test("pruned READS are held to the recorded spec too: wrong arity or wrong columns fail loudly") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_meta_read").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", Seq("day", "event_type"))
    // a single-column tuple on a two-column table would compute keys in
    // the wrong encoding and silently return the empty frame — it must
    // throw instead (the ADVICE finding)
    intercept[IllegalArgumentException] {
      TxTable.snapshotPartitions(s, dir, Seq(lit("2024-01-01")))
    }
    intercept[IllegalArgumentException] {
      TxTable.snapshotPartitionTuples(s, dir,
        Seq(Seq(lit("2024-01-01"), lit("click"), lit("extra"))))
    }
    // snapshotWhere binds stored values to the CALLER's column names —
    // a swapped spec would prune on the wrong identity (missing rows)
    intercept[IllegalArgumentException] {
      TxTable.snapshotWhere(s, dir, Seq("event_type", "day"),
        col("day") === "2024-01-01")
    }
    // the matching forms still read
    assert(TxTable.snapshotPartitionTuples(s, dir,
      Seq(Seq(lit("2024-01-01"), lit("click")))).get.count() == 1)
    assert(TxTable.snapshotWhere(s, dir, Seq("day", "event_type"),
      col("day") === "2024-01-01").get.count() == 1)
  }

  test("pruned reads resolve partition keys on the driver: no Spark job, same rows") {
    val s = spark; import s.implicits._
    val one = Files.createTempDirectory("graft_meta_keys").toString + "/fact"
    TxTable.upsert(s, one,
      Seq((1L, "2024-01-01", "click", 10.0), (2L, null: String, "view", 20.0),
        (3L, "2024-01-02", "view", 30.0)).toDF("id", "day", "event_type", "v"),
      "id", "v", "day")
    val multi = Files.createTempDirectory("graft_meta_keys_mc").toString + "/fact"
    TxTable.upsert(s, multi, rows, "id", "v", Seq("day", "event_type"))
    val full = TxTable.snapshot(s, one).get
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    var reads = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = SparkEvents.jobs(s) {
      reads = Seq(
        TxTable.snapshotPartitions(s, one, Seq(lit("2024-01-02"))),
        TxTable.snapshotPartitions(s, one, Seq(lit(null).cast("string"))),
        TxTable.snapshotPartitions(s, one, Seq(lit("1999-12-31"))),
        TxTable.snapshotPartitionTuples(s, multi,
          Seq(Seq(lit("2024-01-01"), lit("click")))),
        TxTable.snapshotWhere(s, one, "day", col("day") >= "2024-01-02")).map(_.get)
    }
    assert(jobs === 0, "partition-key resolution launched Spark jobs")
    val Seq(single, nul, noHit, tuple, where) = reads
    assert(rowsOf(single) === rowsOf(full.filter(col("day") === "2024-01-02")))
    assert(single.count() === 1L)
    assert(rowsOf(nul) === rowsOf(full.filter(col("day").isNull)))
    assert(nul.count() === 1L)
    assert(noHit.count() === 0L && noHit.schema === full.schema)
    assert(rowsOf(tuple) === rowsOf(TxTable.snapshot(s, multi).get
      .filter(col("day") === "2024-01-01" && col("event_type") === "click")))
    assert(tuple.count() === 1L)
    assert(rowsOf(where) === rowsOf(full.filter(col("day") >= "2024-01-02")))
  }

  test("multi-column specs record and round-trip; vacuum preserves the slot") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_meta_mc").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", Seq("day", "event_type"))
    assert(TxTable.partitionColumnsOf(s, dir)
      .contains(Seq("day", "event_type")))
    (1 to 3).foreach { i =>
      TxTable.upsert(s, dir,
        Seq((10L + i, "2024-01-05", "click", i.toDouble))
          .toDF("id", "day", "event_type", "v"),
        "id", "v", Seq("day", "event_type"))
    }
    TxTable.vacuum(s, dir, retainVersions = 1)
    assert(TxTable.partitionColumnsOf(s, dir)
      .contains(Seq("day", "event_type")))
    // enforcement survives the vacuum
    intercept[IllegalArgumentException] {
      TxTable.upsert(s, dir, rows, "id", "v", "day")
    }
  }

  test("graft-tx reads prune from the record with no partitionColumns option; a disagreeing option refuses") {
    val s = spark
    val dir = Files.createTempDirectory("graft_meta_fmt").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    // option handling first (relations resolve their schema over every
    // live leaf, so these must run before the deletion below)
    intercept[IllegalArgumentException] {
      s.read.format("graft-tx")
        .option("partitionColumns", "event_type").load(dir)
    }
    // an AGREEING explicit option is fine
    assert(s.read.format("graft-tx")
      .option("partitionColumns", "day").load(dir)
      .filter(col("day") === "2024-01-01").count() == 1)

    // no option: the record supplies the columns — prove pruning the
    // honest way, by deleting the non-matching leaf's files
    val df = s.read.format("graft-tx").load(dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(s"$dir/data")
    val leaves = fs.listStatus(dataDir).map(_.getPath)
      .flatMap(d => fs.listStatus(d).map(_.getPath))
      .filter(_.getName.startsWith("__p="))
    assert(leaves.length == 2)
    val keep = leaves.filter { p =>
      s.read.parquet(p.toString).filter(col("day") === "2024-01-01").count() > 0
    }
    leaves.filterNot(keep.contains).foreach(p => fs.delete(p, true))
    val pruned = df.filter(col("day") === "2024-01-01")
      .select("id").collect().map(_.getLong(0))
    assert(pruned.toSeq == Seq(1L))
  }

  test("maintenance on a never-committed path records NOTHING") {
    // a typo'd compactFiles/optimizeZOrder against a path whose table
    // doesn't exist yet must stay a pure no-op — recording the wrong
    // spec would lock out the table's real first writer
    val s = spark
    val dir = Files.createTempDirectory("graft_meta_fresh").toString + "/fact"
    TxTable.compactFiles(s, dir, "wrong_col", maxFilesPerLeaf = 1)
    TxTable.optimizeZOrder(s, dir, "wrong_col", "v", "id")
    assert(TxTable.partitionColumnsOf(s, dir).isEmpty)
    TxTable.upsert(s, dir, rows, "id", "v", "day") // the REAL first writer
    assert(TxTable.partitionColumnsOf(s, dir).contains(Seq("day")))
  }

  test("pre-meta tables stay writable and readable (no record, no enforcement)") {
    val s = spark
    val dir = Files.createTempDirectory("graft_meta_old").toString + "/fact"
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    // simulate a table created before the slot existed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_log/_meta"), false))
    assert(TxTable.partitionColumnsOf(s, dir).isEmpty)
    // next commit re-records (first contact), and reads keep working
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    assert(TxTable.partitionColumnsOf(s, dir).contains(Seq("day")))
    assert(TxTable.snapshot(s, dir).get.count() == 2)
  }
}
