package graft

import java.nio.file.Files

import graft.io.{TxStreamSource, TxTable}
import graft.ops.Merge
import org.apache.spark.sql.functions._

/** Laws of the general MERGE (ops/Merge.mergeInto), its transactional
  * wrapper (TxTable.merge), and the rollback pair history/restore —
  * clause edges on literal frames the oracle query's derived source
  * never hits, plus the manifest-level effects (tombstones, restore
  * commits) only a spec can see.
  */
class TxMergeRestoreSpec extends SparkTestBase {

  private def target = {
    val s = spark; import s.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
      .toDF("id", "p", "v")
  }

  // ── mergeInto clause laws ────────────────────────────────────────

  test("mergeInto: conditional update, delete precedence, conditional insert") {
    val s = spark; import s.implicits._
    val source = Seq(
      (1L, "a", 100.0), // matched, update cond holds (s.v > t.v)
      (2L, "a", 5.0),   // matched, update cond FAILS → passes through
      (3L, "b", 99.0),  // matched, delete cond holds → dropped even though update cond also holds
      (5L, "a", 50.0),  // unmatched, insert cond holds
      (6L, "b", -1.0))  // unmatched, insert cond fails → dropped
      .toDF("id", "p", "v")
    val out = Merge.mergeInto(
      target, source, "id",
      updateSet = Seq("v" -> (col("s.v") + 1000)),
      updateCond = col("s.v") > col("t.v"),
      deleteCond = Some(col("t.id") === 3L),
      insertCond = Some(col("s.v") > 0))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (1L, "a", 1100.0), // updated via the SET expression, not raw s.v
      (2L, "a", 20.0),   // cond failed → target value kept
      (4L, "b", 40.0),   // target-only survives
      (5L, "a", 50.0)))  // conditional insert landed; 3 deleted, 6 filtered
  }

  test("mergeInto: NULL conditions mean not-satisfied; no-insert form drops unmatched source") {
    val s = spark; import s.implicits._
    val source = Seq(
      (1L, "a", Option.empty[Double]), // s.v NULL → update cond NULL → keep target
      (7L, "a", Some(70.0)))           // unmatched
      .toDF("id", "p", "v")
    val out = Merge.mergeInto(
      target, source, "id",
      updateSet = Seq("v" -> col("s.v")),
      updateCond = col("s.v") > col("t.v"),
      insertCond = None)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("mergeInto: source columns absent from the target are usable in clauses; missing insert columns are NULL") {
    val s = spark; import s.implicits._
    val tgt = Seq((1L, "x")).toDF("id", "name")
    val source = Seq((1L, 9L), (2L, 1L)).toDF("id", "rank") // no 'name'
    val out = Merge.mergeInto(
      tgt, source, "id",
      updateSet = Seq("name" -> concat(col("t.name"), col("s.rank"))),
      updateCond = col("s.rank") > 5)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("x9")), (2L, None)))
  }

  test("mergeInto rejects reassigning the key and unknown set columns") {
    val s = spark; import s.implicits._
    val src = Seq((1L, "a", 1.0)).toDF("id", "p", "v")
    intercept[IllegalArgumentException] {
      Merge.mergeInto(target, src, "id", updateSet = Seq("id" -> lit(9L)))
    }
    intercept[IllegalArgumentException] {
      Merge.mergeInto(target, src, "id", updateSet = Seq("nope" -> lit(1)))
    }
  }

  // ── TxTable.merge: transactional effects ────────────────────────

  test("TxTable.merge commits all three clauses atomically; emptied partitions tombstone; no-op merges publish nothing") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_merge").toString + "/fact"
    TxTable.upsert(s, dir, target, "id", "v", "p")
    assert(TxTable.latestVersion(s, dir) == 1L)

    // delete everything in partition b, update id=1, insert id=9 into a NEW partition c
    val source = Seq(
      (1L, "a", 100.0), (3L, "b", 0.0), (4L, "b", 0.0), (9L, "c", 90.0))
      .toDF("id", "p", "v")
    TxTable.merge(s, dir, source, "id", "p",
      updateSet = Seq("v" -> col("s.v")),
      updateCond = col("s.p") === "a",
      deleteCond = Some(col("s.p") === "b"))
    assert(TxTable.latestVersion(s, dir) == 2L)
    val snap = TxTable.snapshot(s, dir).get.orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v")))
    assert(snap.toSeq == Seq((1L, 100.0), (2L, 20.0), (9L, 90.0)))
    // partition b is GONE at the manifest level, not just empty
    val bRead = TxTable.snapshotPartitions(s, dir, Seq(lit("b"))).get
    assert(bRead.count() == 0)
    // untouched partition read still prunes to its single leaf
    assert(TxTable.snapshotPartitions(s, dir, Seq(lit("c"))).get.count() == 1)

    // a merge whose clauses produce no change publishes NO version
    val noop = Seq((99L, "zz", 1.0)).toDF("id", "p", "v")
    TxTable.merge(s, dir, noop, "id", "p",
      insertCond = Some(lit(false)))
    assert(TxTable.latestVersion(s, dir) == 2L)
  }

  test("TxTable.merge refuses a duplicate-key source (null keys exempt)") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_merge_dup").toString + "/fact"
    TxTable.upsert(s, dir, target, "id", "v", "p")
    // a duplicate key would fan its target row out through the join —
    // silent duplication, worse than the crash this buys
    val dup = Seq((1L, "a", 5.0), (1L, "a", 6.0)).toDF("id", "p", "v")
    val ex = intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, dup, "id", "p", updateSet = Seq("v" -> col("s.v")))
    }
    assert(ex.getMessage.contains("key-unique"))
    // null keys never match anything: two of them are two inserts, not
    // a fan-out — they stay legal
    val nulls = Seq((Option.empty[Long], "a", 5.0), (Option.empty[Long], "a", 6.0))
      .toDF("id", "p", "v")
    TxTable.merge(s, dir, nulls, "id", "p")
    assert(TxTable.snapshot(s, dir).get.filter(col("id").isNull).count() == 2)
  }

  test("a small wide fragmented commit stages ONE file per leaf") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_ow").toString + "/fact"
    // 6-way repartitioned batch over 4 partitions: an unplaced write
    // lands up to 6 files per leaf; the small-commit placement, one
    // task per key, collapses each leaf to 1
    val batch = (1L to 400L)
      .map(i => (i, s"p${i % 4}", i.toDouble)).toDF("id", "p", "v")
      .repartition(6)
    TxTable.upsert(s, dir, batch, "id", "v", "p")
    val leaves = TxTable.latest(s, dir)._2.values
    leaves.foreach { leaf =>
      val files = new java.io.File(dir, leaf)
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"the commit left $files files in $leaf")
    }
    // rows intact
    assert(TxTable.snapshot(s, dir).get.count() == 400)
  }

  test("a small one-leaf commit stages ONE file, upsert and window replacement alike") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_one_leaf").toString + "/fact"
    def files(): Seq[Int] = TxTable.latest(s, dir)._2.values.toSeq.map(leaf =>
      new java.io.File(dir, leaf).listFiles().count(_.getName.endsWith(".parquet")))
    // a 6-way repartitioned batch into ONE partition, coalescing on
    // (the session default): the one touched leaf gets one file
    TxTable.upsert(s, dir, (1L to 400L).map(i => (i, "p", i.toDouble))
      .toDF("id", "p", "v").repartition(6), "id", "v", "p")
    assert(files() === Seq(1))
    // the hourly shape: a window replacement unions the leaf's kept rows
    // with a multi-partition batch — no exchange of its own, so without
    // placement the leaf re-stages as one file per input split
    TxTable.replaceWindow(s, dir, (401L to 800L).map(i => (i, "p", i.toDouble))
      .toDF("id", "p", "v").repartition(6), "p", col("v") > 400.0)
    assert(files() === Seq(1))
    assert(TxTable.snapshot(s, dir).get.count() === 800L)
  }

  test("TxTable.merge refuses to reassign key or partition columns") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_merge_req").toString + "/fact"
    val src = Seq((1L, "a", 1.0)).toDF("id", "p", "v")
    intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, src, "id", "p", updateSet = Seq("p" -> lit("x")))
    }
  }

  test("TxTable.merge into an absent partition lands only the INSERT clause") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_merge_new").toString + "/fact"
    TxTable.upsert(s, dir, target.filter(col("p") === "a"), "id", "v", "p")
    // partition b does not exist: matched clauses are vacuous there,
    // only rows passing the insert condition may land
    val source = Seq((30L, "b", 3.0), (31L, "b", -3.0)).toDF("id", "p", "v")
    TxTable.merge(s, dir, source, "id", "p",
      updateSet = Seq("v" -> col("s.v")),
      insertCond = Some(col("s.v") > 0))
    val b = TxTable.snapshotPartitions(s, dir, Seq(lit("b"))).get
      .select("id").collect().map(_.getLong(0))
    assert(b.toSeq == Seq(30L))
  }

  // ── history / restore ────────────────────────────────────────────

  test("history reports kinds; restore rolls state back as a NEW commit; diff reports the revert") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_restore").toString + "/fact"
    TxTable.upsert(s, dir, target, "id", "v", "p")                       // v1
    TxTable.upsert(s, dir,
      Seq((2L, "a", 999.0), (8L, "b", 80.0)).toDF("id", "p", "v"),
      "id", "v", "p")                                                    // v2
    TxTable.delete(s, dir, Seq((1L, "a")).toDF("id", "p"), "id", "p")    // v3
    def kinds(): Seq[(Long, String)] = TxTable.historyFrame(s, dir)
      .orderBy("version").select("version", "kind").collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1))
    assert(kinds() == Seq(1L -> "checkpoint", 2L -> "delta", 3L -> "delta"))

    TxTable.restore(s, dir, 1L)                                          // v4
    assert(kinds().last == (4L -> "checkpoint"))
    val now = TxTable.snapshot(s, dir).get
    val v1 = TxTable.snapshotAt(s, dir, 1L).get
    assert(now.unionByName(v1).except(now.intersect(v1)).count() == 0)
    assert(now.count() == 4 && v1.count() == 4)
    // the rolled-back versions remain readable (history is append-only)
    assert(TxTable.snapshotAt(s, dir, 3L).get.count() == 4) // v3: +8, -1, 2→999
    // the restore commit's diff is exactly the revert
    val d = TxTable.diff(s, dir, 3L, 4L, "id")
    val ops = d.select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops == Set((1L, "insert"), (2L, "update"), (8L, "delete")))

    // a restore to version 0 empties the table under the empty schema;
    // the next commit records its own, so a snapshot merges no footers,
    // and a widening reaches diff and the feed past a plain commit
    TxTable.restore(s, dir, 0L)                                          // v5
    assert(TxTable.snapshot(s, dir).isEmpty)
    TxTable.upsert(s, dir, target, "id", "v", "p")                       // v6
    TxTable.upsert(s, dir,
      Seq((9L, "c", 90.0, "hi")).toDF("id", "p", "v", "note"), "id", "v", "p") // v7
    TxTable.upsert(s, dir, Seq((10L, "a", 100.0)).toDF("id", "p", "v"), "id", "v", "p") // v8
    assert(TxFixtures.schemaFieldFaults(dir, 8L).isEmpty)
    assert(SparkEvents.jobs(s)(TxTable.snapshot(s, dir)) === 0)
    val widened = TxTable.diff(s, dir, 7L, 8L, "id")
    assert(widened.columns.contains("note"))
    // the feed's pinned shape is the diff readout plus the version stamp
    assert(TxStreamSource.feedSchema(s, dir, "id").dropRight(1) == widened.schema.fields.toSeq)
  }

  test("snapshotAt(v) is the snapshot taken when v was the tip, built without a job") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_at").toString + "/fact"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[(String, Set[String])])]
    def shape(d: org.apache.spark.sql.DataFrame): (String, Set[String]) =
      (d.schema.json, d.collect().map(_.toString).toSet)
    def record(): Unit =
      seen += TxTable.latestVersion(s, dir) -> TxTable.snapshot(s, dir).map(shape)
    TxTable.upsert(s, dir, target, "id", "v", "p"); record()             // v1 bootstrap
    TxTable.upsert(s, dir,
      Seq((5L, "c", 50.0, "hi")).toDF("id", "p", "v", "note"), "id", "v", "p")
    record()                                                             // v2 widening
    TxTable.upsert(s, dir, Seq((6L, "a", 60.0)).toDF("id", "p", "v"), "id", "v", "p")
    record()                                                             // v3 same schema
    TxTable.deleteWhere(s, dir, "p", lit(true)); record()                // v4 delete-all
    assert(seen.map(_._1) == Seq(1L, 2L, 3L, 4L) && seen.last._2.isEmpty)
    seen.foreach { case (v, expected) =>
      var at: Option[org.apache.spark.sql.DataFrame] = None
      assert(SparkEvents.jobs(s) { at = TxTable.snapshotAt(s, dir, v) } === 0, s"v$v")
      assert(at.map(shape) == expected, s"v$v")
    }
  }

  test("restore of a never-committed or vacuumed version throws") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_restore_bad").toString + "/fact"
    TxTable.upsert(s, dir, target, "id", "v", "p")
    intercept[IllegalStateException] { TxTable.restore(s, dir, 7L) }
    // churn versions then vacuum to retain only the tip
    (1 to 3).foreach { i =>
      TxTable.upsert(s, dir,
        Seq((100L + i, "a", i.toDouble)).toDF("id", "p", "v"), "id", "v", "p")
    }
    TxTable.vacuum(s, dir, retainVersions = 1)
    intercept[IllegalStateException] { TxTable.restore(s, dir, 1L) }
  }
}
