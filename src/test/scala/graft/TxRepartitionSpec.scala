package graft

import java.nio.file.Files

import graft.io.{PartitionSpec, TxTable}
import org.apache.spark.sql.functions._

/** Partition-spec evolution (TxTable.repartitionTable) and the
  * whole-table atomic replacement it rides on (TxTable.replaceAll):
  * rows-preserving re-key as ONE commit, history intact, writers
  * refused across a half-done respec, point-in-time REPLACE conflict
  * semantics. */
class TxRepartitionSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft_txrepart").toString + "/t"

  private def boot(dir: String): Unit = {
    val s = spark; import s.implicits._
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102),
        (3L, 30.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
  }

  test("repartitionTable: rows preserved, new spec governs, history intact") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    val v1 = TxTable.latestVersion(spark, dir)
    TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id")))
    // one commit, rows bit-identical (diff across the rewrite is empty)
    assert(TxTable.latestVersion(spark, dir) === v1 + 1)
    assert(TxTable.diff(spark, dir, v1, v1 + 1, "id").count() === 0L)
    assert(TxTable.snapshot(spark, dir).get.count() === 3L)
    // history: the pre-respec version still reads under its old keys
    assert(TxTable.snapshotAt(spark, dir, v1).get.count() === 3L)
    // the manifest now carries id-grain partition values
    assert(TxTable.partitionValues(spark, dir).flatten.toSet ===
      Set("1", "2", "3"))
    // a writer passing the OLD spec refuses loudly...
    val e = intercept[Exception](TxTable.upsert(spark, dir,
      Seq((4L, 40.0, 2L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id"))
    assert(e.getMessage.contains("partitioned by"))
    // ...and the new spec lands, into its own partition
    TxTable.upsert(spark, dir,
      Seq((4L, 40.0, 2L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "id")
    assert(TxTable.snapshot(spark, dir).get.count() === 4L)
    // pruned reads work against the new identity
    val pruned = TxTable.snapshotWhere(spark, dir, PartitionSpec(Seq("id")),
      col("id") === 4L).get
    assert(pruned.count() === 1L &&
      pruned.head().getAs[Double]("price") === 40.0)
    // idempotent no-op on the spec the table already has
    val v3 = TxTable.latestVersion(spark, dir)
    TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id")))
    assert(TxTable.latestVersion(spark, dir) === v3)
  }

  test("a straggler commit interleaving the rewrite folds in via CAS retry") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    // a TRUE straggler: the writer passes its spec check and stages
    // BEFORE the respec's transitional _meta lands, and wins its CAS
    // while the rewrite is parked in its race window — the rewrite's
    // first CAS then fails, it re-reads the tip (which now includes the
    // old-keyed straggler rows; reading is key-agnostic) and the
    // straggler's rows survive the re-key
    val atWindow = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    @volatile var repartErr: Option[Throwable] = None
    val repart = new Thread(() => {
      try TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id")),
        beforeCommit = () => { atWindow.countDown(); proceed.await() })
      catch { case t: Throwable => repartErr = Some(t) }
    })
    try {
      TxTable.upsert(spark, dir,
        Seq((9L, 90.0, 1L, 20240109)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id",
        beforeCommit = () => { repart.start(); atWindow.await() })
    } finally proceed.countDown()
    repart.join()
    assert(repartErr.isEmpty, s"repartition failed: $repartErr")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.count() === 4L)
    assert(snap.filter(col("id") === 9L).count() === 1L)
    assert(TxTable.partitionValues(spark, dir).flatten.toSet ===
      Set("1", "2", "3", "9"))
    // and the table is fully writable under the new spec
    TxTable.upsert(spark, dir,
      Seq((10L, 100.0, 2L, 20240110)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "id")
    assert(TxTable.snapshot(spark, dir).get.count() === 5L)
  }

  test("a stale-spec retry refuses after a respec wins the race (no double-keying)") {
    val s = spark; import s.implicits._
    val row9 = Seq((9L, 90.0, 1L, 20240109)).toDF("id", "price", "etl_seq", "date_id")
    // every verb with a race window: it stages under the OLD spec, then
    // the whole respec runs to completion inside that window; the CAS
    // fails, and the retry must REFUSE on the new recorded spec instead
    // of committing old-keyed leaves into the re-keyed manifest (or, for
    // a keyed delete, finding none of its keys and silently returning).
    // replaceAll is point-in-time: it makes one attempt and refuses as such
    val verbs: Seq[(String, (String, () => Unit) => Unit)] = Seq(
      "upsert" -> ((dir, race) => TxTable.upsert(spark, dir, row9,
        "id", "etl_seq", "date_id", beforeCommit = race)),
      "replaceWindow" -> ((dir, race) => TxTable.replaceWindow(spark, dir, row9,
        "date_id", col("id") === 9L, beforeCommit = race)),
      "replaceAll" -> ((dir, race) => TxTable.replaceAll(spark, dir, row9,
        "date_id", beforeCommit = race)),
      "applyCdc" -> ((dir, race) => TxTable.applyCdc(spark, dir,
        Seq((1L, "U", 2L, 11.0, 2L, 20240101))
          .toDF("id", "_op", "_seq", "price", "etl_seq", "date_id"),
        "id", "_op", "_seq", "date_id", beforeCommit = race)),
      "delete" -> ((dir, race) => TxTable.delete(spark, dir,
        Seq((1L, 20240101)).toDF("id", "date_id"), "id", "date_id",
        beforeCommit = race)),
      "deleteWhere" -> ((dir, race) => TxTable.deleteWhere(spark, dir,
        "date_id", col("id") === 1L, beforeCommit = race)),
      "updateWhere" -> ((dir, race) => TxTable.updateWhere(spark, dir,
        "date_id", Seq("price" -> lit(0.0)), col("id") === 1L,
        beforeCommit = race)),
      "merge" -> ((dir, race) => TxTable.merge(spark, dir,
        Seq((1L, 11.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "date_id", updateSet = Seq("price" -> col("s.price")),
        beforeCommit = race)),
      "addColumns" -> ((dir, race) => TxTable.addColumns(spark, dir, "date_id",
        Seq(org.apache.spark.sql.types.StructField(
          "extra", org.apache.spark.sql.types.StringType)),
        beforeCommit = race)),
      "materialize" -> ((dir, race) =>
        TxTable.materialize(spark, dir, "date_id", beforeCommit = race)),
      "optimizeZOrderBy" -> ((dir, race) => TxTable.optimizeZOrderBy(spark, dir,
        "date_id", Seq("price"), beforeCommit = race)))
    // every verb runs; the failures are reported together
    val problems = verbs.flatMap { case (verb, run) =>
      val dir = freshDir()
      // materialize needs foreign leaves: race it on a shallow clone
      if (verb == "materialize") {
        val src = freshDir()
        boot(src)
        TxTable.cloneShallow(spark, src, dir)
      } else boot(dir)
      val refusal = scala.util.Try(run(dir, () =>
        TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id"))))) match {
        case scala.util.Success(_) => Some("returned normally")
        case scala.util.Failure(e) if !e.getMessage.contains(
            if (verb == "replaceAll") "point-in-time" else "partitioned by") =>
          Some(s"refused with: ${e.getMessage}")
        case _ => None
      }
      // the respec completed; the refused call left no trace (a Seq, not
      // a Set: double-keying shows up as a duplicated row)
      val snap = TxTable.snapshot(spark, dir).get
      val trace =
        if (snap.select("id", "price").as[(Long, Double)].collect().toSeq.sorted !=
            Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)) ||
            snap.columns.contains("extra") ||
            TxTable.partitionValues(spark, dir).flatten.toSet != Set("1", "2", "3"))
          Some("changed the table")
        else None
      (refusal ++ trace).map(p => s"$verb $p")
    }
    assert(problems.isEmpty,
      s"stale-spec retries must refuse on the new spec: ${problems.mkString("; ")}")
  }

  test("a crashed respec leaves the table readable, write-refusing, and completable") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    // crash between the transitional _meta and the rewrite commit
    val eBoom = intercept[RuntimeException](TxTable.repartitionTable(spark, dir,
      PartitionSpec(Seq("id")),
      beforeCommit = () => throw new RuntimeException("crash window")))
    assert(eBoom.getMessage === "crash window")
    // reads stay correct (pruning conservatively disabled)...
    assert(TxTable.snapshot(spark, dir).get.count() === 3L)
    assert(TxTable.snapshotWhere(spark, dir, PartitionSpec(Seq("id")),
      col("id") === 1L).get.filter(col("id") === 1L).count() === 1L)
    // ...writes refuse under EITHER spec...
    val eOld = intercept[Exception](TxTable.upsert(spark, dir,
      Seq((5L, 50.0, 2L, 20240105)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id"))
    assert(eOld.getMessage.contains("respec in progress"))
    val eNew = intercept[Exception](TxTable.upsert(spark, dir,
      Seq((5L, 50.0, 2L, 20240105)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "id"))
    assert(eNew.getMessage.contains("respec in progress"))
    // ...and rerunning the SAME respec completes it
    TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id")))
    assert(TxTable.snapshot(spark, dir).get.count() === 3L)
    TxTable.upsert(spark, dir,
      Seq((5L, 50.0, 2L, 20240105)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "id")
    assert(TxTable.snapshot(spark, dir).get.count() === 4L)
    // a DIFFERENT respec cannot jump a pending one (checked pre-crash
    // by rerunning into a fresh pending state first)
  }

  test("restore cannot cross a partition respec backwards") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    val v1 = TxTable.latestVersion(spark, dir) // old-keyed manifest
    TxTable.repartitionTable(spark, dir, PartitionSpec(Seq("id")))
    val v2 = TxTable.latestVersion(spark, dir) // the rewrite version
    TxTable.upsert(spark, dir,
      Seq((4L, 40.0, 2L, 20240104)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "id")
    // restoring BELOW the respec would republish an old-keyed manifest
    // under the new identity — refused with guidance
    val e = intercept[Exception](TxTable.restore(spark, dir, v1))
    assert(e.getMessage.contains("partition spec changed"),
      s"unexpected: ${e.getMessage}")
    // restoring AT or ABOVE the rewrite version stays allowed
    TxTable.restore(spark, dir, v2)
    assert(TxTable.snapshot(spark, dir).get.count() === 3L)
    // the same fence guards branching: cloning a pre-respec version
    // would pair an old-keyed manifest with the new-spec _meta
    val ec = intercept[Exception](
      TxTable.cloneShallow(spark, dir, freshDir(), versionAsOf = Some(v1)))
    assert(ec.getMessage.contains("predates its partition respec"))
    val okClone = freshDir()
    TxTable.cloneShallow(spark, dir, okClone, versionAsOf = Some(v2))
    assert(TxTable.snapshot(spark, okClone).get.count() === 3L)
  }

  test("SQL face: REPARTITION TABLE keeps the catalog option in lockstep") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    val tbl = s"repart_sql_${math.abs(dir.hashCode)}"
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` " +
      s"OPTIONS (path '$dir', partitionColumns 'date_id')")
    try {
      graft.io.TxCatalog.sql(spark, s"REPARTITION TABLE $tbl BY (id)")
      assert(TxTable.partitionColumnsOf(spark, dir) === Some(Seq("id")))
      // the cataloged partitionColumns option moved with the respec —
      // a stale 'date_id' would refuse this read outright
      assert(spark.table(tbl).count() === 3L)
      // and the path form works too (no catalog involved)
      graft.io.TxCatalog.sql(spark, s"REPARTITION TABLE '$dir' BY (date_id)")
      assert(TxTable.partitionColumnsOf(spark, dir) === Some(Seq("date_id")))
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("replaceAll: atomic whole-table swap, point-in-time conflict, truncate") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    val v1 = TxTable.latestVersion(spark, dir)
    // swap the full content in one commit; absent partitions vanish
    TxTable.replaceAll(spark, dir,
      Seq((7L, 70.0, 2L, 20240107), (8L, 80.0, 2L, 20240107))
        .toDF("id", "price", "etl_seq", "date_id"),
      "date_id")
    assert(TxTable.latestVersion(spark, dir) === v1 + 1)
    val now = TxTable.snapshot(spark, dir).get
    assert(now.count() === 2L && now.filter(col("id") < 7).count() === 0L)
    // the pre-swap version still reads whole (reader isolation)
    assert(TxTable.snapshotAt(spark, dir, v1).get.count() === 3L)
    // a concurrent commit invalidates the point-in-time replacement
    val e = intercept[IllegalStateException](TxTable.replaceAll(spark, dir,
      Seq((9L, 90.0, 3L, 20240109)).toDF("id", "price", "etl_seq", "date_id"),
      "date_id",
      beforeCommit = () => TxTable.upsert(spark, dir,
        Seq((6L, 60.0, 3L, 20240106)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")))
    assert(e.getMessage.contains("point-in-time"))
    // the interleaved commit stands; the failed replacement left no trace
    val after = TxTable.snapshot(spark, dir).get
    assert(after.count() === 3L)
    assert(after.filter(col("id") === 6L).count() === 1L)
    assert(after.filter(col("id") === 9L).count() === 0L)
    // empty replacement = transactional truncate (still one version)
    TxTable.replaceAll(spark, dir,
      Seq.empty[(Long, Double, Long, Int)]
        .toDF("id", "price", "etl_seq", "date_id"),
      "date_id")
    assert(TxTable.snapshot(spark, dir).isEmpty ||
      TxTable.snapshot(spark, dir).get.count() === 0L)
  }
}
