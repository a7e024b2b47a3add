package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Partition-scoped keyed writes on [[graft.io.TxTable]]: latest-wins
  * semantics, CAS commits under contention, O(touched) rewrites and
  * manifests, retention, and the commit stores underneath.
  */
class MergeWriterSpec extends SparkTestBase {

  test("interleaved TRANSACTIONAL writers on one partition: both batches survive") {
    // The lost-update window of a read-merge-overwrite writer, closed
    // by TxTable's optimistic CAS: writer A merges against snapshot v1
    // and stages; writer B commits v2 inside A's stage→commit window
    // (injected through FaultStore); A's CAS on v2 then FAILS,
    // A re-merges against B's snapshot and commits v3 — so B's insert
    // into the contended partition survives alongside A's.
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_race").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 10.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")

    var bRan = false
    FaultStore.racing(target) {
      // writer B lands inside A's race window: contended partition
      // AND a fresh one
      TxTable.upsert(spark, target,
        Seq((3L, 30.0, 2L, 20240101), (4L, 40.0, 2L, 20240102))
          .toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
      bRan = true
    } {
      TxTable.upsert(spark, target,
        Seq((2L, 20.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    }
    assert(bRan)

    val out = TxTable.snapshot(spark, target).get
      .select("id", "date_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out === Set(
      (1L, 20240101), // pre-race row
      (2L, 20240101), // A's insert: re-merged after losing the CAS
      (3L, 20240101), // B's insert on the CONTENDED partition: survives
      (4L, 20240102)  // B's insert on the fresh partition: survives
    ), s"transactional interleaving lost a batch: $out")
    assert(TxTable.latest(spark, target)._1 === 3L) // bootstrap, B, then A's retry
  }

  test("TxTable upsert is idempotent, snapshot-pruned, and vacuumable") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_idem").toString + "/fact"
    val batch = Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
      .toDF("id", "price", "etl_seq", "date_id")
    TxTable.upsert(spark, target, batch, "id", "etl_seq", "date_id")
    TxTable.upsert(spark, target, batch, "id", "etl_seq", "date_id")
    assert(TxTable.snapshot(spark, target).get.count() === 2)

    // a commit touching only 20240101 leaves 20240102's manifest entry
    // (and therefore its immutable files) untouched — the O(touched)
    // property, now visible at manifest level. Manifest keys are md5 of
    // the partition value's Spark string cast (int → decimal string, so
    // the driver-side digest here matches the engine's expression).
    def pkey(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val before = TxTable.latest(spark, target)._2
    TxTable.upsert(spark, target,
      Seq((1L, 11.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    val after = TxTable.latest(spark, target)._2
    assert(after(pkey("20240102")) === before(pkey("20240102")))
    assert(after(pkey("20240101")) !== before(pkey("20240101")))

    val snap = TxTable.snapshot(spark, target).get
      .select("id", "price").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(snap === Set((1L, 11.0), (2L, 20.0)))

    // CDC between versions, manifest-pruned: only id=1 changed v2→v3,
    // so diff emits exactly its update — and never READS the unchanged
    // 20240102 partition (identical manifest entry ⇒ identical leaf):
    // every file behind the diff plan is a changed-partition file
    val d = TxTable.diff(spark, target, 2L, 3L, "id")
    val changes = d.select("change_type", "id", "price").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(changes === Set(("update", 1L, 11.0)))
    val unchangedLeaf = before(pkey("20240102"))
    assert(d.inputFiles.nonEmpty &&
      d.inputFiles.forall(f => !f.contains(unchangedLeaf)),
      "diff read an unchanged partition's leaf")

    // time travel: version 2 (pre-revision) still reads the old value —
    // immutable files + never-rewritten manifests make every version a
    // consistent snapshot until vacuum
    val v2 = TxTable.snapshotAt(spark, target, 2L).get
      .select("id", "price").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(v2 === Set((1L, 10.0), (2L, 20.0)))
    assert(TxTable.snapshotAt(spark, target, 99L).isEmpty)

    // vacuum drops the superseded leaves + old manifests; snapshot unchanged
    TxTable.vacuum(spark, target)
    val dataLeaves = new java.io.File(target, "data").listFiles().flatMap(cd =>
      cd.listFiles().map(leaf => s"${cd.getName}/${leaf.getName}")).toSet
    assert(dataLeaves === TxTable.latest(spark, target)._2.values
      .map(_.stripPrefix("data/")).toSet)
    val snap2 = TxTable.snapshot(spark, target).get
      .select("id", "price").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(snap2 === snap)
    // vacuum reclaimed the old version: time travel to it is gone
    assert(TxTable.snapshotAt(spark, target, 2L).isEmpty)
  }

  test("TxTable under real concurrent writers: every batch survives, every commit is a version") {
    // The injected-seam test above proves the protocol's logic; this
    // proves it under actual thread interleaving — 4 writers, 2
    // sequential commits each, every commit contending on the same
    // partition AND writing a private one. No coordination beyond the
    // CAS. All 8 commits must land (losers re-merge), so the final
    // snapshot holds every row of every batch and the version counter
    // equals the commit count exactly.
    import graft.io.TxTable
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_stress").toString + "/fact"
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writers = (0 until 4).map { w =>
        Future {
          (0 until 2).foreach { i =>
            val id = (w * 10 + i).toLong
            TxTable.upsert(spark, target,
              Seq(
                (id, id * 1.0, 1L, 20240101),          // contended partition
                (1000L + id, 1.0, 1L, 20240200 + w)    // writer-private partition
              ).toDF("id", "price", "etl_seq", "date_id"),
              "id", "etl_seq", "date_id")
          }
        }
      }
      Await.result(Future.sequence(writers), 300.seconds)
    } finally pool.shutdown()

    val ids = TxTable.snapshot(spark, target).get
      .select("id").collect().map(_.getLong(0)).toSet
    val expected = (for (w <- 0 until 4; i <- 0 until 2) yield {
      val id = (w * 10 + i).toLong; Seq(id, 1000L + id)
    }).flatten.toSet
    assert(ids === expected, s"lost rows under contention: ${expected -- ids}")
    assert(TxTable.latest(spark, target)._1 === 8L,
      "commit count drifted from version counter")
  }

  /** Bootstrap commits stage through the latest-wins merge too (the
    * multi-version-batch fix), whose window exchange AQE would coalesce
    * to one near-empty task at fixture scale — defragmenting the very
    * leaves these compaction tests need fragmented. Pin the exchange at
    * the session's shuffle-partition count for the fixture write. */
  private def withFragmentation[T](f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, before)
  }

  test("compactFiles folds fragmented leaves; diff across the compaction commit is empty") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_compact").toString + "/fact"
    // a deliberately fragmented batch: 4 un-coalesced merge tasks → up
    // to 4 files per leaf
    withFragmentation {
      TxTable.upsert(spark, target,
        (1L to 60L).map(i => (i, i * 1.0, 1L, 20240101 + (i % 2).toInt))
          .toDF("id", "price", "etl_seq", "date_id").repartition(6),
        "id", "etl_seq", "date_id")
    }
    def leafFiles(): Map[String, Int] =
      TxTable.latest(spark, target)._2.map { case (k, leaf) =>
        k -> new java.io.File(target, leaf).list()
          .count(_.endsWith(".parquet"))
      }
    assert(leafFiles().values.exists(_ > 2), "fixture failed to fragment")
    val before = TxTable.snapshot(spark, target).get
      .collect().map(_.toString).sorted.toSeq

    TxTable.compactFiles(spark, target, "date_id", maxFilesPerLeaf = 2)
    assert(leafFiles().values.forall(_ === 1), s"still fragmented: ${leafFiles()}")
    val after = TxTable.snapshot(spark, target).get
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "compaction changed rows")
    // rows-preserving by construction: the CDC readout across the
    // compaction commit is empty even though every leaf moved
    assert(TxTable.diff(spark, target, 1L, 2L, "id").count() === 0L)
    // already-compact table: second run is a no-op (no new version)
    TxTable.compactFiles(spark, target, "date_id", maxFilesPerLeaf = 2)
    assert(TxTable.latest(spark, target)._1 === 2L)
  }

  test("compaction preserves the table's physical layout (sorted groups + blooms)") {
    // The write path lays down sorted row groups, blooms, and sized
    // groups (Layout); a maintenance fold that rewrote leaves with a
    // plain write would silently un-sort the table and drop its blooms
    // on the first compaction — correct rows, degraded scans. The fold
    // must restate the layout: post-compaction footers still show
    // non-overlapping zone maps on the sort column and bloom headers
    // on the probe column.
    import scala.jdk.CollectionConverters._
    import graft.io.{Layout, TxTable}
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_layout").toString + "/fact"
    val layout = Layout(sortCols = Seq("price"), bloomCols = Seq("id"),
      bloomNdv = 4096L, rowGroupBytes = Some(1024L))
    def batch(lo: Long, hi: Long, date: Int) =
      (lo to hi).map(i => (i, i * 1.0, 1L, date))
        .toDF("id", "price", "etl_seq", "date_id").repartition(6)
    // distinct partitions, AQE coalescing pinned off so each bootstrap
    // keeps its multi-task fragmentation through the merge window
    withFragmentation {
      TxTable.upsert(spark, target, batch(1L, 1000L, 20240101),
        "id", "etl_seq", "date_id", layout = layout)
      TxTable.upsert(spark, target, batch(1001L, 2000L, 20240102),
        "id", "etl_seq", "date_id", layout = layout)
    }
    def leafDir(): java.io.File =
      new java.io.File(target, TxTable.latest(spark, target)._2.values.min)
    assert(leafDir().list().count(_.endsWith(".parquet")) > 2,
      "fixture failed to fragment")
    val before = TxTable.snapshot(spark, target).get
      .collect().map(_.toString).sorted.toSeq

    TxTable.compactFiles(spark, target, "date_id",
      maxFilesPerLeaf = 2, layout = layout)
    val files = leafDir().listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.size === 1, s"leaf not folded: ${files.size} files")

    val conf = spark.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      assert(blocks.size >= 4, s"rowGroupBytes ignored: ${blocks.size} groups")
      val ranges = blocks.map { b =>
        val st = b.getColumns.asScala
          .find(_.getPath.toDotString == "price").get.getStatistics
          .asInstanceOf[org.apache.parquet.column.statistics.DoubleStatistics]
        (st.getMin, st.getMax)
      }
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"overlapping zone maps after compaction: $ranges")
        case _ => ()
      }
      blocks.foreach { b =>
        val idChunk = b.getColumns.asScala
          .find(_.getPath.toDotString == "id").get
        assert(r.getBloomFilterDataReader(b).readBloomFilter(idChunk) != null,
          "id bloom filter missing after compaction")
      }
    } finally r.close()
    val after = TxTable.snapshot(spark, target).get
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "layout-preserving compaction changed rows")
  }

  test("RenameCommitStore: version slots are exclusive and manifests round-trip") {
    // The HDFS-class primitive (rename-without-overwrite), exercised
    // through the Hadoop LocalFileSystem: the PROTOCOL logic — slot
    // exclusivity, full-content publish, latest() resolution across
    // versions, loser temp cleanup — is store-independent; only the
    // atomicity of the final rename is HDFS's to guarantee (on a raw
    // local FS it is check-then-rename, which is why file: paths
    // default to the symlink store instead).
    import graft.io.RenameCommitStore
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val store = new RenameCommitStore(fs)
    val log = Files.createTempDirectory("graft_rename_store").toString + "/_graft_log"

    assert(store.latest(log) === ((0L, Nil)))
    assert(store.tryCommit(log, 1L, Seq("a\tdata/x-0")))
    assert(store.latest(log) === ((1L, Seq("a\tdata/x-0"))))
    // the slot is taken: a concurrent commit of the SAME version loses
    assert(!store.tryCommit(log, 1L, Seq("a\tdata/y-0")))
    assert(store.latest(log) === ((1L, Seq("a\tdata/x-0"))))
    // the loser's temp file was cleaned up (checksum sidecars of the
    // Hadoop local FS are dotfiles — not part of the protocol; _tip is
    // the winner's advisory tip hint)
    assert(new java.io.File(log).list().filterNot(_.startsWith(".")).toSet
      === Set("v" + "0" * 19 + "1", "_tip"))
    // the next version wins and becomes latest
    assert(store.tryCommit(log, 2L, Seq("a\tdata/y-0", "b\tdata/y-1")))
    assert(store.latest(log) === ((2L, Seq("a\tdata/y-0", "b\tdata/y-1"))))

    // the tip hint is ADVISORY on this store too: stale → scan-forward,
    // garbage → full-listing fallback, both land on the true tip
    val tipFile = new java.io.File(log, "_tip")
    java.nio.file.Files.write(tipFile.toPath, java.util.List.of("1"))
    assert(store.latest(log)._1 === 2L)
    java.nio.file.Files.write(tipFile.toPath, java.util.List.of("garbage"))
    assert(store.latest(log)._1 === 2L)
  }

  test("tip hint: latest() is an O(1) probe and never a correctness dependency") {
    // A change-feed poll pays CommitStore.latest every pollMs; without
    // a hint that is a full _graft_log listing per poll — O(retained
    // versions) on a long-retention table. The advisory _tip file (the
    // public _last_checkpoint move) makes the steady-state probe one
    // stat + one scan-forward step, and every degraded state of the
    // hint (stale, ahead-of-truth, garbage, missing) must still
    // resolve the true tip.
    import graft.io.{SymlinkCommitStore, TxTable}
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_tip").toString + "/fact"
    (1 to 30).foreach { i =>
      TxTable.upsert(spark, target,
        Seq((i.toLong, i * 1.0, i.toLong, 20240101))
          .toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    }
    val log = s"$target/_graft_log"
    val tip = java.nio.file.Paths.get(log, "_tip")
    assert(java.nio.file.Files.isRegularFile(tip), "commit did not leave a tip hint")

    // steady state: fresh hint → polls never list the directory
    SymlinkCommitStore.fullListings.set(0L)
    (1 to 10).foreach(_ => assert(SymlinkCommitStore.latest(log)._1 === 30L))
    assert(SymlinkCommitStore.fullListings.get === 0L,
      "a hinted poll fell back to a full log listing")

    // stale hint (a crash between CAS and hint write): scan-forward
    // finds the tip, still without a listing
    java.nio.file.Files.write(tip, java.util.List.of("25"))
    SymlinkCommitStore.fullListings.set(0L)
    assert(SymlinkCommitStore.latest(log)._1 === 30L)
    assert(SymlinkCommitStore.fullListings.get === 0L)

    // hint ahead of any live slot / garbage / missing: fallback, correct
    java.nio.file.Files.write(tip, java.util.List.of("99"))
    assert(SymlinkCommitStore.latest(log)._1 === 30L)
    java.nio.file.Files.write(tip, java.util.List.of("not-a-version"))
    assert(SymlinkCommitStore.latest(log)._1 === 30L)
    // all-digit but beyond Long range: unparseable garbage → fallback,
    // never a NumberFormatException out of latest()
    java.nio.file.Files.write(tip, java.util.List.of("99999999999999999999999"))
    assert(SymlinkCommitStore.latest(log)._1 === 30L)
    java.nio.file.Files.delete(tip)
    assert(SymlinkCommitStore.latest(log)._1 === 30L)

    // a fresh commit repairs the hint; vacuum keeps it (and the probe)
    TxTable.upsert(spark, target,
      Seq((31L, 31.0, 31L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    TxTable.vacuum(spark, target, retainVersions = 2)
    val trueTip = TxTable.latestVersion(spark, target)
    SymlinkCommitStore.fullListings.set(0L)
    assert(SymlinkCommitStore.latest(log)._1 === trueTip)
    assert(SymlinkCommitStore.fullListings.get === 0L,
      "post-vacuum poll fell back to a full log listing")
    assert(TxTable.snapshot(spark, target).get.count() === 31L)
  }

  /** Byte size of a committed manifest BODY (symlink store: the slot
    * links to the m-*.tsv file). */
  private def bodyBytes(target: String, version: Long): Long = {
    val slot = Paths.get(target, "_graft_log", f"v$version%020d")
    Files.size(slot.resolveSibling(Files.readSymbolicLink(slot)))
  }

  private def bodyKind(target: String, version: Long): String = {
    val slot = Paths.get(target, "_graft_log", f"v$version%020d")
    Files.readAllLines(slot.resolveSibling(Files.readSymbolicLink(slot)))
      .get(0).split('\t')(1)
  }

  private def withCheckpointInterval[T](n: Int)(f: => T): T = {
    val key = "spark.graft.tx.checkpointInterval"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try f finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a 1-key commit on a wide table writes O(touched) manifest bytes, not O(table)") {
    // The 100 TB manifest-scaling property: after bootstrapping 300
    // partitions (one checkpoint body, O(table) by design), a commit
    // touching ONE partition publishes a DELTA body whose size is
    // independent of the table's partition count. Snapshot resolution
    // folds the delta over the checkpoint and reads identically.
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_delta").toString + "/fact"
    val wide = (1L to 300L).map(i => (i, i * 1.0, 1L, 20240000 + i.toInt))
      .toDF("id", "price", "etl_seq", "date_id")
    TxTable.upsert(spark, target, wide, "id", "etl_seq", "date_id")
    assert(bodyKind(target, 1L) === "checkpoint")
    val checkpointBytes = bodyBytes(target, 1L)

    TxTable.upsert(spark, target,
      Seq((1L, 9.9, 2L, 20240001)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    assert(bodyKind(target, 2L) === "delta")
    val deltaBytes = bodyBytes(target, 2L)
    // one entry ≈ 32-hex key + tab + leaf path (< 150 B); the checkpoint
    // carries all 300
    assert(deltaBytes < 200,
      s"1-key delta body is $deltaBytes B — not O(touched)")
    assert(checkpointBytes > 300L * 40,
      s"bootstrap checkpoint suspiciously small: $checkpointBytes B")

    val snap = TxTable.snapshot(spark, target).get
    assert(snap.count() === 300L)
    assert(snap.filter($"id" === 1L).select("price").head().getDouble(0) === 9.9)
  }

  test("a revision's Spark jobs do not grow with its touched partitions") {
    // a commit stages all its partitions in one write, not a job per
    // partition: a revision of 3 day partitions and one of 12 (both
    // multi-leaf placements) launch the same jobs
    import graft.io.TxTable
    import org.apache.spark.sql.functions.sum
    val s = spark
    import s.implicits._
    def revisionJobs(days: Int): Int = {
      val target = Files.createTempDirectory(s"graft_tx_width$days").toString + "/fact"
      val rows = (0 until days * 4)
        .map(i => (i.toLong, f"2024-01-${i % days + 1}%02d", i.toDouble))
        .toDF("id", "day", "v")
      TxTable.upsert(spark, target, rows, "id", "v", "day")
      val jobs = SparkEvents.jobs(spark) {
        TxTable.upsert(spark, target, rows.withColumn("v", $"v" + 1), "id", "v", "day")
      }
      assert(TxTable.snapshot(spark, target).get.agg(sum("v")).head().getDouble(0) ===
        rows.agg(sum("v")).head().getDouble(0) + days * 4)
      jobs
    }
    val (three, twelve) = (revisionJobs(3), revisionJobs(12))
    assert(three > 0 && three === twelve, s"3 days: $three jobs, 12 days: $twelve")
  }

  test("checkpoint cadence: every Nth version is a checkpoint and every version resolves") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    withCheckpointInterval(5) {
      val target = Files.createTempDirectory("graft_tx_ckpt").toString + "/fact"
      (1 to 12).foreach { i =>
        TxTable.upsert(spark, target,
          Seq((i.toLong, i * 1.0, i.toLong, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")
      }
      assert((1 to 12).map(v => bodyKind(target, v.toLong)) ===
        Seq("checkpoint", "delta", "delta", "delta", "checkpoint",
          "delta", "delta", "delta", "delta", "checkpoint", "delta", "delta"))
      // resolution works at, before, and after a checkpoint boundary
      (Seq(1, 4, 5, 6, 10, 12)).foreach { v =>
        assert(TxTable.snapshotAt(spark, target, v.toLong).get.count() === v.toLong,
          s"version $v resolved wrong row count")
      }
    }
  }

  test("retention-windowed vacuum: a reader pinned at v-1 survives; older versions reclaim") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    withCheckpointInterval(2) {
      val target = Files.createTempDirectory("graft_tx_retain").toString + "/fact"
      // v1 ckpt, v2 ckpt, v3 delta, v4 ckpt — all touching the same
      // partition so each commit supersedes leaves
      (1 to 4).foreach { i =>
        TxTable.upsert(spark, target,
          Seq((1L, i * 1.0, i.toLong, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")
      }
      // pin a reader at v3 = tip - 1 BEFORE the vacuum (plan built, not
      // yet executed — exactly the in-flight shape)
      val pinned = TxTable.snapshotAt(spark, target, 3L).get

      TxTable.vacuum(spark, target, retainVersions = 2)

      // the pinned reader's files survived: executing the old plan works
      assert(pinned.select("price").head().getDouble(0) === 3.0)
      // retained window stays time-travelable
      assert(TxTable.snapshotAt(spark, target, 3L).get
        .select("price").head().getDouble(0) === 3.0)
      assert(TxTable.snapshotAt(spark, target, 4L).get
        .select("price").head().getDouble(0) === 4.0)
      // v1 fell out of the window (keepFrom = v2, the checkpoint v3
      // resolves through) and its slot is gone
      assert(TxTable.snapshotAt(spark, target, 1L).isEmpty)
    }
  }

  test("vacuum grace period protects staged-but-uncommitted leaves") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_grace").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // simulate an in-flight writer's staging: an unreferenced, freshly
    // written data dir
    val staged = Paths.get(target, "data", "in-flight-uuid", "__p=deadbeef")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-0.parquet"), Array[Byte](1, 2, 3))

    TxTable.vacuum(spark, target, retainVersions = 1, graceMs = 3600L * 1000)
    assert(Files.exists(staged), "grace period failed to protect a young staged dir")

    TxTable.vacuum(spark, target, retainVersions = 1, graceMs = 0L)
    assert(!Files.exists(staged), "zero-grace vacuum left a crash orphan behind")
  }

  test("vacuum under the exclusive-create store: retention, grace, retain-1") {
    // The symlink store resolves live bodies through symlink reads —
    // vacuous for the slot-IS-the-body exclusive store, so the log
    // reclaim there must hold on its own: slots below the retained
    // checkpoint go, everything retained stays readable, grace
    // semantics are store-independent.
    import graft.io.{CommitStore, ExclusiveCreateCommitStore, TxTable}
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_tx_excl").toString
    CommitStore.forceForPrefix(base,
      fs => new ExclusiveCreateCommitStore(fs, requireConditional = false))
    try withCheckpointInterval(2) {
      val target = s"$base/fact"
      (1 to 4).foreach { i =>
        TxTable.upsert(spark, target,
          Seq((1L, i * 1.0, i.toLong, 20240101))
            .toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")
      }
      // slot-is-the-body: plain version files, no symlinks
      val slot1 = Paths.get(target, "_graft_log", "v" + "0" * 19 + "1")
      assert(Files.isRegularFile(slot1) && !Files.isSymbolicLink(slot1),
        "exclusive store did not write slot-is-body files")

      TxTable.vacuum(spark, target, retainVersions = 2)
      assert(TxTable.snapshotAt(spark, target, 3L).get
        .select("price").head().getDouble(0) === 3.0)
      assert(TxTable.snapshotAt(spark, target, 4L).get
        .select("price").head().getDouble(0) === 4.0)
      assert(TxTable.snapshotAt(spark, target, 1L).isEmpty,
        "v1 survived a retain-2 vacuum")

      // grace protects an in-flight staging dir; zero grace reclaims it
      val staged = Paths.get(target, "data", "in-flight-uuid", "__p=deadbeef")
      Files.createDirectories(staged)
      Files.write(staged.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      TxTable.vacuum(spark, target, retainVersions = 1, graceMs = 3600L * 1000)
      assert(Files.exists(staged), "grace failed under the exclusive store")
      TxTable.vacuum(spark, target, retainVersions = 1, graceMs = 0L)
      assert(!Files.exists(staged), "zero-grace left a crash orphan")

      // retain-1 destroyed time travel; the tip still reads
      val tip = TxTable.latestVersion(spark, target)
      assert(TxTable.snapshotAt(spark, target, tip - 1).isEmpty)
      assert(TxTable.snapshot(spark, target).get
        .select("price").head().getDouble(0) === 4.0)
    } finally CommitStore.clearForce(base)
  }

  test("schema evolution across versions: widened commit, old/new snapshots, diff") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_evolve").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // v2 carries a WIDENED schema and touches only 20240101
    TxTable.upsert(spark, target,
      Seq((1L, 11.0, 2L, 20240101, "revised"), (3L, 30.0, 2L, 20240101, "new"))
        .toDF("id", "price", "etl_seq", "date_id", "note"),
      "id", "etl_seq", "date_id")

    // new snapshot: union schema; pre-evolution rows (and the untouched
    // partition's leaf, which physically lacks the column) read as null
    val snap = TxTable.snapshot(spark, target).get
    val rows = snap.select("id", "price", "note").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(rows === Set(
      (1L, 11.0, Some("revised")),
      (2L, 20.0, None),
      (3L, 30.0, Some("new"))))

    // old snapshot keeps the old shape
    val v1 = TxTable.snapshotAt(spark, target, 1L).get
    assert(!v1.columns.contains("note"))
    assert(v1.count() === 2L)

    // diff across the evolution commit aligns the sides: the update and
    // insert carry the new column, nothing from 20240102 leaks in
    val d = TxTable.diff(spark, target, 1L, 2L, "id")
      .select("change_type", "id", "note").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(d === Set(
      ("update", 1L, Some("revised")),
      ("insert", 3L, Some("new"))))
  }

  test("empty incoming batch is a no-op, not a failure") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_empty").toString + "/fact"
    val batch = Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id")
    TxTable.upsert(spark, target, batch, "id", "etl_seq", "date_id")
    TxTable.upsert(spark, target, batch.limit(0), "id", "etl_seq", "date_id")
    TxTable.replaceWindow(spark, target, batch.limit(0), "date_id",
      org.apache.spark.sql.functions.col("date_id") === 20240101)
    assert(TxTable.latest(spark, target)._1 === 1L, "empty batch published a version")
    assert(TxTable.snapshot(spark, target).get.count() === 1L)
  }

  test("a multi-version batch collapses latest-wins on FRESH partitions too") {
    // the old fresh-partition shortcut wrote the batch as-is, so the
    // SAME batch was key-unique when its partition existed and
    // duplicated when it didn't — a change feed drained into one
    // micro-batch (several versions of one key) corrupted bootstrap
    // commits. The merge must run on both paths.
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_mv").toString + "/fact"
    val batch = Seq(
      (1L, 1.0, 1L, 20240101), (1L, 1.5, 2L, 20240101), // two versions, fresh partition
      (2L, 2.0, 1L, 20240102))
      .toDF("id", "price", "etl_seq", "date_id")
    TxTable.upsert(spark, target, batch, "id", "etl_seq", "date_id")
    val rows = TxTable.snapshot(spark, target).get
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 1.5), (2L, 2.0)),
      "fresh-partition bootstrap did not collapse the batch latest-wins")
  }

  test("compactSmallFiles folds by byte threshold; generous target is a no-op") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_csf").toString + "/fact"
    withFragmentation {
      TxTable.upsert(spark, target,
        (1L to 40L).map(i => (i, i * 1.0, 1L, 20240101))
          .toDF("id", "price", "etl_seq", "date_id").repartition(6),
        "id", "etl_seq", "date_id")
    }
    def files(): Int = {
      val leaf = TxTable.latest(spark, target)._2.values.head
      new java.io.File(target, leaf).list().count(_.endsWith(".parquet"))
    }
    assert(files() > 1, "fixture failed to fragment")
    // tiny target: the fragments already satisfy it → no-op, no version
    TxTable.compactSmallFiles(spark, target, "date_id", targetBytes = 1L)
    assert(TxTable.latest(spark, target)._1 === 1L)
    // big target: everything should fold to one file
    TxTable.compactSmallFiles(spark, target, "date_id", targetBytes = 1L << 30)
    assert(files() === 1, "byte-target compaction failed to fold")
    assert(TxTable.snapshot(spark, target).get.count() === 40L)
  }

  test("keyed delete: rows drop, emptied partitions tombstone out, diff reports deletes") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    def pkey(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    withCheckpointInterval(3) {
      val target = Files.createTempDirectory("graft_tx_del").toString + "/fact"
      TxTable.upsert(spark, target,
        Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240101),
          (3L, 3.0, 1L, 20240102), (4L, 4.0, 1L, 20240103))
          .toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
      val before = TxTable.latest(spark, target)._2

      // v2: partial delete in 20240101, FULL delete of 20240102
      TxTable.delete(spark, target,
        Seq((2L, 20240101), (3L, 20240102)).toDF("id", "date_id"),
        "id", "date_id")
      val (v, after) = TxTable.latest(spark, target)
      assert(v === 2L)
      assert(TxTable.snapshot(spark, target).get
        .select("id").collect().map(_.getLong(0)).toSet === Set(1L, 4L))
      // emptied partition's manifest key dropped (tombstone), partial
      // one rewrote, untouched one kept its leaf byte-for-byte
      assert(!after.contains(pkey("20240102")))
      assert(after(pkey("20240101")) !== before(pkey("20240101")))
      assert(after(pkey("20240103")) === before(pkey("20240103")))
      // CDC across the delete commit
      val d = TxTable.diff(spark, target, 1L, 2L, "id")
        .select("change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(d === Set(("delete", 2L), ("delete", 3L)))
      // time travel: pre-delete version still shows everything
      assert(TxTable.snapshotAt(spark, target, 1L).get.count() === 4L)

      // v3 is a CHECKPOINT (interval 3): the tombstone must fold away,
      // not resurrect — the removed partition stays absent after the
      // checkpoint rewrites the full map
      TxTable.upsert(spark, target,
        Seq((5L, 5.0, 2L, 20240104)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
      assert(bodyKind(target, 3L) === "checkpoint")
      assert(!TxTable.latest(spark, target)._2.contains(pkey("20240102")))
      assert(TxTable.snapshot(spark, target).get
        .select("id").collect().map(_.getLong(0)).toSet === Set(1L, 4L, 5L))

      // deleting absent keys publishes nothing
      TxTable.delete(spark, target,
        Seq((99L, 20240199)).toDF("id", "date_id"), "id", "date_id")
      assert(TxTable.latest(spark, target)._1 === 3L)
    }
  }

  test("delete racing an upsert: both linearize, no resurrection, no lost delete") {
    // The classic delete anomaly pair, driven through the injected race
    // seam both ways. First-committer-wins + loser re-merge gives a
    // serial order equal to COMMIT order:
    //  (a) upsert loses the CAS to a delete → the upsert re-merges and
    //      its row lands (it is the LATER write — not a resurrection
    //      bug, the linearization);
    //  (b) delete loses the CAS to an upsert of the same key → the
    //      delete re-runs against the winner's snapshot and the key
    //      still dies (no lost delete).
    import graft.io.TxTable
    val s = spark
    import s.implicits._

    // (a) upsert in flight, delete commits inside its race window
    val t1 = Files.createTempDirectory("graft_tx_race_ud").toString + "/fact"
    TxTable.upsert(spark, t1,
      Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    FaultStore.racing(t1) {
      TxTable.delete(spark, t1,
        Seq((1L, 20240101)).toDF("id", "date_id"), "id", "date_id")
    } {
      TxTable.upsert(spark, t1,
        Seq((1L, 9.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    }
    assert(TxTable.snapshot(spark, t1).get
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === Set((1L, 9.0)),
      "the re-merged upsert (the later committer) must win")
    assert(TxTable.latest(spark, t1)._1 === 3L)

    // (b) delete in flight, upsert commits inside its race window
    val t2 = Files.createTempDirectory("graft_tx_race_du").toString + "/fact"
    TxTable.upsert(spark, t2,
      Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240101))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    FaultStore.racing(t2) {
      TxTable.upsert(spark, t2,
        Seq((1L, 5.0, 2L, 20240101), (3L, 3.0, 2L, 20240101))
          .toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    } {
      TxTable.delete(spark, t2,
        Seq((1L, 20240101)).toDF("id", "date_id"), "id", "date_id")
    }
    assert(TxTable.snapshot(spark, t2).get
      .select("id").collect().map(_.getLong(0)).toSet === Set(2L, 3L),
      "the re-run delete must still kill the key AND keep the winner's other insert")
    assert(TxTable.latest(spark, t2)._1 === 3L)
  }

  test("partition-pruned snapshot reads only the requested partitions' leaves") {
    import graft.io.TxTable
    import org.apache.spark.sql.functions.lit
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_prune").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102), (3L, 3.0, 1L, 20240103))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    val pruned = TxTable.snapshotPartitions(spark, target, Seq(lit(20240102))).get
    assert(pruned.select("id").collect().map(_.getLong(0)).toSet === Set(2L))
    // the physical proof: every input file belongs to the one leaf
    val leaf = TxTable.latest(spark, target)._2
    def pkey(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wanted = leaf(pkey("20240102"))
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.forall(_.contains(wanted)),
      "pruned snapshot read leaves outside the requested partition")
    // no matching partition: empty frame, snapshot schema
    val none = TxTable.snapshotPartitions(spark, target, Seq(lit(19990101))).get
    assert(none.count() === 0L && none.columns.contains("price"))
  }

  test("multi-column partitioning: tuple keys prune, diff, delete, vacuum") {
    // Real fact tables partition by more than one column. One manifest
    // key per distinct column-value TUPLE (null participating as its
    // own value), value fields carrying every column, so exact-tuple
    // and cross-column predicate pruning open only matching leaves and
    // the whole DML surface (upsert/diff/delete/vacuum) holds.
    import graft.io.TxTable
    import org.apache.spark.sql.functions.{col, lit}
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_multi").toString + "/fact"
    val cols = Seq("date_id", "side")
    def df(rows: (Long, Double, Long, Int, String)*) =
      rows.toDF("id", "price", "etl_seq", "date_id", "side")
    TxTable.upsert(spark, target,
      df((1L, 1.0, 1L, 20240101, "buy"), (2L, 2.0, 1L, 20240101, "sell"),
        (3L, 3.0, 1L, 20240102, "buy"), (4L, 4.0, 1L, 20240102, null)),
      "id", "etl_seq", cols)
    assert(TxTable.latest(spark, target)._2.size === 4,
      "expected one manifest key per distinct tuple")

    def leavesOf(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.inputFiles.map(f => f.split("/__p=")(1).split("/")(0)).toSet

    // exact-tuple pruning: exactly one leaf opens
    val one = TxTable.snapshotPartitionTuples(spark, target,
      Seq(Seq(lit(20240101), lit("sell")))).get
    assert(one.select("id").collect().map(_.getLong(0)).toSet === Set(2L))
    assert(leavesOf(one).size === 1, "tuple read opened extra leaves")

    // predicate pruning referencing BOTH columns, null excluded
    val day1 = TxTable.snapshotWhere(spark, target, cols,
      col("date_id") === 20240101 && col("side").isNotNull).get
    assert(day1.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(leavesOf(day1).size === 2, "predicate read opened extra leaves")
    // and the null tuple is addressable too
    val nulls = TxTable.snapshotWhere(spark, target, cols,
      col("side").isNull).get
    assert(nulls.select("id").collect().map(_.getLong(0)).toSet === Set(4L))

    // a one-tuple upsert touches one manifest entry; diff reports the row
    val before = TxTable.latest(spark, target)._2
    TxTable.upsert(spark, target, df((2L, 2.5, 2L, 20240101, "sell")),
      "id", "etl_seq", cols)
    val after = TxTable.latest(spark, target)._2
    assert(after.count { case (k, leaf) => before.get(k) != Some(leaf) } === 1,
      "a single-tuple upsert rewrote more than its own leaf")
    val d = TxTable.diff(spark, target, 1L, 2L, "id")
    assert(d.select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("update", 2L)))

    // keyed delete emptying one tuple: its manifest key drops
    TxTable.delete(spark, target,
      Seq((4L, 20240102, null: String)).toDF("id", "date_id", "side"),
      "id", cols)
    assert(TxTable.latest(spark, target)._2.size === 3)

    // vacuum keeps the final state readable
    TxTable.vacuum(spark, target)
    assert(TxTable.snapshot(spark, target).get
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
      === Set((1L, 1.0), (2L, 2.5), (3L, 3.0)))
  }

  test("no-hit pruned reads carry the full post-evolution schema") {
    // The empty result used to anchor on an arbitrary manifest entry —
    // after a widening commit that could be a pre-evolution leaf and
    // the empty frame's schema became nondeterministic, breaking a
    // downstream unionByName that worked on a non-empty read. It must
    // be the same union schema a full snapshot resolves.
    import graft.io.TxTable
    import org.apache.spark.sql.functions.lit
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_emptyschema").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // widening commit touches a DIFFERENT partition: the old leaf
    // (without `note`) survives in the manifest alongside the new one
    TxTable.upsert(spark, target,
      Seq((2L, 2.0, 2L, 20240102, "v2"))
        .toDF("id", "price", "etl_seq", "date_id", "note"),
      "id", "etl_seq", "date_id")
    val want = TxTable.snapshot(spark, target).get.columns.sorted.toSeq
    assert(want.contains("note"))
    val byValue = TxTable.snapshotPartitions(spark, target, Seq(lit(19990101))).get
    assert(byValue.count() === 0L && byValue.columns.sorted.toSeq === want)
    val byPred = TxTable.snapshotWhere(spark, target, "date_id",
      org.apache.spark.sql.functions.col("date_id") === 19990101).get
    assert(byPred.count() === 0L && byPred.columns.sorted.toSeq === want)
    // and the empty frame unions cleanly with a real read
    val real = TxTable.snapshotPartitions(spark, target, Seq(lit(20240102))).get
    assert(real.unionByName(byValue).count() === 1L)
  }

  test("ExclusiveCreateCommitStore: conditional create is the whole protocol") {
    // The object-store primitive (S3 If-None-Match PUT shape): slot IS
    // the body, one conditional create. Protocol logic — exclusivity,
    // full-content publish, latest() across versions — exercised
    // through the Hadoop local FS; the atomicity of create itself is
    // the object store's contract (which is why forPath only selects
    // this store for s3/gs/abfs schemes).
    import graft.io.{CommitStore, ExclusiveCreateCommitStore}
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    // requireConditional=false: the local FS can't grant the
    // conditional-PUT capability this store demands in production
    val store = new ExclusiveCreateCommitStore(fs, requireConditional = false)
    val log = Files.createTempDirectory("graft_putif_store").toString + "/_graft_log"

    // the production store REFUSES to run where the connector cannot
    // guarantee the atomic conditional create (stock s3a pre-3.4.1 /
    // conditional create disabled → overwrite=false is a client-side
    // HEAD-then-PUT and two racing writers can both "win" a slot):
    // failing fast beats silently losing a commit
    val strict = new ExclusiveCreateCommitStore(fs)
    val ex = intercept[IllegalStateException](
      strict.tryCommit(log, 99L, Seq("a\tdata/x-0")))
    assert(ex.getMessage.contains("conditional"))

    assert(store.latest(log) === ((0L, Nil)))
    assert(store.tryCommit(log, 1L, Seq("a\tdata/x-0")))
    assert(store.latest(log) === ((1L, Seq("a\tdata/x-0"))))
    // the slot is taken: a concurrent commit of the SAME version loses
    assert(!store.tryCommit(log, 1L, Seq("a\tdata/y-0")))
    assert(store.latest(log) === ((1L, Seq("a\tdata/x-0"))))
    assert(store.tryCommit(log, 2L, Seq("a\tdata/y-0", "b\tdata/y-1")))
    assert(store.latest(log) === ((2L, Seq("a\tdata/y-0", "b\tdata/y-1"))))
    assert(store.at(log, 1L) === Some(Seq("a\tdata/x-0")))
    // scheme dispatch picks it for object-store paths
    assert(CommitStore.forPath(fs, "s3a://bucket/table/_graft_log")
      .isInstanceOf[ExclusiveCreateCommitStore])
  }

  test("applyCdc racing a concurrent upsert: the apply re-runs against the winner") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_cdc_race").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240101))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // one atomic change batch: update 1, delete 2 — with a competing
    // upsert landing inside the race window
    FaultStore.racing(target) {
      TxTable.upsert(spark, target,
        Seq((3L, 3.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    } {
      TxTable.applyCdc(spark, target,
        Seq((1L, "U", 2L, 1.5, 20240101), (2L, "D", 2L, 2.0, 20240101))
          .toDF("id", "_op", "_seq", "price", "date_id"),
        "id", "_op", "_seq", "date_id")
    }
    val out = TxTable.snapshot(spark, target).get
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out === Set((1L, 1.5), (3L, 3.0)),
      "the re-run apply must land its update+delete AND keep the winner's insert")
    assert(TxTable.latest(spark, target)._1 === 3L)
  }

  test("every staging verb losing the CAS race re-stages against the winner and leaves no staging dir") {
    import graft.io.TxTable
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    def rows(data: (Long, Double, Long, Int)*) =
      data.toDF("id", "price", "etl_seq", "date_id")
    def boot(dir: String): Unit = TxTable.upsert(spark, dir,
      rows((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102)),
      "id", "etl_seq", "date_id")
    // the competing writer: lands in the contended 20240101 partition
    // inside the verb's race window
    def winner(dir: String): Unit = TxTable.upsert(spark, dir,
      rows((9L, 90.0, 2L, 20240101)), "id", "etl_seq", "date_id")
    // (verb, run it, rows expected after both commits)
    val cases: Seq[(String, String => Unit, Set[(Long, Double)])] = Seq(
      ("replaceWindow", dir => TxTable.replaceWindow(spark, dir,
        rows((4L, 40.0, 2L, 20240101)), "date_id", col("id") === 1L),
        Set((2L, 20.0), (4L, 40.0), (9L, 90.0))),
      ("updateWhere", dir => TxTable.updateWhere(spark, dir, "date_id",
        Seq("price" -> (col("price") * 10)), col("id") === 1L),
        Set((1L, 100.0), (2L, 20.0), (9L, 90.0))),
      ("merge", dir => TxTable.merge(spark, dir,
        rows((1L, 11.0, 2L, 20240101), (5L, 50.0, 2L, 20240101)),
        "id", "date_id", updateSet = Seq("price" -> col("s.price"))),
        Set((1L, 11.0), (2L, 20.0), (5L, 50.0), (9L, 90.0))),
      ("addColumns", dir => TxTable.addColumns(spark, dir, "date_id",
        Seq(org.apache.spark.sql.types.StructField(
          "extra", org.apache.spark.sql.types.StringType))),
        Set((1L, 10.0), (2L, 20.0), (9L, 90.0))),
      ("materialize", dir => TxTable.materialize(spark, dir, "date_id"),
        Set((1L, 10.0), (2L, 20.0), (9L, 90.0))))
    for ((verb, run, expected) <- cases) {
      val dir = Files.createTempDirectory(s"graft_tx_race_$verb").toString + "/fact"
      // materialize only has work on a shallow clone's foreign leaves
      if (verb == "materialize") {
        val src = Files.createTempDirectory("graft_tx_race_src").toString + "/fact"
        boot(src)
        TxTable.cloneShallow(spark, src, dir)
      } else boot(dir)
      var raced = false
      FaultStore.racing(dir) { winner(dir); raced = true }(run(dir))
      assert(raced, verb)
      // version 1, the winner at 2, the verb's re-staged commit at 3
      assert(TxTable.latestVersion(spark, dir) === 3L, verb)
      val snap = TxTable.snapshot(spark, dir).get
      assert(snap.select("id", "price").as[(Long, Double)].collect().toSeq.sorted ===
        expected.toSeq.sorted, verb)
      if (verb == "addColumns") assert(snap.columns.contains("extra"), verb)
      if (verb == "materialize")
        assert(TxTable.latest(spark, dir)._2.values.forall(l =>
          !l.startsWith("/") && !l.contains(":/")), s"$verb left a foreign leaf")
      // every staging dir under data/ belongs to a committed version:
      // the lost attempt's dir was deleted, not orphaned
      val committed = (1L to 3L).flatMap(v =>
        TxTable.snapshotAt(spark, dir, v).toSeq.flatMap(_.inputFiles))
        .map(f => new java.io.File(new java.net.URI(f)).getParentFile.getParentFile.getName)
        .toSet
      val onDisk = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet
      assert(onDisk.subsetOf(committed),
        s"$verb left staging dirs of a lost attempt: ${onDisk -- committed}")
    }
  }

  test("snapshotWhere: predicate pruning over manifest-stored partition values") {
    import graft.io.TxTable
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val target = Files.createTempDirectory("graft_tx_where").toString + "/fact"
    TxTable.upsert(spark, target,
      Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240105),
        (3L, 3.0, 1L, 20240110), (4L, 4.0, 1L, 20240120))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    def pkey(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val leaves = TxTable.latest(spark, target)._2

    // a RANGE predicate — the read the exact-value API cannot serve
    val ranged = TxTable.snapshotWhere(spark, target, "date_id",
      col("date_id").between(20240102, 20240115)).get
    assert(ranged.select("id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // physically pruned: no file outside the two matching leaves
    val wanted = Set(leaves(pkey("20240105")), leaves(pkey("20240110")))
    assert(ranged.inputFiles.nonEmpty &&
      ranged.inputFiles.forall(f => wanted.exists(f.contains)),
      "snapshotWhere read a leaf outside the predicate")
  }

  test("old manifest spellings are refused, naming the table and the version") {
    import graft.io.TxTable
    val s = spark
    import s.implicits._
    // v1 checkpoint + v2 delta, then one old spelling edited into a body
    def refused(v: Long, what: String)(edit: Seq[String] => Seq[String]): Unit = {
      val target = Files.createTempDirectory("graft_tx_old").toString + "/fact"
      Seq(20240101, 20240102).foreach(d => TxTable.upsert(spark, target,
        Seq((d.toLong, 1.0, 1L, d)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id"))
      TxFixtures.editBody(target, v)(edit)
      val e = intercept[IllegalStateException](TxTable.snapshot(spark, target))
      assert(e.getMessage.contains(s"TxTable $target: manifest version $v $what"),
        e.getMessage)
    }
    refused(2L, "has no header")(_.tail)
    refused(1L, "is a checkpoint without a schema")(b =>
      b.head.split('\t').take(2).mkString("\t") +: b.tail)
    refused(2L, "has a data entry without a value")(b =>
      b.head +: b.tail.map(_.split('\t').take(2).mkString("\t")))
  }
}
