package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.io.{TxCatalog, TxConstraints, TxStreamSource, TxTable}
import org.apache.spark.sql.functions._

/** CHECK constraints on graft-tx (io/TxConstraints): SQL management
  * (ADD/DROP CONSTRAINT via the hint-batch interception, SHOW
  * CONSTRAINTS via the additive parser), snapshot validation on ADD,
  * and the write-side gate on every row-introducing verb. */
class TxConstraintsSpec extends SparkTestBase {

  private val seq = new AtomicInteger
  private def freshDir(): String =
    Files.createTempDirectory("graft_txcons").toString + "/t"
  private def freshName(p: String): String = s"${p}_${seq.incrementAndGet()}"

  private def boot(dir: String): Unit = {
    val s = spark; import s.implicits._
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
  }

  test("SQL lifecycle: ADD CONSTRAINT gates INSERT INTO; DROP lifts the gate; SHOW lists") {
    val dir = freshDir()
    boot(dir)
    withExtSession { s2 =>
      val tbl = freshName("cons_sql")
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        s2.sql(s"ALTER TABLE $tbl ADD CONSTRAINT price_pos CHECK (price > 0)")
        assert(s2.sql(s"SHOW CONSTRAINTS $tbl").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq ===
          Seq(("price_pos", "price > 0")))
        // violating insert refuses WHOLE commit; table unchanged
        val e = intercept[Exception](
          s2.sql(s"INSERT INTO $tbl VALUES (3, -5.0, 2, 20240103), (4, 9.0, 2, 20240103)"))
        assert(e.getMessage.contains("price_pos"))
        assert(s2.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) === 2L)
        // passing insert lands
        s2.sql(s"INSERT INTO $tbl VALUES (3, 5.0, 2, 20240103)")
        assert(s2.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) === 3L)
        // DROP lifts the gate
        s2.sql(s"ALTER TABLE $tbl DROP CONSTRAINT price_pos")
        assert(s2.sql(s"SHOW CONSTRAINTS $tbl").count() === 0L)
        s2.sql(s"INSERT INTO $tbl VALUES (4, -1.0, 2, 20240103)")
        assert(s2.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) === 4L)
        // DROP of an absent name refuses without IF EXISTS, passes with
        intercept[Exception](s2.sql(s"ALTER TABLE $tbl DROP CONSTRAINT nope"))
        s2.sql(s"ALTER TABLE $tbl DROP CONSTRAINT IF EXISTS nope")
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("ADD validates the existing snapshot and refuses on violating rows") {
    val dir = freshDir()
    boot(dir)
    val e = intercept[Exception](
      TxConstraints.add(spark, dir, "price_cap", "price < 15"))
    assert(e.getMessage.contains("1 existing row"))
    // nothing recorded after the refusal
    assert(TxConstraints.of(spark, dir).isEmpty)
  }

  test("NULL passes CHECK (the SQL contract), and a batch missing the column passes vacuously") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    TxConstraints.add(spark, dir, "price_pos", "price > 0")
    // NULL price passes
    TxTable.upsert(spark, dir,
      Seq((5L, Option.empty[Double], 2L, 20240104))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // a narrower batch (no price column at all) passes vacuously —
    // those rows write NULL there, and NULL passes CHECK
    TxTable.upsert(spark, dir,
      Seq((6L, 2L, 20240104)).toDF("id", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    assert(TxTable.snapshot(spark, dir).get.count() === 4L)
  }

  test("the gate covers merge, updateWhere and applyCdc (D-rows exempt)") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    TxConstraints.add(spark, dir, "price_pos", "price > 0")
    // merge: an UPDATE clause assigning a violating value refuses
    val em = intercept[Exception](TxTable.merge(spark, dir,
      Seq((1L, 1.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", graft.io.PartitionSpec(Seq("date_id")),
      updateSet = Seq("price" -> lit(-99.0))))
    assert(em.getMessage.contains("price_pos"))
    // updateWhere: violating assignment refuses
    val eu = intercept[Exception](TxTable.updateWhere(spark, dir,
      graft.io.PartitionSpec(Seq("date_id")),
      set = Seq("price" -> lit(-1.0)), pred = col("id") === 1L))
    assert(eu.getMessage.contains("price_pos"))
    // applyCdc: violating upsert row refuses...
    val ec = intercept[Exception](TxTable.applyCdc(spark, dir,
      Seq(("U", 1L, 3L, -7.0, 20240101)).toDF("op", "id", "seq", "price", "date_id"),
      "id", "op", "seq", graft.io.PartitionSpec(Seq("date_id"))))
    assert(ec.getMessage.contains("price_pos"))
    // ...but a D-row carrying a stale violating payload is exempt
    TxTable.applyCdc(spark, dir,
      Seq(("D", 2L, 3L, -7.0, 20240102)).toDF("op", "id", "seq", "price", "date_id"),
      "id", "op", "seq", graft.io.PartitionSpec(Seq("date_id")))
    assert(TxTable.snapshot(spark, dir).get.count() === 1L)
  }

  test("guard rails: duplicate name, unknown column, non-determinism, NOT ENFORCED") {
    val dir = freshDir()
    boot(dir)
    TxConstraints.add(spark, dir, "c1", "price > 0")
    assert(intercept[Exception](TxConstraints.add(spark, dir, "C1", "price > 1"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](TxConstraints.add(spark, dir, "c2", "nope > 0"))
      .getMessage.contains("does not have"))
    assert(intercept[Exception](TxConstraints.add(spark, dir, "c3", "rand() > 0.5"))
      .getMessage.contains("non-deterministic"))
    withExtSession { s2 =>
      val tbl = freshName("cons_ne")
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        val e = intercept[Exception](s2.sql(
          s"ALTER TABLE $tbl ADD CONSTRAINT c4 CHECK (price > 0) NOT ENFORCED"))
        assert(e.getMessage.contains("NOT ENFORCED"))
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("constraints survive VACUUM and ride shallow clones") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    TxConstraints.add(spark, dir, "price_pos", "price > 0")
    TxTable.upsert(spark, dir,
      Seq((3L, 5.0, 2L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(TxConstraints.of(spark, dir) === Seq(("price_pos", "price > 0")))
    // and the gate still fires post-vacuum
    intercept[Exception](TxTable.upsert(spark, dir,
      Seq((9L, -1.0, 3L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id"))
    // clone carries the contract
    val clone = freshDir()
    TxTable.cloneShallow(spark, dir, clone)
    assert(TxConstraints.of(spark, clone) === Seq(("price_pos", "price > 0")))
    intercept[Exception](TxTable.upsert(spark, clone,
      Seq((9L, -1.0, 3L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id"))
  }

  test("the streaming sink inherits the gate: a violating micro-batch fails the query, nothing lands") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = freshDir()
    boot(dir)
    TxConstraints.add(spark, dir, "price_pos", "price > 0")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Long, Int)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cons_ck").toString
    val q = in.toDF().toDF("id", "price", "etl_seq", "date_id")
      .writeStream.format("graft-tx")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start(dir) // key/version/partitions come from _meta
    try {
      in.addData((7L, -3.0, 2L, 20240105))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("price_pos"))), e.getMessage)
      assert(TxTable.snapshot(spark, dir).get.count() === 2L,
        "the violating micro-batch must leave no trace")
    } finally q.stop()
  }

  test("RESTORE cannot resurrect pre-constraint violations; DROP re-opens the path") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    // v1 holds a row the future constraint forbids
    TxTable.upsert(spark, dir,
      Seq((1L, -5.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    // v2 repairs it, which is what lets the constraint arm
    TxTable.upsert(spark, dir,
      Seq((1L, 5.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    TxConstraints.add(spark, dir, "price_pos", "price > 0")
    // restoring v1 would republish the violating row — refused
    val e = intercept[Exception](TxTable.restore(spark, dir, 1L))
    assert(e.getMessage.contains("price_pos"))
    assert(TxTable.snapshot(spark, dir).get
      .filter(col("price") < 0).count() === 0L)
    // an operator who MEANS it drops the constraint first
    TxConstraints.drop(spark, dir, "price_pos")
    TxTable.restore(spark, dir, 1L)
    assert(TxTable.snapshot(spark, dir).get
      .filter(col("price") < 0).count() === 1L)
  }

  test("ADD racing an in-flight writer: the barrier forces the writer to re-enforce") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    // the writer stages a VIOLATING batch; in the window between its
    // staging and its CAS (the beforeCommit seam), the constraint
    // publishes and takes its barrier — the writer's CAS loses to the
    // barrier, re-probes the constraint log on retry, re-enforces with
    // the new set, and refuses. The old validate-then-publish protocol
    // let exactly this batch land unvalidated.
    val e = intercept[Exception](TxTable.upsert(spark, dir,
      Seq((7L, -3.0, 2L, 20240105)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id",
      beforeCommit = () =>
        TxConstraints.add(spark, dir, "price_pos", "price > 0")))
    assert(e.getMessage.contains("price_pos"))
    // the constraint is armed and the violating batch left no trace
    assert(TxConstraints.of(spark, dir) === Seq(("price_pos", "price > 0")))
    assert(TxTable.snapshot(spark, dir).get.count() === 2L)
    // the symmetric case: a CONFORMING racing batch retries and lands
    val dir2 = freshDir()
    boot(dir2)
    TxTable.upsert(spark, dir2,
      Seq((8L, 99.0, 2L, 20240105)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id",
      beforeCommit = () =>
        TxConstraints.add(spark, dir2, "price_pos", "price > 0"))
    assert(TxTable.snapshot(spark, dir2).get.count() === 3L)
    assert(TxConstraints.of(spark, dir2).map(_._1) === Seq("price_pos"))
  }

  test("a commit landing between publish and barrier fails the ADD, not the writer") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir)
    // deterministic build of the one interleaving the barrier cannot
    // forbid: the writer probed the (empty) constraint set BEFORE the
    // publish and wins its CAS before the barrier is taken. The ADD
    // must then re-validate, find the violating row, un-publish and
    // refuse — the writer's commit stands.
    val published = new java.util.concurrent.CountDownLatch(1)
    val writerDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var addError: Option[Throwable] = None
    val adder = new Thread(() => {
      try TxConstraints.add(spark, dir, "price_pos", "price > 0",
        beforeBarrier = () => { published.countDown(); writerDone.await() })
      catch { case t: Throwable => addError = Some(t) }
    })
    try {
      TxTable.upsert(spark, dir,
        Seq((9L, -4.0, 2L, 20240106)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id",
        // the writer has already staged and gate-probed (empty set);
        // now let the ADD validate + publish, then commit before its barrier
        beforeCommit = () => { adder.start(); published.await() })
    } finally writerDone.countDown()
    adder.join()
    // the writer's commit stands — it raced legitimately
    assert(TxTable.snapshot(spark, dir).get
      .filter(col("id") === 9L && col("price") === -4.0).count() === 1L)
    // the ADD detected it, un-published, and refused
    assert(addError.exists(t =>
      Option(t.getMessage).exists(_.contains("concurrent commit"))),
      s"expected the ADD to refuse on the interleaved commit, got $addError")
    assert(TxConstraints.of(spark, dir).isEmpty,
      "a failed ADD must not leave the constraint half-armed")
  }

  test("ADD on a never-committed table: cataloged schema validates, no schema refuses") {
    // path-only empty table: nothing to validate against — refused
    // loudly (an unchecked typo would silently never enforce)
    val bare = freshDir()
    val e = intercept[Exception](
      TxConstraints.add(spark, bare, "c0", "price > 0"))
    assert(e.getMessage.contains("no committed snapshot"))
    assert(TxConstraints.of(spark, bare).isEmpty)
    // catalog-created empty table: the cataloged schema stands in for
    // the snapshot — typos and non-determinism refuse, valid adds arm
    withExtSession { s2 =>
      import s2.implicits._
      val dir = freshDir()
      val tbl = freshName("cons_fresh")
      s2.sql(
        s"""CREATE TABLE $tbl (id BIGINT, price DOUBLE, etl_seq BIGINT, date_id INT)
           |USING `graft-tx`
           |OPTIONS (path '$dir', key 'id', version 'etl_seq',
           |         partitionColumns 'date_id')""".stripMargin)
      try {
        assert(intercept[Exception](s2.sql(
          s"ALTER TABLE $tbl ADD CONSTRAINT c1 CHECK (nope > 0)"))
          .getMessage.contains("does not have"))
        assert(intercept[Exception](s2.sql(
          s"ALTER TABLE $tbl ADD CONSTRAINT c2 CHECK (rand() > 0.5)"))
          .getMessage.contains("non-deterministic"))
        s2.sql(s"ALTER TABLE $tbl ADD CONSTRAINT c3 CHECK (price > 0)")
        // and the armed constraint gates the table's FIRST data commit
        val ei = intercept[Exception](TxTable.upsert(s2, dir,
          Seq((1L, -1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id"))
        assert(ei.getMessage.contains("c3"))
        TxTable.upsert(s2, dir,
          Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")                                  // v2
        assert(TxTable.snapshot(s2, dir).get.count() === 1L)
        // the barrier (v1) was the table's first commit: it records the
        // empty schema and v2 its own, so a snapshot merges no footers,
        // and a widening reaches diff and the feed past a plain commit
        TxTable.upsert(s2, dir,
          Seq((2L, 2.0, 2L, 20240102, "hi")).toDF("id", "price", "etl_seq", "date_id", "note"),
          "id", "etl_seq", "date_id")                                  // v3
        TxTable.upsert(s2, dir,
          Seq((3L, 3.0, 3L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")                                  // v4
        assert(TxFixtures.schemaFieldFaults(dir, 4L).isEmpty)
        assert(SparkEvents.jobs(s2)(TxTable.snapshot(s2, dir)) === 0)
        assert(TxTable.diff(s2, dir, 3L, 4L, "id").columns.contains("note"))
        assert(TxStreamSource.feedSchema(s2, dir, "id").fieldNames.contains("note"))
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("the ADD barrier commit is invisible to readers, diff and the change feed") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    boot(dir) // v1
    TxConstraints.add(spark, dir, "price_pos", "price > 0") // barrier -> v2
    assert(TxTable.latestVersion(spark, dir) === 2L,
      "the ADD must leave exactly one barrier commit")
    // snapshot across the barrier is unchanged, and v2 resolves
    assert(TxTable.snapshot(spark, dir).get.count() === 2L)
    assert(TxTable.snapshotAt(spark, dir, 2L).get.count() === 2L)
    // row-level diff across the barrier is empty
    assert(TxTable.diff(spark, dir, 1L, 2L, "id").count() === 0L)
    // the batch change feed reads the barrier as zero rows
    assert(spark.read.format("graft-tx").option("changesFrom", "1")
      .load(dir).count() === 0L)
    // and commits keep landing normally after it
    TxTable.upsert(spark, dir,
      Seq((3L, 7.0, 2L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    assert(TxTable.latestVersion(spark, dir) === 3L)
    assert(spark.read.format("graft-tx").option("changesFrom", "1")
      .load(dir).count() === 1L)
  }

  test("TxCatalog.sql retrofit entry intercepts constraint statements on a plain session") {
    val dir = freshDir()
    boot(dir)
    val tbl = freshName("cons_plain")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
    try {
      TxCatalog.sql(spark, s"ALTER TABLE $tbl ADD CONSTRAINT p CHECK (price > 0)")
      assert(TxCatalog.sql(spark, s"SHOW CONSTRAINTS $tbl").count() === 1L)
      assert(TxCatalog.sql(spark, s"SHOW CONSTRAINTS '$dir'").head().getString(0) === "p")
      TxCatalog.sql(spark, s"ALTER TABLE $tbl DROP CONSTRAINT p")
      assert(TxConstraints.of(spark, dir).isEmpty)
    } finally spark.sql(s"DROP TABLE $tbl")
  }
}
