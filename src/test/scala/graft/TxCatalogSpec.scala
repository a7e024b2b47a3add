package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.io.{TxCatalog, TxTable}

/** The catalog face of graft-tx (io/TxCatalog): persistent `USING
  * graft-tx` tables managed with CREATE TABLE / INSERT INTO / ALTER
  * TABLE ADD COLUMNS / SHOW PARTITIONS / DESCRIBE HISTORY, resolving
  * across sessions through the shared session catalog. */
class TxCatalogSpec extends SparkTestBase {

  private val seq = new AtomicInteger

  private def freshName(prefix: String): String =
    s"${prefix}_${seq.incrementAndGet()}"

  private def freshDir(): String =
    Files.createTempDirectory("graft_txcat").toString + "/t"

  test("CREATE TABLE USING graft-tx + INSERT INTO + SELECT, across a new session") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_fact")
    // bootstrap the storage first (a TxTable schema IS its data), then
    // bind the catalog name to it
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
    try {
      // INSERT INTO through the catalog name: the keyed upsert
      spark.sql(s"INSERT INTO $tbl VALUES (2, 25.0, 2, 20240102), (3, 30.0, 2, 20240103)")
      assert(spark.sql(s"SELECT id, price FROM $tbl ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
      // a NEW session sees the same binding through the shared catalog
      val s2 = spark.newSession()
      assert(s2.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) === 3L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("ALTER TABLE ADD COLUMNS widens storage AND catalog in one statement") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_evo")
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        val vBefore = TxTable.latestVersion(s2, dir)
        s2.sql(s"ALTER TABLE $tbl ADD COLUMNS (color STRING, rank INT)")
        // one rows-preserving commit landed
        assert(TxTable.latestVersion(s2, dir) === vBefore + 1)
        assert(TxTable.diff(s2, dir, vBefore, vBefore + 1, "id").count() === 0L,
          "ALTER ADD COLUMNS must be rows-preserving")
        // both faces agree: catalog SELECT sees typed nulls immediately
        val row = s2.sql(s"SELECT id, color, rank FROM $tbl WHERE id = 1").head()
        assert(row.isNullAt(1) && row.isNullAt(2))
        // and a write can now land values into the new columns
        s2.sql(s"INSERT INTO $tbl VALUES (3, 30.0, 2, 20240103, 'red', 7)")
        assert(s2.sql(s"SELECT color, rank FROM $tbl WHERE id = 3").head()
          === org.apache.spark.sql.Row("red", 7))
        // duplicate add refuses loudly
        val ex = intercept[Exception] {
          s2.sql(s"ALTER TABLE $tbl ADD COLUMNS (color STRING)")
        }
        assert(ex.getMessage.toLowerCase.contains("exist"))
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("SHOW PARTITIONS serves the manifest: hive-style rows ≡ partitionValues") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_parts")
    TxTable.upsert(spark, dir,
      Seq((1L, 1.0, 1L, 20240101, "a"), (2L, 2.0, 1L, 20240102, "b"),
        (3L, 3.0, 1L, 20240101, "b"))
        .toDF("id", "price", "etl_seq", "date_id", "src"),
      "id", "etl_seq", Seq("date_id", "src"))
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        val got = s2.sql(s"SHOW PARTITIONS $tbl")
          .collect().map(_.getString(0)).toSeq.sorted
        assert(got === Seq(
          "date_id=20240101/src=a", "date_id=20240101/src=b",
          "date_id=20240102/src=b"))
        // ≡ the manifest readout, by construction
        assert(got === TxTable.partitionValues(s2, dir)
          .map(t => Seq("date_id", "src").zip(t)
            .map { case (c, v) => s"$c=$v" }.mkString("/")).sorted)
        // partial-spec filtering, the built-in command's contract
        assert(s2.sql(s"SHOW PARTITIONS $tbl PARTITION (src='b')")
          .collect().map(_.getString(0)).toSeq.sorted ===
          Seq("date_id=20240101/src=b", "date_id=20240102/src=b"))
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("DESCRIBE HISTORY reads the commit log, by table name and by path") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_hist")
    TxTable.upsert(spark, dir,
      Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    TxTable.upsert(spark, dir,
      Seq((2L, 2.0, 2L, 20240102)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        val byName = s2.sql(s"DESCRIBE HISTORY $tbl")
          .select("version", "kind").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(byName === Seq((1L, "checkpoint"), (2L, "delta")))
        val byPath = s2.sql(s"DESCRIBE HISTORY '$dir'")
          .select("version", "kind").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(byPath === byName)
        // live-session retrofit (no extensions): same statement
        assert(TxCatalog.sql(spark, s"DESCRIBE HISTORY '$dir'")
          .select("version").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
        // the wrapper parser is a superset: ordinary statements flow through
        assert(s2.sql("SELECT 1 + 1 AS x").head().getInt(0) === 2)
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("DESCRIBE DETAIL is the one-row operational summary; a non-tx target refuses") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_detail")
    TxTable.upsert(spark, dir,
      Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        val row = s2.sql(s"DESCRIBE DETAIL $tbl").head()
        assert(row.getString(0) === "graft-tx")
        // the catalog normalizes the location to a scheme-qualified URI
        assert(row.getString(1).stripPrefix("file:") === dir)
        assert(row.getLong(2) === 1L)                          // tip
        assert(row.getSeq[String](3) === Seq("date_id"))
        assert(row.getString(4) === "id")                      // merge key
        assert(row.getString(5) === "etl_seq")                 // version col
        assert(row.getLong(6) === 2L)                          // partitions
        assert(row.getLong(7) >= 2L)                           // files
        assert(row.getLong(8) > 0L)                            // bytes
        // quoted-path form agrees
        assert(TxCatalog.sql(spark, s"DESCRIBE DETAIL '$dir'").head().getLong(6) === 2L)
        // a path holding no committed table refuses, never fabricates
        intercept[Exception] {
          TxCatalog.sql(spark, s"DESCRIBE DETAIL '${dir}_nope'").collect()
        }
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("SQL maintenance statements: OPTIMIZE / VACUUM / RESTORE on catalog tables and quoted paths") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_maint")
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    TxTable.upsert(spark, dir,
      Seq((1L, 99.0, 2L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")                          // the bad batch
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        // RESTORE by table name reverts the bad batch as a NEW commit
        val v = s2.sql(s"RESTORE TABLE $tbl TO VERSION AS OF 1")
          .head().getLong(0)
        assert(v === 3L)
        assert(s2.sql(s"SELECT price FROM $tbl WHERE id = 1").head().getDouble(0) === 10.0)
        // OPTIMIZE ZORDER is rows-preserving and reports the tip
        val vOpt = s2.sql(s"OPTIMIZE $tbl ZORDER BY (id, price)").head().getLong(0)
        assert(vOpt === 4L)
        assert(TxTable.diff(s2, dir, 3L, 4L, "id").count() === 0L)
        // bare OPTIMIZE (bin-packing) parses and runs; WHERE scopes at
        // the manifest — a no-op pass publishes no version
        val vPack = s2.sql(s"OPTIMIZE $tbl WHERE date_id = 20240101")
          .head().getLong(0)
        assert(vPack === 4L, "single-file leaves must not rewrite")
        // VACUUM by quoted path reclaims the travel window; state exact
        s2.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS").collect()
        assert(TxTable.snapshotAt(s2, dir, 1L).isEmpty, "v1 must be reclaimed")
        assert(s2.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) === 2L)
        // refusals: RETAIN 0, and a target that is not a table
        intercept[Exception](s2.sql(s"VACUUM '$dir' RETAIN 0 VERSIONS").collect())
        // the additive parser never swallows stock statements
        assert(s2.sql("SELECT 'optimize' AS x").head().getString(0) === "optimize")
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("readStream.table on a graft-tx catalog table refuses; the path-form stream is the supported spelling") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_stream")
    TxTable.upsert(spark, dir,
      Seq((1L, 1.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        // the V1 relation has no streaming face for table-name reads —
        // the engine must refuse loudly, not fall back to a batch scan
        // (probe evidence for the PLANS adjudication: streaming a
        // catalog table by NAME needs the V2 seam; the supported
        // spelling is readStream.format("graft-tx").load(path))
        intercept[Exception] {
          s2.readStream.table(tbl)
            .writeStream.format("memory").queryName(s"${tbl}_q")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
        }
        // and the path form over the SAME table streams fine
        val q = s2.readStream.format("graft-tx").option("key", "id").load(dir)
          .writeStream.format("memory").queryName(s"${tbl}_ok")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        assert(s2.table(s"${tbl}_ok").count() === 1L)
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }

  test("saveAsTable bootstraps a graft-tx table; modes behave honestly on an existing one") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_sat")
    Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102))
      .toDF("id", "price", "etl_seq", "date_id")
      .write.format("graft-tx")
      .option("path", dir)
      .option("key", "id").option("version", "etl_seq")
      .option("partitionColumns", "date_id")
      .saveAsTable(tbl)
    try {
      assert(spark.table(tbl).count() === 2L)
      assert(TxTable.latestVersion(spark, dir) === 1L)
      // append mode = the keyed upsert
      Seq((2L, 25.0, 2L, 20240102)).toDF("id", "price", "etl_seq", "date_id")
        .write.format("graft-tx").option("path", dir)
        .mode("append").saveAsTable(tbl)
      assert(spark.table(tbl).filter("id = 2").head().getDouble(1) === 25.0)
      // ErrorIfExists on a live table refuses (path-level save too)
      intercept[Exception] {
        Seq((9L, 9.0, 9L, 20240109)).toDF("id", "price", "etl_seq", "date_id")
          .write.format("graft-tx")
          .option("key", "id").option("version", "etl_seq")
          .option("partitionColumns", "date_id")
          .save(dir)
      }
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("CTAS bootstraps storage and catalog in one statement") {
    val dir = freshDir()
    val tbl = freshName("cat_ctas")
    // CREATE TABLE … USING graft-tx … AS SELECT rides the V1
    // CreatableRelationProvider seam: the query's rows land as the
    // bootstrap upsert commit and the catalog binds the name — one
    // statement, no pre-created storage
    spark.sql(
      s"""CREATE TABLE $tbl USING `graft-tx`
         |OPTIONS (path '$dir', key 'id', version 'etl_seq',
         |         partitionColumns 'date_id')
         |AS SELECT id, CAST(price AS DOUBLE) AS price, etl_seq, date_id
         |FROM VALUES
         |  (1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102)
         |  AS t(id, price, etl_seq, date_id)""".stripMargin)
    try {
      assert(spark.sql(s"SELECT id, price FROM $tbl ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        Seq((1L, 10.0), (2L, 20.0)))
      // the bootstrap recorded the identity: follow-up INSERT upserts
      spark.sql(s"INSERT INTO $tbl VALUES (2, 25.0, 2, 20240102)")
      assert(spark.sql(s"SELECT price FROM $tbl WHERE id = 2").head().getDouble(0) === 25.0)
      // and a NEW session reads the binding
      assert(spark.newSession().sql(s"SELECT count(*) AS n FROM $tbl")
        .head().getLong(0) === 2L)
      assert(TxTable.latestVersion(spark, dir) === 2L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL DML verbs address catalog tables by NAME, not just USING views") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_dml")
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 200.0, 1L, 20240102),
          (3L, 30.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        s2.sql(s"DELETE FROM $tbl WHERE price > 100")
        s2.sql(s"UPDATE $tbl SET price = price + 1 WHERE id = 1")
        s2.sql("SELECT 3L AS id, CAST(99.0 AS DOUBLE) AS price, " +
            "2L AS etl_seq, 20240102 AS date_id")
          .createOrReplaceTempView(s"${tbl}_src")
        s2.sql(
          s"""MERGE INTO $tbl t USING ${tbl}_src s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET price = s.price
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(s2.sql(s"SELECT id, price FROM $tbl ORDER BY id").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
          Seq((1L, 11.0), (3L, 99.0)))
      } finally {
        s2.catalog.dropTempView(s"${tbl}_src"): Unit
        s2.sql(s"DROP TABLE $tbl")
      }
    }
  }

  test("ANALYZE TABLE records the manifest footprint, not the empty metastore stub") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val tbl = freshName("cat_stats")
    TxTable.upsert(spark, dir,
      Seq((1L, 10.0, 1L, 20240101), (2L, 20.0, 1L, 20240102),
          (3L, 30.0, 1L, 20240102))
        .toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    withExtSession { s2 =>
      s2.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$dir')")
      try {
        // full scan: exact row count AND the true manifest-leaf bytes —
        // the builtin would have recorded sizeInBytes = 0 from the empty
        // warehouse stub, making a 100 TB table look broadcastable
        s2.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
        val ct = graft.io.TxCatalog.sql(s2, s"DESCRIBE DETAIL '$dir'").head()
        val realBytes = ct.getLong(8)
        assert(realBytes > 0L)
        val stats = s2.table(tbl).queryExecution.optimizedPlan.stats
        assert(stats.sizeInBytes === BigInt(realBytes),
          s"plan stats must carry the manifest footprint, got ${stats.sizeInBytes}")
        // plan stats surface rowCount only under CBO; the catalog
        // record is the durable readout
        def catalogStats(): String =
          s2.sql(s"DESCRIBE EXTENDED $tbl").collect()
            .find(_.getString(0).contains("Statistics")).fold("")(_.getString(1))
        assert(catalogStats().contains(s"$realBytes bytes") &&
          catalogStats().contains("3 rows"), catalogStats())
        // column stats ride the builtin scan; the size repair keeps them
        s2.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
        val stats2 = s2.table(tbl).queryExecution.optimizedPlan.stats
        assert(stats2.sizeInBytes === BigInt(realBytes))
        assert(catalogStats().contains("3 rows"), catalogStats())
        assert(s2.sql(s"DESCRIBE EXTENDED $tbl price").collect()
          .exists(r => r.getString(0) == "distinct_count" && r.getString(1) == "3"),
          "FOR ALL COLUMNS must land column stats")
        // NOSCAN refreshes size without paying a row-count scan
        TxTable.upsert(s2, dir,
          Seq((4L, 40.0, 2L, 20240103)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")
        s2.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS NOSCAN")
        val grown = graft.io.TxCatalog.sql(s2, s"DESCRIBE DETAIL '$dir'")
          .head().getLong(8)
        val stats3 = s2.table(tbl).queryExecution.optimizedPlan.stats
        assert(grown > realBytes && stats3.sizeInBytes === BigInt(grown))
      } finally s2.sql(s"DROP TABLE $tbl")
    }
  }
}
