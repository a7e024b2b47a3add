package graft

import java.nio.file.Files

import graft.io.TxTable
import graft.streaming.TxChangeFeed
import org.apache.spark.sql.functions._

/** The change-feed contract t20's oracle can't see: cursor semantics
  * (resume from a persisted version, no replays, no gaps), the replica
  * ≡ snapshot identity at every intermediate version, and the poll
  * loop delivering commits that land WHILE following.
  */
class TxChangeFeedSpec extends SparkTestBase {

  private def freshTable(): String =
    Files.createTempDirectory("graft_cf").toString + "/t"

  private def commit(target: String, rows: Seq[(Long, Double, Long, Int)]): Unit = {
    val s = spark
    import s.implicits._
    TxTable.upsert(spark, target,
      rows.toDF("id", "price", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
  }

  private def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
    df.select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("drain emits one diff per commit and a resumed cursor replays nothing") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(target, Seq((1L, 1.5, 2L, 20240101)))                  // update
    commit(target, Seq((3L, 3.0, 3L, 20240103)))                  // insert

    val all = TxChangeFeed.drain(spark, target, "id")
    assert(all.map(_._1) === Seq(1L, 2L, 3L))
    assert(all.head._2.select("change_type").collect()
      .map(_.getString(0)).toSet === Set("insert")) // genesis batch
    assert(state(all(1)._2.drop("change_type")) === Set((1L, 1.5)))

    // consumer checkpointed cursor=2: only the third commit arrives
    val resumed = TxChangeFeed.drain(spark, target, "id", fromVersion = 2L)
    assert(resumed.map(_._1) === Seq(3L))
    assert(state(resumed.head._2.drop("change_type")) === Set((3L, 3.0)))
    // caught-up feed is empty, not an error
    assert(TxChangeFeed.drain(spark, target, "id", fromVersion = 3L).isEmpty)
  }

  test("replicate equals the snapshot at every cursor, including across a resume") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(target, Seq((2L, 2.5, 2L, 20240102), (3L, 3.0, 2L, 20240101)))

    val (c1, replica1) = TxChangeFeed.replicate(spark, target, "id")
    assert(c1 === 2L)
    assert(state(replica1) === state(TxTable.snapshot(spark, target).get))

    // more commits land; resume replication FROM the old replica
    commit(target, Seq((1L, 9.0, 3L, 20240101)))
    val (c2, replica2) = TxChangeFeed.replicate(spark, target, "id",
      fromVersion = c1, base = Some(replica1))
    assert(c2 === 3L)
    assert(state(replica2) === state(TxTable.snapshot(spark, target).get))
    assert(state(replica2) === Set((1L, 9.0), (2L, 2.5), (3L, 3.0)))
  }

  test("a cursor vacuumed out of retention fails loudly; the tip still drains") {
    // The contract every log-tailing CDC source documents: resuming
    // from below the oldest retained version is an error (re-bootstrap
    // from a snapshot), never a silent gap.
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    commit(target, Seq((2L, 2.0, 2L, 20240102)))
    commit(target, Seq((3L, 3.0, 3L, 20240103)))
    TxTable.vacuum(spark, target) // retain 1: checkpoint-on-demand → v4
    val tip = TxTable.latestVersion(spark, target)
    assert(tip === 4L)
    // cursor=tip: caught up, empty drain — fine
    assert(TxChangeFeed.drain(spark, target, "id", fromVersion = tip).isEmpty)
    // cursor below retention: diff needs a vacuumed version → throws
    intercept[IllegalArgumentException] {
      TxChangeFeed.drain(spark, target, "id", fromVersion = 1L)
        .foreach(_._2.count())
    }
  }

  test("the feed carries deletes and replicate applies them") {
    val s = spark
    import s.implicits._
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240101)))
    TxTable.delete(spark, target,
      Seq((1L, 20240101)).toDF("id", "date_id"), "id", "date_id")
    val batches = TxChangeFeed.drain(spark, target, "id")
    val del = batches(1)._2.select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(del === Set(("delete", 1L)))
    val (_, replica) = TxChangeFeed.replicate(spark, target, "id")
    assert(state(replica) === Set((2L, 2.0)))
    assert(state(replica) === state(TxTable.snapshot(spark, target).get))
  }

  test("the full streaming CDC loop: TxStreamSink in, change feed out") {
    // events stream in through the transactional sink (one micro-batch
    // = one commit), a batch revision lands on top, and the feed
    // replicates everything downstream: replica ≡ snapshot ≡ the batch
    // recompute over the raw inputs. This is the loop the two halves
    // exist for — upserts enter through streaming, changes leave as
    // CDC, and nothing depends on which side produced a commit.
    val s = spark
    import s.implicits._
    val dir = sfSmoke
    val raw = s.read.parquet(s"$dir/events.parquet")
    val target = freshTable()
    val ticks = s.readStream.schema(raw.schema)
      .option("basePath", dir).parquet(s"$dir/events*.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val q = graft.streaming.TxStreamSink
      .sink(ticks, target, key = "event_id", version = "user_id",
        partitionCol = "event_type",
        layout = graft.io.Layout(bloomCols = Seq("event_id"), bloomNdv = 4096L))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cf_ckpt").toString)
      .start()
    q.awaitTermination()
    val v1 = TxTable.latestVersion(spark, target)
    assert(v1 >= 1L)

    // the sink's micro-batch commits land LAID-OUT leaves: the bloom
    // the layout declares is present in the committed row groups (a
    // Layout.none-hardwired sink would silently degrade the table)
    {
      import scala.jdk.CollectionConverters._
      val leaf = new java.io.File(target,
        TxTable.latest(spark, target)._2.values.head)
      val pf = leaf.listFiles().filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pf.getAbsolutePath),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.foreach { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == "event_id").get
        assert(r.getBloomFilterDataReader(b).readBloomFilter(c) != null,
          "event_id bloom missing from a streamed commit")
      } finally r.close()
    }

    // a batch writer revises half the rows on top of the stream's work
    TxTable.upsert(spark, target,
      s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") * 2).as("value")),
      "event_id", "user_id", "event_type")

    val (cursor, replica) = TxChangeFeed.replicate(spark, target, "event_id")
    assert(cursor === TxTable.latestVersion(spark, target))
    val got = replica.select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        when(col("event_id") % 2 === 0, col("value") * 2)
          .otherwise(col("value")).as("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === want)
    assert(got === TxTable.snapshot(spark, target).get
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap)
  }

  test("mirror: table-to-table replication is snapshot-equal after every resume") {
    val s = spark
    import s.implicits._
    val src = freshTable()
    val dst = freshTable()
    // source history: bootstrap, revision, a delete that EMPTIES one
    // partition (tombstone must replicate), and an insert
    commit(src, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    commit(src, Seq((1L, 1.5, 2L, 20240101)))
    val c1 = TxChangeFeed.mirror(spark, src, dst, "id", "date_id")
    assert(c1 === 2L)
    assert(state(TxTable.snapshot(spark, dst).get)
      === state(TxTable.snapshot(spark, src).get))

    TxTable.delete(spark, src,
      Seq((2L, 20240102)).toDF("id", "date_id"), "id", "date_id")
    commit(src, Seq((3L, 3.0, 3L, 20240103)))
    // resume from the persisted cursor: only the two new commits apply
    val c2 = TxChangeFeed.mirror(spark, src, dst, "id", "date_id",
      fromVersion = c1)
    assert(c2 === 4L)
    assert(state(TxTable.snapshot(spark, dst).get) === Set((1L, 1.5), (3L, 3.0)))
    assert(state(TxTable.snapshot(spark, dst).get)
      === state(TxTable.snapshot(spark, src).get))
    // the emptied partition's manifest key is gone on the MIRROR too
    def pkey(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(!TxTable.latest(spark, dst)._2.contains(pkey("20240102")))
    // replaying the last batch is idempotent through the keyed apply
    TxTable.applyCdc(spark, dst,
      TxTable.diff(spark, src, 3L, 4L, "id")
        .withColumn("_op", org.apache.spark.sql.functions.lit("U"))
        .withColumn("_seq", org.apache.spark.sql.functions.lit(4L))
        .drop("change_type"),
      "id", "_op", "_seq", "date_id")
    assert(state(TxTable.snapshot(spark, dst).get)
      === state(TxTable.snapshot(spark, src).get))
  }

  test("schema evolution rides the whole loop: a widened source mirrors correctly") {
    // v2 widens the source schema; the diff aligns its sides, applyCdc
    // aligns the mirror, and the mirrored snapshot matches the source
    // including the nulls on pre-evolution rows.
    val s = spark
    import s.implicits._
    val src = freshTable()
    val dst = freshTable()
    commit(src, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    TxTable.upsert(spark, src,
      Seq((1L, 1.5, 2L, 20240101, "revised"))
        .toDF("id", "price", "etl_seq", "date_id", "note"),
      "id", "etl_seq", "date_id")
    TxChangeFeed.mirror(spark, src, dst, "id", "date_id")
    def full(dir: String): Set[(Long, Double, Option[String])] = {
      val df = TxTable.snapshot(spark, dir).get
      df.select("id", "price", "note").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    }
    assert(full(dst) === Set((1L, 1.5, Some("revised")), (2L, 2.0, None)))
    assert(full(dst) === full(src))
  }

  test("follow delivers commits that land while tailing, in order") {
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var extraDone = false
    val cursor = TxChangeFeed.follow(spark, target, "id",
      fromVersion = 0L, pollMs = 10L,
      stop = () => extraDone && seen.size >= 2) { (v, _) =>
      seen += v
      if (!extraDone) {
        // a writer lands a commit while the feed is live
        commit(target, Seq((2L, 2.0, 2L, 20240102)))
        extraDone = true
      }
    }
    assert(seen.toSeq === Seq(1L, 2L))
    assert(cursor === 2L)
  }

  test("reserved control columns in the payload are refused, not corrupted") {
    // mirror/replicate inject _op/_seq into each diff before applyCdc;
    // a source payload already carrying either name would silently
    // collide (the injected column replaces the data column and the
    // applied changes drift). The feed must fail loudly instead.
    val s = spark
    import s.implicits._
    val src = freshTable()
    TxTable.upsert(spark, src,
      Seq((1L, 1.0, 7L, 1L, 20240101))
        .toDF("id", "price", "_seq", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    val exM = intercept[IllegalArgumentException](
      TxChangeFeed.mirror(spark, src, freshTable(), "id", "date_id"))
    assert(exM.getMessage.contains("_seq"))
    val exR = intercept[IllegalArgumentException](
      TxChangeFeed.replicate(spark, src, "id"))
    assert(exR.getMessage.contains("_seq"))
    // and diff itself reserves change_type the same way
    val src2 = freshTable()
    TxTable.upsert(spark, src2,
      Seq((1L, 1.0, "x", 1L, 20240101))
        .toDF("id", "price", "change_type", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    val exD = intercept[IllegalArgumentException](
      TxTable.diff(spark, src2, 0L, 1L, "id").collect())
    assert(exD.getMessage.contains("change_type"))
    // the native stream source stamps _commit_version the same way
    val src3 = freshTable()
    TxTable.upsert(spark, src3,
      Seq((1L, 1.0, 9L, 1L, 20240101))
        .toDF("id", "price", "_commit_version", "etl_seq", "date_id"),
      "id", "etl_seq", "date_id")
    val exS = intercept[IllegalArgumentException](
      spark.readStream.format("graft-tx").option("key", "id").load(src3))
    assert(exS.getMessage.contains("_commit_version"))
  }

  test("diff carries a widened column even when the range only touches pre-widening leaves") {
    // The r14 manifest-carried-schema change made every diff side read
    // under the version's FULL recorded schema. Edge pinned here: a
    // widening commit's new column lives ONLY in leaves untouched by
    // the diffed range — the schema-carrying chain still surfaces the
    // column (all-null, exactly as a whole-table mergeSchema would).
    val s = spark
    import s.implicits._
    val target = freshTable()
    // v1: two partitions; v2: widening commit touching ONLY 20240101;
    // v3: plain commit touching ONLY 20240102 (no `note` anywhere near;
    // note: on a schema-carrying chain v3's merge aligns against the
    // RECORDED schema, so its staged leaf physically carries an
    // all-null note column — the recorded schema and the leaf agree)
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    TxTable.upsert(spark, target,
      Seq((3L, 3.0, 2L, 20240101, "hello"))
        .toDF("id", "price", "etl_seq", "date_id", "note"),
      "id", "etl_seq", "date_id")
    commit(target, Seq((4L, 4.0, 3L, 20240102)))

    val d = TxTable.diff(spark, target, 2L, 3L, "id")
    assert(d.columns.contains("note"),
      s"schema-carrying diff lost the widened column: ${d.columns.toSeq}")
    val rows = d.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("insert", 4L)))
    assert(rows.forall(_.isNullAt(d.columns.indexOf("note"))),
      "a column the v2 side's leaves never held must read as null")
  }

  test("legacy (schema-less) chains resolve diff schema from the changed leaves only") {
    // Same shape, but the chain loses its recorded schema BEFORE the
    // post-widening commit: that commit's merge then aligns against a
    // mergeSchema read of just its own partition (which never saw
    // `note`), so the staged leaf physically lacks the column and the
    // legacy diff's per-changed-leaf fallback must omit it — the
    // documented legacy behavior, pinned so a change is loud.
    val s = spark
    import s.implicits._
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101), (2L, 2.0, 1L, 20240102)))
    TxTable.upsert(spark, target,
      Seq((3L, 3.0, 2L, 20240101, "hello"))
        .toDF("id", "price", "etl_seq", "date_id", "note"),
      "id", "etl_seq", "date_id")
    TxFixtures.stripRecordedSchemas(target)
    commit(target, Seq((4L, 4.0, 3L, 20240102)))
    TxFixtures.stripRecordedSchemas(target) // v3 re-recorded its staged schema

    val legacy = TxTable.diff(spark, target, 2L, 3L, "id")
    assert(!legacy.columns.contains("note"),
      s"legacy chains resolve schema from the changed leaves only: ${legacy.columns.toSeq}")
    assert(legacy.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("insert", 4L)))
  }

  test("schema evolution is add-only: re-typing a column refuses at commit time") {
    // The staged type survives to the publish only when every touched
    // partition is NEW (an existing partition's merge coerces — and
    // fails — earlier, in union type resolution); that is exactly the
    // hole the unionSchema guard closes: a fresh-partition commit would
    // otherwise RECORD the old type while its leaves hold the new one,
    // and every later explicit-schema read would decode wrong pages.
    val s = spark
    import s.implicits._
    val target = freshTable()
    commit(target, Seq((1L, 1.0, 1L, 20240101)))
    val e = intercept[IllegalArgumentException] {
      TxTable.upsert(spark, target,
        Seq((2L, "oops", 2L, 20240102)) // price re-typed double -> string, NEW partition
          .toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
    }
    assert(e.getMessage.contains("add-only"), e.getMessage)
    // nothing half-landed: the table still reads at its old schema…
    assert(state(TxTable.snapshot(spark, target).get) === Set((1L, 1.0)))
    // …and the refusal fired BEFORE staging (a publish-time refusal
    // would orphan the staged leaves under data/): exactly the one
    // committed batch's staging dir exists
    import scala.jdk.CollectionConverters._
    val staged = Files.list(java.nio.file.Paths.get(target, "data"))
      .iterator().asScala.size
    assert(staged === 1, s"refused commit leaked staged leaves ($staged dirs)")
  }
}
