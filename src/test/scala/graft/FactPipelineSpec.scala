package graft

import graft.io.TxTable
import graft.ops.{GoldModel, Interpolate}
import graft.ops.Validation.GateViolation
import graft.pipeline.FactPipeline
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success}

/** §3.1 end-to-end: one closed hour through extract → upsert →
  * read-back → densify/interpolate → gates → window replacement, then
  * the properties the orchestration must provide — replay idempotence
  * across BOTH tables and the failure-hook path on a gate violation.
  * Both tables are TxTables, so every read goes through the manifest
  * (`TxTable.snapshot`). */
class FactPipelineSpec extends SparkTestBase {
  import spark.implicits._

  // Tehran is UTC+3:30 on 2024-01-15: UTC 06:3x → 10:0x wall clock
  private def evts(rows: (Long, String, String, Double, String)*) =
    rows.toSeq.map { case (id, u, et, v, ts) =>
      (id, Timestamp.valueOf(ts), u.toLong, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private val D = 20240115

  private def snap(dir: String) = TxTable.snapshot(spark, dir).get

  // fixed column order: the pipeline and the storage-free reference
  // project their columns in different orders — values must match
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  // two (source, side) groups, each ≥2 ticks spanning minutes 00–05
  // of Tehran hour 10 → grid = 6 minutes, fully interpolable
  private val goodEvents = evts(
    (1L, "7", "click", 100.0, "2024-01-15 06:30:10"),
    (2L, "7", "click", 106.0, "2024-01-15 06:33:20"),
    (3L, "7", "click", 110.0, "2024-01-15 06:35:30"),
    (4L, "8", "purchase", 50.0, "2024-01-15 06:30:40"),
    (5L, "8", "purchase", 56.0, "2024-01-15 06:35:50"))

  test("one hour runs end-to-end; replay with a new version is idempotent") {
    val wh = Files.createTempDirectory("graft_pipeline").toString
    var notified: Option[FactPipeline.HourRun] = None

    val r1 = FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 1L, onSuccess = r => notified = Some(r))
    val run1 = r1 match {
      case Success(r) => r
      case Failure(e) => fail(s"pipeline failed: $e")
    }
    assert(notified.contains(run1))
    assert(run1.extracted == 5L)
    assert(run1.gridMinutes == 6L)
    // 2 groups × 6 grid minutes: group 7 has 3 actuals + 3 generated,
    // group 8 has 2 actuals + 4 generated
    assert(run1.densifiedRows == 12L)

    assert(snap(s"$wh/fact_gold_price").count() == 5L)

    // replay the SAME hour (same events, higher version): no duplicates
    // anywhere, same row counts — the reference would duplicate its
    // interpolated rows here
    val run2 = FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 2L).get
    assert(run2.densifiedRows == 12L)
    assert(snap(s"$wh/fact_gold_price").count() == 5L)
    assert(snap(s"$wh/fact_gold_price_interpolated").count() == 12L)

    // interpolated values are the engine's interpolation, not copies:
    // group 7 minute 06:31 (wall 10:01) = linear between 100 and 106
    val interp = snap(s"$wh/fact_gold_price_interpolated")
      .filter(col("source_id") === 7 && col("rounded_time_id") === 100100)
      .select("price", "is_interpolated").as[(Double, Boolean)].head()
    assert(interp == ((102.0, true)))
  }

  test("transactional mode: same results, replay-idempotent, tables are versioned TxTables") {
    // The hour's tables equal a storage-free reference computed from
    // the same events (the fact transform, the hour filter, densify),
    // with the same HourRun counters, plus the transactional
    // properties — every write is a manifest version (fact: v1 upsert
    // + v2 replay; interp: v1 replace + v2 replay) and the pre-replay
    // state is still time-travelable.
    val wh = Files.createTempDirectory("graft_pipeline_tx").toString
    val tx1 = FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 1L).get

    val refFact = GoldModel.fact(goodEvents)
      .filter(col("date_id") === D && floor(col("time_id") / 10000) === 10)
    val refInterp = Interpolate.densify(refFact
      .withColumn("rounded_time_id", GoldModel.roundedTimeId(col("time_id")))
      .withColumn("is_interpolated", lit(false)))
    assert(tx1.extracted === refFact.count())
    assert(tx1.densifiedRows === refInterp.count())
    assert(rows(snap(s"$wh/fact_gold_price"))
      === rows(refFact.withColumn("etl_version", lit(1L))))
    assert(rows(snap(s"$wh/fact_gold_price_interpolated")) === rows(refInterp))

    // replay: idempotent, and the write history is on the log
    val tx2 = FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 2L).get
    assert(tx2.densifiedRows === tx1.densifiedRows)
    assert(rows(snap(s"$wh/fact_gold_price_interpolated")) === rows(refInterp))
    assert(TxTable.snapshot(spark, s"$wh/fact_gold_price").get.count() === 5L)
    assert(TxTable.latest(spark, s"$wh/fact_gold_price")._1 === 2L)
    assert(TxTable.latest(spark, s"$wh/fact_gold_price_interpolated")._1 === 2L)
    // time travel: run 1's interp table is intact behind run 2's
    assert(TxTable.snapshotAt(spark,
      s"$wh/fact_gold_price_interpolated", 1L).get.count() === 12L)
  }

  test("transactional mode: each hour stages one file per leaf, so compaction publishes nothing") {
    val wh = Files.createTempDirectory("graft_pipeline_one_file").toString
    // goodEvents' hour 10 plus two groups' ticks in Tehran hour 11
    val events = goodEvents.unionByName(evts(
      (6L, "7", "click", 120.0, "2024-01-15 07:30:10"),
      (7L, "7", "click", 126.0, "2024-01-15 07:34:20"),
      (8L, "8", "purchase", 60.0, "2024-01-15 07:31:40"),
      (9L, "8", "purchase", 66.0, "2024-01-15 07:34:50")))
    val fact = s"$wh/fact_gold_price"
    val interp = s"$wh/fact_gold_price_interpolated"
    def filesPerLeaf(dir: String): Seq[Int] =
      TxTable.latest(spark, dir)._2.values.toSeq.map(leaf =>
        new java.io.File(dir, leaf).list().count(_.endsWith(".parquet")))
    def hourRun(h: Int) = FactPipeline.runHour(spark, events, wh, D, hour = h,
      runVersion = 1L,
      compactTargetBytes = Some(128L << 20)).get

    hourRun(10)
    assert(TxTable.latest(spark, interp)._1 === 1L, "compaction published a version")
    assert(filesPerLeaf(interp) === Seq(1))
    assert(filesPerLeaf(fact) === Seq(1))
    // the next hour re-stages the same date leaf: still one file, and
    // still no compaction commit behind the window replacement
    val r11 = hourRun(11)
    assert(TxTable.latest(spark, interp)._1 === 2L, "compaction published a version")
    assert(filesPerLeaf(interp) === Seq(1))
    assert(filesPerLeaf(fact) === Seq(1))
    assert(TxTable.snapshot(spark, interp).get.count() === 12L + r11.densifiedRows)
  }

  test("transactional mode: an hour and its replay each run at most 5 Spark jobs; none reads the window back") {
    // The hour's fixed costs, pinned (20 jobs each at the time of the
    // one-pass batch): one pass per batch (materialize + touched keys +
    // row count, which is also `extracted`), one-partition merges with
    // no exchange, and one read-back of the hour, densified and audited
    // on the driver instead of a parquet read-back of the published
    // window. The window replacement writes the audited hour as local
    // rows, so an hour persists one batch: the fact batch.
    val wh = Files.createTempDirectory("graft_pipeline_jobs").toString
    val interp = s"$wh/fact_gold_price_interpolated"
    // jobs counted inside: the executions' own marker is a job, the
    // job counter's marker is no SQL execution
    def hourRun(v: Long): (Int, Seq[String], Int) = {
      var jobs = 0
      val sc = spark.sparkContext
      val lastRdd = sc.parallelize(Seq(1)).id
      val paths = SparkEvents.queryExecutions(spark) {
        jobs = SparkEvents.jobs(spark) {
          FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
            runVersion = v).get: Unit
        }
      }.flatMap(SparkEvents.scannedPaths)
      (jobs, paths, sc.getPersistentRDDs.keys.count(_ > lastRdd))
    }
    def publishedLeaf(): String = {
      val leaf = TxTable.latest(spark, interp)._2.values.toSeq match {
        case Seq(one) => one
        case other => fail(s"expected one interpolated leaf, got $other")
      }
      new java.io.File(interp, leaf).toURI.getPath.stripSuffix("/")
    }
    for (v <- Seq(1L, 2L)) {
      val (jobs, scanned, persisted) = hourRun(v)
      assert(jobs <= 5, s"run $v launched $jobs Spark jobs")
      assert(persisted <= 1, s"run $v persisted $persisted batches")
      val leaf = publishedLeaf()
      assert(!scanned.exists(_.contains(leaf)),
        s"run $v read its own published window back: $scanned")
    }
    assert(TxTable.latest(spark, interp)._1 === 2L)
  }

  // goodEvents one hour later: Tehran hour 11 on the same date
  private val nextHourEvents = evts(
    (11L, "7", "click", 101.0, "2024-01-15 07:30:10"),
    (12L, "7", "click", 107.0, "2024-01-15 07:32:20"),
    (13L, "7", "click", 111.0, "2024-01-15 07:34:30"),
    (14L, "8", "purchase", 51.0, "2024-01-15 07:30:40"),
    (15L, "8", "purchase", 57.0, "2024-01-15 07:34:50"))

  test("transactional mode: a second, different hour compiles no generated class") {
    // the hour's date, hour and version reach the generated code as
    // parameters, so hour 11 at a new version runs the classes hour 10
    // compiled. Hour 10 runs twice first: its replay is the first run
    // that merges against existing leaves, as every later hour does.
    // The events are read from parquet, as a lake's are: over local
    // rows the optimizer would evaluate the extract on the driver
    val wh = Files.createTempDirectory("graft_pipeline_codegen").toString
    goodEvents.unionByName(nextHourEvents).write.parquet(s"$wh/events")
    val events = spark.read.parquet(s"$wh/events")
    for (v <- Seq(1L, 2L))
      FactPipeline.runHour(spark, events, wh, D, hour = 10, runVersion = v).get
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val r = FactPipeline.runHour(spark, events, wh, D, hour = 11, runVersion = 3L).get
    assert(compiles.getCount - before === 0L, "hour 11 compiled generated classes")
    assert(r.extracted === 5L && r.gridMinutes === 5L)
  }

  test("transactional mode: a window replacement stages the rows outside the window ahead of the hour's") {
    // the existing rows and the audited hour are merged on one
    // partition, existing rows first; read in file order, the date
    // leaf holds hour 10 (outside hour 11's window) and then hour 11
    val wh = Files.createTempDirectory("graft_pipeline_order").toString
    val interp = s"$wh/fact_gold_price_interpolated"
    val events = goodEvents.unionByName(nextHourEvents)
    for (h <- Seq(10, 11))
      FactPipeline.runHour(spark, events, wh, D, hour = h, runVersion = 1L).get
    val leaf = TxTable.latest(spark, interp)._2.values.toSeq match {
      case Seq(one) => new java.io.File(interp, one)
      case other => fail(s"expected one interpolated leaf, got $other")
    }
    val files = leaf.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.size === 1, s"the leaf staged ${files.size} files")
    val hours = spark.read.parquet(files.head.getPath).collect()
      .map(r => r.getAs[Int]("rounded_time_id") / 10000).toSeq
    assert(hours.toSet === Set(10, 11))
    assert(hours === hours.sorted, "the hour's rows precede rows outside its window")
  }

  test("transactional mode: a gate violation publishes nothing; the prior window stays readable") {
    // write-audit-publish: the gates audit the densified hour before
    // the window replacement publishes it
    val wh = Files.createTempDirectory("graft_pipeline_wap").toString
    val interp = s"$wh/fact_gold_price_interpolated"
    FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 1L).get
    def window(): Seq[String] =
      TxTable.snapshot(spark, interp).get
        .filter(floor(col("rounded_time_id") / 10000) === 10)
        .collect().map(_.toString).sorted.toSeq
    val (v1, _) = TxTable.latest(spark, interp)
    val before = window()
    assert(before.size === 12)
    // source 9's single tick leaves its group short of the grid
    val bad = goodEvents.unionByName(
      evts((6L, "9", "click", 70.0, "2024-01-15 06:32:00")))
    val r = FactPipeline.runHour(spark, bad, wh, D, hour = 10,
      runVersion = 2L)
    assert(r.failed.toOption.exists(_.isInstanceOf[GateViolation]), s"expected a gate violation: $r")
    assert(TxTable.latest(spark, interp)._1 === v1, "the failing hour published its window")
    assert(window() === before)
  }

  test("transactional mode: an hour with zero events succeeds as a no-op") {
    // An empty hour must succeed (empty batches are no-op commits) —
    // and it must not even publish a version for one.
    val wh = Files.createTempDirectory("graft_pipeline_empty").toString
    FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 1L).get
    val vFact = TxTable.latest(spark, s"$wh/fact_gold_price")._1
    val vInterp = TxTable.latest(spark, s"$wh/fact_gold_price_interpolated")._1

    val empty = FactPipeline.runHour(spark, goodEvents, wh, D, hour = 23,
      runVersion = 2L).get
    assert(empty.extracted === 0L)
    assert(empty.densifiedRows === 0L)
    assert(empty.gridMinutes === 0L)
    assert(TxTable.latest(spark, s"$wh/fact_gold_price")._1 === vFact)
    assert(TxTable.latest(spark, s"$wh/fact_gold_price_interpolated")._1 === vInterp)
  }

  test("transactional mode: the vacuum hook reclaims history past retention") {
    val wh = Files.createTempDirectory("graft_pipeline_vac").toString
    FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 1L).get
    FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
      runVersion = 2L,
      vacuumRetainVersions = Some(1)).get
    val fact = s"$wh/fact_gold_price"
    // retain-1 destroyed run 1's history (checkpoint-on-demand tip),
    // the data itself is intact
    assert(TxTable.snapshotAt(spark, fact, 1L).isEmpty)
    assert(TxTable.snapshot(spark, fact).get.count() === 5L)
  }

  test("late data retracts stale interpolated rows; same-second ticks both survive") {
    val wh = Files.createTempDirectory("graft_pipeline_late").toString
    // run 1: ticks only at wall minutes 10:00 and 10:05 → 10:01–10:04
    // generated
    val run1 = evts(
      (1L, "7", "click", 100.0, "2024-01-15 06:30:10"),
      (2L, "7", "click", 110.0, "2024-01-15 06:35:30"))
    FactPipeline.runHour(spark, run1, wh, D, hour = 10, runVersion = 1L).get
    val interpDir = s"$wh/fact_gold_price_interpolated"
    val before = snap(interpDir)
      .filter(col("rounded_time_id") === 100200)
      .select("price", "is_interpolated").as[(Double, Boolean)].collect().toSeq
    assert(before == Seq((104.0, true))) // linear 100→110 at minute 2 of 5

    // run 2 replays the hour with a LATE tick at 10:02 and a same-second
    // duplicate of tick 1 (distinct id, same source/side/second)
    val run2 = run1.unionByName(evts(
      (3L, "7", "click", 107.0, "2024-01-15 06:32:00"),
      (4L, "7", "click", 101.0, "2024-01-15 06:30:10")))
    FactPipeline.runHour(spark, run2, wh, D, hour = 10, runVersion = 2L).get

    // the stale generated row for 10:02 is GONE — the minute is actual
    val after = snap(interpDir)
      .filter(col("rounded_time_id") === 100200)
      .select("price", "is_interpolated").as[(Double, Boolean)].collect().toSeq
    assert(after == Seq((107.0, false)))
    // both same-second ticks survive as distinct actual rows
    val sameSecond = snap(interpDir)
      .filter(col("time_id") === 100010 && !col("is_interpolated"))
      .count()
    assert(sameSecond == 2L)
    // and nothing duplicated: 4 actuals + generated {10:01, 10:03, 10:04}
    assert(snap(interpDir).count() == 7L)
  }

  test("layout options: sorted row groups skip on a time probe, blooms exist, compaction merges") {
    import scala.jdk.CollectionConverters._
    val wh = Files.createTempDirectory("graft_pipeline_layout").toString
    // 20 sources with ticks at wall 10:00 and 10:59 → 60-minute grid ×
    // 20 groups = 1200 interpolated rows: enough for several row groups
    // under a tiny parquet block size
    val many = (1 to 20).flatMap { u =>
      Seq(
        (u * 100L, u.toString, "click", 100.0 + u, "2024-01-15 06:30:05"),
        (u * 100L + 1, u.toString, "click", 200.0 + u, "2024-01-15 07:29:55"))
    }
    val layout = graft.io.Layout(
      sortCols = Seq("rounded_time_id"),
      bloomCols = Seq("id"), bloomNdv = 4096L,
      rowGroupBytes = Some(1024L))
    FactPipeline.runHour(spark, evts(many: _*), wh, D, hour = 10,
      runVersion = 1L, layout = layout).get

    // the table's current files, found through its manifest
    def leafFiles(dir: String): Seq[java.io.File] =
      TxTable.latest(spark, dir)._2.values.toSeq.flatMap(leaf =>
        new java.io.File(dir, leaf).listFiles().filter(_.getName.endsWith(".parquet")))
    val interpDir = s"$wh/fact_gold_price_interpolated"
    val files = leafFiles(interpDir)
    assert(files.nonEmpty)

    val conf = spark.sessionState.newHadoopConf()
    def footerBlocks[A](fs: Seq[java.io.File])(
        f: (org.apache.parquet.hadoop.ParquetFileReader,
            org.apache.parquet.hadoop.metadata.BlockMetaData) => A): Seq[A] =
      fs.flatMap { file =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map(b => f(r, b))
        finally r.close()
      }
    // zone maps live on the INTERPOLATED table (sortCols survives its
    // canonical 7-column projection)
    val blocks = footerBlocks(files) { (_, b) =>
      val st = b.getColumns.asScala
        .find(_.getPath.toDotString == "rounded_time_id").get
        .getStatistics
        .asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
      (st.getMin, st.getMax)
    }
    assert(blocks.size >= 4, s"expected several row groups, got ${blocks.size}")
    // the bloom column `id` exists only on the FACT table — densify's
    // canonical projection drops the tick id, and Layout.restrictedTo
    // drops the bloom from the interpolated write accordingly
    val factFiles = leafFiles(s"$wh/fact_gold_price")
    assert(factFiles.nonEmpty)
    val factBlooms = footerBlocks(factFiles) { (r, b) =>
      val idChunk = b.getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      r.getBloomFilterDataReader(b).readBloomFilter(idChunk) != null
    }
    assert(factBlooms.nonEmpty && factBlooms.forall(identity),
      "id bloom filter missing from a fact row group")
    // the sorted layout makes min/max stats selective: a one-minute
    // probe (wall 10:03) must be skippable by most row groups
    val probe = 100300
    val matching = blocks.count { case (mn, mx) => mn <= probe && probe <= mx }
    assert(matching < blocks.size,
      s"no row group is skippable: $matching of ${blocks.size} match")
    assert(matching <= blocks.size / 2,
      s"sorted zone maps too loose: $matching of ${blocks.size} match the 1-minute probe")

    // replay the hour with compaction on: one file per leaf, with the
    // window-replaced rows intact
    val rowsBefore = snap(interpDir).count()
    FactPipeline.runHour(spark, evts(many: _*), wh, D, hour = 10,
      runVersion = 2L, layout = layout,
      compactTargetBytes = Some(128L << 20)).get
    val filesAfter = leafFiles(interpDir)
    assert(filesAfter.length == TxTable.latest(spark, interpDir)._2.size,
      s"compaction left ${filesAfter.length} files")
    assert(snap(interpDir).count() == rowsBefore)
  }

  test("transactional = false is refused and writes nothing") {
    val wh = Files.createTempDirectory("graft_pipeline_refused").toString
    var hooked = false
    intercept[IllegalArgumentException] {
      FactPipeline.runHour(spark, goodEvents, wh, D, hour = 10,
        runVersion = 1L, onFailure = _ => hooked = true, transactional = false)
    }
    assert(!hooked, "an argument error is not a failed run")
    assert(new java.io.File(wh).list().isEmpty)
  }

  test("a gate violation fails the run and fires the failure hook") {
    val wh = Files.createTempDirectory("graft_pipeline_bad").toString
    // source 9 has ONE tick → ineligible → its group generates nothing
    // → per-group completeness gate must throw
    val bad = goodEvents.unionByName(
      evts((6L, "9", "click", 70.0, "2024-01-15 06:32:00")))
    var failed: Option[Throwable] = None
    val r = FactPipeline.runHour(spark, bad, wh, D, hour = 10,
      runVersion = 1L, onFailure = e => failed = Some(e))
    assert(r.isFailure)
    assert(failed.exists(_.isInstanceOf[GateViolation]))
  }
}
