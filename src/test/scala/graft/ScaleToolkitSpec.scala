package graft

import java.nio.file.Files

import graft.io.{BucketedWriter, Layout, TxTable}
import graft.ops.Skew
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale techniques that only show up under load: salting for skewed
  * aggregation keys (result-identical to the direct plan), bucketed
  * co-located joins (exchange-free by plan inspection), and dynamic
  * partition pruning through a dimension join (partition-count by plan
  * inspection).
  */
class ScaleToolkitSpec extends SparkTestBase {

  test("a dim-filter join dynamically prunes fact partitions") {
    // A hive-partitioned lake (fact partitioned by date_id) must let
    // a selective dim filter prune fact partitions
    // THROUGH the join at runtime — on a 100 TB fact this is the
    // difference between scanning one day and scanning the lake.
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_dpp").toString
    (1 to 3000).map(i => (i.toLong, 20240101 + i % 30, i * 1.5))
      .toDF("id", "date_id", "v")
      .write.partitionBy("date_id").parquet(s"$base/fact")
    (0 until 30).map(d => (20240101 + d, if (d == 4) 1 else 0))
      .toDF("date_id", "yesterday")
      .write.parquet(s"$base/dim")
    val dim = spark.read.parquet(s"$base/dim")

    val joined = spark.read.parquet(s"$base/fact")
      .join(dim.filter(col("yesterday") === 1), Seq("date_id"))
    // execute THIS dataframe's plan (df.count() would build a separate
    // aggregate plan and leave joined's AQE plan unfinalized)
    assert(joined.queryExecution.toRdd.count() === 100)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
    // the fact scan's own metric must report ONE partition read, not
    // 30 — found via the final adaptive plan, and REQUIRED to exist so
    // a pruning regression can't hide behind a missing metric
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // AQE wraps materialized stages in QueryStageExec LEAF nodes, so a
    // plain collect stops at the stage boundary — descend through them
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val factScans = allNodes(finalPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("fact")) => f
    }
    assert(factScans.nonEmpty, s"no fact FileSourceScanExec in:\n$finalPlan")
    val partsRead = factScans.head.metrics.getOrElse("numPartitions",
      fail("fact scan reports no numPartitions metric")).value
    assert(partsRead === 1, s"fact scan read $partsRead partitions")
  }

  test("a selective dim filter injects a runtime bloom filter into the fact scan") {
    // DPP (above) prunes PARTITIONS through a join; the runtime bloom
    // filter is its row-level sibling for non-partition join keys: the
    // filtered dim side builds a bloom filter that is pushed into the
    // fact scan, so most fact rows die at the scan instead of crossing
    // the join's exchange. On a 100 TB fact joined on a non-layout key
    // this is the only scan-side reduction available. Thresholds are
    // lowered because the lake-sized defaults (10 GB application side)
    // would never fire on test data.
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_bloom").toString
    (1 to 50000).map(i => (i.toLong % 1000, i * 1.5)).toDF("k", "v")
      .write.parquet(s"$base/fact")
    (0 until 1000).map(d => (d.toLong, if (d < 10) 1 else 0)).toDF("k", "sel")
      .write.parquet(s"$base/dim")

    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    // broadcast disabled: the bloom filter targets shuffle joins (a
    // broadcast join already filters at the probe)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val joined = spark.read.parquet(s"$base/fact")
        .join(spark.read.parquet(s"$base/dim").filter(col("sel") === 1), Seq("k"))
      assert(joined.queryExecution.toRdd.count() === 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter reached the fact side:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE splits a skewed join partition at runtime") {
    // Salting (below) is the MANUAL skew tool for aggregation; for
    // joins the engine's first line of defense is AQE's skew-join
    // splitting — one oversized partition is divided among several
    // tasks, each re-reading a slice against the full build side.
    // Thresholds are lowered to make a local corpus register as skewed;
    // at lake scale the 256 MB defaults do the same job.
    val s = spark
    import s.implicits._
    // key 0 carries 95% of the left side
    val left = (1 to 40000).map(i =>
      (if (i % 20 == 0) (i % 7 + 1).toLong else 0L, i.toLong)).toDF("k", "l")
    val right = (0 to 7).map(k => (k.toLong, s"r$k")).toDF("k", "r")
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try {
      val joined = left.join(right, Seq("k"))
      assert(joined.queryExecution.toRdd.count() === 40000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("salted aggregation equals direct aggregation on a 90%-skewed key") {
    val s = spark
    import s.implicits._
    // hot key 0 carries ~90% of rows
    val df = (1 to 5000).map { i =>
      val k = if (i % 10 == 0) i % 7 + 1 else 0
      (k, i.toLong, (i % 400) / 100.0 * 25)
    }.toDF("k", "id", "v")

    val salted = Skew.saltedStats(df, Seq("k"), "v", col("id"), buckets = 16)
    val direct = df.groupBy("k").agg(
      sum(col("v").cast("decimal(28,10)")).cast("double").as("sum_v"),
      count(col("v")).as("cnt_v"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty,
      "salted two-stage aggregation diverges from the direct plan")
  }

  // ---- footer helpers for the measured-layout tests ----------------
  // The layout claims (tight zone maps, per-group blooms) are properties
  // of the WRITTEN FILES, so they are asserted on re-read footer
  // metadata — a deterministic function of the layout — rather than on
  // live scan metrics, which race the async listener bus and had a
  // history of load-sensitive flakes under full-suite parallel runs.
  import scala.jdk.CollectionConverters._
  private def footerBlocks[A](path: String)(
      f: (org.apache.parquet.hadoop.ParquetFileReader,
          org.apache.parquet.hadoop.metadata.BlockMetaData) => A): Seq[A] = {
    val conf = spark.sessionState.newHadoopConf()
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.flatMap { file =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map(b => f(r, b))
        finally r.close()
      }
  }

  /** Rows a min/max-pruning reader must surface for `lo <= c <= hi`:
    * the row counts of groups whose [min, max] overlaps the probe. */
  private def statSurfacedRows(path: String, c: String, lo: Long, hi: Long)
      : (Long, Long) = {
    val perGroup = footerBlocks(path) { (_, b) =>
      val st = b.getColumns.asScala.find(_.getPath.toDotString == c).get
        .getStatistics.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
      (b.getRowCount, st.getMin <= hi && lo <= st.getMax)
    }
    (perGroup.collect { case (n, true) => n }.sum, perGroup.map(_._1).sum)
  }

  /** The one leaf directory of a one-partition TxTable at `dir`. */
  private def onlyLeaf(dir: String): String =
    s"$dir/${TxTable.latest(spark, dir)._2.values.toSeq match { case Seq(l) => l }}"

  /** `rows` committed as a one-partition TxTable under `layout`; returns
    * its leaf directory. */
  private def txLeaf(dir: String, rows: DataFrame, layout: Layout): String = {
    TxTable.replaceAll(spark, dir, rows.withColumn("part", lit(0)), "part", layout)
    onlyLeaf(dir)
  }

  test("sorted layout lets row-group statistics skip most of a range scan") {
    // Layout's zone-map claim, measured on footers: the same rows
    // written sorted (a TxTable commit under `sortCols`) vs shuffled by
    // the predicate column, same small row groups — under the sorted
    // layout only a small fraction of rows live in groups whose min/max
    // overlaps a narrow range probe, while under the shuffled layout
    // every group spans the range
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_sorted").toString
    val rows = (1 to 300000).map(i => (i.toLong, i.toLong, s"payload_$i"))
      .toDF("k", "id", "pay")
    val sortedLeaf = txLeaf(s"$base/sorted", rows.repartition(1),
      Layout(sortCols = Seq("k"), rowGroupBytes = Some(1L << 20)))
    // same row groups, adversarial order: k scattered by hash so every
    // group's min/max spans the whole range
    rows.repartition(1).sortWithinPartitions(xxhash64(col("k")))
      .write.option("parquet.block.size", 1L << 20)
      .mode("overwrite").parquet(s"$base/shuffled")

    // both layouts return the same answer through a live scan
    def answer(df: DataFrame): Long = df.filter(col("k").between(1000, 2000)).count()
    assert(answer(TxTable.snapshot(spark, s"$base/sorted").get) === 1001L)
    assert(answer(spark.read.parquet(s"$base/shuffled")) === 1001L)

    val (sorted, totalS) = statSurfacedRows(sortedLeaf, "k", 1000, 2000)
    val (shuffled, totalH) = statSurfacedRows(s"$base/shuffled", "k", 1000, 2000)
    assert(totalS === 300000L && totalH === 300000L)
    assert(shuffled === 300000L,
      s"shuffled control unexpectedly skips ($shuffled of $totalH) — control broken")
    // sorted groups are disjoint in k, so a 1001-key probe can overlap
    // at most two of the ~10 groups — 5x is the structural floor with a
    // full group of headroom, stable against writer flush-cadence shifts
    assert(sorted * 5 <= shuffled,
      s"sorted layout surfaces $sorted rows vs $shuffled shuffled — zone maps are not tight")
  }

  test("z-order layout skips row groups on BOTH probe dimensions") {
    // the z-curve claim, measured on footers: one layout, two
    // independent probe columns, both get row-group skipping — where a
    // single-column sort gives skipping on its own column and none on
    // the other. OPTIMIZE ZORDER lays the rows along the curve in 32 KB
    // row groups, ~256 of them, each a z-slice whose (x, y) bounding
    // box is ~1/16 of either dimension, so a 1%-wide probe structurally
    // overlaps at most ~2/16 of the groups even where a slice straddles
    // z-cell edges — the 4x floors below hold with 2x headroom.
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_zorder").toString
    val rows = (1 to 300000).map { i =>
      val x = (i * 2654435761L) % 100000L        // Knuth-scrambled
      val y = (i * 1103515245L + 12345L) % 100000L
      (x, y, s"payload_$i", 0)
    }.toDF("x", "y", "pay", "part")
    TxTable.replaceAll(spark, s"$base/zorder", rows, "part")
    TxTable.optimizeZOrderBy(spark, s"$base/zorder", "part", Seq("x", "y"),
      Layout(rowGroupBytes = Some(32L * 1024)))
    // control: sorted by x only — perfect on x, blind on y
    val xsortedLeaf = txLeaf(s"$base/xsorted", rows.drop("part").repartition(1),
      Layout(sortCols = Seq("x"), rowGroupBytes = Some(1L << 20)))

    val zLeaf = onlyLeaf(s"$base/zorder")
    val (blindY, totalC) = statSurfacedRows(xsortedLeaf, "y", 40000, 41000)
    val (zX, totalZ) = statSurfacedRows(zLeaf, "x", 40000, 41000)
    val (zY, _) = statSurfacedRows(zLeaf, "y", 40000, 41000)
    assert(totalC === 300000L && totalZ === 300000L)
    assert(blindY === 300000L,
      s"x-sorted control unexpectedly skips on y ($blindY) — control broken")
    assert(zX * 4 <= blindY,
      s"z-order x-probe surfaces $zX rows vs $blindY unskipped — weak x skipping")
    assert(zY * 4 <= blindY,
      s"z-order y-probe surfaces $zY rows vs $blindY unskipped — weak y skipping")
    // and the same answers come back through a live scan
    def answer(t: String): Long = TxTable.snapshot(spark, s"$base/$t").get
      .filter(col("x").between(40000, 41000)).count()
    assert(answer("zorder") === answer("xsorted"))
  }

  test("salted join is row-identical to the direct join on a skewed key") {
    val s = spark
    import s.implicits._
    // 90% of big-side rows hit key 1 — the hot-key shape
    val big = (1 to 20000).map { i =>
      (if (i % 10 == 0) (i % 50).toLong else 1L, i.toLong)
    }.toDF("k", "payload")
    val dim = (0L to 49L).map(k => (k, s"name_$k")).toDF("dk", "name")
    val salted = graft.ops.Skew
      .saltedJoin(big, dim, "k", "dk", discriminator = col("payload"), buckets = 16)
    val direct = big.join(dim, col("k") === col("dk"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty,
      "salted join diverges from the direct join")
    // the physical join key must carry the salt (two equi-conditions)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"salt column missing from the join plan:\n$plan")
  }

  test("optimizeZOrderBy tolerates user columns named like its internals") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_zcollide").toString
    // __z0 is the first z-column name optimizeZOrderBy tries: it and
    // xmin must survive as user data, the partition column included
    val rows = (1 to 5000).map(i => (i.toLong, (i * 7 % 5000).toLong,
      s"xmin_$i", i % 3)).toDF("x", "y", "xmin", "__z0")
    TxTable.replaceAll(spark, s"$base/z", rows, "__z0")
    TxTable.optimizeZOrderBy(spark, s"$base/z", "__z0", Seq("x", "y"))
    val back = TxTable.snapshot(spark, s"$base/z").get
    assert(back.columns.sorted.toSeq === Seq("__z0", "x", "xmin", "y"))
    assert(back.count() === 5000)
    assert(back.exceptAll(rows).isEmpty && rows.exceptAll(back).isEmpty,
      "z-order write corrupted rows under colliding column names")
  }

  test("salted ops never shadow a user column named _salt") {
    val s = spark
    import s.implicits._
    // the user's own `_salt` column must ride through the join intact —
    // a fixed internal name would silently replace then drop it
    val big = (1 to 1000).map(i => (i % 5L, i.toLong, s"u$i"))
      .toDF("k", "payload", "_salt")
    val dim = (0L to 4L).map(k => (k, s"name_$k")).toDF("dk", "name")
    val salted = graft.ops.Skew
      .saltedJoin(big, dim, "k", "dk", discriminator = col("payload"), buckets = 4)
    assert(salted.columns.count(_ == "_salt") === 1,
      "user _salt column was dropped or duplicated")
    val direct = big.join(dim, col("k") === col("dk"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty,
      "salted join with user _salt diverges from the direct join")
    // and saltedStats stays correct when the GROUPING KEY collides with
    // an internal partial-aggregate alias (and _salt is also taken)
    val statsDf = big.withColumnRenamed("k", "_psum")
    val stats = graft.ops.Skew.saltedStats(
      statsDf, Seq("_psum"), "payload",
      discriminator = col("payload"), buckets = 4)
    val want = statsDf.groupBy("_psum").agg(
      sum(col("payload").cast("double")).as("sum_payload"),
      count(col("payload")).as("cnt_payload"),
      min(col("payload")).as("min_payload"),
      max(col("payload")).as("max_payload"))
    assert(stats.exceptAll(want).isEmpty && want.exceptAll(stats).isEmpty,
      "saltedStats diverges when internal names collide")
  }

  test("parquet bloom filters skip row groups for point probes on unsorted columns") {
    // the third layout lever, complementing zone maps (sorted/z-order):
    // a point probe on a HIGH-CARDINALITY column in RANDOM order gets
    // nothing from min/max stats — every group spans the range — but a
    // per-group bloom filter rejects groups that cannot contain the key
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_bloom").toString
    val rows = (1 to 300000).map(i => ((i * 2654435761L) % 1000000L, s"payload_$i"))
      .toDF("k", "pay")
    val bloomLeaf = txLeaf(s"$base/bloom", rows.repartition(1),
      Layout(bloomCols = Seq("k"), bloomNdv = 300000, rowGroupBytes = Some(1L << 20)))
    rows.repartition(1).write
      .option("parquet.block.size", 1L << 20)
      .mode("overwrite").parquet(s"$base/plain")

    // min/max stats are useless on both layouts (every group spans the
    // domain) — the plain layout proves it
    val (statRows, total) = statSurfacedRows(s"$base/plain", "k", 999983L, 999983L)
    assert(statRows === total,
      s"plain control skipped via stats ($statRows of $total) — probe not adversarial")
    // ...but the bloom layout carries a per-group filter that rejects
    // the probe key in (at least) most groups: at a 1% false-positive
    // rate the chance of even half the groups false-matching is nil, so
    // the half floor is structural, not tuned
    val verdicts = footerBlocks(bloomLeaf) { (r, b) =>
      val kChunk = b.getColumns.asScala.find(_.getPath.toDotString == "k").get
      val bf = r.getBloomFilterDataReader(b).readBloomFilter(kChunk)
      assert(bf != null, "k bloom filter missing from a row group")
      bf.findHash(bf.hash(999983L))
    }
    val rejected = verdicts.count(v => !v)
    assert(verdicts.size >= 2, s"expected several row groups, got ${verdicts.size}")
    assert(rejected * 2 >= verdicts.size,
      s"bloom rejected only $rejected of ${verdicts.size} groups — bloom skipping is not engaging")
    // and the probe answer itself is layout-independent
    assert(TxTable.snapshot(spark, s"$base/bloom").get.filter(col("k") === 999983L).count() ===
      spark.read.parquet(s"$base/plain").filter(col("k") === 999983L).count())
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_buckets").toString
    val facts = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "a")
    val other = (1 to 1000).map(i => (i.toLong, i * 3.0)).toDF("id", "b")
    BucketedWriter.writeBucketed(facts, s"$base/t_a", "bkt_a", "id", 8)
    BucketedWriter.writeBucketed(other, s"$base/t_b", "bkt_b", "id", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
