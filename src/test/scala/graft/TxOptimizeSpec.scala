package graft

import java.nio.file.Files

import graft.io.{Layout, TxTable}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The transactional OPTIMIZE ZORDER (io/TxTable.optimizeZOrderBy):
  * rows-preserving at the manifest level (diff emits nothing), and the
  * physical claim measured on footers — post-optimize row groups carry
  * tight (x, y) bounding boxes where the pre-optimize write's spanned
  * the full plane.
  */
class TxOptimizeSpec extends SparkTestBase {

  /** Per-row-group widths of each probe column, across every live leaf
    * of the table: one Seq per row group, widths in `cols` order. */
  private def rowGroupWidths(dir: String, cols: Seq[String]): Seq[Seq[Double]] = {
    val conf = spark.sessionState.newHadoopConf()
    val leaves = TxTable.latest(spark, dir)._2.values.toSeq
    leaves.flatMap { leaf =>
      val d = new java.io.File(dir, leaf)
      d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          cols.map { c =>
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == c).get.getStatistics
              .asInstanceOf[org.apache.parquet.column.statistics.DoubleStatistics]
            st.getMax - st.getMin
          }
        } finally r.close()
      }
    }
  }

  /** Mean row-group bounding-box area over BOTH probe dimensions,
    * across every live leaf of the table. */
  private def meanBboxArea(dir: String): Double = {
    val areas = rowGroupWidths(dir, Seq("x", "y")).map(w => w.head * w(1))
    areas.sum / areas.size
  }

  test("optimizeZOrder preserves rows, commits one version, and tightens both dimensions' zone maps") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_zo").toString + "/fact"
    // (x, y) deliberately interleaved in row order: any contiguous run
    // of rows spans nearly the full plane, so the pre-optimize row
    // groups are useless for either dimension's skipping
    val rows = (1L to 20000L)
      .map(i => (i, (i % 97).toDouble, ((i * 53) % 101).toDouble, (i % 2).toInt))
      .toDF("id", "x", "y", "part")
    val lay = Layout(rowGroupBytes = Some(16L * 1024))
    TxTable.upsert(s, dir, rows, "id", "id", "part", layout = lay)
    val before = meanBboxArea(dir)
    val snapBefore = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq

    TxTable.optimizeZOrderBy(s, dir, "part", Seq("x", "y"), layout = lay)

    assert(TxTable.latestVersion(s, dir) == 2L)
    val snapAfter = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq
    assert(snapAfter == snapBefore, "optimize changed rows")
    assert(TxTable.diff(s, dir, 1L, 2L, "id").count() == 0,
      "rows-preserving rewrite must diff to nothing")
    val after = meanBboxArea(dir)
    assert(after < before / 2.0,
      s"z-order did not tighten row-group bounding boxes: $before -> $after")
  }

  test("optimizeZOrder on an empty or never-committed table is a no-op") {
    val s = spark
    val dir = Files.createTempDirectory("graft_tx_zo_empty").toString + "/fact"
    TxTable.optimizeZOrderBy(s, dir, "part", Seq("x", "y"))
    assert(TxTable.latestVersion(s, dir) == 0L)
  }

  test("where-scoped optimize rewrites only matching leaves; untouched leaves keep file identity") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_zo_where").toString + "/fact"
    val rows = (1L to 8000L)
      .map(i => (i, (i % 97).toDouble, ((i * 53) % 101).toDouble,
        f"2024-01-${1 + (i % 4)}%02d"))
      .toDF("id", "x", "y", "day")
    TxTable.upsert(s, dir, rows, "id", "id", "day")
    val before = TxTable.latest(s, dir)._2
    val snapBefore = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq

    TxTable.optimizeZOrderBy(s, dir, "day", Seq("x", "y"),
      where = Some(col("day") >= "2024-01-03"))

    assert(TxTable.latestVersion(s, dir) == 2L, "one maintenance commit")
    val after = TxTable.latest(s, dir)._2
    val rewritten = after.filter { case (k, leaf) => before(k) != leaf }
    val kept = after.filter { case (k, leaf) => before(k) == leaf }
    assert(rewritten.size == 2 && kept.size == 2,
      s"expected 2 rewritten + 2 identical leaves, got ${rewritten.size}/${kept.size}")
    // the KEPT leaves are exactly the non-matching days — their files
    // were never read, never staged, never re-pointed
    val keptDays = s.read.parquet(kept.values.map(l => s"$dir/$l").toSeq: _*)
      .select("day").distinct().as[String].collect().toSet
    assert(keptDays == Set("2024-01-01", "2024-01-02"), keptDays.toString)
    // rows-preserving whatever the scope
    val snapAfter = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq
    assert(snapAfter == snapBefore, "scoped optimize changed rows")
    assert(TxTable.diff(s, dir, 1L, 2L, "id").count() == 0)
    // a scope matching nothing publishes nothing
    TxTable.optimizeZOrderBy(s, dir, "day", Seq("x", "y"),
      where = Some(col("day") === "1999-12-31"))
    assert(TxTable.latestVersion(s, dir) == 2L, "empty scope must not commit")
  }

  test("a scoped optimize losing the CAS race re-scopes against the winner and never clobbers it") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_zo_race").toString + "/fact"
    val rows = (1L to 4000L)
      .map(i => (i, (i % 97).toDouble, ((i * 53) % 101).toDouble,
        f"2024-01-${1 + (i % 4)}%02d"))
      .toDF("id", "x", "y", "day")
    TxTable.upsert(s, dir, rows, "id", "id", "day")
    val snapBefore = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq

    // a writer lands a NEW row inside the optimize's race window, in a
    // day the optimize is NOT scoped to — the optimize must lose its
    // CAS, re-read the winner's manifest, re-stage only its scope, and
    // the winner's row must survive
    FaultStore.racing(dir) {
      TxTable.upsert(s, dir,
        Seq((9001L, 1.0, 2.0, "2024-01-01")).toDF("id", "x", "y", "day"),
        "id", "id", "day")
    } {
      TxTable.optimizeZOrderBy(s, dir, "day", Seq("x", "y"),
        where = Some(col("day") >= "2024-01-03"))
    }

    // versions: 1 bootstrap, 2 racing upsert, 3 the optimize's retry
    assert(TxTable.latestVersion(s, dir) === 3L)
    val after = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq
    assert(after.length === snapBefore.length + 1,
      "the racing writer's row was lost or duplicated")
    assert(after.exists(_.startsWith("[9001,")),
      "the racing writer's row is missing from the final snapshot")
    // the optimize's final commit is a DELTA of its scope only — the
    // winner-touched day-01 leaf keeps the winner's file identity
    val v2 = TxTable.snapshotAt(s, dir, 2L).get
      .collect().map(_.toString).sorted.toSeq
    assert(after === v2.sorted, "optimize changed rows across the race")
    assert(TxTable.diff(s, dir, 2L, 3L, "id").count() === 0,
      "the retried scoped optimize must still be rows-preserving")
  }

  test("3-column z-order tightens zone maps on all three probe dimensions") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_tx_zo3").toString + "/fact"
    // three mutually interleaved value sequences: any contiguous run of
    // rows spans nearly the full cube in every coordinate
    val rows = (1L to 20000L)
      .map(i => (i, (i % 97).toDouble, ((i * 53) % 101).toDouble,
        ((i * 29) % 89).toDouble, 0))
      .toDF("id", "x", "y", "w", "part")
    val lay = Layout(rowGroupBytes = Some(16L * 1024))
    TxTable.upsert(s, dir, rows, "id", "id", "part", layout = lay)
    def meanWidths(): Seq[Double] = {
      val ws = rowGroupWidths(dir, Seq("x", "y", "w"))
      Seq(0, 1, 2).map(i => ws.map(_(i)).sum / ws.size)
    }
    val before = meanWidths()
    val snapBefore = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq

    TxTable.optimizeZOrderBy(s, dir, "part", Seq("x", "y", "w"), layout = lay)

    val snapAfter = TxTable.snapshot(s, dir).get
      .collect().map(_.toString).sorted.toSeq
    assert(snapAfter == snapBefore, "3-D optimize changed rows")
    assert(TxTable.diff(s, dir, 1L, 2L, "id").count() == 0)
    val after = meanWidths()
    Seq("x", "y", "w").zipWithIndex.foreach { case (c, i) =>
      assert(after(i) < before(i) * 0.6,
        s"dimension $c not tightened: ${before(i)} -> ${after(i)}")
    }
  }

  test("zvalueN(3) matches a bit-level reference interleave") {
    import graft.io.SortedWriter
    val samples = Seq(
      (1, 0, 0), (0, 1, 0), (0, 0, 1), (65535, 0, 0), (0, 65535, 0),
      (0, 0, 65535), (12345, 54321, 9876), (65535, 65535, 65535))
    def ref(a: Int, b: Int, c: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, bit) =>
        acc |
          (((a >> bit) & 1L) << (bit * 3)) |
          (((b >> bit) & 1L) << (bit * 3 + 1)) |
          (((c >> bit) & 1L) << (bit * 3 + 2))
      }
    val s = spark; import s.implicits._
    val got = samples.toDF("a", "b", "c")
      .select(SortedWriter.zvalueN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .as[Long].collect().toSeq
    assert(got == samples.map { case (a, b, c) => ref(a, b, c) })
  }
}
