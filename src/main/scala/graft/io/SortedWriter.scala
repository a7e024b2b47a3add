package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sort-ordered parquet layout — the zone-map lever for predicates on
  * NON-partition columns.
  *
  * Partitioning (TxTable's partition leaves) prunes files and DPP
  * prunes them through joins, but both stop at the partition key. For
  * every other selective column the only scan-side reduction parquet
  * offers is row-group min/max statistics — and those are useless
  * under a random row order, because every row group then spans the
  * whole value range and no filter can skip anything. Writing each
  * file sorted by the query-predicate column makes row-group stats
  * tight and disjoint, so a pushed range predicate skips all but the
  * matching groups at the reader, before any row surfaces.
  *
  * At 100 TB this is the difference between "scan the partition" and
  * "scan the row groups that can match" for time-range / id-range
  * probes on a column the layout isn't partitioned by. The write-side
  * cost is one sortWithinPartitions — no exchange, each task sorts its
  * own output.
  */
object SortedWriter {

  /** Write `df` with rows sorted by `sortCols` within each output file.
    *
    * @param rowGroupBytes parquet block (row-group) size; smaller
    *   groups = finer skipping granularity at slightly more footer
    *   overhead. The 128 MB default is tuned for full-scan throughput;
    *   probe-heavy tables want 8–32 MB.
    */
  def writeSorted(
      df: DataFrame, path: String, sortCols: Seq[String],
      rowGroupBytes: Long = 32L * 1024 * 1024): Unit =
    df.sortWithinPartitions(sortCols.map(col): _*)
      .write
      .option("parquet.block.size", rowGroupBytes)
      .mode("overwrite")
      .parquet(path)

  /** Write `df` with a parquet bloom filter on each of `bloomCols` —
    * the third layout lever, complementing zone maps (sorted / Z-order
    * layouts): a POINT probe on a high-cardinality column in random
    * order gets nothing from min/max statistics (every row group spans
    * the whole range), but a per-group bloom filter rejects groups that
    * cannot contain the key at the reader, before any row surfaces.
    * The cost is ~1.1 bytes/value of footer per column at the default
    * 1% false-positive rate — paid once at write, saved on every probe.
    * Range predicates get nothing from blooms; pick the lever per
    * column: sort the range-probed column, bloom the equality-probed
    * ones (id lookups, dedup-key membership, GDPR subject scans).
    *
    * @param expectedNdv approximate distinct values per column — sizes
    *   the filter; overestimating wastes footer bytes, underestimating
    *   raises the false-positive rate toward useless.
    */
  def writeWithBloom(
      df: DataFrame, path: String, bloomCols: Seq[String],
      expectedNdv: Long,
      rowGroupBytes: Long = 32L * 1024 * 1024): Unit = {
    val w = df.write.option("parquet.block.size", rowGroupBytes)
    bloomCols.foldLeft(w) { (acc, c) =>
        acc.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
      }
      .mode("overwrite")
      .parquet(path)
  }

  // ---- Z-order (multi-dimensional) layout --------------------------

  /** Morton bit-spread: place the low 16 bits of `x` into the even bit
    * positions (magic-mask doubling — five codegen'd bitwise ops). */
  private def part1by1(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFF))
    val b = (a.bitwiseOR(shiftleft(a, 8))).bitwiseAND(lit(0x00FF00FF))
    val c = (b.bitwiseOR(shiftleft(b, 4))).bitwiseAND(lit(0x0F0F0F0F))
    val d = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(lit(0x33333333))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555))
  }

  /** Interleave two 16-bit bucket columns into one 32-bit Morton
    * (Z-curve) value. Inputs must already be in [0, 65535]. */
  def zvalue(x: Column, y: Column): Column =
    shiftleft(part1by1(y).cast("long"), 1)
      .bitwiseOR(part1by1(x).cast("long"))

  /** N-dimensional Morton interleave: bit `b*N + i` of the result is
    * bit `b` of column `i` — the [[zvalue]] layout generalized. 16 bits
    * per dimension, so up to 4 dimensions fit one long (and 4 is past
    * the point where Z-order pays anyway: each added dimension thins
    * every dimension's share of the row-group bounding box, the
    * standard lake-format guidance of 2–3 Z-columns). The 2-D call
    * takes the magic-mask fast path; the general form is a plain
    * bit-gather — 16 shift/and/or triples per dimension, all codegen'd
    * long arithmetic. */
  def zvalueN(cols: Seq[Column]): Column = cols match {
    case Seq(single) => single.cast("long").bitwiseAND(lit(0xFFFFL))
    case Seq(x, y) => zvalue(x, y)
    case cs =>
      require(cs.size <= 4, s"z-order supports 1-4 columns, got ${cs.size}")
      val n = cs.size
      cs.zipWithIndex.map { case (c, i) =>
        val x = c.cast("long").bitwiseAND(lit(0xFFFFL))
        (0 until 16).map(b =>
          shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), b * n + i): Column)
          .reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered on the Z-curve of TWO columns.
    *
    * A single-column sort gives perfect row-group skipping on that
    * column and none on any other; the Z-order layout trades a little
    * of each for usable skipping on BOTH — a range probe on either
    * dimension touches ~√G of G row groups instead of all of them,
    * because each group's (x, y) bounding box is tight in both
    * coordinates. This is the standard lake-layout answer when two
    * independent probe columns matter (id + time, tenant + date) and
    * only one can own the directory partitioning.
    *
    * Mechanics: one stats pass finds each column's min/max (at lake
    * scale these come from table metadata instead); values are scaled
    * to 16-bit buckets — rank precision beyond the row-group count is
    * wasted, so 65536 buckets is plenty for any real file count; the
    * interleaved z-value drives a range repartition + in-partition
    * sort, then drops out of the written schema. All per-row work is
    * five bitwise ops per dimension, fully codegen'd.
    *
    * @param numFiles output file count. Defaults to the cluster's
    *   parallelism, but at lake scale it should target a file SIZE
    *   (total bytes / 128–1024 MB): finer files mean tighter per-file
    *   bounding boxes and better skipping, independent of how many
    *   cores happened to run the write.
    */
  def writeZOrdered(
      df: DataFrame, path: String, xCol: String, yCol: String,
      rowGroupBytes: Long = 32L * 1024 * 1024,
      numFiles: Option[Int] = None): Unit = {
    // Bounds are collected on the driver (one 4-value row — at lake
    // scale they'd come from table metadata) and inlined as literals:
    // no stats cross-join, and no internal stat-column names that
    // could collide with or shadow the user's schema.
    val statsRow = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    def bound(i: Int): Double =
      if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
    val (xmin, xmax, ymin, ymax) = (bound(0), bound(1), bound(2), bound(3))
    def bucket(c: Column, lo: Double, hi: Double): Column =
      if (hi > lo)
        floor((c.cast("double") - lit(lo)) / lit(hi - lo) * 65535).cast("int")
      else lit(0)
    // internal clustering column: name guaranteed absent from the schema
    val zCol = Iterator.from(0).map(i => s"__z$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(zCol, zvalue(
        bucket(col(xCol), xmin, xmax),
        bucket(col(yCol), ymin, ymax)))
      .repartitionByRange(
        numFiles.getOrElse(df.sparkSession.sparkContext.defaultParallelism),
        col(zCol))
      .sortWithinPartitions(col(zCol))
      .drop(zCol)
      .write
      .option("parquet.block.size", rowGroupBytes)
      .mode("overwrite")
      .parquet(path)
  }
}
