package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Morton (Z-curve) interleave behind the Z-order layout
  * ([[TxTable.optimizeZOrderBy]]).
  *
  * A single-column sort gives perfect row-group skipping on that column
  * and none on any other; clustering rows on the interleaved bits of
  * several columns trades a little of each for usable skipping on all
  * of them — a range probe on either of two dimensions touches ~√G of G
  * row groups, because each group's bounding box is tight in every
  * coordinate. Inputs are 16-bit buckets (rank precision beyond the
  * row-group count is wasted, so 65536 buckets is plenty for any real
  * file count); all per-row work is a few codegen'd bitwise ops per
  * dimension.
  */
object SortedWriter {

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
}
