package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The nearest-two linear-interpolation kernel as a SQL-callable TABLE
  * function (Catalyst `Generator`) — the UDTF-shaped surface of
  * SURVEY.md §2.11: group in, variable rows out, usable from plain SQL
  * text via `LATERAL VIEW linear_interpolate(times, prices, grid)`.
  *
  * Inputs are per-group parallel arrays: `times` — the observed minute
  * encodings (HHmmss ints, assumed distinct; pre-aggregate multiple
  * ticks per minute to their exact decimal mean first), `prices` — the
  * per-minute prices aligned with `times` (entries may be NULL: a
  * minute whose every tick had NULL price still anchors gap geometry
  * but contributes NULL to values interpolated from it), `grid` — the
  * target minutes. One output row `(time_id, price)` per grid minute
  * NOT already present in `times`.
  *
  * Semantics are bit-identical to `ops/Interpolate.densify` and the
  * specs' typed kernel `TypedDensify` (same candidate order, same
  * tie-break toward the earlier minute, same IEEE expression shape —
  * InterpolatePropertySpec asserts the differential; the reference
  * behavior is
  * /root/reference/dags/etl/fact_gold_price.py:307-351): points are
  * time-sorted; for a missing minute m the two nearest by
  * |t − m| on the raw HHmmss encoding win, ties by sort position;
  * a single point flat-lines; eligibility (≥ 2 tick ROWS per group,
  * counting rows not minutes) is the CALLER's filter — this function
  * interpolates whatever group it is given, like the pandas kernel
  * inside the reference's per-group loop.
  *
  * Scale: evaluated once per GROUP row (after a collect_list
  * aggregation), emitting only the missing minutes — output-sized work
  * with per-group state bounded by the day's minute count, exactly like
  * the operator formulation.
  *
  * Two callers share the per-group kernel
  * ([[LinearInterpolateRows.interpolate]]): this generator, which
  * `ops/Interpolate.densifySql` (query `t8_interp_sql`) reaches through
  * SQL text, and the hourly pipeline's driver-side hour,
  * `ops/Interpolate.densifyHour`.
  */
case class LinearInterpolateRows(
    times: Expression, prices: Expression, grid: Expression)
  extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(times, prices, grid)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(times = newChildren(0), prices = newChildren(1), grid = newChildren(2))

  override def checkInputDataTypes(): TypeCheckResult = {
    def elemOf(e: Expression): Option[DataType] = e.dataType match {
      case ArrayType(t, _) => Some(t)
      case _ => None
    }
    (elemOf(times), elemOf(prices), elemOf(grid)) match {
      case (Some(IntegerType), Some(DoubleType), Some(IntegerType)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "linear_interpolate expects (array<int> times, array<double> prices, array<int> grid), got " +
          children.map(_.dataType.simpleString).mkString(", "))
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("time_id", IntegerType, nullable = false),
    StructField("price", DoubleType, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val tArr = times.eval(input).asInstanceOf[ArrayData]
    val pArr = prices.eval(input).asInstanceOf[ArrayData]
    val gArr = grid.eval(input).asInstanceOf[ArrayData]
    if (tArr == null || pArr == null || gArr == null) return Nil
    val n = tArr.numElements()
    require(pArr.numElements() == n,
      s"linear_interpolate: times ($n) and prices (${pArr.numElements()}) lengths differ")
    if (n == 0) return Nil

    // prices stay boxed so NULL propagates. NULL TIMES (or grid
    // minutes, below) are rejected loudly — ArrayData would silently
    // read a null slot as 0, fabricating a midnight point that skews
    // nearest-2 selection.
    val pts = Array.tabulate(n) { i =>
      require(!tArr.isNullAt(i),
        "linear_interpolate: times must not contain NULL")
      val p: java.lang.Double =
        if (pArr.isNullAt(i)) null else pArr.getDouble(i)
      (tArr.getInt(i), p)
    }
    val minutes = Array.tabulate(gArr.numElements()) { i =>
      require(!gArr.isNullAt(i),
        "linear_interpolate: grid must not contain NULL")
      gArr.getInt(i)
    }
    LinearInterpolateRows.interpolate(pts, minutes).map { case (m, price) =>
      new GenericInternalRow(Array[Any](m, price)): InternalRow
    }
  }
}

object LinearInterpolateRows {

  /** The kernel on one group: `points` are its (minute, price) pairs,
    * minutes distinct, in any order; prices may be NULL. Returns one
    * (minute, price) per `grid` minute absent from `points`, in grid
    * order. The pure form of [[LinearInterpolateRows.eval]], shared
    * with the driver-side hour (`ops/Interpolate.densifyHour`). */
  def interpolate(
      points: Array[(Int, java.lang.Double)],
      grid: Array[Int]): Vector[(Int, java.lang.Double)] = {
    if (points.isEmpty) return Vector.empty
    val pts = points.sortBy(_._1)
    val existing = pts.map(_._1).toSet
    val out = Vector.newBuilder[(Int, java.lang.Double)]
    var gi = 0
    while (gi < grid.length) {
      val m = grid(gi)
      gi += 1
      if (!existing.contains(m)) {
        // two smallest by (|t − m|, sort position) — the numpy-argsort
        // stable order the typed kernel replicates
        var i1 = -1; var d1 = Long.MaxValue
        var i2 = -1; var d2 = Long.MaxValue
        var i = 0
        while (i < pts.length) {
          val d = math.abs(pts(i)._1.toLong - m)
          if (d < d1) { i2 = i1; d2 = d1; i1 = i; d1 = d }
          else if (d < d2) { i2 = i; d2 = d }
          i += 1
        }
        val (t1, p1) = pts(i1)
        val price: java.lang.Double =
          if (i2 < 0) p1
          else {
            val (t2, p2) = pts(i2)
            if (t2 == t1) p1
            else if (p1 == null || p2 == null) null
            else {
              val a = p1.doubleValue(); val b = p2.doubleValue()
              // identical IEEE expression shape to the typed kernel
              a + (m - t1) * (b - a) / (t2 - t1)
            }
          }
        out += ((m, price))
      }
    }
    out.result()
  }
}
