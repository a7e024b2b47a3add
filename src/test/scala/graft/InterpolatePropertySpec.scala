package graft

import graft.ops.{Interpolate, TypedDensify}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Randomized differential testing of the interpolation operator: the
  * declarative plan must match the numpy-faithful typed kernel, the SQL
  * generator and the driver-side hour function (`densifyHour`)
  * bit-for-bit on adversarial inputs — duplicate minutes, NULL side
  * groups, 1-tick and single-minute groups, head/tail gaps, equidistant
  * ties — across several seeded corpora (deterministic, no flaky
  * generators).
  */
class InterpolatePropertySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("source_id", IntegerType, nullable = true),
    StructField("side_id", IntegerType, nullable = true),
    StructField("date_id", IntegerType, nullable = false),
    StructField("time_id", IntegerType, nullable = false),
    StructField("rounded_time_id", IntegerType, nullable = false),
    StructField("price", DoubleType, nullable = true),
    StructField("is_interpolated", BooleanType, nullable = false)))

  private def randomTicks(seed: Long): Seq[Row] = {
    val rnd = new Random(seed)
    val dates = Seq(20240301, 20240302)
    (0 until 150).map { _ =>
      val src = if (rnd.nextInt(10) == 0) null
        else Integer.valueOf(rnd.nextInt(4))
      val side = if (rnd.nextInt(4) == 0) null
        else Integer.valueOf(rnd.nextInt(2) + 1)
      val date = dates(rnd.nextInt(dates.length))
      // cluster minutes so gaps, duplicates and ties all occur
      val minute = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(10)            // head cluster
        case 1 => 30 + rnd.nextInt(5)        // mid cluster → symmetric ties
        case 2 => 55 + rnd.nextInt(5)        // tail cluster
        case _ => rnd.nextInt(60)
      }
      val hour = 9 + rnd.nextInt(2)
      val sec = rnd.nextInt(60)
      val tid = hour * 10000 + minute * 100 + sec
      // ~6% NULL prices: NULL-mean minutes must anchor gaps but
      // propagate NULL into values drawn from them, identically in both
      // kernels (eligibility still counts these rows, like the
      // reference's len(group))
      val price = if (rnd.nextInt(16) == 0) null
        else Double.box(math.round(rnd.nextDouble() * 10000) / 100.0)
      Row(src, side, date, tid, tid - tid % 100, price, false)
    }
  }

  Seq(1L, 7L, 42L, 1234L, 99999L).foreach { seed =>
    test(s"declarative ≡ typed ≡ SQL-generator kernel on random corpus (seed=$seed)") {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(randomTicks(seed), 4), schema)
      val d = Interpolate.densify(df)
      val t = TypedDensify.densify(df, TypedDensify.gridByDate(df))
      val q = Interpolate.densifySql(spark, df)
      assert(d.count() === t.count())
      assert(d.exceptAll(t).isEmpty && t.exceptAll(d).isEmpty,
        s"declarative and typed kernels diverge for seed $seed")
      assert(d.exceptAll(q).isEmpty && q.exceptAll(d).isEmpty,
        s"declarative and SQL-generator formulations diverge for seed $seed")
      // the fourth leg: the driver-side hour function, which shares the
      // generator's per-group kernel, row for row
      def exact(rows: Seq[Row]) = rows.map(_.toString).sorted
      assert(exact(Interpolate.densifyHour(df.collect().toSeq)) === exact(d.collect().toSeq),
        s"declarative and driver-side hour formulations diverge for seed $seed")
    }
  }

  test("eligible groups densify their date's full [min,max] minute grid") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(randomTicks(7L), 4), schema)
    val out = Interpolate.densify(df).cache()
    val bounds = df.groupBy("date_id")
      .agg(min("rounded_time_id").as("lo"), max("rounded_time_id").as("hi"))
    def mod(c: String) = floor(col(c) / 10000) * 60 + floor(col(c) % 10000 / 100)
    val expectedPerDate = bounds
      .select(col("date_id"), (mod("hi") - mod("lo") + 1).as("n_minutes"))
    val eligible = df.groupBy("source_id", "side_id", "date_id")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    val actualPerGroup = out
      .select("source_id", "side_id", "date_id", "rounded_time_id").distinct()
      .groupBy("source_id", "side_id", "date_id")
      .agg(count(lit(1)).as("covered"))
    val short = eligible.as("e")
      .join(actualPerGroup.as("a"),
        Seq("source_id", "side_id", "date_id")
          .map(c => col(s"e.$c") <=> col(s"a.$c")).reduce(_ && _))
      .join(expectedPerDate.as("x"), col("e.date_id") === col("x.date_id"))
      .filter(col("covered") =!= col("n_minutes"))
    assert(short.isEmpty, "an eligible group is missing grid minutes")
  }
}
