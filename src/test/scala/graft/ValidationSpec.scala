package graft

import graft.ops.{DateFlags, GoldModel, Interpolate, Validation}
import org.apache.spark.sql.functions._

class ValidationSpec extends SparkTestBase {

  private lazy val fact =
    GoldModel.factDensifyInput(Tables.events(spark, sfSmoke)).cache()

  /** Densified-window shaped rows: (source_id, side_id,
    * rounded_time_id, price). */
  private def window(rows: (Int, Integer, Int, java.lang.Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("source_id", "side_id", "rounded_time_id", "price")
  }

  test("densified smoke data passes completeness and null-price gates") {
    // one processing window (single date, like the reference's hourly
    // gate), interpolator-eligible groups only (≥2 ticks): the gate's
    // per-group coverage contract holds exactly there
    val oneDate = fact.filter(col("date_id") === 20240115)
    val eligible = oneDate.groupBy("source_id", "side_id")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select("source_id", "side_id")
    val densified = Interpolate.densify(
      oneDate.join(eligible, Seq("source_id", "side_id"), "left_semi")).cache()
    val profile = Validation.windowGate(densified)
    // the profile is the window's own, measured in the same pass
    val want = densified.agg(
      countDistinct("source_id"), countDistinct("side_id"),
      countDistinct("rounded_time_id"), count(lit(1))).collect()(0)
    assert(profile === Validation.WindowProfile(
      want.getLong(0), want.getLong(1), want.getLong(2), want.getLong(3)))
    assert(profile.nRows > 0L)
    // an explicit target equal to the grid passes too
    Validation.windowGate(densified, Some(profile.nMinutes))
  }

  test("completeness gate throws when minutes are missing") {
    val densified = Interpolate.densify(fact)
    val e = intercept[Validation.GateViolation] {
      Validation.windowGate(densified, Some(Long.MaxValue))
    }
    assert(e.getMessage.startsWith("completeness: ") &&
      e.getMessage.endsWith(s" of ${Long.MaxValue} grid minutes present"))
  }

  test("completeness gate catches a group missing grid minutes") {
    // group (1,1) covers minutes 0..2; group (2,1) covers only minute 0 —
    // global minute coverage is complete, per-group coverage is not
    // (the advisor's ineligible-<2-tick-group scenario)
    val densified = window(
      (1, 1, 0, 1.0), (1, 1, 100, 1.0), (1, 1, 200, 1.0),
      (2, 1, 0, 2.0))
    val e = intercept[Validation.GateViolation] {
      Validation.windowGate(densified)
    }
    assert(e.getMessage ===
      "completeness: 1 source×side groups cover fewer than 3 grid minutes")
    // a NULL side is a group of its own, short like any other
    val nullSide = window((1, 1, 0, 1.0), (1, 1, 100, 1.0), (1, null, 0, 1.0))
    assert(intercept[Validation.GateViolation] {
      Validation.windowGate(nullSide)
    }.getMessage.contains("1 source×side groups"))
    assert(Validation.windowGate(window((1, 1, 0, 1.0), (1, null, 0, 1.0))).nSides === 2L)
  }

  test("null-price gate throws on NaN") {
    val e = intercept[Validation.GateViolation] {
      Validation.windowGate(window((1, 1, 0, 1.0), (1, 1, 100, Double.NaN)))
    }
    assert(e.getMessage === "null/NaN prices: 1 rows")
  }

  test("null-price gate throws on NULL") {
    val e = intercept[Validation.GateViolation] {
      Validation.windowGate(window((1, 1, 0, null), (1, 2, 0, null), (1, 3, 0, 1.0)))
    }
    assert(e.getMessage === "null/NaN prices: 2 rows")
  }

  test("the window gates run as ONE SQL execution") {
    val densified = window((1, 1, 0, 1.0), (1, 1, 100, 2.0), (2, 1, 0, 3.0),
      (2, 1, 100, 4.0))
    var profile: Validation.WindowProfile = null
    val executions = SparkEvents.executions(spark) {
      profile = Validation.windowGate(densified)
    }
    assert(profile === Validation.WindowProfile(2L, 1L, 2L, 4L))
    assert(executions === 1)
  }

  test("dim_date gates pass on derived dimension and throw on empty") {
    val dim = DateFlags.withDerivedColumns(
      DateFlags.dimDateFrom(
        Tables.events(spark, sfSmoke)
          .select(GoldModel.tehran(col("ts")).as("local")), "local"),
      lit("2024-01-16"))
    Validation.dimDateGate(dim)
    intercept[Validation.GateViolation] {
      Validation.dimDateGate(dim.filter(lit(false)))
    }
  }
}
