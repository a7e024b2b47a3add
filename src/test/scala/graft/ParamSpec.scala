package graft

import graft.functions.Param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

/** `Param` is `lit` with the value out of the generated code: the same
  * rows wherever `lit` would be used, and one generated source for
  * every value, so the codegen cache hits across values. */
class ParamSpec extends SparkTestBase {
  import spark.implicits._

  // NULL and non-NULL columns of both integral types; checkpointed, so
  // the optimizer cannot evaluate the plans over a local relation
  private lazy val frame = Seq[(Option[Int], Option[Long])](
    (Some(1), Some(10L)), (None, Some(20L)), (Some(2), None), (None, None),
    (Some(10), Some(1L)))
    .toDF("i", "l").localCheckpoint()

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def both(f: (Column, Column) => DataFrame): Seq[(Seq[String], Seq[String])] =
    Seq[(Any, Any)]((1, 10L), (10, 1L), (7, 20L)).map { case (i, l) =>
      (rows(f(lit(i), lit(l))), rows(f(Param(i), Param(l))))
    }

  test("Param yields the same rows as lit for Int and Long, over NULL and non-NULL columns") {
    val checks = both { (i, l) =>
      frame.filter(col("i") === i || col("l") === l)
        .select(col("i"), col("l"), (col("i") + i).as("ip"), (col("l") * l).as("lp"),
          i.as("ic"), l.as("lc"), (col("i") === i).as("ieq"), (col("l") < l).as("llt"))
    }
    checks.foreach { case (viaLit, viaParam) => assert(viaParam === viaLit) }
    assert(checks.exists(_._1.nonEmpty), "the filters matched nothing")
  }

  test("Param keeps its type and is non-nullable; NULL is refused") {
    val s = frame.select(Param(3).as("i"), Param(4L).as("l")).schema
    assert(s("i").dataType === org.apache.spark.sql.types.IntegerType && !s("i").nullable)
    assert(s("l").dataType === org.apache.spark.sql.types.LongType && !s("l").nullable)
    intercept[IllegalArgumentException](Param(null))
  }

  test("Param generates the same code for two values; lit does not") {
    def code(i: Column, l: Column): Seq[String] = {
      val df = frame.filter(col("i") === i && floor(col("l") / 10) === l)
        .withColumn("v", l)
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    }
    val p1 = code(Param(1), Param(1L))
    assert(p1.nonEmpty, "no whole-stage code was generated")
    assert(code(Param(2), Param(2L)) === p1)
    assert(code(lit(1), lit(1L)) !== code(lit(2), lit(2L)),
      "lit no longer inlines its value: this spec compares nothing")
  }
}
