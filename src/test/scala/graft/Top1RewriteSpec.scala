package graft

import graft.plans.Top1WindowRewrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Top1WindowRewrite optimizer rule: the ROW_NUMBER-top-1 window
  * idiom must compile to a sort-free argmax aggregate (value-identical,
  * original attribute ids preserved), and every shape outside the
  * rule's contract must be left to the window planner.
  */
class Top1RewriteSpec extends SparkTestBase {

  /** A sibling session on the shared context with the rule injected. */
  private lazy val s2: SparkSession = withExtSession(identity)

  private def events(s: SparkSession): DataFrame =
    Tables.events(s, sfSmoke)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))

  private def top1(s: SparkSession, desc: Boolean): DataFrame = {
    val key = if (desc) col("value").desc else col("value").asc
    val tie = if (desc) col("event_id").desc else col("event_id").asc
    events(s)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(key, tie)))
      .filter(col("rn") === 1)
      .select("event_type", "event_id", "value", "rn")
      .orderBy("event_type")
  }

  test("rn=1 window compiles to an argmax aggregate with no sort, same values") {
    for (desc <- Seq(false, true)) {
      val rewritten = top1(s2, desc)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
      assert(plan.contains("min_by") || plan.contains("max_by"),
        s"expected argmax aggregate:\n$plan")
      // value-identical to the un-rewritten window form (total order:
      // event_id tie-break), including the constant rn column
      val baseline = top1(spark, desc).collect().map(_.toString).toSeq
      assert(rewritten.collect().map(_.toString).toSeq === baseline)
    }
  }

  test("extra filter conjuncts survive above the rewrite") {
    val df = events(s2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))))
      .filter(col("rn") === 1 && col("event_type") =!= "view")
      .select("event_type", "value")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    val got = df.collect().map(r => r.getString(0)).toSet
    val want = top1(spark, desc = false).filter(col("event_type") =!= "view")
      .collect().map(r => r.getString(0)).toSet
    assert(got === want && !got.contains("view"))
  }

  test("the reference's dual-rank report shape collapses: pruning drops the unused rank, then the rewrite fires") {
    // the literal W1 idiom: BOTH directions ranked, ONE selected —
    // ColumnPruning removes the unreferenced row_number from the Window
    // in the same optimization batch, leaving the single-rn shape this
    // rule rewrites. The window formulation thus costs the same as the
    // hand-written argmax once the extension is installed.
    val byMinute = Window.partitionBy(col("event_type"))
    val df = events(s2)
      .withColumn("cheap", row_number().over(
        byMinute.orderBy(col("value").asc, col("event_id").asc)))
      .withColumn("expensive", row_number().over(
        byMinute.orderBy(col("value").desc, col("event_id").desc)))
      .filter(col("cheap") === 1)
      .select("event_type", "event_id", "value")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"dual-rank report shape kept a window:\n$plan")
    assert(plan.contains("min_by"), "expected the cheap-direction argmax")
  }

  test("out-of-contract shapes are left to the window planner") {
    val w = Window.partitionBy(col("event_type"))
    // rn = 2 is not top-1
    val rn2 = events(s2)
      .withColumn("rn", row_number().over(w.orderBy(col("value"))))
      .filter(col("rn") === 2)
    assert(rn2.queryExecution.executedPlan.toString.contains("Window"))
    // mixed ASC/DESC ordering doesn't match the struct ordering
    val mixed = events(s2)
      .withColumn("rn", row_number().over(
        w.orderBy(col("value").asc, col("event_id").desc)))
      .filter(col("rn") === 1)
    assert(mixed.queryExecution.executedPlan.toString.contains("Window"))
    // rank() is not row_number
    val rk = events(s2)
      .withColumn("rn", rank().over(w.orderBy(col("value"))))
      .filter(col("rn") === 1)
    assert(rk.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("global top-1 over an empty input yields zero rows, not a null row") {
    // a global Aggregate over empty input emits one all-null row; the
    // rewrite must filter it so the window semantics (no rows) survive
    val df = events(s2)
      .filter(lit(false))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("value"), col("event_id"))))
      .filter(col("rn") === 1)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "global top-1 was not rewritten")
    assert(df.count() === 0, "rewrite fabricated a row from an empty input")
    // and a NON-empty global top-1 still returns exactly its winner
    val one = events(s2)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("value"), col("event_id"))))
      .filter(col("rn") === 1)
      .select("event_id", "value")
    val expected = events(spark).orderBy(col("value"), col("event_id"))
      .select("event_id", "value").limit(1).collect().toSeq
    assert(one.collect().toSeq === expected)
  }

  test("nondeterministic ordering is materialized below the window, so the rewrite stays sound") {
    // the analyzer extracts rand() into a child Project (_w0) before
    // the Window — the rule therefore sees a deterministic attribute,
    // and min_by over that materialized column picks the same winner
    // the window sort would. (The rule's own determinism guard is
    // defense-in-depth for hand-built plans.) One row per group must
    // come back, and the rewrite fires.
    val df = events(s2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(rand(7))))
      .filter(col("rn") === 1)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    val nTypes = events(spark).select("event_type").distinct().count()
    assert(df.count() === nTypes, "expected one winner per group")
  }

  test("rewrite preserves null-ordering semantics (ASC NULLS FIRST wins nulls)") {
    val s = s2
    import s.implicits._
    val df = Seq(
      ("a", Some(3.0), 1L), ("a", None, 2L), ("a", Some(1.0), 3L),
      ("b", Some(5.0), 4L))
      .toDF("g", "v", "id")
    val out = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc)))
      .filter(col("rn") === 1)
      .select("g", "id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // default ASC = NULLS FIRST: the null-valued row is rank 1 in group a
    assert(out === Map("a" -> 2L, "b" -> 4L))
  }

  test("rewrite preserves null-ordering semantics (DESC NULLS LAST skips nulls)") {
    // the max_by mirror with actual nulls in the ordering key: default
    // DESC = NULLS LAST, so the null-valued row must NOT win its group
    val s = s2
    import s.implicits._
    val df = Seq(
      ("a", Some(3.0), 1L), ("a", None, 2L), ("a", Some(1.0), 3L),
      ("b", None, 4L), // group whose ONLY row is null-keyed still wins
      ("c", Some(2.0), 5L), ("c", Some(7.0), 6L))
      .toDF("g", "v", "id")
    val q = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").desc)))
      .filter(col("rn") === 1)
      .select("g", "id")
    assert(!q.queryExecution.executedPlan.toString.contains("Window"),
      "DESC top-1 was not rewritten")
    val out = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 1L, "b" -> 4L, "c" -> 6L))
  }

  test("rewritten output preserves the original attributes' nullability") {
    // operators above the rewritten Project still hold attribute copies
    // with the ORIGINAL nullability; the rule must not widen a
    // non-nullable column to nullable (KnownNotNull over the argmax
    // struct field). event_id / event_type are non-nullable in the
    // parquet-derived schema only if the source says so — so build an
    // explicitly non-nullable frame instead.
    val s = s2
    import s.implicits._
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("b", 3.0, 3L))
      .toDF("g", "v", "id") // Scala primitives: all non-nullable
    val before = df.schema.map(f => f.name -> f.nullable).toMap
    val q = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc)))
      .filter(col("rn") === 1)
      .select("g", "v", "id")
    assert(!q.queryExecution.executedPlan.toString.contains("Window"))
    val after = q.schema.map(f => f.name -> f.nullable).toMap
    assert(after === before,
      s"rewrite changed nullability: $before -> $after")
    assert(q.count() === 2)
  }
}
