package graft

import graft.functions.{GraftFunctions, TextHash, VectorOps}
import org.apache.spark.sql.functions._

/** The extension surface: every native expression is SQL-callable, both
  * through `spark.sql.extensions=graft.GraftExtensions` at session build
  * and through GraftFunctions.register on a live session, and the SQL
  * path evaluates identically to the Column API (same Expression class
  * underneath — this guards the registration plumbing, argument
  * literal-extraction and arity checks). */
class SqlExtensionsSpec extends SparkTestBase {

  test("GraftExtensions wires functions into a fresh session at build") {
    // a real deployment passes --conf spark.sql.extensions=
    // graft.GraftExtensions and hits the identical injectFunction path
    withExtSession { s2 =>
      val got = s2.sql(
        "SELECT simhash60(split('the quick brown fox', ' ')) AS h").head().getLong(0)
      val want = s2.range(1)
        .select(TextHash.simhash(split(lit("the quick brown fox"), " ")).as("h"))
        .head().getLong(0)
      assert(got == want)
    }
  }

  test("programmatic registration: SQL text matches the Column API") {
    GraftFunctions.register(spark)
    // deterministic subset: an unordered limit over the (repartitioned)
    // corpus could pick different rows for the two executions below
    val docs = Tables.documents(spark, sfSmoke).filter(col("doc_id") < 50)
    docs.createOrReplaceTempView("docs_ext")

    val sqlSide = spark.sql(
      """SELECT doc_id,
        |       simhash60(split(text, ' ')) AS sh,
        |       minhashes(shingle_set(split(text, ' '), 3), 4) AS mh,
        |       poly_hash_array(split(text, ' '), 31)[0] AS ph0
        |FROM docs_ext ORDER BY doc_id""".stripMargin).collect().toSeq

    val colSide = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"),
        TextHash.simhash(col("t")).as("sh"),
        TextHash.minhash(TextHash.shingleSet(col("t"), 3), 4).as("mh"),
        TextHash.polyHashes(col("t"), 31).getItem(0).as("ph0"))
      .orderBy("doc_id").collect().toSeq
    assert(sqlSide == colSide)
  }

  test("vector + jaccard functions evaluate from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       jaccard_sim(array('a','b'), array('b','c')) AS j,
        |       hyperplane_sig(array(CAST(1.0 AS FLOAT)), 4) AS s""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(math.abs(r.getDouble(1) - 1.0 / 3.0) < 1e-15)
    val wantSig = spark.range(1)
      .select(VectorOps.sig(array(lit(1.0f)), 4)).head().getLong(0)
    assert(r.getLong(2) == wantSig)
  }

  test("sorted_intersect_count evaluates from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 3L, 5L, 7L), array(3L, 4L, 5L)) AS n,
        |       sorted_intersect_count(array(1L), array(2L)) AS z""".stripMargin).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L)
  }

  test("shape parameters must be integer literals") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhashes(array('a'), CAST(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.contains("INT literal")
      || Option(e.getCause).exists(_.getMessage.contains("INT literal")))
  }

  test("linear_interpolate generator: edges from SQL text") {
    GraftFunctions.register(spark)
    // interior gap 100200 between (100100, 10.0) and (100300, 30.0) →
    // midpoint 20.0; covered minutes emit nothing
    val rows = spark.sql(
      """SELECT time_id, price FROM (SELECT 1)
        |LATERAL VIEW linear_interpolate(
        |  array(100100, 100300), array(10.0D, 30.0D),
        |  array(100100, 100200, 100300)) g AS time_id, price""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(rows == Seq((100200, 20.0)))

    // single point flat-lines; NULL endpoint propagates NULL
    val flat = spark.sql(
      """SELECT time_id, price FROM (SELECT 1)
        |LATERAL VIEW linear_interpolate(
        |  array(100100), array(CAST(NULL AS DOUBLE)),
        |  array(100200)) g AS time_id, price""".stripMargin).head()
    assert(flat.getInt(0) == 100200 && flat.isNullAt(1))
  }
}
