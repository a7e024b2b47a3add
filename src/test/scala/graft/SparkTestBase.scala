package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite, lazily created).
  * The codegen cache is one per JVM, sized by the session that first
  * generates code — `LocalSpark.builder`'s 5,000 entries, so specs can
  * pin compile counts. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    LocalSpark.builder(4).appName(getClass.getSimpleName).getOrCreate()

  val sfSmoke = "/root/testdata/sf0.001"

  /** `f` over a sibling session on the suite's context with
    * GraftExtensions injected (`spark.sql.extensions` is static, read
    * at a context's first session, so a shared context takes them
    * through the builder hook); the suite session is restored after. */
  def withExtSession[A](f: SparkSession => A): A = {
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(LocalSpark.builder(4).withExtensions(new GraftExtensions()).getOrCreate())
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
