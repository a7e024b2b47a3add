package graft

import java.nio.file.Files

/** The driver-contract failure paths — the r5 postmortem as tests.
  * That round, a fixture-schema flip broke 43 queries and the harness
  * showed NOTHING: Verify skipped failures silently (no correctness
  * row) and Bench timed the exceptions as ~0.05s "speedups". These
  * specs pin the loud-failure behavior so it can't regress.
  */
class VerifyContractSpec extends SparkTestBase {

  test("a failing query leaves an _errors.json entry and a marker dir") {
    val out = Files.createTempDirectory("graft_verify_err").toString
    // nonexistent sfDir → the query fails at plan time
    val errs = Verify.run(spark, "/nonexistent/sf0", out,
      Set("a2_pricing_summary"))
    assert(errs.keySet === Set("a2_pricing_summary"))
    val errJson = Files.readString(java.nio.file.Paths.get(s"$out/_errors.json"))
    assert(errJson.contains("a2_pricing_summary"),
      s"_errors.json missing the failed query: $errJson")
    // the per-query slot exists on disk even though the query failed —
    // the driver sees an empty dir, never a missing row
    assert(new java.io.File(s"$out/a2_pricing_summary").isDirectory)
    // oracle_sql.json is still written (the compare harness needs it to
    // even report the failure against the right oracle)
    assert(new java.io.File(s"$out/oracle_sql.json").isFile)
  }

  test("a succeeding query writes parquet and an empty _errors.json") {
    val out = Files.createTempDirectory("graft_verify_ok").toString
    val errs = Verify.run(spark, sfSmoke, out, Set("a2_pricing_summary"))
    assert(errs.isEmpty)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$out/_errors.json")) === "{}")
    val part = new java.io.File(s"$out/a2_pricing_summary")
      .listFiles().exists(_.getName.endsWith(".parquet"))
    assert(part, "no parquet written for the succeeding query")
  }

  test("every oracle string survives the JSON escape round-trip") {
    // the driver json.loads this file; a control char in any builder-
    // authored SQL string would zero the whole round's correctness
    val out = Files.createTempDirectory("graft_verify_json").toString
    Verify.run(spark, sfSmoke, out, Set("a2_pricing_summary"))
    val txt = Files.readString(java.nio.file.Paths.get(s"$out/oracle_sql.json"))
    // a real JSON parser is the assertion: jackson ships with Spark
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(txt)
    assert(node.size() === SparkEntry.oracleSql.size)
  }

  /** Bench's recorded pass over a2_pricing_summary at `dir`. */
  private def recorded(dir: String): Bench.Pass = {
    val meter = new Bench.Meter
    spark.sparkContext.addSparkListener(meter)
    try Bench.pass(spark, dir, Set("a2_pricing_summary"), Some(meter))
    finally spark.sparkContext.removeSparkListener(meter)
  }

  test("Bench: a failing query records no time and no layers, and is failed") {
    val p = recorded("/nonexistent/sf0")
    assert(!p.times.contains("a2_pricing_summary"))
    assert(p.failed.contains("a2_pricing_summary"))
    assert(!p.layers.contains("a2_pricing_summary"))
  }

  test("Bench: the recorded pass gives each query consistent layers") {
    val p = recorded(sfSmoke)
    val wall = p.times("a2_pricing_summary")
    val l = p.layers("a2_pricing_summary")
    assert(l.jobs >= 1 && l.tasks >= l.jobs && l.jobS >= 0, l)
    // job spans carry millisecond event timestamps
    assert(l.gapS >= -0.005 && l.gapS <= wall, s"$l, wall $wall")
    assert(l.planS > 0, l)
  }
}
