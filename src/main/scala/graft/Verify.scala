package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names focus the
    // dump on those queries (dev loop); no names = the full surface.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = LocalSpark.builder(LocalSpark.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump body, session-injected so VerifyContractSpec can drive the
    * failure path in-process (main owns session lifecycle). Returns the
    * failed-query map. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String] = Set.empty): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // A query that fails to plan or execute must leave a visible trace:
    // r5 proved a silent skip here removes the query from the driver's
    // correctness table entirely — no err row, nothing to alarm on. Every
    // failure is collected into <outDir>/_errors.json AND an empty marker
    // dir is created so the per-query slot always exists on disk.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(2000)
        new java.io.File(s"$outDir/$name").mkdirs()
      }
    }
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fixture fingerprint (rows+bytes per table): ties this dump to the
    // exact testdata it ran against — see graft.Fixtures
    Files.writeString(Paths.get(s"$outDir/_fixtures.json"),
      Fixtures.fingerprintJson(spark, sfDir))
    errors.toMap
  }
}
