package graft

import org.apache.spark.sql.SparkSession

/** The one way the mains and the specs build a local session: only the
  * settings every caller shares. Callers add their own (Bench its
  * codegen cache, specs their extensions) and call `getOrCreate()`. */
object LocalSpark {
  /** The mains' width: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}
