package graft

import org.apache.spark.sql.SparkSession

/** The one way the mains and the specs build a local session: only the
  * settings every caller shares. Callers add their own (specs their
  * extensions) and call `getOrCreate()`. */
object LocalSpark {
  /** The mains' width: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the generated-class cache (one per JVM) defaults to 100 entries;
    // Bench's 60+ queries × several codegen stages each evict one
    // another between passes, so every pass recompiles (and re-JITs)
    // its hot loops — measured 3× on the heaviest query — and an hourly
    // loop with a feed and a reader recompiles runHour's classes every
    // hour (FactPipeline.runHour). Any long-running session serving a
    // query mix wants it raised the same way.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
}
