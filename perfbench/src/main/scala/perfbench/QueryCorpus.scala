package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generator of the query corpus: the star schema plus `events`,
  * `documents` and `embeddings`, one single-file parquet table each, in the
  * schema the registry queries read (graft.Tables). Sizes are those of
  * scale factor 0.1 (600k lineitem rows); distributions are uniform or
  * exponential draws keyed by a hash of (table, row, column), so the
  * corpus is the same whatever the partitioning or core count.
  *
  * The corpus is fixed — it does not depend on the workload seed — so
  * each query's expected row count and content hash can be recorded
  * once under the benchmark's directory (`expected/<workload>.json`).
  */
object QueryCorpus {

  /** Bump when the generator changes: it names the cache directory and
    * the expected values belong to it. */
  val Version = "c1"

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Uniform [0, 1) draw number `k` of the row keyed by column `id`. */
  private def u(table: Int, k: Int): Column =
    (xxhash64(lit(table), col("id"), lit(k)).bitwiseAND(lit((1L << 52) - 1))
      .cast("double") / (1L << 52).toDouble)
  private def uniformInt(table: Int, k: Int, lo: Int, hi: Int): Column =
    (floor(u(table, k) * (hi - lo + 1)) + lo).cast("int")
  private def money(c: Column): Column = round(c, 2)
  private def pickOf(table: Int, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), uniformInt(table, k, 1, xs.size))
  private def day(table: Int, k: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), uniformInt(table, k, 0, days))
      .cast("timestamp").cast("timestamp_ntz")

  def generate(spark: SparkSession, dir: String): Unit = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    write("nation", rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", rows(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniformInt(1, 1, 0, 24).as("c_nationkey"),
      money(u(1, 2) * 10999.98 - 999.99).as("c_acctbal"),
      pickOf(1, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", rows(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniformInt(2, 1, 0, 24).as("s_nationkey"),
      money(u(2, 2) * 10999.98 - 999.99).as("s_acctbal")))
    write("part", rows(20000).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pickOf(3, 1, Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")),
        pickOf(3, 2, Seq("ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve")))
        .as("p_name"),
      concat(lit("Brand#"), uniformInt(3, 3, 1, 25)).as("p_brand"),
      pickOf(3, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      uniformInt(3, 5, 1, 50).as("p_size"),
      money(lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", rows(150000).select(col("id").as("o_orderkey"),
      uniformInt(4, 1, 0, 14999).cast("long").as("o_custkey"),
      pickOf(4, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(u(4, 3) * 499000.0 + 1000.0).as("o_totalprice"),
      day(4, 4, "1995-01-01", 2403).as("o_orderdate"),
      pickOf(4, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", rows(600000).select(
      uniformInt(5, 1, 0, 149999).cast("long").as("l_orderkey"),
      uniformInt(5, 2, 0, 19999).cast("long").as("l_partkey"),
      uniformInt(5, 3, 0, 999).cast("long").as("l_suppkey"),
      uniformInt(5, 4, 1, 7).as("l_linenumber"),
      uniformInt(5, 5, 1, 50).cast("double").as("l_quantity"),
      money(u(5, 6) * 104099.0 + 900.0).as("l_extendedprice"),
      (uniformInt(5, 7, 0, 10) / 100.0).as("l_discount"),
      (uniformInt(5, 8, 0, 8) / 100.0).as("l_tax"),
      pickOf(5, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pickOf(5, 10, Seq("F", "O")).as("l_linestatus"),
      day(5, 11, "1995-01-02", 2498).as("l_shipdate")))

    // ticks in id order across January 2024, one every ~26 s with jitter
    val span = 30L * 86400L * 1000000L / 100000L
    write("events", rows(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L) +
        col("id") * span + floor(u(6, 1) * span).cast("long")).cast("timestamp_ntz").as("ts"),
      uniformInt(6, 2, 0, 1499).cast("long").as("user_id"),
      pickOf(6, 3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(-log1p(-u(6, 4)) * 50.0).as("value"),
      format_string("{\"k\": %d}", uniformInt(6, 5, 0, 99)).as("props")))

    // documents: 10–100 words of a 30-word vocabulary, five languages,
    // twenty sources; every 20th document is a near-duplicate (an
    // earlier text plus " dup") and a few are exact copies
    val words = array(Vocab.map(lit): _*)
    val base = rows(5000).select(col("id"),
      array_join(transform(sequence(lit(1), uniformInt(7, 1, 10, 100)), p =>
        element_at(words, (pmod(xxhash64(lit(7), col("id"), p), lit(Vocab.size.toLong)) + 1)
          .cast("int"))), " ").as("text"))
    val src = (col("id") - 1 - pmod(col("id"), lit(10L))).as("src_id")
    val docs = base.as("d")
      .join(base.filter(col("id") % 20 === 11 || col("id") % 625 === 107).select(col("id"), src).as("c"),
        col("d.id") === col("c.id"), "left")
      .join(base.select(col("id").as("o_id"), col("text").as("o_text")),
        col("c.src_id") === col("o_id"), "left")
      .select(col("d.id").as("id"),
        when(col("d.id") % 20 === 11, concat(col("o_text"), lit(" dup")))
          .when(col("o_text").isNotNull, col("o_text"))
          .otherwise(col("d.text")).as("text"))
    write("documents", docs.orderBy("id").select(col("id").as("doc_id"), col("text"),
      when(u(8, 1) < 0.41, "en").when(u(8, 1) < 0.56, "es").when(u(8, 1) < 0.71, "fr")
        .when(u(8, 1) < 0.86, "zh").otherwise("de").as("lang"),
      concat(lit("src"), col("id") % 20).as("source"),
      length(col("text")).cast("long").as("n_chars")))

    // embeddings: 64-d unit vectors, a random direction plus a small
    // per-label offset, labels 0–9
    val label = uniformInt(9, 1, 0, 9)
    val raw = rows(2000).select(col("id"), label.as("label"),
      transform(sequence(lit(0), lit(63)), j =>
        (xxhash64(lit(9), col("id"), j).bitwiseAND(lit(0xFFFFFL)).cast("double") / 0xFFFFFL.toDouble +
          xxhash64(lit(10), col("id"), j).bitwiseAND(lit(0xFFFFFL)).cast("double") / 0xFFFFFL.toDouble +
          xxhash64(lit(11), col("id"), j).bitwiseAND(lit(0xFFFFFL)).cast("double") / 0xFFFFFL.toDouble - 1.5 +
          (xxhash64(lit(12), label, j).bitwiseAND(lit(0xFFFFFL)).cast("double") / 0xFFFFFL.toDouble - 0.5) * 0.15)
      ).as("v"))
    val norm = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
    write("embeddings", raw.orderBy("id").select(col("id").as("vec_id"),
      transform(col("v"), x => (x / norm).cast("float")).as("embedding"),
      col("label")))
  }

  /** The corpus directory for this generator version, generated on first
    * use. A marker file is written last, so an interrupted generation is
    * redone. */
  def ensure(spark: SparkSession, root: String): String = {
    val dir = s"$root/corpus-$Version"
    val done = new java.io.File(s"$dir/_COMPLETE")
    if (!done.exists()) {
      generate(spark, dir)
      done.createNewFile()
    }
    dir
  }
}
