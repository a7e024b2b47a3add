package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Profiling-only fixture scaler (NOT on any bench/verify path).
  *
  * The round-14 verdict showed the sf0.1 bench is scheduling-floor-bound
  * (an 8-core run beats 32 cores), so ranking optimizations needs a
  * larger input. /root/testdata is read-only, so this tool derives an
  * sfN-shaped corpus from sf0.1 by deterministic replication into a
  * scratch directory: fact tables are replicated `k`× with key offsets
  * (joins to the unscaled dims stay valid — more rows per key, the
  * realistic growth direction), documents get a per-replica text suffix
  * (so dedup does not drown in exact copies) and embeddings a tiny
  * per-replica deterministic perturbation. Dims are copied as-is.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <k>
  * The output is for PROFILING ONLY — no oracle covers it and no bench
  * artifact may be derived from it except the committed plans/r15
  * profiling evidence.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val k = args(2).toInt
    val spark = LocalSpark.builder(LocalSpark.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def reps(df: DataFrame): DataFrame = {
      // cross-join with a replica index; every derived column below is a
      // deterministic function of (row, replica)
      val r = spark.range(0, k).toDF("_rep")
      df.crossJoin(r)
    }
    val OFF = 100000000L // key offset per replica, far above any sf0.1 key

    def copy(name: String): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"copied $name")
    }
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaled $name x$k")
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach(copy)

    val orders = spark.read.parquet(s"$src/orders.parquet")
    write("orders", reps(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("_rep") * OFF)
      .drop("_rep"))

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    write("lineitem", reps(lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + col("_rep") * OFF)
      .drop("_rep"))

    // keep `ts` physical type by replicating through the same reader the
    // engine uses is unnecessary here: profiling only needs the shape;
    // event_id stays unique, ts/user_id/props unchanged so windows and
    // sessions grow proportionally
    val events = spark.read.parquet(s"$src/events.parquet")
    write("events", reps(events)
      .withColumn("event_id", col("event_id") + col("_rep") * OFF)
      .drop("_rep"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents", reps(docs)
      .withColumn("doc_id", col("doc_id") + col("_rep") * OFF)
      .withColumn("text",
        when(col("_rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("_rep"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("_rep"))

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write("embeddings", reps(emb)
      .withColumn("vec_id", col("vec_id") + col("_rep") * OFF)
      .withColumn("embedding",
        transform(col("embedding"),
          (x, i) => x + (col("_rep").cast("float") * lit(1e-4f)) *
            pmod(i + col("_rep"), lit(7)).cast("float")))
      .drop("_rep"))

    spark.stop()
  }
}
