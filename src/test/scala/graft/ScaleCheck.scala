package graft

import graft.ops.{GoldModel, Interpolate, Report}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe (dev tool): multiply the tick corpus
  * N× along the axes that grow real deployments — more DATES for the
  * rebuild (output-sized growth) and more SOURCES for the report
  * (group-count growth) — and print wall-clock per multiplier. A
  * near-linear time curve is the local-mode evidence that the plans
  * hold under scale-up: the shuffles stay input-sized and per-group
  * state stays bounded, so 1000 executors buy throughput, not new
  * bottlenecks.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(LocalSpark.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    /** events replicated m× with dates shifted k·35 days apart —
      * m× groups AND m× densified output. */
    def moreDates(m: Int): DataFrame =
      Tables.events(spark, sfDir)
        .withColumn("k", explode(lit((0 until m).toArray)))
        .withColumn("event_id", col("event_id") * m + col("k"))
        .withColumn("ts", expr("timestampadd(DAY, k * 35, ts)"))
        .drop("k")

    /** events replicated m× with distinct sources — m× report groups. */
    def moreSources(m: Int): DataFrame =
      Tables.events(spark, sfDir)
        .withColumn("k", explode(lit((0 until m).toArray)))
        .withColumn("event_id", col("event_id") * m + col("k"))
        .withColumn("user_id", col("user_id") + col("k") * 100000L)
        .drop("k")

    /** documents replicated m× with distinct ids and per-replica token
      * suffixes — every token carries "_k", so replica shingle sets are
      * DISJOINT: the corpus grows m× but each replica keeps only its
      * own duplicate structure (a same-token prefix instead would make
      * all m replicas near-dups of each other and the pair count
      * quadratic in m — corpus growth must not manufacture similarity). */
    def moreDocs(m: Int): DataFrame = {
      val d = Tables.documents(spark, sfDir).select("doc_id", "text")
      val span = 100000000L
      d.withColumn("k", explode(lit((0 until m).toArray)))
        .select((col("doc_id") + col("k") * span).as("doc_id"),
          expr("array_join(transform(split(text, ' '), w -> concat(w, '_', k)), ' ')")
            .as("text"))
    }

    // the PRODUCTION pair pipeline (queries/Text), not a re-spelling —
    // the probe measures exactly what x_dedup_minhash_lsh executes
    def dedupPairs(c: DataFrame): DataFrame =
      graft.queries.Text.minhashPairsOver(c)

    // the PRODUCTION t9 aggregation (queries/Analytics), not a
    // re-spelling — tick growth must collapse map-side (bars, not
    // ticks, shuffle), measured on exactly what t9_resample_ohlc runs
    def ohlcBars(ev: DataFrame): DataFrame =
      graft.queries.Analytics.ohlcBars(ev)

    // warm
    Interpolate.densify(GoldModel.factDensifyInput(moreDates(1)))
      .queryExecution.toRdd.count()
    dedupPairs(moreDocs(1)).queryExecution.toRdd.count()

    println(f"${"mult"}%4s  ${"densify_s"}%10s  ${"rows"}%12s  ${"report_s"}%9s  ${"dedup_s"}%8s  ${"pairs"}%8s  ${"ohlc_s"}%7s  ${"bars"}%8s")
    for (m <- Seq(1, 2, 4, 8)) {
      val (td, n) = time {
        Interpolate.densify(GoldModel.factDensifyInput(moreDates(m)))
          .queryExecution.toRdd.count()
      }
      val ev = moreSources(m)
      val (tr, _) = time {
        Report.cheapExpensive(
          Interpolate.densify(GoldModel.factDensifyInput(ev)
            .filter(col("date_id") === 20240115)),
          GoldModel.sourcesDim(ev).filter(col("deleted_at").isNull)
            .select("id", "name", "color"),
          20240115, "cheap").queryExecution.toRdd.count()
      }
      val (tx, np) = time { dedupPairs(moreDocs(m)).queryExecution.toRdd.count() }
      val (to, nb) = time { ohlcBars(moreDates(m)).queryExecution.toRdd.count() }
      println(f"$m%4d  $td%10.2f  $n%12d  $tr%9.2f  $tx%8.2f  $np%8d  $to%7.2f  $nb%8d")
    }

    // ---- adversarial corpora: the degenerate-bucket defenses --------
    // (a) a MILLION IDENTICAL documents. Pre-hardening this built one
    // band bucket of 10⁶ members and a ~5·10¹¹-pair join; now the
    // corpus collapses to ONE exact-text class before banding, so
    // candidate generation touches one band row and cluster assembly
    // touches membership rows only. The probe runs the PRODUCTION
    // pipeline (queries/Text) — linear seconds, or the defense failed.
    {
      import org.apache.spark.sql.functions.{concat_ws, lit => flit}
      val n = 1 << 20
      val identical = spark.range(1, n + 1)
        .select(col("id").as("doc_id"),
          flit("the same boilerplate page text repeated verbatim across every mirror of this site").as("text"))
      val (trp, nrp) = time {
        graft.queries.Text.minhashRepPairsOver(identical).queryExecution.toRdd.count() }
      val (tcl, ncl) = time {
        graft.queries.Text.minhashClustersOver(identical).queryExecution.toRdd.count() }
      println(f"adversarial identical-docs n=$n%d: rep_pairs=$nrp%d in $trp%.2fs, clusters=$ncl%d in $tcl%.2fs")

      // (b) NEAR-identical boilerplate (all distinct classes, shared
      // band buckets): the per-band cap bounds the candidate join, and
      // the dropped-candidate count is reported, not silent.
      spark.conf.set("spark.graft.dedup.bandCap", "256")
      val nearIdentical = spark.range(1, 20001)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            flit("shared boilerplate tokens fill this synthetic page body end to end while"),
            concat_ws("", flit("variant"), col("id").cast("string"))).as("text"))
      val (tnp, nnp) = time {
        graft.queries.Text.minhashRepPairsOver(nearIdentical).queryExecution.toRdd.count() }
      val drops = graft.queries.Text.minhashBandDrops(nearIdentical).collect()
      val dropped = if (drops.isEmpty) 0L else drops.head.getLong(1)
      println(f"adversarial near-identical n=20000 cap=256: rep_pairs=$nnp%d in $tnp%.2fs, dropped_members=$dropped%d")
      spark.conf.unset("spark.graft.dedup.bandCap")
    }
    spark.stop()
  }
}
