package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

object Bench {
  /** One query's layers in the recorded pass: its Spark jobs, stages and
    * tasks; `job_s` the sum of its job spans; `gap_s` its wall time
    * outside the union of those spans (driver planning, metadata I/O,
    * commit logs — overlapping AQE stages are not counted twice);
    * `plan_s` the outer query's analysis, optimization and planning;
    * its shuffle-write and spill MB. */
  final case class Layers(jobs: Int, stages: Long, tasks: Long, jobS: Double,
      gapS: Double, planS: Double, shuffleMb: Double, spillMb: Double)

  /** One pass: per query its time (ok queries only), its error (failed
    * ones), and in the recorded pass its [[Layers]]. */
  final case class Pass(times: Map[String, Double], failed: Map[String, String],
      layers: Map[String, Layers])

  /** Bench's one listener: cumulative task metrics, and each job's span
    * from the events' own timestamps (not from when the async bus
    * delivers them). */
  final class Meter extends SparkListener {
    val stages, tasks, shuffleBytes, spillBytes, events = new AtomicLong
    val spans = new ConcurrentHashMap[Int, Array[Long]]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      spans.put(e.jobId, Array(e.time, -1L)); events.incrementAndGet(): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(spans.get(e.jobId)).foreach(_(1) = e.time); events.incrementAndGet(): Unit
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet(); events.incrementAndGet(): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
      tasks.incrementAndGet(); events.incrementAndGet(): Unit
    }
    /** Drain the async bus: until no event arrives for 100 ms (2 s cap). */
    def settle(): Unit = {
      val t0 = System.nanoTime()
      var prev = -1L
      while (events.get != prev && System.nanoTime() - t0 < 2e9.toLong) {
        prev = events.get; Thread.sleep(100)
      }
    }
  }

  /** Total length of the union of `[start, end]` intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, end), (s, e)) =>
      if (s >= end) (tot + e - s, e)
      else if (e > end) (tot + e - end, e)
      else (tot, end)
    }._1

  private def mb(bytes: Long): Double = math.round(bytes / 1e5) / 10.0
  private def ms3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** One pass over the registry (or the `only` queries) at `dir`,
    * session-injected so VerifyContractSpec can drive it in-process.
    * With a `meter` attached to the session, this is the recorded
    * pass: per ok query its [[Layers]], read after the query's own time
    * is taken, so timings are unaffected.
    *
    * A query that throws must NOT record a timing: r5's artifact carried
    * 44 ~0.05s analysis-failure floors that read as 20-38× speedups. A
    * failed query gets no time and an entry in `failed`. */
  def pass(spark: SparkSession, dir: String, only: Set[String] = Set.empty,
      meter: Option[Meter] = None): Pass = {
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val layers = scala.collection.mutable.LinkedHashMap[String, Layers]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // drop shared materialized intermediates (dedup signature frames)
      // so each query's timing charges its own full compute —
      // intra-query reuse is the optimization under test, a previous
      // query's warm cache is not
      graft.ops.PlanCache.clear()
      val before = meter.map { m =>
        m.settle(); m.spans.clear()
        (m.stages.get, m.tasks.get, m.shuffleBytes.get, m.spillBytes.get)
      }
      val t0 = System.nanoTime()
      // toRdd executes the FULL plan — every output column is computed.
      // A plain .count() would let Catalyst prune computed columns and
      // under-report any query whose cost is in its projections.
      val qe =
        try { val q = fn(spark, dir).queryExecution; q.toRdd.count(); Some(q) }
        catch { case e: Throwable =>
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          None
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      qe.foreach { q =>
        times(name) = elapsed
        for (m <- meter; (st0, tk0, sh0, sp0) <- before) {
          m.settle()
          val iv = m.spans.values.asScala.toSeq.collect { case Array(s, e) if e >= 0 => (s, e) }
          val ph = q.tracker.phases
          val planMs = Seq("analysis", "optimization", "planning").flatMap(ph.get)
            .map(p => p.endTimeMs - p.startTimeMs).sum
          layers(name) = Layers(m.spans.size, m.stages.get - st0, m.tasks.get - tk0,
            ms3(iv.map { case (s, e) => e - s }.sum / 1e3),
            ms3(elapsed - unionMs(iv) / 1e3), ms3(planMs / 1e3),
            mb(m.shuffleBytes.get - sh0), mb(m.spillBytes.get - sp0))
        }
      }
    }
    Pass(times.toMap, failed.toMap, layers.toMap)
  }

  /** Per query, its fastest time over `ps` (never-ok queries absent). */
  private def best(ps: Seq[Pass]): Map[String, Double] =
    ps.flatMap(_.times).groupMapReduce(_._1)(_._2)(math.min)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional query names focus the run on those queries (dev loop);
    // no names = the full surface
    val only = args.toSet
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.builder(cpus).getOrCreate()
    // ERROR: the one WARN this suite emits by design (Report's
    // single-partition grand-total window over the already-aggregated
    // per-source rows — deliberate and documented there) would repeat
    // 150+ times across three passes; the bench contract is the JSON
    // line, not a log stream.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the session (codegen, parquet footer caches, JIT) on the
    // flagship query so the first timed query isn't charged for startup.
    try SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => () }
    // One untimed warm pass, then three timed passes, per-query minimum:
    // steady-state timing. Generated code is JIT-compiled lazily —
    // identical consecutive executions measure 5.7s → 2.8s → 1.3s while
    // C2 ramps — so the first execution of each query times the JVM,
    // not the plan; and a single timed pass is additionally at the
    // mercy of transient host contention (observed 25× one-off spikes
    // on an otherwise sub-second query, on BOTH passes of a 2-pass
    // run). Warm-then-min reports what the engine actually costs per
    // query at steady state, the same policy as any JMH-style harness.
    // Per-query layers: seconds at sf0.1 can hide a plan that moves the
    // whole input through an exchange (at 100 TB the shuffled BYTES are
    // the cost model) or spends its time in driver gaps, not jobs.
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    pass(spark, sfDir, only) // warm (JIT/codegen), untimed
    val timed1 = pass(spark, sfDir, only)
    val timed2 = pass(spark, sfDir, only)
    // spill shares shuffle_mb's denominator (the final pass only)
    meter.settle()
    val spill0 = meter.spillBytes.get
    val recorded = pass(spark, sfDir, only, Some(meter))
    // capture before the skew measurement below adds its own spill
    meter.settle()
    val spillFinalPassBytes = meter.spillBytes.get - spill0
    val timed = Seq(timed1, timed2, recorded)
    val results = best(timed)
    val failed = timed.flatMap(_.failed).toMap
    val failedNames = failed.keySet.diff(results.keySet).toSeq.sorted
    // Host-load calibration: a fixed 400M-step single-thread LCG loop.
    // Query timings vary run-to-run with machine contention (a loaded
    // host measured this same suite ~2× slower end-to-end, min-of-3
    // included, because contention spanned the whole run); calib_s
    // moves identically, so readings are comparable ACROSS runs via
    // value/calib_s. min-of-3 after one warm round, like the queries.
    def lcgPass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 400000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42) print("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    lcgPass()
    val calib = Seq(lcgPass(), lcgPass(), lcgPass()).min
    // Multi-core calibration: calib_s is single-threaded and therefore
    // BLIND to multi-core contention — r11 measured a uniform 1.2×
    // inflation across 152 untouched queries while calib_s moved 1%,
    // because a competing multi-threaded load steals cores that the
    // 1-thread loop never asks for. calib_mt_s runs the same LCG on
    // every query-execution core at once (cpus threads × 100M steps);
    // when the host is quiet it tracks calib_s × (work ratio), and
    // under multi-core contention it inflates the same way the query
    // suite does — so uniform between-run inflation is machine-
    // detectable from the artifact alone: queries up, calib_s flat,
    // calib_mt_s up ⇒ host contention, not a regression.
    def lcgMtPass(): Double = {
      val n = cpus
      val t0 = System.nanoTime()
      val threads = (0 until n).map { i =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + i; var k = 0
          while (k < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
          if (x == 42) print("")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    lcgMtPass()
    val calibMt = Seq(lcgMtPass(), lcgMtPass(), lcgMtPass()).min
    // Adversarial-skew measurement: the same hot-key join timed with
    // and without salting (ops/Skew.saltedJoin), both numbers in the
    // metric JSON. 90% of lineitem rows collapse onto ONE part key —
    // the pathological shape a domain-heavy 100 TB corpus produces.
    // Broadcast is disabled for the measurement: at lake scale the
    // dimension doesn't fit an executor, and a broadcast join would
    // sidestep the skew being measured. AQE stays on (engine default),
    // so "direct" includes AQE's own skew-split — salting is measured
    // against Spark's best built-in answer, not a strawman.
    val skewJson = {
      import org.apache.spark.sql.functions._
      val restoreBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val hot = Tables.part(spark, sfDir).agg(min("p_partkey")).head().getLong(0)
        def skewed = Tables.lineitem(spark, sfDir)
          .withColumn("l_partkey",
            when(pmod(col("l_orderkey"), lit(10)) < 9, lit(hot))
              .otherwise(col("l_partkey")))
        val dim = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type"))
        def run(joined: org.apache.spark.sql.DataFrame): Double = {
          val plan = joined.groupBy(col("p_type"))
            .agg(count(lit(1)).as("n"), sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
          val t0 = System.nanoTime()
          plan.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        val directT = {
          def d() = run(skewed.join(dim, col("l_partkey") === col("p_partkey")))
          d(); Seq(d(), d()).min
        }
        // the same join with AQE's skew-split off: the shape salting
        // insures against — a skew AQE cannot rescue (its split only
        // applies to sort-merge/shuffled-hash joins above the size
        // threshold; both-sides-skewed and windowed shapes miss it)
        val directNoAqeT = {
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
          try {
            def d() = run(skewed.join(dim, col("l_partkey") === col("p_partkey")))
            d(); Seq(d(), d()).min
          } finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        }
        val saltedT = {
          def s0() = run(graft.ops.Skew.saltedJoin(
            skewed, dim, "l_partkey", "p_partkey",
            discriminator = col("l_orderkey"), buckets = 16))
          s0(); Seq(s0(), s0()).min
        }
        s""""skew":{"direct_s":$directT,"direct_noskewjoin_s":$directNoAqeT,"salted_s":$saltedT}"""
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restoreBroadcast)
    }
    // Second-scale sweep: sf0.1 timings alone can't distinguish a flat
    // query from a super-linear one — both can be green and fast at one
    // scale. Re-time the whole surface at the sibling sf0.01 (1 warm +
    // 2 timed, min) and emit the per-query 10×-data scaling ratio
    // t(sf0.1)/t(sf0.01): ≈1 = fixed-overhead-bound, ≈10 = linear,
    // >>10 = super-linear shape that will not survive the next 10×.
    // Ratios are only as sharp as the sf0.01 floor (~0.05s startup per
    // query), so sub-0.2s denominators are reported but read as noisy.
    val secondaryDir = {
      val f = new java.io.File(sfDir)
      val sib = new java.io.File(f.getParentFile, "sf0.01")
      if (f.getName != "sf0.01" && sib.isDirectory) Some(sib.toString) else None
    }
    val (secondaryJson, ratioJson, ratioNoisyJson) = secondaryDir match {
      case None => ("null", "null", "[]")
      case Some(d) =>
        pass(spark, d, only) // warm at the secondary scale
        val sec = best(Seq(pass(spark, d, only), pass(spark, d, only)))
        val secJ = sec.map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val ratJ = sec.collect { case (k, v) if v > 0 && results.contains(k) =>
          s"\"" + k + "\":" + (math.round(results(k) / v * 100) / 100.0)
        }.mkString("{", ",", "}")
        // denominators under the per-query startup floor make the ratio
        // mostly overhead arithmetic — mark them so a 4× "ratio" on a
        // 0.1s query is read as noise, not a scaling alarm
        val noisyJ = sec.collect { case (k, v) if v < 0.2 && results.contains(k) => k }
          .toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        (secJ, ratJ, noisyJ)
    }
    val qs = (results.map { case (k, v) => s"\"" + k + "\":" + v } ++
      failedNames.map(k => s"\"" + k + "\":null"))
      .mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // fixture fingerprint: makes a between-rounds testdata regeneration
    // visible in the artifact instead of reading as a perf regression
    val fixturesJson = Fixtures.fingerprintJson(spark, sfDir)
    val shuffleJson = recorded.layers
      .map { case (k, l) => s"\"$k\":${l.shuffleMb}" }.mkString("{", ",", "}")
    val layersJson = recorded.layers.map { case (k, l) =>
      s"\"$k\":{\"jobs\":${l.jobs},\"stages\":${l.stages},\"tasks\":${l.tasks}," +
        s"\"job_s\":${l.jobS},\"gap_s\":${l.gapS},\"plan_s\":${l.planS},\"spill_mb\":${l.spillMb}}"
    }.mkString("{", ",", "}")
    // same denominator as shuffle_mb: the final timed pass only — the
    // r8 artifact accumulated spill over all four passes while shuffle
    // covered one, inviting cross-metric misreading
    val spillMb = mb(spillFinalPassBytes)
    val metricJson =
      s"""{"metric":"total","value":$total,"unit":"sec","calib_s":$calib,"calib_mt_s":$calibMt,"n_ok":${results.size},$skewJson,"failed":$failedJson,"fixtures":$fixturesJson,"spill_mb_final_pass":$spillMb,"shuffle_mb":$shuffleJson,"layers":$layersJson,"queries":$qs,"sf":"$sfDir","sf_secondary":${secondaryDir.fold("null")("\"" + _ + "\"")},"queries_secondary":$secondaryJson,"scale_ratio":$ratioJson,"scale_ratio_noisy":$ratioNoisyJson}"""
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] ${failedNames.size} queries FAILED (excluded from total): " +
        failedNames.mkString(", ") + " — first errors: " +
        failedNames.take(3).map(k => s"$k: ${failed(k)}").mkString(" | "))
    // The metric JSON is the bench contract. With 90+ queries the line
    // outgrew the harness's log-tail capture (r4's official total was
    // lost to truncation), so it is persisted to its own file — the
    // durable artifact — and printed as the first stdout line.
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.write(outFile, metricJson.getBytes("UTF-8"))
    println(metricJson)
    // HARNESS CONTRACT (pinned here, the single source of truth): the
    // round artifact keeps only the last CaptureWindow chars of stdout
    // and json-parses them — which failed every round while the full
    // line (~14KB) was the last output. So stdout ends with a newline
    // pad that flushes earlier output past the window, then a compact
    // summary: the headline metrics plus the slowest queries'
    // (2-decimal) timings, as many as fit (the omitted tail is the
    // sub-~0.5s noise floor; queries_total records the cut). The fit
    // is ASSERTED, so a summary outgrowing the window fails this run
    // loudly instead of shipping an unparseable artifact. Nothing may
    // print after the summary.
    val CaptureWindow = 2000
    val sortedQ = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"$k\":${math.round(v * 100) / 100.0}" }
    // the failed list is CAPPED here (count + first few names): a
    // mass-failure round would otherwise blow the head past the
    // capture window and cut the front off the JSON — unparseable in
    // exactly the round where the summary matters most
    val failedCompact = failedNames.take(8).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val head = s"""{"metric":"total","value":${math.round(total * 100) / 100.0},""" +
      s""""unit":"sec","calib_s":${math.round(calib * 1000) / 1000.0},""" +
      s""""calib_mt_s":${math.round(calibMt * 1000) / 1000.0},""" +
      s""""n_ok":${results.size},"failed_n":${failedNames.size},""" +
      s""""failed_top":$failedCompact,""" +
      s""""spill_mb_final_pass":$spillMb,"sf":"$sfDir",""" +
      s""""full":"${outFile.getFileName}","queries_total":${results.size},""" +
      s""""queries_top":{"""
    // 100-char headroom under the window for the closing braces and any
    // line terminator the capture includes
    val budget = (CaptureWindow - 100) - head.length - 2
    // strict prefix of the slowest-first order (stop at the first
    // non-fit): queries_top must BE the slowest N, not "whatever fit"
    val kept = sortedQ.zip(sortedQ.scanLeft(0)(_ + _.length + 1).tail)
      .takeWhile(_._2 <= budget).map(_._1)
    val compact = head + kept.mkString(",") + "}}"
    assert(compact.length <= CaptureWindow - 50,
      s"compact summary (${compact.length} chars) outgrew the $CaptureWindow-char capture window")
    // final statement on stdout before stop(): leading whitespace is
    // legal around a JSON document, so the captured tail parses whether
    // the harness takes the whole window or its last line
    println("\n" * (CaptureWindow + 100) + compact)
    spark.stop()
  }
}
