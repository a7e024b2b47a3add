package perfbench

/** Per-layer metrics of a traced run: the listener's jobs joined with
  * the benchmark's spans, per op. Every metric is reported for every
  * workload; one that a workload does not exercise reads 0. */
object Layers {
  /** Modules a job can be attributed to. */
  val Modules = Seq("pipeline", "io", "ops", "functions", "plans", "streaming", "queries")

  /** name → unit, in the order BENCHMARK.json lists them. */
  val All: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.gap_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.exec_s" -> "s",
    "plans.plan_s" -> "s") ++
    Modules.flatMap(m => Seq(s"$m.job_s" -> "s", s"$m.jobs" -> "count")) ++
    Seq("io.commits_per_hour" -> "count", "io.bytes_written_per_hour" -> "B",
      "io.write_amp" -> "ratio", "io.files_per_partition" -> "count",
      "io.resolve_s" -> "s", "io.log_bytes" -> "B", "io.disk_bytes" -> "B",
      "io.feed_rows" -> "count", "io.feed_batches" -> "count",
      "pipeline.read_p50_s" -> "s", "pipeline.feed_lag_p50_s" -> "s",
      "trace.wall_s" -> "s")

  /** Spans that make up an op's wall time (probes such as the traced
    * run's manifest resolve are timed on their own). */
  val OpSpans = Set("runHour", "feed", "read", "build", "plan", "exec")

  /** The run's per-layer metrics (per-op means, except the run totals
    * io.log_bytes, io.disk_bytes and trace.wall_s), and per op the job
    * seconds of each module next to the op's `spark.job_s`. */
  def compute(t: Tracer, spans: Spans, out: Outcome, cores: Int)
      : (Map[String, (Double, String)], Seq[(String, Map[String, Double])]) = {
    val byOp = spans.all.filter(s => OpSpans(s.name)).groupBy(_.op)
    val n = math.max(byOp.size, 1).toDouble
    def layerAt(ms: Double): String =
      spans.all.find(s => s.startMs - 1 <= ms && ms <= s.endMs + 1).map(_.layer).getOrElse("queries")
    val v = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var opWall = 0.0
    val split = byOp.toSeq.sortBy(_._1).map { case (op, ss) =>
      val (s0, s1) = (ss.map(_.startMs).min, ss.map(_.endMs).max)
      opWall += (s1 - s0) / 1e3
      val jobs = t.jobsIn(s0, s1, layerAt)
      v("spark.jobs") += jobs.size
      v("spark.stages") += jobs.map(_.stages).sum
      v("spark.tasks") += jobs.map(_.tasks).sum
      v("spark.job_s") += jobs.map(_.seconds).sum
      v("spark.gap_s") += (s1 - s0) / 1e3 - Tracer.unionMs(jobs.map(j => (j.startMs, j.endMs))) / 1e3
      v("spark.task_cpu_s") += jobs.map(_.cpuNs).sum / 1e9
      v("spark.shuffle_mb") += jobs.map(_.shuffleBytes).sum / 1e6
      v("spark.spill_mb") += jobs.map(_.spillBytes).sum / 1e6
      jobs.groupBy(_.module).foreach { case (m, js) =>
        v(s"$m.job_s") += js.map(_.seconds).sum
        v(s"$m.jobs") += js.size
      }
      ss.find(_.name == "build").foreach { b =>
        v("queries.build_s") += b.seconds
        v("queries.build_jobs") += t.jobsIn(b.startMs, b.endMs, layerAt).size
      }
      ss.find(_.name == "exec").foreach(e => v("queries.exec_s") += e.seconds)
      v("plans.plan_s") += t.plansIn(s0, s1).map(_.planS).sum
      val name = out.opNames.getOrElse(op, op.toString)
      name -> (jobs.groupBy(_.module).map { case (m, js) => s"$m.job_s" -> js.map(_.seconds).sum } +
        ("spark.job_s" -> jobs.map(_.seconds).sum))
    }
    val perOp = v.keys.toSeq.map(k => k -> v(k) / n).toMap
    val cpuUtil = v("spark.task_cpu_s") / (opWall * cores)
    val extra = out.layer.toMap
    val metrics = All.map { case (k, unit) =>
      val value = k match {
        case "spark.cpu_util" => cpuUtil
        case "trace.wall_s" => out.wallS
        case _ => extra.getOrElse(k, perOp.getOrElse(k, 0.0))
      }
      k -> (value, unit)
    }.toMap
    (metrics, split)
  }
}
