package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One completed op of the timed phase. */
final case class OpRec(index: Int, name: String, seconds: Double)

/** What a workload's timed phase produced, beyond its spans. */
final class Outcome {
  /** Ops the schedule holds; an op never reached counts as failed. */
  var planned = 0
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Op index → op name, failed ops included. */
  val opNames = mutable.Map[Int, String]()
  val failedOps = mutable.Set[Int]()
  /** Sum of the op-cycle wall times (checks excluded). */
  var wallS = 0.0
  val failures = mutable.ArrayBuffer[String]()
  /** Workload-specific per-layer metrics (tracing on). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Diagnostics kept in the run artifact only. */
  val diag = mutable.LinkedHashMap[String, Any]()
  /** Record an output check of op `op` (made outside the timed spans). */
  def check(op: Int, ok: Boolean, what: => String): Unit =
    if (!ok) { failures += s"op $op: $what"; failedOps += op }
}

trait Workload {
  /** Seconds per named step of each set-up repetition, for the artifact. */
  val setupSteps = mutable.ArrayBuffer[Seq[(String, Double)]]()
  protected def steps(fs: (String, () => Unit)*): Unit =
    setupSteps += fs.map { case (n, f) =>
      val t0 = System.nanoTime(); f(); n -> (System.nanoTime() - t0) / 1e9
    }
  /** Session-scoped set-up: make or load the inputs (and warm up on a
    * first query). Called once per set-up repetition, each on a fresh
    * session. */
  def setup(spark: SparkSession, k: Int): Unit
  /** Untimed work between set-up and the timed phase, once per run: the
    * `hourly_etl` history, the query workloads' first pass over their
    * set (so the timed passes measure each query's steady state, not its
    * first codegen and JIT). */
  def warmUp(spark: SparkSession): Unit
  /** The timed phase: every op in seeded order, with spans around each
    * call into the program and output checks outside them. */
  def run(spark: SparkSession, spans: Spans, tracer: Option[Tracer], out: Outcome): Unit
  /** Directory of the inputs, for the fixture fingerprint. */
  def inputDir: String
}

/** Entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> [--work <dir>] [--bench-dir <dir>]
  * [--artifact <file>] [--record 1]`. Prints one
  * JSON result line last on stdout and writes the full run artifact
  * (spans, per-op samples, diagnostics) next to it. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = a.getOrElse("work", ".bench_build/work")
    val record = a.get("record").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    val workload: Workload = workloadName match {
      case "hourly_etl" => new Etl(seed, seconds, s"$work/etl")
      case w if QueryWorkload.Sets.contains(w) =>
        new QueryWorkload(w, seed, seconds, work, a.getOrElse("bench-dir", "perfbench"), record)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, several times on fresh sessions; the last session is kept
    var spark: SparkSession = null
    val setupTimes = (0 until SetupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.create(cores, work)
      val session = (System.nanoTime() - t0) / 1e9
      workload.setup(spark, k)
      workload.setupSteps(k) = ("session" -> session) +: workload.setupSteps(k)
      (System.nanoTime() - t0) / 1e9
    }

    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val spans = new Spans
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val out = new Outcome
    val t0 = System.nanoTime()
    try workload.run(spark, spans, tracer, out)
    catch { case e: Throwable => out.failures += s"run aborted: $e" }
    val phaseS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.finish())

    val lat = out.ops.map(_.seconds).sorted.toIndexedSeq
    val n = lat.size
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupTimes) -> "s"),
      "wall_s" -> (out.wallS -> "s"),
      "op_p50_s" -> (percentile(lat, 50) -> "s"))
    // the highest whole percentile with at least ten ops beyond it; a
    // run of fewer than 20 ops has none above the median
    val tail =
      if (n < 20) null
      else {
        val pct = math.floor(100.0 * (n - 10) / n)
        Json.Raw(Json.obj("pct" -> pct, "s" -> percentile(lat, pct), "ops" -> n))
      }
    val (layer, split) = tracer.map(t => Layers.compute(t, spans, out, cores))
      .getOrElse((Map.empty[String, (Double, String)], Nil))

    val diag = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cores,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "ops" -> n, "op_tail" -> tail, "timed_phase_s" -> phaseS,
      "setup_reps_s" -> setupTimes, "warm_up_s" -> warmUpS)
    diag ++= out.diag
    diag("setup_steps_s") = Json.Raw(workload.setupSteps.map(ss => Json.obj(ss: _*)).mkString("[", ",", "]"))
    diag("calib_s") = Calib.single()
    diag("calib_mt_s") = Calib.multi(cores)
    diag("fixtures") = Json.Raw(graft.Fixtures.fingerprintJson(spark, workload.inputDir))
    spark.stop()

    val metrics = if (trace) layer else e2e.toMap
    // an op fails when it throws, fails a check or is never reached
    val passed = out.ops.count(o => !out.failedOps(o.index))
    val result = Json.obj(
      "correct" -> out.failures.isEmpty,
      "attempted" -> math.max(out.planned, 1),
      "failed" -> math.max(out.planned - passed, if (out.failures.isEmpty) 0 else 1),
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
    val artifact = Json.obj(
      "result" -> Json.Raw(result),
      "end_to_end" -> Json.Raw(Json.obj(e2e.toSeq.map { case (k, (v, _)) => k -> v }: _*)),
      "per_layer" -> Json.Raw(Json.obj(layer.toSeq.sortBy(_._1).map { case (k, (v, _)) => k -> v }: _*)),
      "diagnostics" -> Json.Raw(Json.obj(diag.toSeq: _*)),
      "failures" -> out.failures.toSeq,
      "per_op_job_s" -> Json.Raw(split.map { case (op, m) =>
        Json.obj(("op" -> op) +: m.toSeq.sortBy(_._1): _*) }.mkString("[", ",", "]")),
      "op_samples" -> Json.Raw(out.ops.map(o =>
        Json.obj("op" -> o.name, "s" -> o.seconds)).mkString("[", ",", "]")),
      "spans" -> Json.Raw(spans.all.map(s =>
        Json.obj("op" -> s.op, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)).mkString("[", ",", "]")))
    val artifactPath = a.getOrElse("artifact", s"$work/last_run.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(artifactPath), artifact.getBytes("UTF-8"))
    out.failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    println(result)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toIndexedSeq, 50)

  /** Linear-interpolated percentile of sorted samples. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = (sorted.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

object Session {
  /** A local session on every core, configured like the repo's bench. */
  def create(cores: Int, work: String): SparkSession = {
    val local = new java.io.File(s"$work/spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new java.io.File(s"$work/spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Host calibration: the LCG loops of graft.Bench at a quarter of their
  * length (one pass each), so host contention reads from the artifact
  * alone; multiply by 4 to compare with Bench's calib_s / calib_mt_s. */
object Calib {
  def single(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) print("")
    (System.nanoTime() - t0) / 1e9
  }
  def multi(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i; var k = 0
        while (k < 25000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
        if (x == 42) print("")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON encoding for the result line and the artifact. */
object Json {
  final case class Raw(json: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
