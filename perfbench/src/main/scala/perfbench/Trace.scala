package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution (Spark stamps its events with
  * currentTimeMillis; spans need finer durations). */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** A timed interval around one of the benchmark's calls into the
  * program. `op` groups the spans of one op; `layer` is the module the
  * called function belongs to. */
final case class Span(op: Int, name: String, layer: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory for the whole run, written out when it ends.
  * With tracing off only the spans the end-to-end metrics need are
  * timed; the listener below is not attached at all. */
final class Spans {
  val all = mutable.ArrayBuffer[Span]()
  def time[T](op: Int, name: String, layer: String)(f: => T): (T, Span) = {
    val t0 = Clock.ms
    val r = f
    val s = Span(op, name, layer, t0, Clock.ms)
    all += s
    (r, s)
  }
}

/** Layer attribution of one Spark job, from outside the program: the
  * job's SQL execution carries the call site that started it, and the
  * innermost `graft.<module>` frame of that call site names the module.
  * Stage call sites cannot do this: AQE submits most stages from its own
  * threads, so they read `CompletableFuture`. A job with no SQL
  * execution, or one whose call site holds no program frame, falls back
  * to the layer of the benchmark span it started in. */
final class JobRec(val id: Int, val startMs: Double, val execId: Option[Long]) {
  var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var module = ""
  def seconds: Double = (endMs - startMs) / 1e3
}

final case class PlanRec(startMs: Double, planS: Double)

class Tracer(spark: SparkSession) {
  import Tracer._
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execDetails = mutable.Map[Long, String]()
  val plans = mutable.ArrayBuffer[PlanRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, exec)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execDetails(s.executionId) = s.details
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += planOf(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every posted event has reached the listeners, then
    * detach them. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Jobs whose start falls inside `[startMs, endMs]`, with their module
    * resolved (span fallback applied). */
  def jobsIn(startMs: Double, endMs: Double, fallback: Double => String): Seq[JobRec] =
    synchronized {
      jobs.values.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs + 1).map { j =>
        if (j.module.isEmpty)
          j.module = j.execId.flatMap(execDetails.get).flatMap(moduleOf)
            .getOrElse(fallback(j.startMs))
        j
      }.toSeq
    }

  def plansIn(startMs: Double, endMs: Double): Seq[PlanRec] = synchronized {
    plans.filter(p => p.startMs >= startMs - 1 && p.startMs <= endMs + 1).toSeq
  }
}

object Tracer {
  val Phases = Seq("analysis", "optimization", "planning")

  /** Analysis + optimization + physical planning time that Catalyst's
    * QueryPlanningTracker recorded for one query execution. */
  def planOf(qe: QueryExecution): PlanRec = {
    val ph = qe.tracker.phases
    val sel = Phases.flatMap(ph.get)
    val start = if (sel.isEmpty) 0.0 else sel.map(_.startTimeMs).min.toDouble
    PlanRec(start, sel.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
  }

  /** Innermost `graft.<module>.` frame of a call-site string. */
  def moduleOf(details: String): Option[String] =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && l.indexOf('.', 6) > 6 =>
        val m = l.substring(6, l.indexOf('.', 6))
        // objects at the package root (Tables, SparkEntry) build frames
        if (m.headOption.exists(_.isLower)) m else "queries"
    }

  /** Length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
