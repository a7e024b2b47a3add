package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Exact counts of what a block launches. Listener events arrive on an
  * asynchronous bus, so after the block a marker is launched and
  * counting stops when the marker's own event arrives — the bus
  * delivers in order, so every event of the block has arrived by then. */
object SparkEvents {

  private val MarkerProp = "graft.test.marker"

  /** Spark jobs started while `body` ran. */
  def jobs(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerProp) != null)) done.countDown()
        else n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(MarkerProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProp, null)
      assert(done.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** SQL executions (Dataset actions) that finished while `body` ran. */
  def executions(spark: SparkSession)(body: => Unit): Int =
    queryExecutions(spark)(body).size

  /** The query executions (Dataset actions, writes included) that
    * finished while `body` ran, in completion order. */
  def queryExecutions(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val marker = spark.range(1)
    val seenQes = new ConcurrentLinkedQueue[QueryExecution]
    val done = new CountDownLatch(1)
    def seen(qe: QueryExecution): Unit =
      if (qe eq marker.queryExecution) done.countDown() else seenQes.add(qe): Unit
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      marker.collect()
      assert(done.await(60, TimeUnit.SECONDS), "marker execution never reached the listener")
      seenQes.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The parquet directories a query execution's plan scans. */
  def scannedPaths(qe: QueryExecution): Seq[String] =
    qe.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
}
