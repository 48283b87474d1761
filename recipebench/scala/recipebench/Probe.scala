package recipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span around a call into the program. `parent` is the id of
  * the enclosing span on the same thread (-1 at top level). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val current = new ThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Spark-side counts between two `cut`s. */
final case class SparkCounts(
    jobs: Long, tasks: Long, schedulerDelayMs: Double,
    shuffleWriteBytes: Long, spillBytes: Long,
    recordsWritten: Long, bytesWritten: Long,
    queries: Seq[QueryStat])

/** One finished query, as the QueryExecutionListener saw it. */
final case class QueryStat(func: String, planMs: Double, execMs: Double,
    filesRead: Long, rowsScanned: Long)

/** The benchmark's own SparkListener and QueryExecutionListener,
  * registered only on traced runs. Counts accumulate until `cut`, which
  * first waits for the listener bus to deliver every earlier event (a
  * marker job's end), then returns and resets them. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private var jobs, tasks, shuffleWrite, spill, recWritten, bytesWritten = 0L
  private var schedDelayMs = 0.0
  private val queries = new ConcurrentLinkedQueue[QueryStat]
  // marker jobs (see cut) by job id, and their stages, kept out of the counts
  private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val markers = new AtomicInteger
  private val MarkerKey = "recipebench.marker"

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(tag) =>
        markerJobs.put(e.jobId, tag)
        e.stageIds.foreach(markerStages.add)
      case None => jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)).foreach(markerSeen.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null && !markerStages.contains(e.stageId)) {
      tasks += 1
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running or serializing the result
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      schedDelayMs += math.max(0L, delay).toDouble
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recWritten += m.outputMetrics.recordsWritten
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    queries.add(QueryStat(func, planMs, durationNs / 1e6,
      metric("numFiles"), metric("numOutputRows")))
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait for the bus to drain, then return and reset the counts. A
    * marker job is posted after every earlier event; once its end is
    * delivered, so is everything before it. */
  def cut(): SparkCounts = {
    val tag = s"m${markers.incrementAndGet()}"
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(MarkerKey)
    sc.setLocalProperty(MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, before)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!markerSeen.contains(tag) && System.nanoTime() < deadline)
      Thread.sleep(2)
    synchronized {
      val qs = Iterator.continually(queries.poll()).takeWhile(_ != null).toSeq
      val out = SparkCounts(jobs, tasks, schedDelayMs, shuffleWrite, spill,
        recWritten, bytesWritten, qs)
      jobs = 0; tasks = 0; schedDelayMs = 0; shuffleWrite = 0; spill = 0
      recWritten = 0; bytesWritten = 0
      out
    }
  }
}
