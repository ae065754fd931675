package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported during one traced span of benchmark work. Listener
  * callbacks run on the bus threads, so every update holds the lock. */
final class LayerAcc {
  var jobs = 0
  var streamJobs = 0
  val batchIds = scala.collection.mutable.HashSet.empty[String]
  var tasks = 0
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
}

/** The traced run's instruments: a `SparkListener` (jobs, tasks, shuffle),
  * a `QueryExecutionListener` (Catalyst phase times from each query's
  * `QueryPlanningTracker`) and a `StreamingQueryListener` (micro-batch
  * progress). The job and progress listeners are attached only around
  * traced operations, so the same run can time operations without them
  * and report the difference as the tracing overhead. The query listener
  * stays registered from the start: a streaming query runs its batches on
  * a clone of the session, which copies the listeners registered when the
  * query starts and sees none added later. */
final class Trace(spark: SparkSession) {
  @volatile private var acc: LayerAcc = _

  private def on(f: LayerAcc => Unit): Unit = {
    val a = acc
    if (a != null) a.synchronized(f(a))
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on { a =>
      a.jobs += 1
      val batch = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      batch.foreach { b => a.streamJobs += 1; a.batchIds += b }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPhases(qe.tracker)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(qe.tracker)
  }

  private val batches = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      on(_.progress += e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Adds one query's Catalyst phase times to the current span. */
  def addPhases(t: QueryPlanningTracker): Unit = {
    def ms(phase: String): Long = t.phases.get(phase).map(_.durationMs).getOrElse(0L)
    on { a =>
      a.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      a.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      a.planningMs += ms(QueryPlanningTracker.PLANNING)
    }
  }

  spark.listenerManager.register(plans)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(batches)
  }

  /** Starts a new span; events posted from now on count towards it. */
  def begin(): LayerAcc = { val a = new LayerAcc; acc = a; a }

  /** Waits until every event posted so far has been delivered, then closes
    * the span. Call it outside the timed section. */
  def settle(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    acc = null
  }
}
