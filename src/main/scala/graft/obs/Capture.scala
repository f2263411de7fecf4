package graft.obs

import org.apache.spark.graftspark.ListenerFlush
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Task aggregates of one stage, or summed over stages. */
final case class Tasks(
    tasks: Long = 0, failedTasks: Long = 0, runMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0,
    /** The most shuffle records one task read: a hot key's rows all land
      * on one reduce task, so this is the direct observable of key skew.
      */
    maxTaskShuffleRecords: Long = 0) {
  def +(o: Tasks): Tasks = Tasks(
    tasks + o.tasks, failedTasks + o.failedTasks, runMs + o.runMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes, outputBytes + o.outputBytes,
    math.max(maxTaskShuffleRecords, o.maxTaskShuffleRecords))
}

/** What Spark itself reports while a body runs: job starts, per-stage
  * task aggregates, Catalyst's analysis + optimization + planning time,
  * the `df.observe` metrics of every finished query, and the generated
  * classes Janino compiled. Register it with [[Capture.during]], which also
  * drains the listener bus so no event of the body is missed and none from
  * before it is counted.
  */
final class Capture extends SparkListener with QueryExecutionListener {
  private var jobCount = 0
  private val stageTasks = mutable.Map.empty[Int, Tasks]
  private var catalystMs = 0L
  private val metrics = mutable.Map.empty[String, Row]
  private var compiled = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.reason.isInstanceOf[org.apache.spark.Success.type]) 0L else 1L
    val t = Option(e.taskMetrics).fold(Tasks(1, failed)) { m =>
      Tasks(1, failed, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead)
    }
    stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, Tasks()) + t
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    catalystMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    metrics ++= qe.observedMetrics
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def jobs: Int = synchronized(jobCount)
  def stages: Map[Int, Tasks] = synchronized(stageTasks.toMap)
  def total: Tasks = stages.values.foldLeft(Tasks())(_ + _)
  def planMs: Long = synchronized(catalystMs)
  /** `df.observe` name → metrics row, from the queries that finished. */
  def observed: Map[String, Row] = synchronized(metrics.toMap)
  /** Generated classes compiled while the body ran: codegen-cache misses,
    * each one a Janino compile on the driver or in a task. Spark's counter
    * is JVM-global, so compiles of bodies running concurrently (another
    * thread's query, another test) are included.
    */
  def codegenCompiles: Long = synchronized(compiled)
}

object Capture {
  /** `body`'s result and what Spark reported while it ran. */
  def during[T](spark: SparkSession)(body: => T): (T, Capture) = {
    val c = new Capture
    val sc = spark.sparkContext
    ListenerFlush.flush(sc)
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    try {
      val r = body
      ListenerFlush.flush(sc)
      c.synchronized(c.compiled = compiles.getCount - before)
      (r, c)
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }
}
