package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each layer, plus the
  * raw Spark events the traced run attributes to them. Nothing here runs
  * inside the program under test: spans open and close in the benchmark's
  * own client thread, and the listeners are registered by the benchmark.
  *
  * Times are epoch milliseconds with sub-millisecond precision (a
  * monotonic clock anchored once to the wall clock), so spans line up with
  * the epoch-millisecond timestamps Spark puts on its events.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double)

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Spans are recorded only while this is set; the client toggles it per
    * op so the traced run can time traced and untraced ops side by side.
    */
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, nowMs, Double.NaN)
      spans += s
      open = s.id :: open
      try body
      finally {
        s.endMs = nowMs
        open = open.tail
      }
    }

  /** Job starts, per-stage task aggregates and query-planning phases, as
    * Spark reports them. Attribution to spans happens after the run.
    */
  final class Capture extends SparkListener with QueryExecutionListener {
    val jobs = ArrayBuffer.empty[(Int, Long, Seq[Int])]
    // stage id -> tasks, failed tasks, run ms, shuffle write bytes,
    // shuffle read bytes, spill bytes, input bytes, output bytes
    val stages = scala.collection.mutable.Map.empty[Int, Array[Long]]
    // (first phase start ms, analysis + optimization + planning ms)
    val plans = ArrayBuffer.empty[(Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += ((e.jobId, e.time, e.stageIds))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new Array[Long](8))
      a(0) += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.shuffleReadMetrics.totalBytesRead
        a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(6) += m.inputMetrics.bytesRead
        a(7) += m.outputMetrics.bytesWritten
      }
    }

    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        plans += ((ph.values.map(_.startTimeMs).min, planMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}
