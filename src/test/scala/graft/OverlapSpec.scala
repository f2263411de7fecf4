package graft

import graft.io.Overlap
import org.apache.spark.{JobExecutionStatus, SparkException, TaskContext}
import org.apache.spark.graftspark.ListenerFlush
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `io.Overlap`: branch order, cancellation of the siblings of a failed
  * branch, nesting, the caller's job group, and that it is the only
  * concurrent Spark code under `src/main`.
  */
class OverlapSpec extends SparkSpec {
  import spark.implicits._
  private def sc = spark.sparkContext

  /** A job of 4 tasks that runs until it is cancelled (a minute at most). */
  private def untilCancelled(): Long = spark.range(0, 4, 1, 4).map { x =>
    val (ctx, end) = (TaskContext.get, System.nanoTime() + 60000000000L)
    while (!ctx.isInterrupted && System.nanoTime() < end) Thread.sleep(10)
    x
  }.count()

  private def statuses(ids: Array[Int]) = ids.toSeq.flatMap(sc.statusTracker.getJobInfo(_)).map(_.status)

  private def waitFor(cond: => Boolean): Unit = {
    val end = System.nanoTime() + 60000000000L
    while (!cond && System.nanoTime() < end) Thread.sleep(10)
  }

  private def threadsOf(label: String) =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && t.getName.startsWith(s"overlap-$label-"))

  test("results come back in branch order, whatever order the branches end in") {
    for (delays <- Seq(Seq(300L, 0L, 150L), Seq(0L, 150L, 300L), Seq(150L, 300L, 0L))) {
      val got = Overlap.all(spark, "order")(delays.zipWithIndex.map { case (ms, i) =>
        s"b$i" -> (() => { Thread.sleep(ms); spark.range(0, i + 1L).count() })
      })
      assert(got == Seq(1L, 2L, 3L), delays)
    }
  }

  test("a failing branch cancels its sibling's job and is the cause") {
    // the failing branch first and last in branch order
    for ((failFirst, row) <- Seq(true, false).zipWithIndex) {
      val (label, tag) = (s"fail$row", s"overlap-spec-sibling-$row")
      val boom = new IllegalArgumentException(s"boom $row")
      val failing: (String, () => Long) = "boom" -> (() => {
        waitFor(sc.statusTracker.getJobIdsForTag(tag).nonEmpty)
        throw boom
      })
      val sibling = "sibling" -> (() => { sc.addJobTag(tag); untilCancelled() })
      val e = intercept[IllegalStateException] {
        Overlap.all(spark, label)(if (failFirst) Seq(failing, sibling) else Seq(sibling, failing))
      }
      assert(e.getCause eq boom, e)
      assert(e.getMessage.contains(label) && e.getMessage.contains("'boom'"), e.getMessage)
      assert(e.getSuppressed.toSeq.map(_.getClass) == Seq(classOf[SparkException]), e.getSuppressed.toSeq)
      assert(e.getSuppressed.head.getMessage.contains("cancelled"), e.getSuppressed.head.getMessage)
      ListenerFlush.flush(sc)
      val ids = sc.statusTracker.getJobIdsForTag(tag)
      assert(ids.nonEmpty && statuses(ids).forall(_ == JobExecutionStatus.FAILED), statuses(ids))
      assert(ids.toSeq.flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds)
        .flatMap(sc.statusTracker.getStageInfo(_)).forall(_.numActiveTasks == 0),
        "every task of the cancelled job has ended")
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
      assert(threadsOf(label).isEmpty, threadsOf(label))
    }
  }

  test("an Overlap.all inside a branch completes") {
    val got = Overlap.all(spark, "outer")(Seq(
      "inner" -> (() => Overlap.all(spark, "inner")(Seq(
        "a" -> (() => spark.range(0, 3).count()),
        "b" -> (() => spark.range(0, 4).count()))).sum),
      "plain" -> (() => spark.range(0, 5).count())))
    assert(got == Seq(7L, 5L))
    assert(threadsOf("outer").isEmpty && threadsOf("inner").isEmpty)
  }

  test("cancelling the caller's job group cancels the branches' jobs") {
    val group = "overlap-spec-group"
    sc.setJobGroup(group, "OverlapSpec")
    val canceller = new Thread(() => {
      waitFor(statuses(sc.statusTracker.getJobIdsForGroup(group)).count(_ == JobExecutionStatus.RUNNING) == 2)
      sc.cancelJobGroup(group)
    })
    canceller.start()
    val e = try intercept[IllegalStateException] {
      Overlap.all(spark, "group")(Seq("a" -> (() => untilCancelled()), "b" -> (() => untilCancelled())))
    } finally { sc.clearJobGroup(); canceller.join() }
    assert(e.getCause.isInstanceOf[SparkException] && e.getCause.getMessage.contains(group), e.getCause)
    ListenerFlush.flush(sc)
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    assert(ids.length == 2 && statuses(ids).forall(_ == JobExecutionStatus.FAILED), statuses(ids))
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }

  test("no file under src/main but io/Overlap.scala runs its own futures") {
    val adHoc = """scala\.concurrent|Future\(|Await\.""".r
    val files = Files.walk(Paths.get("src/main"))
    val offenders = try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.endsWith(Paths.get("graft/io/Overlap.scala")))
      .filter(p => adHoc.findFirstIn(Files.readString(p)).isDefined).toList
    finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
