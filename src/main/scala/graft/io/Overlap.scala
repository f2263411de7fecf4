package graft.io

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.graftspark.ListenerFlush
import org.apache.spark.sql.SparkSession

/** Independent Spark legs run side by side: Spark's scheduler, not a
  * thread pool, shares out the cores, so a leg's thread only has to keep
  * its jobs submitted for the slots another leg's small job leaves idle
  * to fill.
  */
object Overlap {
  private val calls = new AtomicLong

  /** Every branch's result, in branch order.
    *
    * Each branch runs on a daemon thread of its own, started for this call
    * and ended before it returns, and its jobs carry a job tag of their own
    * on top of the caller's job group and tags. The first branch to fail
    * stops the siblings that have not started and cancels the others' jobs,
    * again every 100 ms while they run, so a job a sibling starts later is
    * cancelled too. Every branch is awaited, and after a failure every
    * tagged job and task; then one `IllegalStateException` names `label`
    * and the failed branch, with its failure as the cause and every later
    * failure suppressed.
    */
  def all[A](spark: SparkSession, label: String)(branches: Seq[(String, () => A)]): Seq[A] = {
    val sc = spark.sparkContext
    val call = calls.incrementAndGet()
    val tags = branches.indices.map(i => s"graft-overlap-$call-$i")
    val results = new Array[Any](branches.size)
    val errors = new Array[Throwable](branches.size)
    val failed = new AtomicInteger(-1)
    def reason = s"$label: branch '${branches(failed.get)._1}' failed"
    def cancel(except: Int): Unit =
      tags.indices.filter(_ != except).foreach(j => sc.cancelJobsWithTag(tags(j), reason))
    val threads = branches.zipWithIndex.map { case ((name, body), i) =>
      val t = new Thread(() =>
        try if (failed.get < 0) { sc.addJobTag(tags(i)); results(i) = body() }
        catch { case e: Throwable => errors(i) = e; if (failed.compareAndSet(-1, i)) cancel(i) },
        s"overlap-$label-$name")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(t => while (t.isAlive) { t.join(100); if (failed.get >= 0) cancel(failed.get) })
    if (failed.get >= 0) {
      // a query's asynchronous jobs (a broadcast already planning) can
      // start after its thread has ended, and a cancelled job ends before
      // its killed tasks do, which may still be writing: sweep until no
      // tagged job or task has run for 100 ms (a minute at most)
      val start = System.nanoTime()
      var quiet = start
      while (System.nanoTime() - quiet < 100000000L && System.nanoTime() - start < 60000000000L) {
        if (running(sc, tags)) { cancel(-1); quiet = System.nanoTime() }
        Thread.sleep(10)
      }
      val e = new IllegalStateException(reason, errors(failed.get))
      errors.filter(x => x != null && (x ne e.getCause)).foreach(e.addSuppressed)
      throw e
    }
    results.toSeq.map(_.asInstanceOf[A])
  }

  /** Whether a tagged job, or a task of one, still runs. */
  private def running(sc: SparkContext, tags: Seq[String]): Boolean = {
    ListenerFlush.flush(sc)
    val st = sc.statusTracker
    val jobs = tags.flatMap(st.getJobIdsForTag(_)).flatMap(st.getJobInfo(_))
    jobs.exists(_.status == JobExecutionStatus.RUNNING) ||
      jobs.flatMap(_.stageIds).flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
  }
}
