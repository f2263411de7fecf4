package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's client process: one Spark session on `local[cores]`,
  * one workload, a single-threaded closed loop (the next op starts when
  * the previous one returns).
  *
  * Usage: `Main <spec.json> <result.json>`. The spec names the workload,
  * the generated input dir, a working dir, the measuring window and the
  * trace flag; the result holds raw per-op records, set-up times, spans,
  * captured Spark events and the workload's output checks. All
  * statistics are computed from the result by `perfbench/run.py`.
  */
object Main {

  final case class OpRecord(index: Int, kind: String, startMs: Double, endMs: Double,
                            traced: Boolean, gcMs: Long, rows: Long,
                            error: Option[String], detail: Map[String, Any])

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--session-only") {
      // start and stop a session: the build runs this once to record the
      // JVM class-data archive every benchmark run then starts from
      session(2, Paths.get(args(1))).stop()
      return
    }
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get(args(0))))
    val work = Paths.get(spec.get("work").asText)
    val in = Paths.get(spec.get("input").asText)
    val cores = spec.get("cores").asInt
    val trace = spec.get("trace").asBoolean
    Files.createDirectories(work)

    val t0 = Trace.nowMs
    val spark = session(cores, work)
    val sessionS = (Trace.nowMs - t0) / 1000

    // contention canary: Bench's fixed, data-independent range job, best
    // of three, before set-up — a control recorded with every run, not a
    // metric of the program
    val canaryS = (1 to 3).map { _ =>
      val a = Trace.nowMs
      spark.range(200000000L).selectExpr("sum(id % 9973)").collect()
      (Trace.nowMs - a) / 1000
    }.min

    // the traced run attaches its listeners only while tracing is on, so
    // an untraced op pays for neither spans nor listeners; before they are
    // detached, every event already posted is delivered to them
    val capture = new Trace.Capture
    def tracing(on: Boolean): Unit = if (on != Trace.enabled) {
      if (on) {
        spark.sparkContext.addSparkListener(capture)
        spark.listenerManager.register(capture)
      } else {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(capture)
        spark.listenerManager.unregister(capture)
      }
      Trace.enabled = on
    }

    val wl: Workload = spec.get("workload").asText match {
      case "nightly_pipeline" => new Nightly(spark, spec, in, work)
      case "ingest_retrieve" => new Store(spark, spec, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up: the stores are built, then the warm-up pass runs the first
    // ops of the sequence, so the JIT and file caches are warm before
    // measuring
    val b0 = Trace.nowMs
    tracing(trace)
    Trace.span("setup")(wl.build())
    tracing(false)
    val buildS = (Trace.nowMs - b0) / 1000
    val warmup = spec.get("warmup_ops").asInt
    val w0 = Trace.nowMs
    (0 until warmup).foreach(wl.op)
    val warmupS = (Trace.nowMs - w0) / 1000
    wl.ready()

    // the window runs for `seconds` and then to the end of the current
    // round of ops, so every run measures whole rounds (the same number of
    // ops, the same mix of op kinds) whatever its speed. The traced run
    // measures an even number of rounds and traces a checkerboard: the
    // even slots of even rounds and the odd slots of odd ones. Every layer
    // is traced, and each kind runs traced and untraced in one process,
    // which gives the tracing overhead; half the kinds run traced in the
    // colder round, half in the warmer one.
    val round = spec.get("round_ops").asInt
    val unit = round * (if (trace) 2 else 1)
    val ops = ArrayBuffer.empty[OpRecord]
    val endMs = Trace.nowMs + spec.get("seconds").asDouble * 1000
    var i = warmup
    while (wl.has(i) && (Trace.nowMs < endMs || (i - warmup) % unit != 0)) {
      val n = i - warmup
      val traced = trace && (n / round + n % round) % 2 == 0
      tracing(traced)
      val g0 = Trace.gcMs
      val a = Trace.nowMs
      val out = try Right(Trace.span("op")(wl.op(i)))
        catch { case NonFatal(e) => Left(e) }
      val b = Trace.nowMs
      val gc = Trace.gcMs - g0
      tracing(false)
      val rec = out match {
        case Left(e) => OpRecord(i, wl.kind(i), a, b, traced, gc, 0, Some(e.toString), Map.empty)
        case Right(o) =>
          val (err, detail) =
            try wl.check(i, o)
            catch { case NonFatal(e) => (Some(s"check failed: $e"), Map.empty[String, Any]) }
          OpRecord(i, wl.kind(i), a, b, traced, gc, o.rows, err, detail)
      }
      ops += rec
      i += 1
    }
    // the peak covers session start, set-up and the window; the traced
    // extras and the whole-run checks below come after it
    val peakRss = peakRssMb

    if (trace) {
      tracing(true)
      wl.traceExtras()
      tracing(false)
    }
    val f0 = Trace.nowMs
    val finalChecks =
      try wl.finish()
      catch { case NonFatal(e) => Map[String, Any]("error" -> e.toString) }
    val finishS = (Trace.nowMs - f0) / 1000
    spark.stop()

    val result = Map[String, Any](
      "session_s" -> sessionS,
      "build_s" -> buildS,
      "warmup_s" -> warmupS,
      "finish_s" -> finishS,
      "canary_s" -> canaryS,
      "cores" -> cores,
      "peak_rss_mb" -> peakRss,
      "class_archive" -> classArchive,
      "ops" -> ops.map(o => Map[String, Any](
        "index" -> o.index, "kind" -> o.kind, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "traced" -> o.traced, "gc_ms" -> o.gcMs,
        "rows" -> o.rows, "error" -> o.error.orNull, "detail" -> o.detail)).toSeq,
      "final" -> finalChecks,
      "spans" -> Trace.spans.map(s => Seq(s.id, s.parent, s.name, s.startMs, s.endMs)).toSeq,
      "jobs" -> capture.jobs.map { case (j, t, st) => Seq(j, t, st) }.toSeq,
      "stages" -> capture.stages.map { case (k, v) => k.toString -> v.toSeq }.toMap,
      "plans" -> capture.plans.map { case (s, ms) => Seq(s, ms) }.toSeq,
      // the program's own DuckDB oracle SQL for the gates whose output
      // this workload reproduces; run.py evaluates it over the inputs
      "oracle_sql" -> spec.get("oracles").elements.asScala.map(_.asText)
        .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    Files.writeString(Paths.get(args(1)), Json.write(result))
  }

  /** Whether this JVM maps a class-data archive. */
  private def classArchive: Boolean =
    java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("UseSharedSpaces").getValue == "true"

  /** Peak resident set of this JVM (the Spark coordinator and its local
    * executors alike).
    */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** What one op hands to its (untimed) output check. */
final case class OpOut(rows: Long, result: Any)

trait Workload {
  /** Build the stores the workload's ops run against. */
  def build(): Unit
  /** Called once after the warm-up pass. */
  def ready(): Unit = ()
  def has(i: Int): Boolean = true
  def kind(i: Int): String
  def op(i: Int): OpOut
  /** Verify one op's output outside its timing: (error, detail). */
  def check(i: Int, out: OpOut): (Option[String], Map[String, Any])
  /** Extra per-layer measurements made only by the traced run. */
  def traceExtras(): Unit = ()
  /** Whole-run output checks after the measuring window. */
  def finish(): Map[String, Any]
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (files, bytes) under `p`, ignoring Spark's checksum side files. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}

object Json {
  private val mapper = new ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
}
