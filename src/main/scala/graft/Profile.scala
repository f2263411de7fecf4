package graft

import graft.obs.Capture
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Where a gate's time goes, as Catalyst and the scheduler report it.
  * Each gate runs twice on a cache-cleared session. The warm run is split
  * into construct (building the DataFrame, which may run store builds and
  * coordinator collects), plan (Catalyst, to the executed plan) and exec
  * (the forced count), and carries the jobs, stages, task aggregates and
  * codegen compiles [[obs.Capture]] saw over all three (the compile counter
  * is JVM-global, so it counts every thread's), plus the formatted
  * physical plan.
  *
  * Usage: `tools/run.sh graft.Profile [gate ...]`; no gates profiles every
  * gate in registry order. Reads `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  * `SPARK_GRAFT_CPUS` (default 32). Prints one canary line (Bench's fixed
  * workload, best of 3), then one JSON line per gate.
  */
object Profile {
  final case class Record(gate: String, rows: Long, coldS: Double, warmS: Double,
      constructS: Double, planS: Double, execS: Double, capture: Capture, plan: String) {
    def json: String = {
      val t = capture.total
      val tasks = t.productElementNames.zip(t.productIterator).map { case (k, v) =>
        "[A-Z]".r.replaceAllIn(k, m => "_" + m.matched.toLowerCase) -> v
      }
      Profile.json(Seq("gate" -> gate, "rows" -> rows, "cold_s" -> coldS, "warm_s" -> warmS,
        "construct_s" -> constructS, "plan_s" -> planS, "exec_s" -> execS,
        "jobs" -> capture.jobs, "stages" -> capture.stages.size,
        "catalyst_ms" -> capture.planMs,
        "codegen_compiles" -> capture.codegenCompiles) ++ tasks ++ Seq("plan" -> plan))
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def json(fields: Seq[(String, Any)]): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    mapper.writeValueAsString(m)
  }

  def profile(spark: SparkSession, sfDir: String, gate: String): Record = {
    val fn = SparkEntry.queries(gate)
    spark.catalog.clearCache()
    val cold = timed(Eval.forcedCount(fn(spark, sfDir)))._2
    spark.catalog.clearCache()
    val (((df, construct, plan, rows, exec), capture), warm) = timed(Capture.during(spark) {
      val (df, construct) = timed(fn(spark, sfDir))
      val plan = timed(df.queryExecution.executedPlan)._2
      val (rows, exec) = timed(Eval.forcedCount(df))
      (df, construct, plan, rows, exec)
    })
    Record(gate, rows, cold, warm, construct, plan, exec, capture,
      df.queryExecution.explainString(FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    val canary = (1 to 3).map(_ =>
      timed(spark.range(200000000L).selectExpr("sum(id % 9973)").collect())._2).min
    println(json(Seq("canary_s" -> canary, "sf" -> sfDir)))
    (if (args.isEmpty) SparkEntry.names else args.toSeq).foreach { gate =>
      println(try profile(spark, sfDir, gate).json catch {
        case NonFatal(e) => json(Seq("gate" -> gate, "error" -> String.valueOf(e.getMessage)))
      })
    }
    spark.stop()
  }
}
