package graft

import org.apache.spark.sql.SparkSession

/** CLI entry point for the config-driven pipeline — the reference's
  * `python orchestrator.py --config config/X.json` contract
  * (ref orchestrator.py:17-27 argparse + :28-57 stage loop) as a Spark
  * application:
  *
  *   tools/run.sh graft.RunPipeline <rootDir> <configPath> [--rerun]
  *                                  [--summary <path>]
  *
  * Stage inputs/outputs resolve under `rootDir`; `--rerun` disables the
  * skip-if-output-exists memoization (the reference's root-level
  * `skip_stage_if_exists` flag is honored otherwise, config/test.json:3).
  * Prints the per-stage status/timing summary (the reference's
  * time-share table, orchestrator.py:59-65), optionally persisting it as
  * a CSV artifact via `--summary` — the S11-report twin of the printed
  * table — and exits non-zero if any enabled stage failed to run.
  */
object RunPipeline {

  /** The CLI body against a CALLER-OWNED session (testable without
    * session teardown): parse flags, run the stage list, optionally
    * persist the summary CSV, print the time-share table; returns the
    * process exit code (non-zero iff an enabled stage failed to run).
    */
  def runCli(spark: SparkSession, args: Array[String]): Int = {
    require(args.length >= 2,
      "usage: RunPipeline <rootDir> <configPath> [--rerun] [--summary <path>]")
    val rootDir = args(0)
    val cfg = pipeline.Pipeline.loadConfig(args(1))
    val flags = args.drop(2)
    val skip = !flags.contains("--rerun") && cfg.skipIfExists
    val summaryPath = flags.sliding(2).collectFirst {
      case Array("--summary", p) => p
    }
    // a dangling --summary (no value, or another flag consumed as the
    // path) must fail loudly, not silently skip the requested artifact
    if (flags.contains("--summary"))
      require(summaryPath.exists(!_.startsWith("--")),
        "--summary requires a path argument")
    val summary = pipeline.Pipeline.run(spark, rootDir, cfg, skipIfExists = skip)
    summaryPath.foreach(p => io.CsvIo.writeCsv(summary, p, singleFile = true))
    val rows = summary.collect()
    rows.foreach { r =>
      println(f"[pipeline] ${r.getAs[String]("stage")}%-24s " +
        f"${r.getAs[String]("status")}%-14s ${r.getAs[Double]("seconds")}%8.2fs " +
        f"${r.getAs[Double]("time_pct")}%5.1f%%")
    }
    val bad = rows.map(_.getAs[String]("status"))
      .count(s => s != "ok" && s != "skipped" && s != "disabled")
    if (bad > 0) System.err.println(s"[pipeline] $bad stage(s) did not run")
    if (bad > 0) 1 else 0
  }

  def main(args: Array[String]): Unit = {
    // a cluster deployment submits its own master (GraftSession yields)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors(),
      "spark.app.name" -> "graft-pipeline")
    // compute the exit code INSIDE the try and exit AFTER the finally:
    // sys.exit does not unwind the stack, so calling it inside the try
    // would skip spark.stop() on the failure path
    val exitCode =
      try runCli(spark, args)
      finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
