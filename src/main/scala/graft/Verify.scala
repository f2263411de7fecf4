package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(4)
    new java.io.File(outDir).mkdirs()
    // targeted re-verify (mirrors Bench's SPARK_GRAFT_BENCH_ONLY):
    // comma-separated name prefixes; unset = full sweep (driver mode).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    // A typo'd filter selecting zero queries must not masquerade as a
    // clean (vacuously green) run.
    if (selected.isEmpty)
      sys.error(s"SPARK_GRAFT_VERIFY_ONLY=${only.get.mkString(",")} matched " +
        s"no query names (${SparkEntry.queries.size} registered)")
    // Manifest of what this dump was SUPPOSED to contain: check.py fails
    // any manifest-listed query whose output dir is missing (a crashed
    // query writes no dir) and skips only names outside the manifest
    // (deliberately filtered out).
    Files.writeString(Paths.get(s"$outDir/manifest.txt"),
      selected.keys.toSeq.sorted.mkString("", "\n", "\n"))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
