package graft

import org.apache.spark.sql.SparkSession

/** The session every graft main but [[Bench]] runs in: UTC, graft's
  * codegen functions and a throwaway warehouse dir (bucketed-table
  * queries write managed tables there) swept at JVM exit. Unless a master
  * was submitted (spark-submit's `spark.master`, or `SPARK_MASTER`), which
  * keeps its own sizing and UI, the master is local with
  * `SPARK_GRAFT_CPUS` cores (`defaultCpus` when unset), as many shuffle
  * partitions, and no UI. `conf` pairs are a caller's extra settings.
  */
object GraftSession {
  def local(defaultCpus: Int, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", queries.Dsl.tempDir("graft-warehouse"))
      .config(conf.toMap)
    val spark = (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")) builder
      else builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus).config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
