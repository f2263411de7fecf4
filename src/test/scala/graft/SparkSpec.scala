package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (one JVM-wide session;
  * suites must not stop it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sql = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    // local[threads, maxFailures]: allow ONE task retry, like any real
    // cluster — retry-safety specs (TranslationJobSpec) need a genuinely
    // retried task, and passing tests never fail a task anyway.
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", graft.queries.Dsl.tempDir("graft-warehouse"))
    .config("spark.ui.enabled", "false")
    // plan audits read PushedFilters/PartitionFilters out of plan
    // STRINGS; the default 100-char metadata truncation silently hides
    // pushed predicates from the assertions (q06's 4-filter scan was
    // the first to cross it)
    .config("spark.sql.maxMetadataStringLength", "2000")
    .getOrCreate()

  /** Empty Spark's codegen cache, so a count of generated classes does not
    * depend on which suites ran before it in the JVM.
    */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val c = cache.invoke(gen)
    c.getClass.getMethod("invalidateAll").invoke(c)
  }
}
