package graft

import graft.operators.Compact
import org.apache.spark.sql.functions._

/** File-level contracts of the compaction operator that the row-level
  * oracle gate (io06) cannot see: the file count actually shrinks to the
  * byte-derived plan, and the rewrite is row-preserving.
  */
class CompactionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("compaction hits the planned byte-derived file count and preserves rows") {
    val tmp = graft.queries.Dsl.tempDir("compact-spec")
    val small = s"$tmp/small"
    val out = s"$tmp/out"
    val docs = Tables.documents(spark, dir)
    docs.repartition(16).write.mode("overwrite").parquet(small)
    assert(Compact.parquetFileCount(spark, small) == 16)
    val bytes = Compact.parquetBytes(spark, small)
    assert(bytes > 0)
    val planned = Compact.compact(spark, small, out, targetBytes = bytes / 3)
    // ceil(bytes / (bytes/3)) is 3 or 4 depending on the integer division remainder
    assert(planned >= 3 && planned <= 4, s"planned $planned")
    assert(Compact.parquetFileCount(spark, out) == planned)
    // row preservation, content included
    val a = docs.agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).collect()(0)
    val b = spark.read.parquet(out)
      .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).collect()(0)
    assert(a == b)
  }

  test("compacting one oversized input still plans a single file") {
    val tmp = graft.queries.Dsl.tempDir("compact-spec2")
    val small = s"$tmp/one"
    val out = s"$tmp/out"
    Tables.documents(spark, dir).coalesce(1).write.mode("overwrite").parquet(small)
    val planned = Compact.compact(spark, small, out,
      targetBytes = Long.MaxValue)
    assert(planned == 1)
    assert(Compact.parquetFileCount(spark, out) == 1)
  }
}
