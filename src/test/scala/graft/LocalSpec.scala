package graft

import graft.io.Local
import org.apache.spark.sql.functions._

/** `io.Local`'s budget is one total over the whole job, not one per task. */
class LocalSpec extends SparkSpec {

  test("rows fails with the remedy once every task's rows together pass the budget") {
    // 16 partitions of 5 rows: no task reaches the budget on its own
    val df = spark.range(0, 80, 1, 16).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Local.rows(df, 12)("split the request")
    }
    assert(e.getMessage.contains("split the request"), e.getMessage)
    assert(Local.rows(spark.range(0, 12, 1, 16).toDF("id"), 12)("unused").map(_.getLong(0)).sorted
      .sameElements(0L until 12L))
  }

  test("values counts a value each task repeats once, and drops nulls") {
    val repeated = spark.range(0, 200000, 1, 8).select(lit(7L).as("v"))
    assert(Local.values(repeated, 1)("unused") == Set(7L))
    val withNull = spark.range(0, 30, 1, 3)
      .select(when(col("id") % 3 === 0, lit(null)).otherwise(col("id") % 5).as("v"))
    assert(Local.values(withNull, 5)("unused") == Set(0L, 1L, 2L, 3L, 4L))
    val e = intercept[IllegalArgumentException] {
      Local.values(spark.range(0, 40, 1, 8).toDF("v"), 9)("split the erasure")
    }
    assert(e.getMessage.contains("split the erasure"), e.getMessage)
  }
}
