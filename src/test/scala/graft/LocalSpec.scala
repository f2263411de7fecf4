package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.Local
import graft.obs.Capture
import org.apache.spark.sql.functions._

/** `io.Local`'s budget is one total over the whole job, not one per task,
  * and a local frame is read off its plan.
  */
class LocalSpec extends SparkSpec {
  import spark.implicits._

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

  test("a local frame and a projection of one come back with no job and identical rows") {
    val local = (0L until 50L).map(i => (i, s"t$i", Seq(i.toFloat, 1f))).toDF("id", "t", "v")
    val projected = local.select(col("id") * 2, upper(col("t")), transform(col("v"), x => x + 1))
    Seq(local, projected).foreach { df =>
      val (rows, c) = Capture.during(spark)(Local.rows(df, 50)("unused"))
      assert(c.jobs == 0, s"${df.queryExecution.optimizedPlan}")
      assert(rows.toSeq == df.collect().toSeq)
      val (vs, cv) = Capture.during(spark)(Local.values(df.select(col(df.columns.head) % 7), 7)("unused"))
      assert(cv.jobs == 0 && vs == (0L until 7L).toSet)
    }
    assert(Local.atMost(projected, 49).isEmpty)
  }

  test("rows come back in partition order") {
    val df = spark.range(0, 400, 1, 16).toDF("id")
    assert(Local.rows(df, 400)("unused").map(_.getLong(0)).sameElements(0L until 400L))
  }

  test("valuesAtMost returns the values at the budget and None one value past it") {
    val df = spark.range(0, 90, 1, 6).select((col("id") % 10).as("v"))
    assert(Local.valuesAtMost(df, 10) == Some((0L until 10L).toSet))
    assert(Local.valuesAtMost(df, 9).isEmpty)
    val local = (0L until 90L).map(_ % 10).toDF("v")
    assert(Local.valuesAtMost(local, 10) == Some((0L until 10L).toSet))
    assert(Local.valuesAtMost(local, 9).isEmpty)
  }

  test("no file under src/main but io/Local.scala hand-rolls a limit(n + 1) budget probe") {
    val probe = """limit\(.*\+ *1\)""".r
    val files = Files.walk(Paths.get("src/main"))
    val offenders = try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.endsWith(Paths.get("graft/io/Local.scala")))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .collect { case (l, i) if probe.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}" })
      .toList
    finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
