package graft

import graft.obs.Capture
import graft.operators.Audit

/** observe-based before/after filter audits (P16) ride the lazy plan. */
class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("observed counts report before/after rows without extra jobs") {
    val df = (1 to 100).map(i => (i.toLong, i % 4 == 0)).toDF("id", "keep")
    val audited = Capture.during(spark)(Audit.observed(
      Audit.observed(df, "before_filter").filter($"keep"), "after_filter").collect())._2
    assert(audited.observed.get("before_filter").map(_.getAs[Long]("rows")).contains(100L))
    assert(audited.observed.get("after_filter").map(_.getAs[Long]("rows")).contains(25L))
    // the collect is the one job; a count() per audit point would add two
    assert(audited.jobs == 1, s"the audited collect ran ${audited.jobs} jobs")
  }
}
