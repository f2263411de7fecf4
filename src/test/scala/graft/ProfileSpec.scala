package graft

import graft.obs.Capture

/** [[Profile]]'s records agree with the gates they profile. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("a profile record holds the gate's rows, phases inside the warm run and its jobs") {
    for (gate <- Seq("e15_pq_adc_topk", "e19_ivfpq_stored", "t21b_bm25_stored")) {
      val r = Profile.profile(spark, sf, gate)
      assert(r.rows == SparkEntry.queries(gate)(spark, sf).count(), gate)
      assert(r.constructS + r.planS + r.execS <= r.warmS, s"$gate: $r")
      assert(r.plan.contains("== Physical Plan =="), s"$gate: ${r.plan}")
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.json)
      assert(json.get("rows").asLong == r.rows && json.get("jobs").asInt == r.capture.jobs &&
        json.get("codegen_compiles").asLong == r.capture.codegenCompiles, r.json)
      if (gate == "e19_ivfpq_stored") {
        spark.catalog.clearCache()
        val warm = Capture.during(spark)(Eval.forcedCount(SparkEntry.queries(gate)(spark, sf)))._2
        assert(r.capture.jobs == warm.jobs, s"profiled ${r.capture.jobs} jobs, captured ${warm.jobs}")
      }
    }
  }
}
