package graft

import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Bucketed co-located joins plan without a shuffle exchange and return
  * the same rows as the shuffled join.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("matching-bucket join has no exchange; results equal plain join") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(orders, "b_orders", 8, "o_orderkey")
    Bucketing.writeBucketed(lineitem, "b_lineitem", 8, "o_orderkey")

    val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")

    val expected = orders.join(lineitem, Seq("o_orderkey")).count()
    assert(joined.count() == expected)

    // aggregation on the bucket key also reuses the layout: no exchange
    val agg = spark.table("b_lineitem").groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
  }

  test("b01 gate query joins the bucketed layout without shuffling either side") {
    val df = SparkEntry.queries("b01_bucketed_join")(spark, "/root/testdata/sf0.001")
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected the merge-hinted join:\n$plan")
    // a shuffled join would repartition on the join keys — neither may appear
    // (the only exchanges allowed are the post-join groupBy/orderBy ones)
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join inputs must not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan must use the bucketed layout:\n$plan")
    // faster-path sanity: bucketed result equals the plain shuffled twin
    val plain = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .count()
    assert(df.as[(String, Long, Double)].collect().map(_._2).sum == plain)
  }

  /** The x18 collision join against the index `table`: batch 2's join,
    * the plan dedupeBatchBucketed builds. At gate scale the planner just
    * BROADCASTS the tiny index (bucket layout correctly ignored); the
    * layout's regime is a batch too big to broadcast against a
    * corpus-sized index — force it by disabling broadcast, the 100 TB
    * shape this pin is about.
    */
  private def assertIndexNotShuffled(table: String, batch: org.apache.spark.sql.DataFrame): Unit = {
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = graft.operators.Dedup.bandedSignatures(batch, "doc_id", "text", 2, 16, 8)
      val joined = banded.as("b").join(spark.table(table).as("i"),
          col("b.band_id") === col("i.band_id") &&
            col("b.band_key") === col("i.band_key"))
        .select(col("b.id"))
      joined.collect() // AQE-final plan
      // AQE's toString prints Final AND Initial sections — audit the
      // final one only, or every exchange double-counts
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"index side must scan through the bucketed layout:\n$plan")
      // the corpus-sized index NEVER reshuffles: the only band_key
      // exchange allowed is the O(batch) banded side's
      val exchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band_key"))
        .size
      assert(exchanges <= 1,
        s"expected at most the batch-side exchange, found $exchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      prevA match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("x18 batch-vs-index join reads the bucketed band index without shuffling it") {
    import graft.operators.IncrementalNearDup
    val table = "x18_planpin_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    // batch 1 seeds the bucketed index
    IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", table).count()
    assertIndexNotShuffled(table, docs.filter(col("doc_id") % 2 === 1))
    // and the admission result equals the flat-store twin's
    val flatStore = graft.queries.Dsl.tempDir("x18_flat_twin") + "/store"
    val table2 = "x18_planpin_idx2"
    spark.sql(s"DROP TABLE IF EXISTS $table2")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val batches = Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val viaFlat = batches.map(b => ids(IncrementalNearDup.dedupeBatch(
      b, "doc_id", "text", flatStore))).reduce(_ ++ _)
    val viaBucketed = batches.map(b => ids(IncrementalNearDup.dedupeBatchBucketed(
      b, "doc_id", "text", table2))).reduce(_ ++ _)
    assert(viaBucketed == viaFlat, "bucketed admissions diverge from flat-store")

    // compaction: the two appends above left > buckets files; compacting
    // through the staged rewrite collapses them to <= buckets (writeTasks=1)
    // while preserving rows, the bucketed layout, AND admission behavior
    def tableFiles(t: String): Int = {
      val loc = spark.sql(s"DESCRIBE FORMATTED $t").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      val dir = java.nio.file.Paths.get(new java.net.URI(loc))
      val s = java.nio.file.Files.list(dir)
      try s.filter(p => p.getFileName.toString.startsWith("part-"))
        .count().toInt finally s.close()
    }
    val before = spark.table(table2).count()
    assert(tableFiles(table2) > 16, "expected multi-batch file fragmentation")
    val rows = IncrementalNearDup.compactIndex(spark, table2)
    assert(rows == before && spark.table(table2).count() == before)
    assert(tableFiles(table2) <= 16,
      s"compaction left ${tableFiles(table2)} files for 16 buckets")
    // the compacted files keep the bucketed join unshuffled
    assertIndexNotShuffled(table2, docs.filter(col("doc_id") % 2 === 1))
    // a batch admitted AFTER compaction behaves exactly like the flat
    // twin seeing the same history (re-send batch 2: everything blocked)
    val resend = ids(IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", table2))
    assert(resend.isEmpty, "post-compaction index lost band history")
  }

  test("an admission after another session's compaction reads the installed files") {
    import graft.operators.IncrementalNearDup
    val table = "x18_session_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    def admit(r: Int) = IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === r), "doc_id", "text", table)
    Seq(0, 1).foreach(admit)
    // this session now holds the table's listing; the compaction in
    // another session drops every file in it
    val rows = spark.table(table).count()
    assert(IncrementalNearDup.compactIndex(spark.newSession(), table) == rows)
    assert(admit(0).isEmpty, "a re-sent batch was admitted")
    spark.sql(s"DROP TABLE $table")
  }

  test("a refused or failed bucketed admission leaves no cache entry") {
    import graft.operators.IncrementalNearDup
    val table = "x18_cache_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    IncrementalNearDup.dedupeBatchBucketed(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", table, batchId = Some(1L))
    def cached = org.apache.spark.sql.graft.CacheEntries.count(spark)
    val entries = cached
    // refused: a batch id behind the watermark
    intercept[IllegalArgumentException](IncrementalNearDup.dedupeBatchBucketed(
      docs, "doc_id", "text", table, batchId = Some(0L)))
    assert(cached == entries, "a refused admission left a cache entry")
    // failed: the append's bucket count does not match the table's
    intercept[org.apache.spark.sql.AnalysisException](IncrementalNearDup.dedupeBatchBucketed(
      docs, "doc_id", "text", table, buckets = 8, batchId = Some(2L)))
    assert(cached == entries, "a failed admission left a cache entry")
    spark.sql(s"DROP TABLE $table")
  }
}
