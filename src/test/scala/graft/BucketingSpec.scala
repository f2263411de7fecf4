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

  test("x18 batch-vs-index join reads the bucketed band index without shuffling it") {
    import graft.operators.{Dedup, IncrementalNearDup}
    val table = "x18_planpin_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    // batch 1 seeds the bucketed index
    IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", table).count()
    // batch 2's collision join — the plan dedupeBatchBucketed builds.
    // At gate scale the planner just BROADCASTS the tiny index (bucket
    // layout correctly ignored); the layout's regime is a batch too big
    // to broadcast against a corpus-sized index — force it by disabling
    // broadcast, the 100 TB shape this pin is about.
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = Dedup.bandedSignatures(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 2, 16, 8)
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
    // through the staging swap collapses them to <= buckets (writeTasks=1)
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
    // a batch admitted AFTER compaction behaves exactly like the flat
    // twin seeing the same history (re-send batch 2: everything blocked)
    val resend = ids(IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", table2))
    assert(resend.isEmpty, "post-compaction index lost band history")

    // crash recovery: simulate dying between DROP and RENAME — the
    // staged table exists, the live one is gone; the next compactIndex
    // call must finish the swap, not rebuild or fail
    val rowsNow = spark.table(table2).count()
    spark.sql(s"DROP TABLE IF EXISTS ${table2}_compacting")
    spark.table(table2)
      .write.bucketBy(16, "band_id", "band_key").sortBy("band_id", "band_key")
      .mode("overwrite").format("parquet").saveAsTable(s"${table2}_compacting")
    spark.sql(s"DROP TABLE $table2") // the crash point
    val recovered = IncrementalNearDup.compactIndex(spark, table2)
    assert(recovered == rowsNow && spark.table(table2).count() == rowsNow)
    assert(!spark.catalog.tableExists(s"${table2}_compacting"))
    // and the history is still intact through the recovery
    assert(ids(IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", table2)).isEmpty)
  }

  /** VERDICT r9 #2: ingest/compaction mutual exclusion is ENFORCED, not
    * documented. Two halves:
    *  1. an ingest arriving while the staging table exists refuses
    *     loudly (its append would be read into neither side of the swap);
    *  2. an ingest that passed that fence BEFORE staging appeared and
    *     lands its append mid-rewrite is FOLDED IN — compactIndex
    *     re-checks the live row count before the swap, redoes the
    *     rewrite, and the post-swap table equals serial execution
    *     (zero band rows lost).
    */
  test("compaction/ingest race: concurrent appends are fenced or folded in, never lost") {
    import graft.operators.IncrementalNearDup
    val table = "x18_race_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compacting")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", table)
    IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", table)

    // half 1 — the fence: while a staging table exists next to the live
    // one, ingestion refuses (and the index is untouched by the attempt)
    spark.table(table).limit(1)
      .write.bucketBy(16, "band_id", "band_key").sortBy("band_id", "band_key")
      .format("parquet").saveAsTable(s"${table}_compacting")
    val preFence = spark.table(table).count()
    val fenced = intercept[IllegalArgumentException] {
      IncrementalNearDup.dedupeBatchBucketed(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", table)
    }
    assert(fenced.getMessage.contains("_compacting"))
    assert(spark.table(table).count() == preFence, "fenced ingest wrote rows")
    spark.sql(s"DROP TABLE ${table}_compacting")

    // half 2 — the in-flight writer: its append lands AFTER the rewrite
    // read the table but BEFORE the swap (injected via the test hook,
    // self-disarming so the retry loop converges). The recheck must
    // catch it and the redo must carry the appended rows through.
    val lateRows = spark.table(table).limit(7).localCheckpoint()
    val expectTotal = preFence + lateRows.count()
    var fired = false
    IncrementalNearDup.testHookBeforeSwap = () => {
      if (!fired) {
        fired = true
        lateRows.write.mode("append").bucketBy(16, "band_id", "band_key")
          .sortBy("band_id", "band_key").format("parquet").saveAsTable(table)
      }
    }
    try {
      val rows = IncrementalNearDup.compactIndex(spark, table)
      assert(fired, "race hook never fired")
      assert(rows == expectTotal && spark.table(table).count() == expectTotal,
        s"post-swap table lost band rows: $rows vs serial $expectTotal")
    } finally IncrementalNearDup.testHookBeforeSwap = () => ()
    assert(!spark.catalog.tableExists(s"${table}_compacting"))

    // half 3 — the nastiest interleaving: the racing append commits
    // AFTER the live table's DROP. Append-mode saveAsTable recreates
    // the table, the rename fails, and the fold-in recovery must keep
    // BOTH the compacted history and the racing rows. The racing rows
    // carry band keys the index has never seen (a real racing batch is
    // NEW data; the fold is a set difference, so re-sent duplicates
    // would — correctly — fold to nothing).
    val preDrop = spark.table(table).count()
    val lateRows2 = spark.table(table).limit(5)
      .withColumn("band_key", col("band_key") + 999999999L)
      .localCheckpoint()
    val expectTotal2 = preDrop + lateRows2.count()
    var fired2 = false
    IncrementalNearDup.testHookAfterDrop = () => {
      if (!fired2) {
        fired2 = true
        lateRows2.write.mode("append").bucketBy(16, "band_id", "band_key")
          .sortBy("band_id", "band_key").format("parquet").saveAsTable(table)
      }
    }
    try {
      val rows2 = IncrementalNearDup.compactIndex(spark, table)
      assert(fired2, "after-drop hook never fired")
      assert(rows2 == expectTotal2 && spark.table(table).count() == expectTotal2,
        s"rename-failure fold lost rows: $rows2 vs serial $expectTotal2")
    } finally IncrementalNearDup.testHookAfterDrop = () => ()
    assert(!spark.catalog.tableExists(s"${table}_compacting"))
    // and the folded table still admits correctly (history intact)
    assert(IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", table).isEmpty)
  }

  /** The crash state that used to DISCARD the whole dedup history: the
    * process died after the swap began (staged carries the full
    * compacted index + `graft.swapPending`) with the live table holding
    * only a racing batch that recreated it. A rerun's old behavior was
    * DROP-staged-and-rebuild from the racing rows — the explicit pending
    * marker makes every recovery path fold-and-finish instead.
    */
  test("swap-pending crash recovery: staged history survives, racing rows fold in") {
    import graft.operators.IncrementalNearDup
    val table = "x18_pending_idx"
    def saveAs(df: org.apache.spark.sql.DataFrame, t: String, mode: String): Unit =
      df.write.mode(mode).bucketBy(16, "band_id", "band_key")
        .sortBy("band_id", "band_key").format("parquet").saveAsTable(t)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compacting")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", table)
    val history = spark.table(table).localCheckpoint()
    val historyN = history.count()

    // manufacture the crash state: staged = full history + swapPending;
    // live = ONLY a racing batch (5 never-seen band rows)
    saveAs(history, s"${table}_compacting", "overwrite")
    spark.sql(s"ALTER TABLE ${table}_compacting " +
      "SET TBLPROPERTIES ('graft.swapPending' = 'true')")
    val racing = history.limit(5)
      .withColumn("band_key", col("band_key") + 888888888L).localCheckpoint()
    spark.sql(s"DROP TABLE $table")
    saveAs(racing, table, "overwrite")

    // a rerun of compactIndex recovers: full history + racing rows, no dup
    val rows = IncrementalNearDup.compactIndex(spark, table)
    assert(rows == historyN + 5,
      s"recovery lost rows: $rows vs ${historyN + 5}")
    assert(spark.table(table).count() == historyN + 5)
    assert(!spark.catalog.tableExists(s"${table}_compacting"))
    // history demonstrably intact: re-sending batch 1 admits nothing
    assert(IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", table).isEmpty)

    // crash BEFORE the drop (live = untouched original): the set-
    // difference fold adds nothing — no duplicated history after recovery
    saveAs(spark.table(table), s"${table}_compacting", "overwrite")
    spark.sql(s"ALTER TABLE ${table}_compacting " +
      "SET TBLPROPERTIES ('graft.swapPending' = 'true')")
    val liveN = spark.table(table).count()
    // the INGEST side hits the same state via recoverCompaction and must
    // fold-and-finish too (never refuse forever, never seed from racing)
    val admitted = IncrementalNearDup.dedupeBatchBucketed(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", table)
    assert(admitted.count() > 0)
    assert(!spark.catalog.tableExists(s"${table}_compacting"))
    assert(spark.table(table).count() > liveN, "ingest append missing")
  }
}
