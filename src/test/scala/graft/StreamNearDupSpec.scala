package graft

import graft.operators.IncrementalNearDup
import graft.streaming.StreamNearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** sm08 composition: a document stream admitted through the bucketed
  * band index via foreachBatch equals the flat-store batch twin on the
  * same batch sequence (x08's backfill rule), and foreachBatch
  * redelivery — after the index append already happened — leaves the
  * admitted output exactly-once and later batches unaffected.
  */
class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("streamed admission == flat twin; redelivery is exactly-once") {
    implicit val ctx = spark.sqlContext
    val table = "sm08_band_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val outDir = graft.queries.Dsl.tempDir("sm08_out") + "/admitted"

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val batches = (0 until 3).map(i =>
      docs.filter(col("doc_id") % 3 === i).as[(Long, String)].collect().toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamNearDup.admitBatch(b, id, "doc_id", "text", table, outDir)
      }
      .start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()

    def admittedIds: Map[Long, Set[Long]] = spark.read.parquet(outDir)
      .select(col("batch_id").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().groupBy(_._1).map {
        case (b, rows) => b -> rows.map(_._2).toSet
      }

    // flat-store twin over the SAME batch sequence — x08's backfill rule
    val flatStore = graft.queries.Dsl.tempDir("sm08_flat") + "/idx"
    val expected = batches.zipWithIndex.map { case (b, i) =>
      i.toLong -> IncrementalNearDup.dedupeBatch(
        b.toDF("doc_id", "text"), "doc_id", "text", flatStore)
        .select("doc_id").as[Long].collect().toSet
    }.toMap
    val streamed = admittedIds
    assert(streamed == expected, "streamed admissions diverge from flat twin")
    assert(expected.exists(_._2.nonEmpty) &&
      expected.values.map(_.size).sum < batches.map(_.size).sum,
      "fixture must both admit and block")

    // redelivery: batch 2's bands are already in the index (batch_id=2
    // rows). Re-running the foreachBatch body with the same id must
    // recompute the SAME admitted set — only strictly-earlier batches
    // are consulted — and overwrite only its own sink partition.
    StreamNearDup.admitBatch(batches(2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", table, outDir)
    assert(admittedIds == expected, "redelivery changed the output")

    // crash-shaped redelivery: sink partition lost after the index
    // append (crash between append and write) — the retry restores it
    val p2 = java.nio.file.Paths.get(outDir, "batch_id=2")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p2).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    StreamNearDup.admitBatch(batches(2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", table, outDir)
    assert(admittedIds == expected, "retry did not restore the lost partition")

    // a LATER batch is unaffected by the duplicate band rows the
    // redeliveries appended: admissions still match the flat twin that
    // saw each batch exactly once
    val b3 = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .as[(Long, String)].collect().toSeq
    StreamNearDup.admitBatch(b3.toDF("doc_id", "text"), 3L,
      "doc_id", "text", table, outDir)
    val flat3 = IncrementalNearDup.dedupeBatch(
      b3.toDF("doc_id", "text"), "doc_id", "text", flatStore)
      .select("doc_id").as[Long].collect().toSet
    assert(admittedIds.getOrElse(3L, Set.empty) == flat3,
      "post-redelivery batch diverges from flat twin")

    // the two redeliveries above appended batch 2's band rows twice
    // more — exact duplicates with the same batch_id. dedupe-compaction
    // collapses the table back to the unique band set (what a
    // single-delivery run would hold) without changing admissions.
    val uniqueRows = spark.table(table).distinct().count()
    assert(spark.table(table).count() > uniqueRows,
      "fixture must hold redelivery duplicates")
    val rows = IncrementalNearDup.compactIndex(spark, table, dedupe = true)
    assert(rows == uniqueRows && spark.table(table).count() == uniqueRows)
    StreamNearDup.admitBatch(b3.toDF("doc_id", "text"), 4L,
      "doc_id", "text", table, outDir)
    assert(admittedIds.getOrElse(4L, Set.empty).isEmpty,
      "post-dedupe-compaction admission lost band history")

    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("restart-from-zero refused; ingestion reads through a crashed compaction") {
    val table = "sm08_guard_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val out = graft.queries.Dsl.tempDir("sm08_guard") + "/admitted"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    StreamNearDup.admitBatch(b0, 0L, "doc_id", "text", table, out)
    StreamNearDup.admitBatch(b1, 1L, "doc_id", "text", table, out)

    // a BACKWARD batch id is the lost-checkpoint misconfiguration: the
    // strictly-earlier view would be empty and every known near-dup
    // would be re-admitted — refuse with the remedy
    val e = intercept[IllegalArgumentException] {
      StreamNearDup.admitBatch(b0, 0L, "doc_id", "text", table, out)
    }
    assert(e.getMessage.contains("high watermark"))
    // an EQUAL id is a legitimate foreachBatch redelivery — allowed
    StreamNearDup.admitBatch(b1, 1L, "doc_id", "text", table, out)

    // the batch-mode guard is now two-directional: a batch (no batchId)
    // call against this streaming table fails fast, not at the append
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.IncrementalNearDup.dedupeBatchBucketed(
        b0, "doc_id", "text", table)
    }
    assert(e2.getMessage.contains("streaming mode"))

    // a compaction that crashed mid-install: its plan is committed, one
    // staged file is renamed in, no old file is dropped yet
    val loc = new java.net.URI(spark.sql(s"DESCRIBE FORMATTED $table").collect()
      .find(_.getString(0) == "Location").get.getString(1)).getPath
    val root = CrashFs.root
    CrashFs.root = loc
    val crashing = spark.newSession()
    crashing.conf.set("fs.file.impl", classOf[CrashFs].getName)
    crashing.conf.set("fs.file.impl.disable.cache", "true")
    CrashFs.arm(_ == s"$loc/_compact_done.tmp", 4)
    val crashed = try scala.util.Try(IncrementalNearDup.compactIndex(crashing, table))
      finally { CrashFs.disarm(); CrashFs.root = root }
    assert(CrashFs.tripped && crashed.isFailure)
    assert(new java.io.File(loc, "_compact_done").exists, "the crash must leave a committed plan")
    // an INGESTING batch reads the table as it stands, a superset of the
    // history: a re-send of batch 0's docs (as batch 2) is fully blocked
    StreamNearDup.admitBatch(b0, 2L, "doc_id", "text", table, out)
    val admitted2 = spark.read.parquet(out)
      .filter(col("batch_id").cast("long") === 2L).count()
    assert(admitted2 == 0,
      s"crash-state ingest admitted $admitted2 docs the history blocks")
    // the next compaction finishes the crashed one first, and the table
    // still carries the watermark: backwards ids stay refused
    val rows = IncrementalNearDup.compactIndex(spark, table, dedupe = true)
    assert(rows == spark.table(table).distinct().count())
    assert(!new java.io.File(loc, "_compact_done").exists &&
      !new java.io.File(loc, "_compact_pending").exists)
    assert(intercept[IllegalArgumentException] {
      StreamNearDup.admitBatch(b1, 1L, "doc_id", "text", table, out)
    }.getMessage.contains("high watermark"))

    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
