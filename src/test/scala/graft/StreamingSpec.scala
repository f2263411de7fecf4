package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Micro-batch behavior of the streaming operators via MemoryStream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("windowedTypeCounts aggregates per tumbling window and type") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedTypeCounts(mem.toDF(), "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("wtc").outputMode("complete").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(30), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wtc")
        .select("bucket", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (ts(0), "click", 2L, 3.0),
        (ts(60), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated event_ids across batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(9), 1, "click", 1.0), Event(3, ts(10), 2, "view", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L)) // second event_id=1 dropped
    } finally q.stop()
  }

  test("staged stream gates work from a RELATIVE source dir (the ScaleBench shape)") {
    // the r8 regression: staging symlinks with relative targets dangle in
    // the /tmp staging dir and the file stream silently reads NOTHING —
    // sm* measured empty streams at every scale tier in r7's BENCH_SCALE
    val rel = java.nio.file.Paths.get("target/rel-events-test")
    java.nio.file.Files.createDirectories(rel)
    val dst = rel.resolve("events.parquet")
    java.nio.file.Files.deleteIfExists(dst)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"), dst)
    assert(!rel.isAbsolute)
    val rows = SparkEntry.queries("sm01_stream_window")(spark, rel.toString).count()
    assert(rows > 0, "staged stream from a relative dir processed nothing")
  }

  test("file-source micro-batch equals the batch plan (readStream over testdata)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file stream source needs a directory; testdata is one file
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet")
    val dirP = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-stream"))
    java.nio.file.Files.copy(src, dirP.resolve("events.parquet"))
    val dir = dirP.toString
    val schema = spark.read.parquet(dir).schema
    val tsType = schema("ts").dataType
    val rebuild = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts", Tables.normalizedEventTs(tsType))
    val streamed = EventStreams.windowedTypeCounts(
      rebuild(spark.readStream.schema(schema).parquet(dir)), "1 hour", "1 day")
    val q = streamed.writeStream.format("memory").queryName("filewtc")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val stream = spark.table("filewtc").collect().toSet
      val batch = EventStreams.windowedTypeCounts(
        rebuild(spark.read.parquet(dir)), "1 hour", "1 day").collect().toSet
      assert(stream == batch)
      assert(stream.nonEmpty)
    } finally q.stop()
  }

  test("sessionize closes a session after the event-time gap") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapSec = 60)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // base offset 1000s: ts=0 would equal the initial epoch-0 watermark
      // and be dropped as late
      mem.addData(
        Event(1, ts(1000), 7, "click", 1.0),
        Event(2, ts(1020), 7, "view", 2.0),
        Event(3, ts(1040), 7, "click", 3.0))
      q.processAllAvailable()
      assert(spark.table("sess").isEmpty) // session still open
      // far-future event advances the watermark past 1040s + gap → timeout fires
      mem.addData(Event(9, ts(4600), 8, "click", 0.5))
      q.processAllAvailable()
      val s = spark.table("sess")
        .select("user_id", "n_events", "total_value", "duration_sec")
        .as[(Long, Long, Double, Long)].collect()
      assert(s.toSeq == Seq((7L, 3L, 6.0, 40L)))
    } finally q.stop()
  }

  test("foreachBatch upsert maintains a latest-wins snapshot across micro-batches (streaming CDC)") {
    import graft.operators.Upsert
    import java.nio.file.{Files, Paths}
    implicit val ctx = spark.sqlContext
    val root = graft.queries.Dsl.tempDir("graft-cdc")
    val snap = s"$root/snap"
    val keys = Seq("user_id", "event_type")
    val version = Seq("ts", "event_id")
    val mem = MemoryStream[Event]
    val q = mem.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // merge the micro-batch into the persistent snapshot: the sink-side
        // idempotent-upsert shape (Translator.py:121-144's checkpoint
        // semantics at micro-batch grain). Write-then-swap keeps the read
        // and overwrite of the same path from racing.
        val merged =
          if (Files.exists(Paths.get(snap)))
            Upsert.latestWins(spark.read.parquet(snap), batch, keys, version)
          else Upsert.compact(batch, keys, version)
        merged.write.mode("overwrite").parquet(s"$root/next")
        if (Files.exists(Paths.get(snap)))
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(snap))
        Files.move(Paths.get(s"$root/next"), Paths.get(snap))
        ()
    }.start()
    try {
      mem.addData(
        Event(1, ts(100), 1, "click", 1.0),
        Event(2, ts(200), 2, "view", 2.0))
      q.processAllAvailable()
      mem.addData(
        Event(3, ts(300), 1, "click", 3.0),  // newer version of (1, click) → wins
        Event(4, ts(50), 2, "view", 4.0),    // OLDER than the snapshot row → loses
        Event(5, ts(150), 3, "click", 5.0))  // new key → inserts
      q.processAllAvailable()
      val out = spark.read.parquet(snap)
        .select("user_id", "event_type", "event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((1L, "click", 3L), (2L, "view", 2L), (3L, "click", 5L)))
      // incremental stream result ≡ batch backfill compaction
      val allEvents = Seq(
        Event(1, ts(100), 1, "click", 1.0), Event(2, ts(200), 2, "view", 2.0),
        Event(3, ts(300), 1, "click", 3.0), Event(4, ts(50), 2, "view", 4.0),
        Event(5, ts(150), 3, "click", 5.0)).toDF()
      val backfill = Upsert.compact(allEvents, keys, version)
        .select("user_id", "event_type", "event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(out == backfill)
    } finally q.stop()
  }

  test("sessionize splits sessions WITHIN one batch (backfill = one giant batch)") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapSec = 60)
      .writeStream.format("memory").queryName("sess_split").outputMode("append").start()
    try {
      // two sessions for user 7 arrive in the SAME batch (gap 300s > 60s):
      // the first must emit immediately, no watermark advance needed
      mem.addData(
        Event(1, ts(1000), 7, "click", 1.0),
        Event(2, ts(1030), 7, "view", 2.0),
        Event(3, ts(1330), 7, "click", 4.0),
        Event(4, ts(1340), 7, "view", 8.0))
      q.processAllAvailable()
      val s = spark.table("sess_split")
        .select("user_id", "n_events", "total_value", "value_micros", "duration_sec")
        .as[(Long, Long, Double, Long, Long)].collect()
      assert(s.toSeq == Seq((7L, 2L, 3.0, 3000000L, 30L)))
    } finally q.stop()
  }
}
