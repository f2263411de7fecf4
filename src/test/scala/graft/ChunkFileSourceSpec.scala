package graft

import graft.sources.{ChunkFileSource, ChunkScraper}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.time.LocalDate

/** The DSv2 micro-batch source over a time-chunk landing dir: chunk-index
  * offsets in the streaming checkpoint are the reference's persisted
  * `current_chunk` cursor (CTScraper.py:156-159) — a restarted query
  * resumes exactly at the committed chunk while the scraper keeps
  * appending windows, and no chunk is ever re-fetched.
  */
class ChunkFileSourceSpec extends SparkSpec {
  import spark.implicits._

  private val Start = "2024-01-01"
  private val End = "2024-02-19" // 7 windows of 7 days
  private def fetch(s: LocalDate, e: LocalDate): Either[String, String] =
    Right(s"""{"window": "$s/$e", "posts": ["a", "b"]}""")

  private def readOpts(r: org.apache.spark.sql.DataFrameReader) =
    r.format("graft.sources.ChunkFileSource")
      .option("start", Start).option("end", End).option("chunkDays", "7")

  test("chunk offsets resume at the committed chunk; no chunk re-fetched") {
    val landing = graft.queries.Dsl.tempDir("graft-chunks")
    val outDir = graft.queries.Dsl.tempDir("graft-chunks-out") + "/rows"
    val cp = graft.queries.Dsl.tempDir("graft-chunks-cp")

    def drainStream(): Unit = {
      val q = spark.readStream.format("graft.sources.ChunkFileSource")
        .option("path", landing)
        .option("start", Start).option("end", End).option("chunkDays", "7")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // scrape 3 windows, stream them out
    var fetches = 0
    def countingFetch(s: LocalDate, e: LocalDate): Either[String, String] = {
      fetches += 1; fetch(s, e)
    }
    val hw1 = ChunkScraper.run(landing, Start, End, 7, maxChunks = 3, maxTries = 1)(countingFetch)
    assert(hw1 == 3 && fetches == 3)
    drainStream()
    val first = spark.read.parquet(outDir)
    assert(first.count() == 3)
    // window bounds come from the SOURCE options, not the payload
    assert(first.filter($"chunk_id" === 1L)
      .select($"chunk_start".cast("string"), $"chunk_end".cast("string"))
      .as[(String, String)].head() == ("2024-01-08", "2024-01-15"))

    // the scraper appends 2 more windows (resuming at the high-water
    // mark — fetches only the NEW windows); a restarted query picks up
    // only those
    val hw2 = ChunkScraper.run(landing, Start, End, 7, maxChunks = 2, maxTries = 1)(countingFetch)
    assert(hw2 == 5 && fetches == 5) // current_chunk resume: no re-fetch
    drainStream()
    val all = spark.read.parquet(outDir)
    assert(all.count() == 5)
    assert(all.select("chunk_id").distinct().count() == 5)

    // batch backfill sees every landed chunk through the same table
    val batch = readOpts(spark.read).option("path", landing).load()
    assert(batch.count() == 5)
    assert(batch.schema == ChunkFileSource.schema)

    // ---- no-refetch proof: rotate (delete) every consumed chunk file.
    // If the resumed query re-planned ANY committed chunk, its partition
    // read would throw FileNotFound and fail the query.
    (0L until 5L).foreach(i =>
      Files.delete(java.nio.file.Paths.get(landing, f"chunk_$i%05d.json")))
    val hw3 = ChunkScraper.run(landing, Start, End, 7, maxChunks = 99, maxTries = 1)(countingFetch)
    assert(hw3 == 7 && fetches == 7) // scrape range exhausted at 7 windows
    drainStream()
    val afterRotate = spark.read.parquet(outDir)
    assert(afterRotate.count() == 7)
    assert(afterRotate.select("chunk_id").as[Long].collect().sorted.toSeq == (0L to 6L))
    // the final window is clipped to `end` (Feb 12 + 7 > Feb 19 → Feb 19)
    assert(afterRotate.filter($"chunk_id" === 6L)
      .select($"chunk_end".cast("string")).as[String].head() == "2024-02-19")

    // batch over the rotated dir backfills exactly the remaining window
    val batch2 = readOpts(spark.read).option("path", landing).load()
    assert(batch2.select("chunk_id").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }

  test("a FRESH query over a rotated chunk dir backfills the remaining window") {
    val landing = graft.queries.Dsl.tempDir("graft-chunks-rot")
    val outDir = graft.queries.Dsl.tempDir("graft-chunks-rot-out") + "/rows"
    val cp = graft.queries.Dsl.tempDir("graft-chunks-rot-cp")
    ChunkScraper.run(landing, Start, End, 7, maxChunks = 4, maxTries = 1)(fetch)
    (0L until 2L).foreach(i =>
      Files.delete(java.nio.file.Paths.get(landing, f"chunk_$i%05d.json")))
    val q = spark.readStream.format("graft.sources.ChunkFileSource")
      .option("path", landing)
      .option("start", Start).option("end", End).option("chunkDays", "7")
      .load()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(outDir).select("chunk_id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("a failing window aborts resumably and retries within budget") {
    val landing = graft.queries.Dsl.tempDir("graft-chunks-retry")
    var calls = 0
    // window 1 fails twice then succeeds — maxTries 3 absorbs it
    def flaky(s: LocalDate, e: LocalDate): Either[String, String] = {
      calls += 1
      if (s.toString == "2024-01-08" && calls < 4) Left("rate limited")
      else fetch(s, e)
    }
    val hw = ChunkScraper.run(landing, Start, End, 7, maxChunks = 3, maxTries = 3)(flaky)
    assert(hw == 3)
    // window 0 (1 call) + window 1 (3 calls) + window 2 (1 call)
    assert(calls == 5)
    // a window exhausting its budget returns the landed high-water mark
    val hw2 = ChunkScraper.run(landing, Start, End, 7, maxChunks = 9, maxTries = 2)(
      (_, _) => Left("down"))
    assert(hw2 == 3) // nothing landed, nothing lost — resume later
  }
}
