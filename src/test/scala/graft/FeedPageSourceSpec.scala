package graft

import graft.sources.{FeedPager, FeedPageSource}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The DSv2 micro-batch source over a FeedPager landing dir: page-index
  * offsets in the streaming checkpoint mean a restarted query resumes
  * exactly where it committed while the scraper keeps appending pages —
  * the reference's cursor-position persistence
  * (InstagramFeedScraper.py:66-74) owned by the engine's offset log.
  */
class FeedPageSourceSpec extends SparkSpec {
  import spark.implicits._

  private def fetch(cursor: Option[String]): Either[String, FeedPager.Page] = {
    val i = cursor.map(_.toInt).getOrElse(0)
    Right(FeedPager.Page(s"""{"page": $i, "posts": ["p${i}a", "p${i}b"]}""",
      Some((i + 1).toString)))
  }

  test("streaming offsets resume at the committed page; batch sees all pages") {
    val landing = graft.queries.Dsl.tempDir("graft-dsv2-pages")
    val outDir = graft.queries.Dsl.tempDir("graft-dsv2-out") + "/rows"
    val cp = graft.queries.Dsl.tempDir("graft-dsv2-cp")

    def drainStream(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedPageSource")
        .option("path", landing).load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // scrape 3 pages, stream them out
    val st1 = FeedPager.run(landing, FeedPager.initialState, maxPages = 3, maxTries = 1)(fetch)
    drainStream()
    val first = spark.read.parquet(outDir)
    assert(first.count() == 3)
    assert(first.select("page_idx").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))

    // the scraper appends 2 more pages; a restarted query picks up ONLY
    // those — the committed offset survives in the checkpoint
    val st2in = FeedPager.run(landing, st1, maxPages = 5, maxTries = 1)(fetch)
    drainStream()
    val all = spark.read.parquet(outDir)
    assert(all.count() == 5) // no page re-read, none skipped
    assert(all.select("page_idx").distinct().count() == 5)
    // payload flowed through intact
    assert(all.filter(org.apache.spark.sql.functions.col("page_idx") === 4L)
      .select("json").as[String].head().contains("\"page\": 4"))

    // batch backfill over the same table sees every page
    val batch = spark.read.format("graft.sources.FeedPageSource")
      .option("path", landing).load()
    assert(batch.count() == 5)
    assert(batch.schema == FeedPageSource.schema)

    // ---- no-refetch proof: ROTATE (delete) every consumed page file.
    // If the resumed query re-planned ANY committed page, its partition
    // read would now throw FileNotFound and fail the query — passing
    // proves the restart fetches only beyond the committed offset. This
    // also pins the high-water mark to max-index+1 (a file COUNT would
    // walk the offset backwards after rotation and drop the new pages).
    (0L until 5L).foreach(i =>
      Files.delete(FeedPageSource.pagePath(landing, i)))
    val st2 = FeedPager.run(landing, st2in, maxPages = 7, maxTries = 1)(fetch)
    assert(st2.pagesFetched == 7)
    drainStream()
    val afterRotate = spark.read.parquet(outDir)
    assert(afterRotate.count() == 7) // 5 committed + the 2 new pages
    assert(afterRotate.select("page_idx").as[Long].collect().sorted.toSeq ==
      (0L to 6L))
    // batch over the rotated dir backfills exactly the remaining window
    val batch2 = spark.read.format("graft.sources.FeedPageSource")
      .option("path", landing).load()
    assert(batch2.select("page_idx").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }

  test("a FRESH query over a rotated landing dir backfills the remaining window") {
    val landing = graft.queries.Dsl.tempDir("graft-dsv2-rot")
    val outDir = graft.queries.Dsl.tempDir("graft-dsv2-rot-out") + "/rows"
    val cp = graft.queries.Dsl.tempDir("graft-dsv2-rot-cp")

    FeedPager.run(landing, FeedPager.initialState, maxPages = 5, maxTries = 1)(fetch)
    // rotate the first three pages away BEFORE any checkpoint exists:
    // a fresh query must start at the lowest surviving index (not 0,
    // which would plan partitions for archived files and fail)
    (0L until 3L).foreach(i => Files.delete(FeedPageSource.pagePath(landing, i)))
    val q = spark.readStream.format("graft.sources.FeedPageSource")
      .option("path", landing).load()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(outDir).select("page_idx").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L))
  }
}
