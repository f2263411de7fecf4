package graft

import graft.sources.ScrapeChunks
import java.sql.Date

/** Time-chunked ingestion planning semantics (CTConfig.py:5-32). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("dateChunks tiles [start, end] with a short final chunk") {
    val chunks = ScrapeChunks.dateChunks(spark, "2021-01-01", "2021-01-25", 10)
      .as[(Int, Date, Date)].collect().toSeq
    assert(chunks.map(_._1) == Seq(0, 1, 2))
    assert(chunks.head._2.toString == "2021-01-01" && chunks.head._3.toString == "2021-01-11")
    assert(chunks.last._2.toString == "2021-01-21" && chunks.last._3.toString == "2021-01-25")
    // tiling: each chunk starts where the previous ended
    chunks.sliding(2).foreach { case Seq(a, b) => assert(a._3 == b._2); case _ => }
  }

  test("FeedPager pages through cursors with retries and lands scannable JSON") {
    import graft.sources.FeedPager
    val dir = graft.queries.Dsl.tempDir("graft-feed")
    var calls = 0
    // 3 pages; every first attempt per cursor fails (retry needed)
    def fetch(cursor: Option[String]): Either[String, FeedPager.Page] = {
      calls += 1
      if (calls % 2 == 1) Left("transient")
      else {
        val n = cursor.map(_.drop(1).toInt).getOrElse(0)
        val post = s"""{"id": ${100 + n}, "shortcode": "sc$n", "is_video": false,
          | "likes": $n, "comments": 1, "comments_disabled": false,
          | "description": "d", "hashtags": [], "mentions": [],
          | "display_url": "u", "thumbnail_src": "t",
          | "owner": {"id": 7}, "taken_at_timestamp": ${1500000000 + n}}"""
          .stripMargin.replace("\n", " ")
        val next = if (n >= 2) None else Some(s"c${n + 1}")
        Right(FeedPager.Page(s"""{"collector": [$post]}""", next))
      }
    }
    val st = FeedPager.run(dir, FeedPager.initialState, maxPages = 10, maxTries = 3)(fetch)
    assert(st.exhausted && st.pagesFetched == 3)
    assert(st.cursors == Vector("c1", "c2"))
    // the landing dir is one schema'd scan away from the posts table
    val posts = graft.operators.PostExtract.postsTable(
      graft.operators.PostExtract.readFeedResponses(spark, dir), "hashtag", "x")
    assert(posts.count() == 3)
    // resume-from-state is a no-op when exhausted
    val again = FeedPager.run(dir, st, maxPages = 10, maxTries = 3)(fetch)
    assert(again == st)
  }

  test("FeedPager aborts resumably when the retry budget is exhausted") {
    import graft.sources.FeedPager
    val dir = graft.queries.Dsl.tempDir("graft-feed2")
    val st = FeedPager.run(dir, FeedPager.initialState, maxPages = 5, maxTries = 2) {
      _ => Left("down")
    }
    assert(!st.exhausted && st.pagesFetched == 0 && st.cursors.isEmpty)
  }

  test("remaining resumes at the persisted chunk cursor") {
    val chunks = ScrapeChunks.dateChunks(spark, "2021-01-01", "2021-03-01", 7)
    val rem = ScrapeChunks.remaining(chunks, currentChunk = 3)
    assert(rem.count() == chunks.count() - 3)
    assert(rem.select("chunk_id").as[Int].collect().min == 3)
  }

  test("Probe.hitCount injects count=0 and falls back to 0 on missing field") {
    import graft.sources.Probe
    var seen: Map[String, String] = Map.empty
    val n = Probe.hitCount("/posts/search", Map("searchTerm" -> "castle")) {
      (url, params) =>
        seen = params
        assert(url == "https://api.crowdtangle.com/posts/search")
        Right("""{"result": {"hitCount": 417}}""")
    }
    assert(n == Right(417L))
    assert(seen("count") == "0" && seen("searchTerm") == "castle")
    // reference one_query.py:49-51: absent hitCount reads as 0
    val zero = Probe.hitCount("/posts", Map.empty)((_, _) => Right("""{"result": {}}"""))
    assert(zero == Right(0L))
    // transport failure propagates as Left, never throws
    val err = Probe.hitCount("/posts", Map.empty)((_, _) => Left("HTTP 404"))
    assert(err == Left("HTTP 404"))
  }

  test("Probe.getPost addresses the post by URL path and returns the result subtree") {
    import graft.sources.Probe
    val out = Probe.getPost("12345_678") { (url, params) =>
      assert(url == "https://api.crowdtangle.com/post/12345_678")
      assert(params.isEmpty)
      Right("""{"result": {"id": "12345_678", "likes": 7}}""")
    }
    assert(out == Right("""{"id":"12345_678","likes":7}"""))
  }
}
