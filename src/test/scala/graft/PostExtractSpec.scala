package graft

import graft.operators.PostExtract
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scrape-JSON extraction semantics vs the reference
  * (InstagramFeedScraper.py:188-220, InstagramPostScraper.py:261-359).
  * Fixtures are reference-shaped JSON strings (structure from
  * Scraper/RapidAPI/JsonInfo/PostJsonStructure.txt), not copied content.
  */
class PostExtractSpec extends SparkSpec {
  import spark.implicits._

  private def feedDf: DataFrame = {
    val js = Seq(
      """{"collector": [
        |{"id": 11, "shortcode": "abc", "type": "GraphImage", "is_video": false,
        | "likes": 5, "comments": 2, "comments_disabled": false,
        | "description": "nice #Golf day", "hashtags": ["#Golf"], "mentions": [],
        | "display_url": "du1", "thumbnail_src": "th1",
        | "owner": {"id": 7}, "taken_at_timestamp": 1500000000},
        |{"id": 12, "shortcode": "def", "is_video": true,
        | "likes": 1, "comments": 0, "comments_disabled": false,
        | "description": "x", "hashtags": [], "mentions": ["@y"],
        | "display_url": "du2", "thumbnail_src": "th2",
        | "owner": {"id": 8}, "taken_at_timestamp": 1500000100}]}""".stripMargin.replace("\n", " "),
      // second page repeats post 11 (pagination overlap → dedup)
      """{"collector": [
        |{"id": 11, "shortcode": "abc", "type": "GraphImage", "is_video": false,
        | "likes": 6, "comments": 3, "comments_disabled": false,
        | "description": "nice #Golf day", "hashtags": ["#Golf"], "mentions": [],
        | "display_url": "du1", "thumbnail_src": "th1",
        | "owner": {"id": 7}, "taken_at_timestamp": 1500000000}]}""".stripMargin.replace("\n", " "))
    spark.read.schema(Schemas.feedResponse).json(js.toDS)
  }

  test("postsTable explodes collector, projects 17 cols, dedups (id, shortcode)") {
    val out = PostExtract.postsTable(feedDf, "hashtag", "golf")
    assert(out.columns.toSeq == Schemas.posts.fieldNames.toSeq)
    assert(out.count() == 2)
    val r = out.filter($"id" === 11L).head()
    assert(r.getAs[String]("post_url") == "https://www.instagram.com/p/abc/")
    assert(r.getAs[Long]("comment_count") == 2L) // first occurrence kept
    assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond == 1500000000L)
    assert(out.filter($"id" === 12L).head().getAs[String]("type") == null) // missing key → null
  }

  private val fullPost =
    """{"id": 21, "shortcode": "pqr", "display_url": "du", "accessibility_caption": "ac",
      | "is_video": false, "caption_is_edited": true, "has_ranked_comments": false,
      | "like_and_view_counts_disabled": false, "comments_disabled": false,
      | "taken_at_timestamp": 1600000000, "is_affiliate": false,
      | "is_paid_partnership": true, "is_ad": false,
      | "location": {"name": "Louvre"},
      | "owner": {"id": 9, "username": "alice", "edge_followed_by": {"count": 100},
      |           "edge_owner_to_timeline_media": {"count": 50}},
      | "edge_media_to_caption": {"edges": [{"node": {"text": "hello #Sun #sea"}}]},
      | "edge_media_preview_like": {"count": 42},
      | "edge_media_to_parent_comment": {"count": 3, "edges": [
      |   {"node": {"id": 301, "text": "parent1", "owner": {"username": "bob"},
      |             "edge_liked_by": {"count": 4},
      |             "edge_threaded_comments": {"edges": [
      |               {"node": {"id": 302, "text": "reply1", "owner": {"username": "carol"},
      |                         "edge_liked_by": {"count": 1}}}]}}},
      |   {"node": {"id": 303, "text": "parent2", "owner": {"username": "dan"},
      |             "edge_liked_by": {"count": 0}}}]},
      | "edge_media_to_tagged_user": {"edges": [{"node": {"user": {"username": "eve"}}}]},
      | "edge_sidecar_to_children": {"edges": [
      |   {"node": {"id": 401, "shortcode": "c1"}}, {"node": {"id": 402, "shortcode": "c2"}}]}
      |}""".stripMargin.replace("\n", " ")

  private val minimalPost =
    """{"id": 22, "shortcode": "stu", "display_url": "du2", "is_video": true,
      | "caption_is_edited": false, "has_ranked_comments": false,
      | "like_and_view_counts_disabled": false, "comments_disabled": true,
      | "taken_at_timestamp": 1600000100, "is_affiliate": false,
      | "is_paid_partnership": false, "is_ad": false, "location": null,
      | "owner": {"id": 10, "username": "zoe", "edge_followed_by": {"count": 5},
      |           "edge_owner_to_timeline_media": {"count": 2}},
      | "edge_media_to_caption": {"edges": []},
      | "edge_media_preview_like": {"count": 0},
      | "edge_media_to_parent_comment": {"count": 0, "edges": []}
      |}""".stripMargin.replace("\n", " ")

  private def postsDf: DataFrame =
    spark.read.schema(Schemas.postJson).json(Seq(fullPost, minimalPost).toDS)

  test("readPostJsons: a landing DIRECTORY scans onto the same frame as inline JSON") {
    val dir = graft.queries.Dsl.tempDir("postjsons")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.json"), fullPost)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "b.json"), minimalPost)
    val viaDir = PostExtract.flattenPosts(PostExtract.readPostJsons(spark, dir), "s")
    val viaDs = PostExtract.flattenPosts(postsDf, "s")
    assert(viaDir.collect().toSet == viaDs.collect().toSet)
  }

  test("flattenPosts produces the 27-col post_metadata row with nested extractions") {
    val out = PostExtract.flattenPosts(postsDf, "scrapeX")
    val r = out.filter($"id" === 21L).head()
    assert(r.getAs[String]("caption") == "hello #Sun #sea")
    assert(r.getSeq[String](r.fieldIndex("hashtags")) == Seq("Sun", "sea"))
    assert(r.getSeq[String](r.fieldIndex("tagged_users")) == Seq("eve"))
    assert(r.getSeq[String](r.fieldIndex("comments_flat")) == Seq("parent1", "reply1", "parent2"))
    assert(r.getSeq[String](r.fieldIndex("album_images")) == Seq("401_c1", "402_c2"))
    assert(r.getAs[String]("location") == "Louvre")
    assert(r.getAs[Long]("likes") == 42L && r.getAs[Long]("comment_count") == 3L)
    assert(r.getAs[Long]("owner_followercount") == 100L)
    val m = out.filter($"id" === 22L).head()
    assert(m.getAs[String]("caption") == null) // empty caption edges → null
    assert(m.getSeq[String](m.fieldIndex("hashtags")) == Seq())
    assert(m.getSeq[String](m.fieldIndex("comments_flat")) == Seq())
    assert(m.getAs[String]("location") == null)
  }

  test("commentsTable explodes parent + threaded comments with parent linkage") {
    val out = PostExtract.commentsTable(postsDf).cache()
    assert(out.columns.toSeq == Schemas.postComments.fieldNames.toSeq)
    assert(out.count() == 3) // parent1, reply1, parent2; minimal post has none
    val reply = out.filter($"comment_id" === 302L).head()
    assert(reply.getAs[Long]("parent_comment_id") == 301L)
    assert(reply.getAs[String]("owner") == "carol")
    assert(out.filter($"comment_id" === 301L).head().getAs[Any]("parent_comment_id") == null)
    assert(out.filter($"post_id" === 21L).count() == 3)
  }

  test("imagesTable keeps only candidates whose file exists in the listing") {
    val meta = PostExtract.flattenPosts(postsDf, "s")
    val listing = Seq("21_pqr.jpg", "402_c2.jpg", "unrelated.jpg").toDF("image")
    val out = PostExtract.imagesTable(meta, listing)
    assert(out.columns.toSeq == Schemas.postImages.fieldNames.toSeq)
    assert(out.select("image").as[String].collect().toSet == Set("21_pqr.jpg", "402_c2.jpg"))
  }

  test("JSON sink round-trips post_metadata (S8)") {
    val out = PostExtract.flattenPosts(postsDf, "s")
    val dir = graft.queries.Dsl.tempDir("graft-json") + "/meta"
    out.write.json(dir)
    val back = spark.read.schema(out.schema).json(dir)
    assert(back.count() == out.count())
    val r = back.filter($"id" === 21L).head()
    assert(r.getSeq[String](r.fieldIndex("comments_flat")) == Seq("parent1", "reply1", "parent2"))
  }

  test("ctPostsTable flattens CrowdTangle statistics/account structs") {
    val ct =
      """{"account": {"name": "N", "handle": "h", "subscriberCount": 10, "platformId": "p1"},
        | "date": "2021-05-01 10:00:00", "description": "d", "id": "x|1",
        | "platform": "Instagram", "platformId": "17_1", "postUrl": "u", "score": 1.5,
        | "statistics": {"actual": {"favoriteCount": 3, "commentCount": 1},
        |                "expected": {"favoriteCount": 2, "commentCount": 1}},
        | "subscriberCount": 9, "type": "photo"}""".stripMargin.replace("\n", " ")
    val out = PostExtract.ctPostsTable(spark.read.json(Seq(ct).toDS))
    assert(out.columns.toSeq == Schemas.ctPosts.fieldNames.toSeq)
    val r = out.head()
    assert(r.getAs[String]("account_name") == "N")
    assert(r.getAs[Long]("statistics_actual_favoriteCount") == 3L)
    assert(r.getAs[Double]("score") == 1.5)
  }
}
