package graft

import graft.io.CsvIo
import graft.operators.Exploratory
import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Exploratory-analysis math edges: correlation values, histogram bucket
  * boundaries, profile null accounting.
  */
class ExploratorySpec extends SparkSpec {
  import spark.implicits._

  test("corrMatrix: perfect linear pair → 1.0; constant column → NaN") {
    val df = Seq((1.0, 2.0, 5.0), (2.0, 4.0, 5.0), (3.0, 6.0, 5.0)).toDF("x", "y", "c")
    val out = Exploratory.corrMatrix(df, Seq("x", "y", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-12)
    assert(out(("x", "c")).isNaN && out(("y", "c")).isNaN)
  }

  test("corrMatrix survives real-magnitude long ids (squares overflow 2^63)") {
    // real Instagram owner_ids are ~10^10 and post ids ~2*10^18: squared in
    // Long arithmetic both overflow and ANSI mode throws — the factors must
    // be widened BEFORE the multiply (the round-10 verdict's fixture crash)
    val df = Seq(
      (7899670905L, 2117660727242468851L, 10L),
      (1199849L, 2117000000000000000L, 20L),
      (4511223344L, 2118999999999999999L, 35L)).toDF("owner_id", "post_id", "likes")
    val out = Exploratory.corrMatrix(df, Seq("owner_id", "post_id", "likes"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size == 3 && out.values.forall(v => !v.isNaN && math.abs(v) <= 1.0))
    // cross-checked against float64 Pearson on the same three rows
    assert(math.abs(out(("owner_id", "likes")) - -0.3210496153392666) < 1e-9)
    assert(math.abs(out(("owner_id", "post_id")) - 0.40041429038645626) < 1e-9)
    assert(math.abs(out(("post_id", "likes")) - 0.7392728071630695) < 1e-9)
  }

  test("histogram: constant column → everything in bucket 0, no ANSI error") {
    // hi == lo makes the bin width 0; the unguarded division yields
    // Infinity and floor(Infinity).cast(long) throws under ANSI
    val df = Seq.fill(5)(42.0).toDF("v")
    val out = Exploratory.histogram(df, "v", bins = 30).as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 5L)))
  }

  test("histogram: max value lands in the last bucket, min in the first") {
    val df = (0 to 30).map(_.toDouble).toDF("v")
    val out = Exploratory.histogram(df, "v", bins = 30)
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L)   // v=0
    assert(out(29L) == 2L)  // v=29 and the max v=30 clamped into bucket 29
    assert(out.values.sum == 31L)
  }

  test("profile counts nulls and distincts") {
    val df = Seq(Some("a"), Some("a"), Some("b"), None).toDF("s")
    val r = Exploratory.profile(df).head()
    assert(r.getAs[Long]("non_null") == 3 && r.getAs[Long]("missing") == 1 &&
      r.getAs[Long]("n_distinct") == 2)
  }

  test("timeCounts truncates to the requested grain") {
    val df = Seq(
      Timestamp.valueOf("2021-03-02 10:00:00"),
      Timestamp.valueOf("2021-03-25 10:00:00"),
      Timestamp.valueOf("2021-04-01 00:00:00")).toDF("ts")
    val out = Exploratory.timeCounts(df, "ts", "month")
      .as[(Timestamp, Long)].collect().toSeq
    assert(out == Seq(
      (Timestamp.valueOf("2021-03-01 00:00:00"), 2L),
      (Timestamp.valueOf("2021-04-01 00:00:00"), 1L)))
  }

  /** The stage's fan-out as one plan per analysis: the per-analysis
    * operators the one-pass [[Exploratory.analyze]] must match.
    */
  private def perAnalysis(df: DataFrame): Map[String, DataFrame] = {
    val nums = Exploratory.numericCols(df).filter(c => !Set("id", "year", "month", "day")(c))
    Map(
      "summary" -> Exploratory.summary(df.select(nums.map(col): _*)),
      "profile" -> Exploratory.profile(df),
      "posts_per_week" -> Exploratory.timeCounts(df, "timestamp", "week"),
      "posts_per_month" -> Exploratory.timeCounts(df, "timestamp", "month"),
      "posts_per_quarter" -> Exploratory.timeCounts(df, "timestamp", "quarter"),
      "posts_per_year" -> Exploratory.timeCounts(df, "timestamp", "year"),
      "hashtag_freqs" -> Exploratory.hashtagFreqs(df),
      "hist_likes" -> Exploratory.histogram(df, "likes"),
      "hist_comment_count" -> Exploratory.histogram(df, "comment_count"),
      "correlation" -> Exploratory.corrMatrix(df, nums),
      "comments_disabled_count" -> Exploratory.categoryCount(df, "comments_disabled"))
  }

  /** Posts across week, quarter and year boundaries (2019-12-30 is a
    * Monday whose week starts in the old year), with null timestamps and
    * null `comments_disabled`, empty, null and null-holding hashtag
    * arrays, a constant `likes` (one histogram bucket, a NaN correlation)
    * and a null `comment_count`.
    */
  private val edgeRows: Seq[Row] = Seq(
    ("2019-12-29 23:59:59", Some(1L), Some(false), Some(Seq("#a", "#b"))),
    ("2019-12-30 00:00:00", Some(300L), Some(true), Some(Seq("#b"))),
    ("2020-01-01 00:00:00", Some(7L), None, Some(Seq.empty[String])),
    ("2020-03-31 23:59:59", None, Some(false), None),
    ("2020-04-01 00:00:00", Some(299L), Some(false), Some(Seq("#c", null))),
    (null, Some(150L), None, Some(Seq("#a"))),
    ("2020-12-31 23:59:59.999999", Some(0L), Some(true), Some(Seq("#b", "#a"))),
    ("2021-01-01 00:00:00", Some(42L), Some(false), Some(Seq("#é", "#z")))
  ).zipWithIndex.map { case ((ts, comments, disabled, tags), i) =>
    val t = Option(ts).map(Timestamp.valueOf).orNull
    Row(1000L + i, "Lens", "Louvre", null, null, null, t, 7899670905L * (i % 3 + 1),
      s"sc$i", s"p/sc$i", "GraphImage", false, comments.map(_ + 7L).orNull, 7L,
      comments.map(Long.box).orNull, disabled.map(Boolean.box).orNull, s"caption $i",
      tags.map(_.asJava).orNull, java.util.Collections.emptyList[String](), s"$i.jpg", s"t$i", true)
  }

  private def csv(dir: String): String = {
    val parts = Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(parts.contains("_SUCCESS"), parts)
    val part = parts.filter(p => p.startsWith("part-") && p.endsWith(".csv"))
    assert(part.size == 1, parts)
    Files.readString(Paths.get(dir, part.head))
  }

  test("the one-pass fan-out writes the per-analysis operators' CSVs byte for byte") {
    val dir = graft.queries.Dsl.tempDir("explore_identity")
    // a group budget of 5 leaves the edge frame's 6 hashtags to Spark
    for ((name, rows, budget) <- Seq(("edge", edgeRows, None), ("over", edgeRows, Some(5)),
        ("one", edgeRows.take(1), None), ("empty", Nil, None))) {
      spark.createDataFrame(rows.asJava, Schemas.postsPreprocessed).write.parquet(s"$dir/$name")
      val df = spark.read.parquet(s"$dir/$name")
      val parent = perAnalysis(df)
      val now = budget.fold(Exploratory.analyze(df))(Exploratory.analyze(df, _))
      assert(now.map(_._1).sorted == parent.keys.toSeq.sorted && now.size == 11)
      for ((a, frame) <- now) {
        assert(frame.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] ==
          !(budget.nonEmpty && a == "hashtag_freqs"), s"$name/$a")
        CsvIo.writeCsv(parent(a), s"$dir/$name-parent/$a", singleFile = true)
        CsvIo.writeCsv(frame, s"$dir/$name-now/$a", singleFile = true)
        assert(csv(s"$dir/$name-now/$a") == csv(s"$dir/$name-parent/$a"), s"$name/$a")
      }
    }
    // the edge frame reaches every case it was built for
    val edge = s"$dir/edge-now"
    assert(csv(s"$edge/correlation").contains("NaN"))
    assert(csv(s"$edge/hist_likes") == "bucket,n\n0,8\n")
    assert(csv(s"$edge/hist_comment_count").linesIterator.toSeq.last == "29,3")
    assert(csv(s"$edge/posts_per_week").linesIterator.drop(1).next().startsWith(",1"))
    assert(csv(s"$edge/hashtag_freqs").contains("\n,1\n"))
    assert(csv(s"$edge/comments_disabled_count").startsWith("comments_disabled,n\n,2\n"))
    assert(csv(s"$dir/empty-now/posts_per_year") == "bucket,n\n")
  }
}
