package graft

import graft.io.CsvIo
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** End-to-end config-driven pipeline over a reference-shaped posts CSV
  * (the test.json dummy-pipeline analog, readme.md:13-30).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(root: String): Unit = {
    val posts = Seq(
      (1L, "aaa", false, Timestamp.valueOf("2015-03-01 10:00:00"), 10L, 2L, "['#Golf']"),
      (2L, "bbb", true, Timestamp.valueOf("2016-05-01 10:00:00"), 30L, 4L, "['#rain']"),
      (3L, "ccc", false, Timestamp.valueOf("2016-06-01 10:00:00"), 40L, 5L, "[]"))
      .toDF("id", "shortcode", "is_video", "timestamp", "likes", "comment_count", "hashtags")
      .withColumn("post_url", concat(lit("u/"), col("shortcode")))
      .withColumn("type", lit("GraphImage"))
      .withColumn("comments_disabled", lit(false))
      .withColumn("search_mode", lit("hashtag"))
      .withColumn("search_term", lit("golf"))
      .withColumn("caption", lit("c"))
      .withColumn("display_url", lit("d"))
      .withColumn("owner_id", lit(9L))
      .withColumn("mentions", lit("[]"))
      .withColumn("thumbnail_src", lit("t"))
      // the file contract is positional: canonical column order
      .select(graft.schema.Schemas.postsCsv.fieldNames.map(col).toSeq: _*)
    posts.coalesce(1).write.option("header", "true").csv(s"$root/posts.csv")
  }

  private val configJson =
    """{
      |  "dataset_name": "Lens_Louvre",
      |  "stages": [
      |    {"name": "Preprocessing", "implementation": "PreprocessorStage",
      |     "input": "posts.csv", "output": "posts_preprocessed.csv", "enabled": true,
      |     "params": {"remove_duplicates": true, "images_only": true,
      |                "year_filter": [2010, 2020], "hashtag_filter_include": [],
      |                "hashtag_filter_exclude": [], "max_images_per_year": -1,
      |                "lowercase_hashtags": true}},
      |    {"name": "Disabled stage", "implementation": "PreprocessorStage",
      |     "input": "posts.csv", "output": "never.csv", "enabled": false, "params": {}},
      |    {"name": "Exploratory Analysis", "implementation": "ExploratoryanalysisStage",
      |     "input": "posts_preprocessed.csv", "output": "analysis", "enabled": true,
      |     "params": {}},
      |    {"name": "Translation", "implementation": "TranslatorStage",
      |     "input": "posts_preprocessed.csv", "output": "posts_translated.csv", "enabled": true,
      |     "params": {"target_column": "caption", "target_language": "en",
      |                "dictionary": {"c": "see"}}}
      |  ]
      |}""".stripMargin

  test("pipeline runs stages in order, skips disabled, memoizes outputs") {
    val root = graft.queries.Dsl.tempDir("graft-pipe")
    writeFixture(root)
    Files.writeString(Paths.get(s"$root/config.json"), configJson)
    val cfg = Pipeline.loadConfig(s"$root/config.json")

    val summary = Pipeline.run(spark, root, cfg)
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(summary("Preprocessing") == "ok")
    assert(summary("Disabled stage") == "disabled")
    assert(summary("Exploratory Analysis") == "ok")

    // preprocessed output: video dropped, 21+id columns, lowercased tags
    val raw = spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(s"$root/posts_preprocessed.csv")
    assert(raw.count() == 2) // id2 is a video
    assert(raw.columns.toSeq == graft.schema.Schemas.postsPreprocessedColumns)
    assert(raw.filter(col("id") === "1").head().getAs[String]("hashtags") == """["#golf"]""")

    // analysis fan-out wrote aggregate CSVs
    assert(Files.exists(Paths.get(s"$root/analysis/posts_per_month")))
    assert(Files.exists(Paths.get(s"$root/analysis/hashtag_freqs")))

    // translation stage wrote the <column>_<language> column through the
    // checkpointed executor ("c" is no detected family → dict applies)
    assert(summary("Translation") == "ok")
    val trans = spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(s"$root/posts_translated.csv")
    assert(trans.columns.contains("caption_en"))
    assert(trans.select("caption_en").as[String].collect().forall(_ == "see"))

    // re-run: everything memoized
    val again = Pipeline.run(spark, root, cfg)
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(again("Preprocessing") == "skipped")
    assert(again("Exploratory Analysis") == "skipped")
    assert(again("Translation") == "skipped")
  }

  test("training-data stages run over a documents parquet") {
    val root = graft.queries.Dsl.tempDir("graft-pipe3")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text").write.parquet(s"$root/documents")
    val cfgJson =
      """{"dataset_name": "t", "stages": [
        |  {"name": "Text", "implementation": "TextAnalysisStage",
        |   "input": "documents", "output": "text_stats", "enabled": true, "params": {}},
        |  {"name": "Dedup", "implementation": "DedupStage",
        |   "input": "documents", "output": "dup_pairs", "enabled": true,
        |   "params": {"threshold": 0.9}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    val summary = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(summary("Text") == "ok" && summary("Dedup") == "ok")
    val stats = spark.read.parquet(s"$root/text_stats")
    assert(stats.columns.contains("fingerprint") && stats.count() == 3)
    // identical texts share a fingerprint
    assert(stats.select("fingerprint").distinct().count() == 2)
    val pairs = spark.read.parquet(s"$root/dup_pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L))) // the exact dup, jaccard 1.0
  }

  test("CurationStage removes near-dup group members and contaminated docs") {
    val root = graft.queries.Dsl.tempDir("graft-pipe4")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // near-dup group with 1 → removed
      (3L, "one two three four five six seven"),   // clean survivor
      (5L, "bench mark hold out set words here"),  // benchmark slice (5 % 5 = 0) → removed
      (7L, "bench mark hold out other tail words")) // shares 4-gram with 5 → contaminated
      .toDF("doc_id", "text").write.parquet(s"$root/documents")
    val cfgJson =
      """{"dataset_name": "t", "stages": [
        |  {"name": "Curate", "implementation": "CurationStage",
        |   "input": "documents", "output": "curated", "enabled": true,
        |   "params": {"benchmark_mod": 5, "decontam_k": 4}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    val summary = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(summary("Curate") == "ok")
    val kept = spark.read.parquet(s"$root/curated")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("CTPreprocessorStage parses repr-dict columns and derives the reference's columns") {
    val root = graft.queries.Dsl.tempDir("graft-pipe-ct")
    // the CT CSV shape: statistics/account are python-repr dicts
    // (single quotes, True/False/None), as pandas to_csv leaves them
    val csv =
      "platformId,date,description,statistics,account\n" +
      "p1,2020-01-02 03:04:05,hello #World #golf_2,\"{'actual': " +
      "{'favoriteCount': 92, 'commentCount': 2}, 'expected': " +
      "{'favoriteCount': 650, 'commentCount': 8}}\",\"{'id': 2446551, " +
      "'name': 'B.E Architecture', 'verified': False, 'bio': None}\"\n" +
      "p2,2021-03-04 05:06:07,no tags here,\"{'actual': " +
      "{'favoriteCount': 5, 'commentCount': 0}, 'expected': " +
      "{'favoriteCount': 10, 'commentCount': 1}}\",\"{'id': 7, " +
      "'verified': True}\"\n"
    Files.writeString(Paths.get(s"$root/ct_posts.csv"), csv)
    val cfgJson =
      """{"dataset_name": "ct", "stages": [
        |  {"name": "CT Preprocessing", "implementation": "CTPreprocessorStage",
        |   "input": "ct_posts.csv", "output": "ct_preprocessed.csv",
        |   "enabled": true, "params": {}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    val summary = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(summary("CT Preprocessing") == "ok")
    val outDf = spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(s"$root/ct_preprocessed.csv")
    val r1 = outDf.filter(col("platformId") === "p1").head()
    assert(r1.getAs[String]("likes") == "92")
    assert(r1.getAs[String]("comment_count") == "2")
    assert(r1.getAs[String]("likes_expected") == "650")
    assert(r1.getAs[String]("comment_count_expected") == "8")
    assert(r1.getAs[String]("owner_id") == "2446551")
    assert(r1.getAs[String]("hashtags") == """["World","golf_2"]""")
    val r2 = outDf.filter(col("platformId") === "p2").head()
    assert(r2.getAs[String]("owner_id") == "7")
    assert(r2.getAs[String]("hashtags") == "[]")
    // original columns survive alongside the derived ones
    assert(outDf.columns.contains("statistics") && outDf.columns.contains("account"))
  }

  /** VERDICT r9 #1 + #7: every test.json stage name dispatches through
    * the registry (scrapers + vision stages included), `"input": null`
    * parses as no-input, the summary CSV sink writes the time-share
    * table, and a re-run memoizes everything — the reference's
    * `orchestrator.py --config config/test.json` contract end to end
    * (the pl02 gate hash-checks the chain's VALUES against the oracle;
    * this spec checks the CLI/process semantics SQL cannot express).
    */
  test("full test.json stage set: scrapers, vision stages, null input, summary CSV, memoized rerun") {
    import graft.pipeline.Stages
    import graft.sources.FeedPager
    val root = graft.queries.Dsl.tempDir("graft-pipe-full")
    // two-page feed with one flaky fetch (retries inside max_tries) and
    // a cross-page duplicate (id 101 appears on both pages)
    def post(id: Long, video: Boolean, ts: Long): String =
      s"""{"id": $id, "shortcode": "sc$id", "type": "${if (video) "GraphVideo" else "GraphImage"}",
         | "is_video": $video, "likes": ${id * 2}, "comments": $id,
         | "comments_disabled": false, "description": "post $id",
         | "hashtags": ["#Tag$id"], "mentions": [], "display_url": "d",
         | "thumbnail_src": "t$id", "owner": {"id": 9},
         | "taken_at_timestamp": $ts}""".stripMargin.replace("\n", "")
    val t2015 = 1425211200L
    var failedOnce = false
    Stages.FeedFetchers.register("specfeed", _ => {
      case None =>
        if (!failedOnce) { failedOnce = true; Left("transient") }
        else Right(FeedPager.Page(
          s"""{"collector": [${post(101, video = false, t2015)},
             | ${post(102, video = true, t2015)}]}""".stripMargin.replace("\n", ""),
          Some("c1")))
      case Some("c1") => Right(FeedPager.Page(
        s"""{"collector": [${post(103, video = false, t2015)},
           | ${post(101, video = false, t2015)}]}""".stripMargin.replace("\n", ""),
        None))
      case other => Left(s"unexpected cursor $other")
    })
    val cfgJson =
      """{"dataset_name": "Lens_Louvre", "skip_stage_if_exists": true, "stages": [
        |  {"name": "Feed Scrape", "implementation": "InstagramFeedScraperStage",
        |   "input": null, "output": "posts.csv", "enabled": true,
        |   "params": {"terms": ["golf"], "type": "hashtag", "max_tries": 3,
        |              "fetcher": "specfeed"}},
        |  {"name": "Preprocessing", "implementation": "PreprocessorStage",
        |   "input": "posts.csv", "output": "posts_preprocessed.csv", "enabled": true,
        |   "params": {"remove_duplicates": true, "images_only": true,
        |              "year_filter": [2010, 2020], "hashtag_filter_include": [],
        |              "hashtag_filter_exclude": [], "max_images_per_year": -1,
        |              "lowercase_hashtags": true}},
        |  {"name": "Scrape Images", "implementation": "InstagramImageScraperStage",
        |   "input": "posts_preprocessed.csv", "output": "images/images",
        |   "enabled": true, "params": {"fetcher": "synthetic"}},
        |  {"name": "Label Images", "implementation": "ImageLabelerStage",
        |   "input": "images/images", "output": "image_labels.csv",
        |   "enabled": true, "params": {}},
        |  {"name": "Calculate Image Feature Vectors",
        |   "implementation": "ImageFeatureVectorStage",
        |   "input": "images/images", "output": "image_features.npy",
        |   "enabled": true, "params": {"gpu_id": 0}},
        |  {"name": "Anonymize Images", "implementation": "ImageAnonymizerStage",
        |   "input": "images/images", "output": "images_anonymized",
        |   "enabled": true, "params": {"in_place": true, "confidence": 0.15}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)

    val exit = RunPipeline.runCli(spark,
      Array(root, s"$root/config.json", "--summary", s"$root/summary.csv"))
    assert(exit == 0)

    // feed: flaky page retried, pages combined, duplicate 101 deduped
    val posts = CsvIo.readPosts(spark, s"$root/posts.csv")
    assert(posts.count() == 3)
    // preprocessing: video 102 dropped
    val pre = CsvIo.readPreprocessed(spark, s"$root/posts_preprocessed.csv")
    assert(pre.select("id").as[Long].collect().toSet == Set(101L, 103L))
    // image scrape: the reference's <id>_<shortcode>.jpg naming
    for (id <- Seq(101, 103))
      assert(Files.exists(Paths.get(s"$root/images/images/${id}_sc$id.jpg")))
    // labels: one row per decodable image, scene dim joined
    val labels = spark.read.option("header", "true").csv(s"$root/image_labels.csv")
    assert(labels.count() == 2)
    assert(Seq("image", "category", "predictions", "environment")
      .forall(labels.columns.contains))
    assert(labels.select("category").as[String].collect()
      .forall(_.startsWith("scene_")))
    // features: real npy (magic + shape) + row-aligned list + parquet twin
    val npy = Files.readAllBytes(Paths.get(s"$root/image_features.npy"))
    assert(npy(0) == 0x93.toByte &&
      new String(npy.slice(1, 6), "US-ASCII") == "NUMPY")
    val header = new String(npy.slice(10, 10 + ((npy(8) & 0xff) | ((npy(9) & 0xff) << 8))), "US-ASCII")
    assert(header.contains("'shape': (2, 16)"), header)
    val dbList = Files.readString(Paths.get(s"$root/images/image_db.txt")).split("\n")
    assert(dbList.toSeq == Seq("101_sc101.jpg", "103_sc103.jpg"))
    assert(spark.read.parquet(s"$root/image_features.npy.parquet").count() == 2)
    // anonymization ran in place: bytes differ from the scraped originals
    val anon101 = Files.readAllBytes(Paths.get(s"$root/images/images/101_sc101.jpg"))
    assert(!java.util.Arrays.equals(anon101,
      graft.operators.Multimodal.syntheticImage(101L)))
    // summary CSV: the declared sink of the time-share table
    val sm = spark.read.option("header", "true").csv(s"$root/summary.csv")
    assert(sm.columns.toSeq == Seq("stage", "status", "seconds", "time_pct"))
    assert(sm.count() == 6)
    // each stage's share of the run's wall-clock: none runs longer than
    // the run, and together they cover it (overlapping stages sum past 100)
    val pcts = sm.select("time_pct").as[String].collect().map(_.toDouble).toSeq
    assert(pcts.forall(p => p >= 0 && p <= 100.1) && pcts.sum > 95, s"time_pct $pcts")
    // memoized rerun: every stage skips (in-place anonymize included,
    // via its _SUCCESS marker), exit stays 0
    assert(RunPipeline.runCli(spark,
      Array(root, s"$root/config.json", "--summary", s"$root/summary2.csv")) == 0)
    val again = spark.read.option("header", "true").csv(s"$root/summary2.csv")
    assert(again.select("status").as[String].collect().forall(_ == "skipped"))
  }

  test("the npy side-car loads in REAL numpy with exact shape, dtype and values") {
    // the .npy writer's oracle is numpy itself (available driver-side):
    // a hand-rolled header that Spark-side tests can't see wrong — wrong
    // padding, wrong endianness, wrong shape tuple — fails numpy.load
    val canRun =
      try new ProcessBuilder("python3", "-c", "import numpy").start().waitFor() == 0
      catch { case _: Exception => false }
    assume(canRun, "python3 + numpy not available")
    val path = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-npy")).resolve("m.npy").toString
    graft.pipeline.NpyIo.writeFloat32Matrix(path,
      Array(Array(1.5f, -2.25f, 0f), Array(3f, 4.125f, -5f)))
    val p = new ProcessBuilder("python3", "-c",
      s"""import numpy
         |a = numpy.load("$path")
         |print(a.shape, a.dtype, a[0,1], a[1,2], float(a.sum()))""".stripMargin)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor() == 0, s"numpy.load failed:\n$out")
    assert(out == "(2, 3) float32 -2.25 -5.0 1.375", out)
  }

  test("unconfigured image fetcher fails every item — never fabricates images") {
    val root = graft.queries.Dsl.tempDir("graft-pipe-unconf")
    val posts = Seq((5L, "sc5", "t5")).toDF("id", "shortcode", "thumbnail_src")
      .withColumn("scrape_image", lit(true))
    // minimal preprocessed-shaped CSV: only the columns the stage reads
    val full = graft.schema.Schemas.postsPreprocessedColumns.foldLeft(posts) {
      (acc, c) => if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast("string"))
    }.select(graft.schema.Schemas.postsPreprocessedColumns.map(col): _*)
    full.coalesce(1).write.option("header", "true").csv(s"$root/pre.csv")
    val cfgJson =
      """{"dataset_name": "t", "stages": [
        |  {"name": "Scrape", "implementation": "InstagramImageScraperStage",
        |   "input": "pre.csv", "output": "imgs", "enabled": true,
        |   "params": {"max_attempts": 2}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    val s = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("status").as[String].collect()
    assert(s.forall(_ == "ok")) // the reference tolerates failed scrapes
    val files = Files.list(Paths.get(s"$root/imgs"))
    try assert(files.iterator().asScala.map(_.getFileName.toString).toSet
      == Set("_SUCCESS"), "unconfigured fetcher must write NO images")
    finally files.close()
  }

  test("a budget-exhausted partial scrape fails loudly and resumes from the persisted cursor") {
    import graft.pipeline.Stages
    import graft.sources.FeedPager
    val root = graft.queries.Dsl.tempDir("graft-pipe-resume")
    def post(id: Long): String =
      s"""{"id": $id, "shortcode": "sc$id", "type": "GraphImage",
         | "is_video": false, "likes": 1, "comments": 1,
         | "comments_disabled": false, "description": "p", "hashtags": [],
         | "mentions": [], "display_url": "d", "thumbnail_src": "t",
         | "owner": {"id": 9}, "taken_at_timestamp": 1425211200}"""
        .stripMargin.replace("\n", "")
    // page 0 lands; page 1 fails EVERY try until "the API recovers"
    var apiUp = false
    var page1Attempts = 0
    Stages.FeedFetchers.register("flaky", _ => {
      case None => Right(FeedPager.Page(
        s"""{"collector": [${post(1)}]}""", Some("c1")))
      case Some("c1") =>
        if (apiUp) Right(FeedPager.Page(s"""{"collector": [${post(2)}]}""", None))
        else { page1Attempts += 1; Left("503") }
      case other => Left(s"bad cursor $other")
    })
    val cfgJson =
      """{"dataset_name": "t", "stages": [
        |  {"name": "Feed", "implementation": "InstagramFeedScraperStage",
        |   "input": null, "output": "posts.csv", "enabled": true,
        |   "params": {"terms": ["x"], "type": "hashtag", "max_tries": 2,
        |              "fetcher": "flaky"}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    // run 1: page 1 exhausts its budget → FAILED row, no truncated csv
    val s1 = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(s1("Feed").startsWith("failed"), s1.toString)
    assert(page1Attempts == 2, "retry budget not honored")
    assert(!Files.exists(Paths.get(s"$root/posts.csv")),
      "partial scrape must not ship a truncated posts table")
    // run 2 (API recovered): resumes from the persisted cursor — page 0
    // is NOT re-fetched — and combines both pages
    apiUp = true
    val s2 = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(s2("Feed") == "ok", s2.toString)
    val posts = CsvIo.readPosts(spark, s"$root/posts.csv")
    assert(posts.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // the state file records exhaustion; a third run is combine-only
    val s3 = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"),
      skipIfExists = false)
    assert(s3.select("status").as[String].collect().forall(_ == "ok"))
  }

  test("a throwing stage becomes a failed row; later stages still run; exit non-zero") {
    import graft.operators.Multimodal
    val root = graft.queries.Dsl.tempDir("graft-pipe-fail")
    Files.createDirectories(Paths.get(s"$root/imgs"))
    Files.write(Paths.get(s"$root/imgs/a.png"), Multimodal.syntheticImage(7L))
    val cfgJson =
      """{"dataset_name": "t", "stages": [
        |  {"name": "Features", "implementation": "ImageFeatureVectorStage",
        |   "input": "imgs", "output": "f.npy", "enabled": true,
        |   "params": {"max_npy_bytes": 1}},
        |  {"name": "Labels", "implementation": "ImageLabelerStage",
        |   "input": "imgs", "output": "labels.csv", "enabled": true,
        |   "params": {}}
        |]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfgJson)
    assert(RunPipeline.runCli(spark, Array(root, s"$root/config.json")) == 1)
    val statuses = Pipeline.run(spark, root,
        Pipeline.loadConfig(s"$root/config.json"))
      .select("stage", "status").as[(String, String)].collect().toMap
    // (second run: Labels memoized as skipped, Features fails again)
    assert(statuses("Features").startsWith("failed"))
    assert(statuses("Labels") == "skipped") // it RAN despite the earlier failure
    assert(Files.exists(Paths.get(s"$root/labels.csv")))
  }

  test("stage hazards compare normalized paths: ./a, a/ and a//b order against a and a/b") {
    def st(in: String, out: String) =
      Pipeline.StageConfig(s"$in>$out", "PreprocessorStage", in, out, enabled = true, null)
    for (x <- Seq("./a", "a/", "a//b"); y <- Seq("a", "a/b"))
      assert(Pipeline.overlaps(x, y) && Pipeline.overlaps(y, x), s"$x vs $y")
    assert(!Pipeline.overlaps("ab", "a") && !Pipeline.overlaps("a/bc", "a/b") &&
      !Pipeline.overlaps("", "a"))
    val deps = Pipeline.dependencies(IndexedSeq(
      st("", "./a"),     // 0 writes a
      st("a/", "o1"),    // 1 reads a: after 0
      st("a//b", "o2"),  // 2 reads inside a: after 0
      st("", "a/b/"),    // 3 rewrites inside a: after 0 (write), 1 and 2 (read)
      st("ab", "abc")))  // 4 touches neither a nor a/b
    assert(deps == IndexedSeq(Seq(), Seq(0), Seq(0), Seq(0, 1, 2), Seq()), deps)
  }

  test("missing input is reported, not fatal") {
    val root = graft.queries.Dsl.tempDir("graft-pipe2")
    Files.writeString(Paths.get(s"$root/config.json"), configJson)
    val cfg = Pipeline.loadConfig(s"$root/config.json")
    val summary = Pipeline.run(spark, root, cfg)
      .select("stage", "status").as[(String, String)].collect().toMap
    assert(summary("Preprocessing") == "missing_input")
  }

  test("labeler honors limit (sorted-name subset) and print_only (no table)") {
    import graft.pipeline.Stages
    val root = graft.queries.Dsl.tempDir("graft-pipe-label")
    val imgDir = s"$root/images"
    Files.createDirectories(Paths.get(imgDir))
    for (id <- Seq(5L, 3L, 9L))
      Files.write(Paths.get(imgDir, s"${id}_sc$id.jpg"),
        graft.operators.Multimodal.syntheticImage(id))
    // limit=2: only the two lowest image NAMES are labeled (ref
    // ImageLabeler.py:130-131 caps listdir; sorted here for determinism)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Stages.ImageLabelerStage.run(spark, imgDir, s"$root/labels.csv",
      mapper.readTree("""{"limit": 2}"""), "Lens_Louvre")
    val labeled = spark.read.option("header", "true").csv(s"$root/labels.csv")
      .select("image").as[String].collect().toSet
    assert(labeled == Set("3_sc3.jpg", "5_sc5.jpg"))
    // print_only: classifications print, NO table materializes
    Stages.ImageLabelerStage.run(spark, imgDir, s"$root/labels2.csv",
      mapper.readTree("""{"print_only": true}"""), "Lens_Louvre")
    assert(!Files.exists(Paths.get(s"$root/labels2.csv")))
  }

  test("unknown stage params warn on stderr with the known set") {
    val root = graft.queries.Dsl.tempDir("graft-pipe-warn")
    writeFixture(root)
    val cfg =
      """{"dataset_name": "Lens_Louvre", "stages": [
        |  {"name": "Preprocessing", "implementation": "PreprocessorStage",
        |   "input": "posts.csv", "output": "pp.csv", "enabled": true,
        |   "params": {"remove_duplicates": true, "max_trys": 7}}]}""".stripMargin
    Files.writeString(Paths.get(s"$root/config.json"), cfg)
    val errBuf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    val summary = try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
        .select("stage", "status").as[(String, String)].collect().toMap
    } finally System.setErr(saved)
    assert(summary("Preprocessing") == "ok") // warn, never break configs
    val err = errBuf.toString("UTF-8")
    assert(err.contains("unknown param(s) max_trys"), err)
    assert(err.contains("remove_duplicates"), err) // the known set is named
  }

  test("a corrupt feed-pager state file fails with an actionable error") {
    import graft.pipeline.Stages
    import graft.sources.FeedPager
    val root = graft.queries.Dsl.tempDir("graft-pipe-state")
    val landing = Paths.get(s"$root/_scrape/hashtag-golf")
    Files.createDirectories(landing)
    // a crash mid-write used to leave exactly this: a truncated file
    Files.writeString(landing.resolve("_state.txt"), "3")
    Stages.FeedFetchers.register("statefeed",
      _ => _ => Right(FeedPager.Page("""{"collector": []}""", None)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val e = intercept[IllegalStateException] {
      Stages.InstagramFeedScraperStage.run(spark, "", s"$root/posts.csv",
        mapper.readTree(
          """{"terms": ["golf"], "type": "hashtag", "fetcher": "statefeed"}"""),
        "Lens_Louvre")
    }
    assert(e.getMessage.contains("corrupt feed-pager state"), e.getMessage)
    assert(e.getMessage.contains(landing.toString), e.getMessage)
    // garbage page count is equally actionable
    Files.writeString(landing.resolve("_state.txt"), "banana\nfalse")
    val e2 = intercept[IllegalStateException] {
      Stages.InstagramFeedScraperStage.run(spark, "", s"$root/posts.csv",
        mapper.readTree(
          """{"terms": ["golf"], "type": "hashtag", "fetcher": "statefeed"}"""),
        "Lens_Louvre")
    }
    assert(e2.getMessage.contains("fetched-page count"), e2.getMessage)
    // a healthy save round-trips atomically: no temp file remains
    Files.delete(landing.resolve("_state.txt"))
    Stages.InstagramFeedScraperStage.run(spark, "", s"$root/posts.csv",
      mapper.readTree(
        """{"terms": ["golf"], "type": "hashtag", "fetcher": "statefeed"}"""),
      "Lens_Louvre")
    assert(Files.exists(landing.resolve("_state.txt")))
    assert(!Files.exists(landing.resolve("_state.txt.tmp")))
  }

  test("a local frame's single CSV is written from the driver with the Spark writer's bytes") {
    val root = graft.queries.Dsl.tempDir("graft-pipe-localcsv")
    val local = Seq((1L, "a \"quoted\", comma", 0.1 + 0.2, Timestamp.valueOf("2020-01-01 00:00:00.000001")),
      (2L, "two\nlines", Double.NaN, null)).toDF("id", "s", "d", "ts")
    CsvIo.writeCsv(local, s"$root/driver", singleFile = true)
    local.coalesce(1).write.parquet(s"$root/src") // one file: read back in order, not a local plan
    CsvIo.writeCsv(spark.read.parquet(s"$root/src"), s"$root/spark", singleFile = true)
    def part(d: String) = Files.list(Paths.get(root, d)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part("driver").size == 1 && Files.exists(Paths.get(root, "driver", "_SUCCESS")))
    val bytes = Seq("driver", "spark").map(d => Files.readString(part(d).head))
    assert(bytes.head == bytes.last, bytes)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      CsvIo.writeCsv(Seq((1L, (2L, 3L))).toDF("id", "pair"), s"$root/struct", singleFile = true)
    }
    assert(e.getMessage.contains("CSV"), e.getMessage)
  }

  test("exploratory fan-out: staging promotes all-or-nothing") {
    import graft.pipeline.Pipeline.ExploratoryAnalysisStage
    val sc = spark.sparkContext
    val root = graft.queries.Dsl.tempDir("graft-pipe-staging")
    val ok = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    // a frame that fails at EXECUTION time (assert_true trips per row),
    // after planning succeeds — the shape of a mid-write analysis failure
    // (a range, not a local Seq, which the optimizer would fold, failing
    // the query while it plans)
    def failing(x: org.apache.spark.sql.DataFrame) = x.select(expr("assert_true(x = 0)").cast("string").as("q"))
    val boom = failing(spark.range(1, 2).toDF("x"))
    // a healthy analysis still running when its sibling fails: its task
    // runs until its job is cancelled (a minute at most), and the sibling
    // fails only once that task has started (the latch is read from the
    // companion inside the closures: a latch does not serialize)
    val slow = spark.range(0, 4, 1, 4).select(udf { (x: Long) =>
      PipelineSpec.slowStarted.countDown()
      val (ctx, end) = (org.apache.spark.TaskContext.get, System.nanoTime() + 60000000000L)
      while (!ctx.isInterrupted && System.nanoTime() < end) Thread.sleep(10)
      x
    }.apply(col("id")).as("id"))
    val boomAfterSlow = failing(spark.range(1, 2).toDF("x").select(udf { (x: Long) =>
      PipelineSpec.slowStarted.await(60, java.util.concurrent.TimeUnit.SECONDS); x
    }.apply(col("x")).as("x")))
    for ((analyses, row) <- Seq(Map("good" -> ok, "bad" -> boom),
        Map("slow" -> slow, "bad" -> boomAfterSlow)).zipWithIndex) {
      val group = s"graft-pipe-staging-$row"
      sc.setJobGroup(group, "PipelineSpec")
      val e = try intercept[IllegalStateException] {
        ExploratoryAnalysisStage.writeAnalyses(spark, analyses, s"$root/analysis")
      } finally sc.clearJobGroup()
      assert(e.getMessage.contains("bad"), e.getMessage)
      // NOTHING is published: no half-populated dir for memoization to
      // trust, no staging leftovers for the next run to trip on
      assert(!Files.exists(Paths.get(s"$root/analysis")))
      assert(!Files.exists(Paths.get(s"$root/analysis._staging")))
      if (analyses.contains("slow")) {
        // the slow write's job ended cancelled, not finished
        org.apache.spark.graftspark.ListenerFlush.flush(sc)
        val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.flatMap(sc.statusTracker.getJobInfo(_))
        assert(jobs.nonEmpty && jobs.forall(_.status == org.apache.spark.JobExecutionStatus.FAILED),
          jobs.map(_.status))
        assert(e.getSuppressed.exists(_.getMessage.contains("cancelled")), e.getSuppressed.toSeq)
      }
    }
    // the healthy path publishes every analysis atomically
    ExploratoryAnalysisStage.writeAnalyses(
      spark, Map("one" -> ok, "two" -> ok), s"$root/analysis")
    assert(Files.exists(Paths.get(s"$root/analysis/one")))
    assert(Files.exists(Paths.get(s"$root/analysis/two")))
    assert(!Files.exists(Paths.get(s"$root/analysis._staging")))
  }

  test("exploratory runs release their cached frame") {
    // the reference config's preprocess → explore chain, translation off
    val config = configJson.replace(
      "\"posts_translated.csv\", \"enabled\": true", "\"posts_translated.csv\", \"enabled\": false")
    // only this test's frames: other suites' lazily cached frames may
    // materialize while it runs
    def cached = spark.sparkContext.getPersistentRDDs.values.filter(_.toString.contains("graft-pipe-cache"))
    for (i <- 1 to 2) {
      val root = graft.queries.Dsl.tempDir(s"graft-pipe-cache$i")
      writeFixture(root)
      Files.writeString(Paths.get(s"$root/config.json"), config)
      val summary = Pipeline.run(spark, root, Pipeline.loadConfig(s"$root/config.json"))
        .select("stage", "status").as[(String, String)].collect().toMap
      assert(summary("Exploratory Analysis") == "ok" && summary("Translation") == "disabled", summary)
    }
    assert(cached.isEmpty, cached.mkString("\n"))
  }
}

object PipelineSpec {
  val slowStarted = new java.util.concurrent.CountDownLatch(1)
}
