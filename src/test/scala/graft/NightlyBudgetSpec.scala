package graft

import graft.obs.Capture
import graft.pipeline.Pipeline
import graft.queries.Dsl
import java.nio.file.{Files, Paths}

/** What one nightly batch costs: the Spark jobs and the generated classes
  * of each stage of the two chains perfbench's `nightly_pipeline` runs —
  * the reference's posts chain (preprocess → explore ∥ translate) and
  * pl01's corpus chain (profile ∥ curate) — over seeded inputs of the
  * benchmark's shape. Spark's codegen cache holds 100 classes in four
  * segments of about 25, so an op whose classes do not fit recompiles
  * them on every run.
  * `Capture.codegenCompiles` is JVM-global: run this spec alone.
  */
class NightlyBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val dir = Dsl.tempDir("nightly_budget")
  private val in = s"$dir/in"

  // perfbench's two configs (perfbench/scala/graft/perfbench/Workloads.scala)
  private val postsJson =
    """{"dataset_name": "Lens_Louvre", "stages": [
      |  {"name": "preprocess", "implementation": "PreprocessorStage",
      |   "input": "in/posts.csv", "output": "posts_preprocessed.csv",
      |   "params": {"remove_duplicates": true, "images_only": true,
      |              "year_filter": [2012, 2020], "lowercase_hashtags": true,
      |              "hashtag_filter_include": [], "hashtag_filter_exclude": [],
      |              "max_images_per_year": -1}},
      |  {"name": "explore", "implementation": "ExploratoryAnalysisStage",
      |   "input": "posts_preprocessed.csv", "output": "exploratory", "params": {}},
      |  {"name": "translate", "implementation": "TranslatorStage",
      |   "input": "posts_preprocessed.csv", "output": "posts_translated.csv",
      |   "params": {"target_column": "caption", "target_language": "en",
      |              "dictionary": {"data": "daten", "table": "tabelle",
      |                             "stream": "strom", "fast": "schnell"}}}]}""".stripMargin
  private val corpusJson =
    """{"dataset_name": "docs", "stages": [
      |  {"name": "profile", "implementation": "TextAnalysisStage",
      |   "input": "in/docs.parquet", "output": "profiled", "params": {}},
      |  {"name": "curate", "implementation": "CurationStage",
      |   "input": "in/docs.parquet", "output": "curated",
      |   "params": {"shingle_k": 2, "num_perms": 16, "bands": 8,
      |              "decontam_k": 4, "benchmark_mod": 97}}]}""".stripMargin

  private def config(name: String, json: String): Pipeline.PipelineConfig = {
    val p = Paths.get(s"$dir/$name.json")
    Files.writeString(p, json)
    Pipeline.loadConfig(p.toString)
  }
  private lazy val chains = Seq(config("posts", postsJson), config("corpus", corpusJson))

  private val Words = (0 until 800).map(i => s"w$i")
  private val Markers = Seq("data", "row", "table", "fast", "slow", "join", "filter", "stream", "batch")

  /** perfbench's `gen_nightly` shape: 500 feed posts (a tenth repeat an
    * earlier shortcode, a fifth are videos, 2010–2021 timestamps, 0–4
    * hashtags) and 2000 documents, 15 % of them planted near-duplicates.
    */
  private lazy val inputs: Unit = {
    val rnd = new scala.util.Random(61)
    Files.createDirectories(Paths.get(in))
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val header = "id,shortcode,post_url,type,is_video,likes,comment_count," +
      "comments_disabled,search_mode,search_term,caption,hashtags,display_url," +
      "owner_id,timestamp,mentions,thumbnail_src"
    val codes = scala.collection.mutable.ArrayBuffer.empty[String]
    val posts = (0 until 500).map { i =>
      val sc = if (codes.nonEmpty && rnd.nextInt(10) == 0) codes(rnd.nextInt(codes.size))
        else { codes += s"sc$i"; s"sc$i" }
      val video = rnd.nextInt(5) == 0
      val tags = Seq.fill(rnd.nextInt(5))(s"\"\"#Tag${rnd.nextInt(40)}\"\"").mkString("[", ", ", "]")
      val caption = Seq.fill(12)(if (rnd.nextInt(8) == 0) Markers(rnd.nextInt(Markers.size))
        else Words(rnd.nextInt(Words.size))).mkString(" ")
      val ts = fmt.format(java.time.Instant.ofEpochSecond(1262304000L + rnd.nextInt(12 * 365 * 86400)))
      Seq(10000000 + i, sc, s"p/$sc", if (video) "GraphVideo" else "GraphImage", video,
        rnd.nextInt(5000), rnd.nextInt(300), rnd.nextInt(20) == 0, "hashtag", "bench",
        caption, s""""$tags"""", s"d$i", rnd.nextInt(500), ts, "[]", s"t$i").mkString(",")
    }
    Files.writeString(Paths.get(s"$in/posts.csv"), (header +: posts).mkString("", "\n", "\n"))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 2000).foreach { i =>
      texts += (if (i > 0 && rnd.nextDouble() < 0.15)
        texts(rnd.nextInt(i)).split(" ").map(t =>
          if (rnd.nextDouble() < 0.04) Words(rnd.nextInt(Words.size)) else t).mkString(" ")
      else Seq.fill(30 + rnd.nextInt(40))(
        if (rnd.nextInt(25) == 0) Markers(rnd.nextInt(Markers.size))
        else s"v${rnd.nextInt(8000)}").mkString(" "))
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/docs.parquet")
  }

  private var runs = 0
  /** A fresh op root with the inputs linked under `in`, as perfbench lays
    * one out.
    */
  private def freshRoot(): String = {
    inputs
    runs += 1
    val r = Paths.get(s"$dir/op$runs")
    Files.createDirectories(r)
    Files.createSymbolicLink(r.resolve("in"), Paths.get(in))
    r.toString
  }

  /** Both chains into a fresh root; every stage must end `ok`. */
  private def op(): String = {
    val r = freshRoot()
    chains.foreach { c =>
      val bad = Pipeline.run(spark, r, c).collect().filter(_.getString(1) != "ok")
      assert(bad.isEmpty, bad.mkString(", "))
    }
    r
  }

  test("each nightly stage runs pinned jobs and compiles; its rerun compiles nothing") {
    val ref = op() // the preprocessed posts the posts chain's later stages read
    val stages = chains.flatMap(c => c.stages.map(s => (s, c.datasetName)))
    val seen = stages.map { case (st, ds) =>
      val input = if (st.input.startsWith("in/")) s"$in/${st.input.drop(3)}" else s"$ref/${st.input}"
      def once(): Capture = {
        val out = s"${freshRoot()}/${st.output}"
        Capture.during(spark)(Pipeline.registry(st.implementation).run(spark, input, out, st.params, ds))._2
      }
      SparkSpec.clearCodegenCache()
      val (cold, rerun) = (once(), once())
      assert(rerun.jobs == cold.jobs, s"${st.name}: ${cold.jobs} then ${rerun.jobs} jobs")
      assert(rerun.codegenCompiles == 0, s"${st.name}'s rerun compiled ${rerun.codegenCompiles}")
      st.name -> (cold.jobs, cold.codegenCompiles)
    }
    // explore: the global aggregate (one shuffle), the grouped aggregate
    // (two), and 11 CSVs written from the driver; curate: the LSH edges,
    // their bounded collect, the benchmark slice's broadcast shingles and
    // the filtered corpus
    assert(seen == Seq("preprocess" -> (2, 17L), "explore" -> (5, 22L), "translate" -> (4, 22L),
      "profile" -> (2, 3L), "curate" -> (10, 46L)), seen)
  }

  test("a second whole op runs the same jobs and finds part of its classes cached") {
    inputs
    SparkSpec.clearCodegenCache()
    val (_, first) = Capture.during(spark)(op())
    val (_, second) = Capture.during(spark)(op())
    assert(first.jobs == 23 && second.jobs == 23, (first.jobs, second.jobs))
    // an op compiles more classes than the cache's 4 segments of about 25
    // hold, so a warm op still recompiles those of its overflowing
    // segments (which, by key hash, varies run to run); that it compiles
    // none is open, ROADMAP item 3
    info(s"cold op compiled ${first.codegenCompiles} classes, the warm op ${second.codegenCompiles}")
    assert(second.codegenCompiles < first.codegenCompiles,
      s"warm op compiled ${second.codegenCompiles}, cold ${first.codegenCompiles}")
  }
}
