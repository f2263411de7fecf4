package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.{CsvIo, Overlap}
import graft.operators.{Enrich, Exploratory, Preprocess}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Config-driven stage orchestrator (ref: orchestrator.py:28-65 /
  * SURVEY.md §3 entry-point 1): a JSON stage list — `name,
  * implementation, input, output, enabled, params` (readme.md:46-55) —
  * executed in order with input-existence guards, `skip_if_exists`
  * memoization, and a per-stage timing summary with time share.
  *
  * Unlike the reference, a stage is one lazy Spark plan materialized only
  * at its declared output; there is no per-step CSV round-trip.
  */
object Pipeline {

  final case class StageConfig(
      name: String,
      implementation: String,
      input: String,
      output: String,
      enabled: Boolean,
      params: JsonNode)

  final case class PipelineConfig(datasetName: String, stages: Seq[StageConfig],
                                  skipIfExists: Boolean = true)

  /** One pipeline stage: input path → output path under a root dir. */
  trait Stage {
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit

    /** Param keys this stage understands. The runner warns (stderr) on
      * any config key outside this set — the reference's orchestrator
      * accepts unknown params silently, which hides typos like
      * `max_trys`; a warning names them without breaking configs.
      */
    def knownParams: Set[String] = Set.empty
  }

  // ------------------------------------------------------- param helpers
  private[pipeline] def optNode(params: JsonNode, key: String): Option[JsonNode] =
    Option(params).flatMap(p => Option(p.get(key))).filterNot(_.isNull)
  def pBool(params: JsonNode, key: String, dflt: Boolean): Boolean =
    optNode(params, key).map(_.asBoolean).getOrElse(dflt)
  def pInt(params: JsonNode, key: String, dflt: Int): Int =
    optNode(params, key).map(_.asInt).getOrElse(dflt)
  def pSeq(params: JsonNode, key: String): Seq[String] =
    optNode(params, key).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
  def pIntSeq(params: JsonNode, key: String): Seq[Int] =
    optNode(params, key).map(_.elements.asScala.map(_.asInt).toSeq).getOrElse(Nil)

  /** The Preprocessor stage (ref: stages.py:88-92, config keys from
    * config/test.json:24-36).
    */
  object PreprocessorStage extends Stage {
    override val knownParams: Set[String] = Set("remove_duplicates",
      "images_only", "year_filter", "hashtag_filter_include",
      "hashtag_filter_exclude", "max_images_per_year", "lowercase_hashtags")
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit = {
      val yr = pIntSeq(params, "year_filter") match {
        case Seq(lo, hi) => Some((lo, hi))
        case _ => None
      }
      val cfg = Preprocess.Config(
        datasetName = datasetName,
        removeDuplicates = pBool(params, "remove_duplicates", dflt = true),
        imagesOnly = pBool(params, "images_only", dflt = true),
        yearFilter = yr,
        lowercaseHashtags = pBool(params, "lowercase_hashtags", dflt = true),
        hashtagInclude = pSeq(params, "hashtag_filter_include"),
        hashtagExclude = pSeq(params, "hashtag_filter_exclude"),
        maxImagesPerYear = pInt(params, "max_images_per_year", -1))
      CsvIo.writeCsv(Preprocess.run(CsvIo.readPosts(spark, in), cfg), out)
    }
  }

  /** The exploratory-analysis stage (ref: stages.py:102-106): two
    * aggregate passes over the posts ([[Exploratory.analyze]]), each of
    * the 11 results a CSV under the output dir.
    */
  object ExploratoryAnalysisStage extends Stage {
    // no params (config/test.json ships an empty object)
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit =
      writeAnalyses(spark, Exploratory.analyze(CsvIo.readPreprocessed(spark, in)).toMap, out)

    /** The fan-out sink: each analysis lands as the reference's
      * one-CSV-per-analysis artifact, the writes overlapped ([[Overlap]]);
      * a local frame's write runs no Spark job ([[CsvIo.writeCsv]]).
      *
      * All CSVs land under a staging dir promoted (rename) only after
      * every write has succeeded: stage memoization trusts outputExists,
      * so the output dir must never be visible half-populated.
      */
    private[graft] def writeAnalyses(
        spark: SparkSession, analyses: Map[String, DataFrame], out: String): Unit = {
      val staging = Paths.get(s"$out._staging")
      deleteTree(staging) // leftovers from a prior crash
      try Overlap.all(spark, "exploratory analyses")(analyses.toSeq.map { case (name, result) =>
        name -> (() => CsvIo.writeCsv(result, s"$staging/$name", singleFile = true))
      }) catch { case e: Throwable => deleteTree(staging); throw e }
      deleteTree(Paths.get(out)) // rerun with skip_if_exists=false overwrites
      Files.move(staging, Paths.get(out))
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit = org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile)

  /** The translation stage (ref: stages.py Translation entry,
    * Translator.py:50-65): translates `target_column` into
    * `target_language` through the checkpointed production executor
    * ([[Enrich.runTranslationJob]]) — the state dir sits next to the
    * output, so an interrupted stage resumes without re-translating, the
    * reference's read-last-checkpoint semantics (:52-61). The output CSV
    * carries the reference's `<column>_<language>` translation column.
    * The offline translator is the deterministic dictionary (params key
    * `dictionary`); a service-backed impl drops into the same call.
    */
  object TranslatorStage extends Stage {
    override val knownParams: Set[String] =
      Set("target_column", "target_language", "dictionary")
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit = {
      val colName = optNode(params, "target_column").map(_.asText).getOrElse("caption")
      val lang = optNode(params, "target_language").map(_.asText).getOrElse("en")
      val dict = optNode(params, "dictionary").map { node =>
        node.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val translated = Enrich.runTranslationJob(
        CsvIo.readPreprocessed(spark, in), s"$out.state", "id",
        colName, s"${colName}_$lang", lang, Enrich.DictTranslator(dict))
      CsvIo.writeCsv(translated, out)
    }
  }

  /** Training-data text profiling over a documents parquet
    * (doc_id, text, …): token stats + language ID + quality + fingerprint
    * per document, one codegen'd projection.
    */
  object TextAnalysisStage extends Stage {
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit = {
      import graft.functions.TextFunctions._
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(in)
      val toksCol = tokens(col("text"))
      val scores = langMarkers.map { case (lang, ms) => lang -> langScore(toksCol, ms) }
      df.withColumn("n_tokens", size(toksCol))
        .withColumn("n_distinct", size(array_distinct(toksCol)))
        .withColumn("lang_pred", langPick(scores, col("text")))
        .withColumn("quality",
          size(array_distinct(toksCol)).cast("double") / greatest(size(toksCol), lit(1)))
        .withColumn("fingerprint", rollingHash(col("text")))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Near-dup detection stage: MinHash+LSH candidate pairs with exact
    * Jaccard over a documents parquet; pairs above the configured
    * threshold land in the output.
    */
  object DedupStage extends Stage {
    override val knownParams: Set[String] =
      Set("threshold", "shingle_k", "num_perms", "bands")
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit = {
      import org.apache.spark.sql.functions.col
      val threshold = optNode(params, "threshold").map(_.asDouble).getOrElse(0.5)
      graft.operators.Dedup.nearDupPairs(
          spark.read.parquet(in), "doc_id", "text",
          shingleK = pInt(params, "shingle_k", 2),
          numPerms = pInt(params, "num_perms", 16),
          bands = pInt(params, "bands", 8))
        .filter(col("jaccard") >= threshold)
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Full corpus-curation stage (the c02 composition as a pipeline
    * step): near-dup GROUP removal (LSH candidates → connected
    * components → keep the min-id representative), optional benchmark
    * decontamination (docs sharing any `decontam_k`-gram with the
    * `benchmark_mod` slice drop, as does the slice itself), then the
    * surviving corpus written out. Params: `shingle_k`, `num_perms`,
    * `bands`, `decontam_k` (0 disables), `benchmark_mod` (0 disables).
    */
  object CurationStage extends Stage {
    override val knownParams: Set[String] = Set("shingle_k", "num_perms",
      "bands", "decontam_k", "benchmark_mod")
    def run(spark: SparkSession, in: String, out: String, params: JsonNode,
            datasetName: String): Unit = {
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions.{shingles, tokens}
      val docs = spark.read.parquet(in)
      // only the CONNECTIVITY of the candidate pairs is consumed here,
      // so generate per-bucket STAR edges, not within-bucket cliques:
      // identical components at Σ|bucket| edges instead of Σ|bucket|²
      // (the same choice c02 and g02 make; nearDupPairs stays the right
      // call in DedupStage, which emits the verified pairs themselves)
      val pairs = graft.operators.Dedup.lshComponentEdges(
        docs, "doc_id", "text",
        shingleK = pInt(params, "shingle_k", 2),
        numPerms = pInt(params, "num_perms", 16),
        bands = pInt(params, "bands", 8))
      val comps = graft.operators.Dedup.connectedComponents(
        pairs.select("id_a", "id_b"))
      val kept = docs.join(comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      val benchMod = pInt(params, "benchmark_mod", 0)
      val decontamK = pInt(params, "decontam_k", 4)
      (if (benchMod <= 0 || decontamK <= 0) kept
      else {
        // a doc holding a shingle some benchmark doc holds is
        // contaminated; only the benchmark slice's shingles are shuffled
        // (and broadcast), the rest of the corpus is matched in place
        val bench = col("doc_id") % benchMod === 0
        val sh = docs.select(col("doc_id"),
          explode(array_distinct(shingles(tokens(col("text")), decontamK))).as("s"))
        val contaminated = sh.filter(!bench)
          .join(broadcast(sh.filter(bench).select("s").distinct()), Seq("s"), "left_semi")
        kept.filter(!coalesce(bench, lit(false))).join(contaminated, Seq("doc_id"), "left_anti")
      })
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Every implementation name the reference's configs dispatch
    * (stages.py:47-160 — all nine — plus the repo's training-data
    * stages), so `orchestrator.py --config config/test.json` semantics
    * hold for the WHOLE file, not a subset (VERDICT r9 #1).
    */
  val registry: Map[String, Stage] = Map(
    "InstagramFeedScraperStage" -> Stages.InstagramFeedScraperStage,
    "PreprocessorStage" -> PreprocessorStage,
    "CTPreprocessorStage" -> Stages.CTPreprocessorStage,
    "ExploratoryanalysisStage" -> ExploratoryAnalysisStage,
    "ExploratoryAnalysisStage" -> ExploratoryAnalysisStage,
    "TranslatorStage" -> TranslatorStage,
    "InstagramImageScraperStage" -> Stages.InstagramImageScraperStage,
    "ImageLabelerStage" -> Stages.ImageLabelerStage,
    "ImageFeatureVectorStage" -> Stages.ImageFeatureVectorStage,
    "ImageAnonymizerStage" -> Stages.ImageAnonymizerStage,
    "TextAnalysisStage" -> TextAnalysisStage,
    "DedupStage" -> DedupStage,
    "CurationStage" -> CurationStage)

  final case class StageResult(stage: String, status: String, seconds: Double)

  def loadConfig(path: String): PipelineConfig = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    // JSON `null` must read as "no path", not the string "null" —
    // NullNode.asText() returns the latter, and the reference's own
    // test.json declares the feed scraper with `"input": null`
    def strOf(s: JsonNode, key: String): String =
      Option(s.get(key)).filterNot(_.isNull).map(_.asText).getOrElse("")
    val stages = Option(root.get("stages")).map(_.elements.asScala.toSeq).getOrElse(Nil)
      .map { s =>
        StageConfig(
          name = strOf(s, "name"),
          implementation = strOf(s, "implementation"),
          input = strOf(s, "input"),
          output = strOf(s, "output"),
          enabled = Option(s.get("enabled")).forall(_.asBoolean),
          params = s.get("params"))
      }
    PipelineConfig(
      datasetName = Option(root.get("dataset_name")).map(_.asText).getOrElse(""),
      stages = stages,
      // the reference's root-level memoization flag (config/test.json:3)
      skipIfExists = Option(root.get("skip_stage_if_exists")).forall(_.asBoolean))
  }

  private def outputExists(path: String): Boolean = {
    val p = Paths.get(path)
    def nonEmptyDir: Boolean = {
      val s = Files.list(p) // stream holds an fd — must close
      try s.findAny.isPresent finally s.close()
    }
    Files.exists(p) && (!Files.isDirectory(p) ||
      Files.exists(p.resolve("_SUCCESS")) || nonEmptyDir)
  }

  /** Stage paths conflict when equal or nested (a stage writing images/
    * must order against one reading images/images), compared after
    * normalization: `./a`, `a/` and `a` are one path, `a//b` is `a/b`.
    */
  private[graft] def overlaps(a: String, b: String): Boolean =
    a.nonEmpty && b.nonEmpty && {
      val (pa, pb) = (Paths.get(a).normalize, Paths.get(b).normalize)
      pa.startsWith(pb) || pb.startsWith(pa)
    }

  /** For each stage, the earlier stages it must wait for: those writing
    * its input (read-after-write) or its output (write-write), or
    * reading its output (write-after-read).
    */
  private[graft] def dependencies(stages: IndexedSeq[StageConfig]): IndexedSeq[Seq[Int]] =
    stages.indices.map { i =>
      val st = stages(i)
      (0 until i).filter { j =>
        val p = stages(j)
        overlaps(p.output, st.input) || overlaps(p.output, st.output) ||
          overlaps(p.input, st.output)
      }
    }

  /** Run the stage list (ref: orchestrator.py:28-57): dispatch by
    * implementation name, guard on input existence, skip if the output
    * already exists, time each stage; returns the summary frame with the
    * reference's time-share column (orchestrator.py:59-65), each stage's
    * seconds as a share of the run's wall-clock.
    *
    * Stages whose file hand-offs are independent run concurrently, one
    * [[Overlap]] branch each — in pl02's config the three
    * consumers of `posts_preprocessed.csv` and the image chain overlap
    * instead of paying serial wall-clock; pl01's two corpus stages
    * both read `docs` and overlap entirely. The sequential orchestrator's
    * ordering is preserved exactly where it is observable: stage k
    * starts only after every EARLIER stage that writes k's input
    * (read-after-write), writes k's output (write-write), or reads k's
    * output (write-after-read) has finished — path overlap includes
    * directory nesting — so each stage sees the same file state it saw
    * under sequential execution, and a failed producer still surfaces
    * as the consumer's `missing_input`. Per-stage seconds are each
    * stage's own wall time from its (post-dependency) start, the same
    * quantity the reference times.
    */
  def run(spark: SparkSession, rootDir: String, cfg: PipelineConfig,
          skipIfExists: Boolean = true): DataFrame = {
    def runOne(st: StageConfig): StageResult = {
      val in = s"$rootDir/${st.input}"
      val out = s"$rootDir/${st.output}"
      if (!st.enabled) StageResult(st.name, "disabled", 0.0)
      else if (!registry.contains(st.implementation)) StageResult(st.name, "unknown_impl", 0.0)
      else if (st.input.nonEmpty && !Files.exists(Paths.get(in))) StageResult(st.name, "missing_input", 0.0)
      else if (skipIfExists && outputExists(out)) StageResult(st.name, "skipped", 0.0)
      else {
        val t0 = System.nanoTime()
        val stage = registry(st.implementation)
        val unknown = Option(st.params).filterNot(_.isNull)
          .map(_.fieldNames.asScala.toSet -- stage.knownParams)
          .getOrElse(Set.empty)
        if (unknown.nonEmpty)
          System.err.println(s"[pipeline] stage ${st.name}: ignoring unknown " +
            s"param(s) ${unknown.toSeq.sorted.mkString(", ")} (known: " +
            s"${stage.knownParams.toSeq.sorted.mkString(", ")})")
        // a throwing stage becomes a `failed` ROW, not a lost summary:
        // later independent stages still run (those consuming the dead
        // stage's output report missing_input), the operator sees the
        // whole table, and RunPipeline still exits non-zero on any
        // non-ok status. (The reference crashes outright here,
        // orchestrator.py:46 — a deliberate upgrade.)
        try {
          stage.run(spark, in, out, st.params, cfg.datasetName)
          StageResult(st.name, "ok", (System.nanoTime() - t0) / 1e9)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[pipeline] stage ${st.name} failed: $e")
            StageResult(st.name, s"failed: ${e.getClass.getSimpleName}",
              (System.nanoTime() - t0) / 1e9)
        }
      }
    }
    val t0 = System.nanoTime()
    val stages = cfg.stages.toIndexedSeq
    val deps = dependencies(stages)
    val finished = stages.map(_ => new java.util.concurrent.CountDownLatch(1))
    // a throw (runOne turns NonFatal ones into rows) releases every stage
    // still waiting, which then runs nothing: the call fails either way
    val aborted = new java.util.concurrent.atomic.AtomicBoolean
    val results = Overlap.all(spark, "pipeline")(stages.indices.map { i =>
      stages(i).name -> { () =>
        deps(i).foreach(finished(_).await())
        try if (aborted.get) StageResult(stages(i).name, "aborted", 0.0) else runOne(stages(i))
        catch { case e: Throwable => aborted.set(true); finished.foreach(_.countDown()); throw e }
        finally finished(i).countDown()
      }
    })
    import spark.implicits._
    // a share of the run's wall-clock: overlapping stages can sum past 100
    val wall = math.max((System.nanoTime() - t0) / 1e9, 1e-9)
    results.toDF()
      .withColumn("time_pct", org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.col("seconds") / wall * 100, 1))
  }
}
