package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.io.CsvIo
import graft.operators.{Dedup, IncrementalNearDup, Similarity}
import graft.pipeline.Pipeline
import graft.queries.TextQueries
import graft.streaming.StreamUpsert
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `nightly_pipeline`: the reference's posts chain and pl01's corpus chain,
  * each one config-driven `Pipeline.run`, in sequence.
  */
final class Nightly(spark: SparkSession, spec: JsonNode, in: Path, work: Path)
    extends Workload {
  private val postsCfg = work.resolve("posts.json")
  private val corpusCfg = work.resolve("corpus.json")
  Files.writeString(postsCfg,
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
      |                             "stream": "strom", "fast": "schnell"}}}]}""".stripMargin)
  // pl01's corpus chain and stage parameters
  Files.writeString(corpusCfg,
    """{"dataset_name": "docs", "stages": [
      |  {"name": "profile", "implementation": "TextAnalysisStage",
      |   "input": "in/docs.parquet", "output": "profiled", "params": {}},
      |  {"name": "curate", "implementation": "CurationStage",
      |   "input": "in/docs.parquet", "output": "curated",
      |   "params": {"shingle_k": 2, "num_perms": 16, "bands": 8,
      |              "decontam_k": 4, "benchmark_mod": 97}}]}""".stripMargin)
  private val rowsPerOp = spec.get("meta").get("rows_per_op").asLong
  private val postsKept = Json.longs(spec.get("meta").get("posts_kept")).sorted
  private val planted = Json.longs(spec.get("meta").get("planted_dups")).toSet

  def build(): Unit = ()
  def kind(i: Int): String = "pipeline"

  private def root(i: Int): Path = work.resolve(s"op$i")

  def op(i: Int): OpOut = {
    val r = root(i)
    Dirs.deleteTree(r)
    Files.createDirectories(r)
    Files.createSymbolicLink(r.resolve("in"), in)
    val posts = Trace.span("pipeline.posts") {
      Pipeline.run(spark, r.toString, Pipeline.loadConfig(postsCfg.toString)).collect()
    }
    val corpus = Trace.span("pipeline.corpus") {
      Pipeline.run(spark, r.toString, Pipeline.loadConfig(corpusCfg.toString)).collect()
    }
    OpOut(rowsPerOp, posts ++ corpus)
  }

  def check(i: Int, out: OpOut): (Option[String], Map[String, Any]) = {
    val r = root(i)
    val summary = out.result.asInstanceOf[Array[Row]]
    val stages = summary.map(s => s.getString(0) -> s.getDouble(2)).toMap
    val notOk = summary.filter(_.getString(1) != "ok").map(s => s"${s.getString(0)}=${s.getString(1)}")
    val pre = CsvIo.readPreprocessed(spark, s"$r/posts_preprocessed.csv")
    val preIds = pre.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val translated = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(s"$r/posts_translated.csv").count()
    val analyses = Files.list(r.resolve("exploratory")).count()
    // pl01's summary of the corpus chain's output files, compared with
    // its DuckDB oracle by run.py
    val curated = spark.read.parquet(s"$r/curated")
    val lang = curated.select("doc_id")
      .join(spark.read.parquet(s"$r/profiled")
        .select("doc_id", "n_tokens", "n_distinct", "lang_pred"), "doc_id")
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        sum("n_distinct").as("sum_distinct"))
      .collect().map(x => Seq(x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(_.head.toString).toSeq
    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val outBytes = Dirs.usage(r)._2 // the input symlink is not followed
    Dirs.deleteTree(r)
    val errs = Seq(
      if (notOk.nonEmpty) Some(s"stages not ok: ${notOk.mkString(", ")}") else None,
      if (preIds != postsKept) Some(s"preprocessed ids differ (${preIds.size} vs ${postsKept.size})") else None,
      if (translated != postsKept.size) Some(s"translated rows $translated != ${postsKept.size}") else None,
      if (analyses != 11) Some(s"$analyses exploratory analyses, expected 11") else None).flatten
    (errs.headOption, Map(
      "stage_s" -> stages, "corpus_summary" -> lang, "out_bytes" -> outBytes,
      "planted" -> planted.size, "planted_removed" -> planted.count(d => !kept(d))))
  }

  /** The curation chain's two shuffle-heavy operators called directly on
    * the corpus, so their cost shows without the stage around them.
    */
  override def traceExtras(): Unit = {
    val docs = spark.read.parquet(in.resolve("docs.parquet").toString)
    (0 until 3).foreach { _ =>
      Trace.span("dedup") {
        val edges = Trace.span("operators.Dedup.lshComponentEdges") {
          Dedup.lshComponentEdges(docs, "doc_id", "text", 2, 16, 8).localCheckpoint()
        }
        Trace.span("operators.Dedup.connectedComponents") {
          Dedup.connectedComponents(edges.select("id_a", "id_b")).count()
        }
      }
    }
  }

  def finish(): Map[String, Any] = Map.empty
}

/** `ingest_retrieve`: three persistent stores (the near-dup index, the
  * IVF-PQ vector store, the upsert snapshot) plus a BM25 index, built in
  * set-up; each op is either one ingest micro-batch into the stores or one
  * query request against the IVF-PQ store or the BM25 index.
  */
final class Store(spark: SparkSession, spec: JsonNode, in: Path, work: Path)
    extends Workload {
  private val params = spec.get("params")
  private val meta = spec.get("meta")
  private val coarse = params.get("coarse").asInt
  private val codebook = params.get("codebook").asInt
  private val ops = meta.get("ops").elements.asScala.toIndexedSeq
  private val forgetSets = meta.get("forget_sets").elements.asScala.map(Json.longs).toIndexedSeq
  private val batchRows = meta.get("batch").asLong + meta.get("updates").asLong
  private val docs = meta.get("docs").asLong
  private def path(name: String) = in.resolve(name).toString
  private def read(name: String) = spark.read.parquet(path(name))
  private def batch(b: Int) = read("batches.parquet").filter(col("batch") === b)
  private val qSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))))
  // the client holds its requests in memory: each query ships a local frame
  private lazy val requests: Map[Long, Seq[Row]] =
    read("queries.parquet").collect().toSeq
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(r => Row(r.getLong(1), r.get(2))) }
  private lazy val allowedIds: Set[Long] =
    read("allowed.parquet").collect().map(_.getLong(0)).toSet

  private val base = work.resolve("stores")
  private def nd = base.resolve("neardup").toString
  private def ivf = base.resolve("ivfpq").toString
  private def up = base.resolve("upsert").toString
  private def bm = base.resolve("bm25").toString
  // batches ingested, ids admitted and forgotten, and a write counter that tells a repeated query whether the store
  // changed since its first answer
  private var ingested = Vector.empty[Int]
  private var admitted = Set.empty[Long]
  private var forgotten = Set.empty[Long]
  private var writes = 0
  private val answers = scala.collection.mutable.Map.empty[String, (Int, Seq[Seq[Any]])]
  private var prev = (0L, 0L)

  private def modelPreds = (col("id") < coarse, col("id") >= coarse && col("id") < coarse + codebook)

  def build(): Unit = {
    requests
    Files.createDirectories(base)
    Trace.span("seed.IncrementalNearDup.dedupeBatch") {
      IncrementalNearDup.dedupeBatch(read("documents.parquet"), "doc_id", "text", nd).count()
    }
    Trace.span("operators.Similarity.buildIvfPqStore") {
      val (cp, bp) = modelPreds
      Similarity.buildIvfPqStore(read("seed_vectors.parquet"), "vec_id", "embedding", cp, bp, ivf)
    }
    Trace.span("queries.TextQueries.bm25BuildIndex") {
      TextQueries.bm25BuildIndex(spark, in.toString, bm)
    }
  }

  override def ready(): Unit = prev = storeUsage

  /** (files, bytes) of the live stores: the near-dup index, the IVF-PQ
    * store and the latest upsert snapshot (older snapshots are history).
    */
  private def storeUsage: (Long, Long) = {
    val latest = StreamUpsert.latestVersion(up).map(v => f"$up/v$v%05d")
    val u = (Seq(nd, ivf) ++ latest).map(p => Dirs.usage(java.nio.file.Paths.get(p)))
    (u.map(_._1).sum, u.map(_._2).sum)
  }

  override def has(i: Int): Boolean = i < ops.size
  def kind(i: Int): String = {
    val o = ops(i)
    o.get("kind").asText match {
      case "batch" => if (o.get("forget").asBoolean) "batch+forget" else "batch"
      case "bm25" => "bm25"
      case _ => s"ivf nprobe=${o.get("nprobe").asInt} k=${o.get("k").asInt}" +
        (if (o.get("filtered").asBoolean) " filtered" else "")
    }
  }

  def op(i: Int): OpOut = {
    val o = ops(i)
    o.get("kind").asText match {
      case "batch" => ingest(o.get("batch").asInt, o.get("forget").asBoolean)
      case "bm25" => OpOut(0, timed("queries.TextQueries.bm25Retrieve")(TextQueries.bm25Retrieve(spark, bm)))
      case _ =>
        val q = requests(o.get("request").asLong)
        val allowed = if (o.get("filtered").asBoolean) Some(read("allowed.parquet")) else None
        OpOut(0, timed("operators.Similarity.ivfPqStoredTopK") {
          Similarity.ivfPqStoredTopK(spark, ivf, spark.createDataFrame(q.asJava, qSchema),
            "vec_id", "embedding", o.get("k").asInt, o.get("nprobe").asInt, allowed = allowed)
        })
    }
  }

  /** A query split into construct (the call, including its coordinator
    * collects), plan (`executedPlan`) and execute (collect).
    */
  private def timed(name: String)(df: => DataFrame): Array[Row] =
    Trace.span(name) {
      val d = Trace.span(s"$name.construct")(df)
      Trace.span(s"$name.plan")(d.queryExecution.executedPlan)
      Trace.span(s"$name.exec")(d.collect())
    }

  private def ingest(b: Int, forget: Boolean): OpOut = {
    val docsB = batch(b)
    val ids = Trace.span("operators.IncrementalNearDup.dedupeBatch") {
      IncrementalNearDup.dedupeBatch(docsB.select("doc_id", "text"), "doc_id", "text", nd)
        .select("doc_id").collect().map(_.getLong(0))
    }
    Trace.span("operators.Similarity.admitIvfPqBatch") {
      Similarity.admitIvfPqBatch(spark, ivf,
        docsB.filter(col("doc_id").isin(ids.toSeq.map(Long.box): _*))
          .select(col("doc_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", batchId = b.toLong)
    }
    Trace.span("streaming.StreamUpsert.applyBatch") {
      StreamUpsert.applyBatch(spark, up,
        read("updates.parquet").filter(col("batch") === b).drop("batch"),
        Seq("post_id"), Seq("version"))
    }
    val gone = if (forget) forgetSets(b) else Nil
    if (gone.nonEmpty) Trace.span("operators.Similarity.forgetFromIvfPqStore") {
      Similarity.forgetFromIvfPqStore(spark, ivf,
        spark.createDataFrame(gone.map(Row(_)).asJava, StructType(Seq(StructField("id", LongType)))))
    }
    ingested :+= b
    admitted ++= ids
    forgotten ++= gone
    writes += 1
    OpOut(batchRows, ids)
  }

  def check(i: Int, out: OpOut): (Option[String], Map[String, Any]) = {
    val o = ops(i)
    o.get("kind").asText match {
      case "batch" => checkBatch(o.get("batch").asInt, out.result.asInstanceOf[Array[Long]])
      case "bm25" => (None, Map("bm25" -> out.result.asInstanceOf[Array[Row]].map(_.toSeq).toSeq))
      case _ => checkIvf(o, out.result.asInstanceOf[Array[Row]].map(_.toSeq).toSeq)
    }
  }

  private def checkBatch(b: Int, ids: Array[Long]): (Option[String], Map[String, Any]) = {
    val lo = batch(b).agg(min("doc_id"), max("doc_id"), count(lit(1))).head()
    def inBatch(d: Long) = d >= lo.getLong(0) && d <= lo.getLong(1)
    val cur = storeUsage
    val delta = (cur._1 - prev._1, cur._2 - prev._2)
    prev = cur
    val err =
      if (!ids.forall(inBatch) || ids.distinct.length != ids.length || ids.length > lo.getLong(2))
        Some(s"admitted ids are not a subset of batch $b")
      else None
    (err, Map("batch" -> b, "admitted" -> ids.length,
      "files_added" -> delta._1, "bytes_added" -> delta._2))
  }

  private def checkIvf(o: JsonNode, rows: Seq[Seq[Any]]): (Option[String], Map[String, Any]) = {
    val k = o.get("k").asInt
    val filtered = o.get("filtered").asBoolean
    val byQ = rows.groupBy(_.head)
    val errs = byQ.toSeq.flatMap { case (q, rs) =>
      val sorted = rs.sortBy(_(1).asInstanceOf[Int])
      val ids = sorted.map(_(2).asInstanceOf[Long])
      val d = sorted.map(_(3).asInstanceOf[Long])
      Seq(
        if (sorted.map(_(1)) != (1 to sorted.size)) Some(s"q$q: ranks not 1..n") else None,
        if (sorted.size > k) Some(s"q$q: ${sorted.size} > k=$k results") else None,
        if (d != d.sorted) Some(s"q$q: distances not ascending") else None,
        if (ids.exists(x => x < 0 || x >= docs || forgotten(x))) Some(s"q$q: id not in the store") else None,
        if (filtered && !ids.forall(allowedIds)) Some(s"q$q: id outside the allow-list") else None
      ).flatten
    } ++ (if (byQ.size != requests(o.get("request").asLong).size) Seq("a query got no results") else Nil)
    // a repeated request against an unchanged store gets the same answer
    val key = Seq("request", "nprobe", "k", "filtered").map(f => o.get(f).asText).mkString("/")
    val canon = rows.sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Int]))
    val repeatErr = answers.get(key).collect {
      case (w, a) if w == writes && a != canon => s"repeat of $key differs"
    }
    answers(key) = (writes, canon)
    ((errs ++ repeatErr).headOption, Map("results" -> rows.size))
  }

  /** Whole-run checks, outside every timed metric. The incrementally
    * maintained stores must equal one-shot builds over the same inputs:
    * the IVF-PQ store equals `buildIvfPqStore` over the seed plus every
    * admitted vector minus every forgotten one, and the upsert snapshot
    * equals latest-wins over all updates. recall@10 of the final
    * store is taken against exact brute-force search over its live vectors.
    */
  def finish(): Map[String, Any] = {
    def same(a: DataFrame, b: DataFrame): Boolean = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val all = read("batches.parquet").filter(col("batch").isin(ingested.map(Int.box): _*))
    val oneShot = base.resolve("oneshot")
    val live = read("seed_vectors.parquet")
      .unionByName(all.filter(col("doc_id").isin(admitted.toSeq.map(Long.box): _*))
        .select(col("doc_id").as("vec_id"), col("embedding")))
    val codeCols = Seq("vec_id", "subspace", "code", "dist_q", "cluster").map(col)
    val (cp, bp) = modelPreds
    Similarity.buildIvfPqStore(live, "vec_id", "embedding", cp, bp, oneShot.resolve("ivfpq").toString)
    val ivfEqual = same(
      spark.read.parquet(s"$ivf/codes").select(codeCols: _*),
      spark.read.parquet(s"${oneShot.resolve("ivfpq")}/codes")
        .filter(!col("vec_id").isin(forgotten.toSeq.map(Long.box): _*)).select(codeCols: _*)) &&
      Seq("coarse", "codebook").forall(t => same(spark.read.parquet(s"$ivf/$t"),
        spark.read.parquet(s"${oneShot.resolve("ivfpq")}/$t")))
    val latest = read("updates.parquet").filter(col("batch").isin(ingested.map(Int.box): _*))
      .groupBy("post_id")
      .agg(max(struct(col("version"), col("likes"), col("comments"))).as("m"))
      .select(col("post_id"), col("m.likes").as("likes"), col("m.comments").as("comments"),
        col("m.version").as("version"))
    val upCols = Seq("post_id", "likes", "comments", "version").map(col)
    val upsertEqual = StreamUpsert.readSnapshot(spark, up)
      .exists(snap => same(snap.select(upCols: _*), latest.select(upCols: _*)))

    val rq = read("recall_queries.parquet")
    val nq = rq.count().toInt
    val qBase = rq.agg(min("vec_id")).head().getLong(0)
    val approx = Similarity.ivfPqStoredTopK(spark, ivf, rq, "vec_id", "embedding", 10,
        meta.get("recall_nprobe").asInt)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val exact = Similarity.knnBrute(
        live.filter(!col("vec_id").isin(forgotten.toSeq.map(Long.box): _*)).unionByName(rq),
        "vec_id", "embedding", col("id") >= qBase, 10 + nq, 64)
      .filter(col("n_id") < qBase).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).take(10).map(_.getLong(2)).toSet }
    val recall = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty[Long]).count(truth).toDouble / truth.size }.sum / nq
    Map("ivf_equal" -> ivfEqual, "upsert_equal" -> upsertEqual, "batches_ingested" -> ingested,
      "store_bytes" -> storeUsage._2, "recall_at_10" -> recall,
      "codes_bytes" -> Dirs.usage(java.nio.file.Paths.get(s"$ivf/codes"))._2)
  }
}
