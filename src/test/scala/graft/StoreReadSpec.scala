package graft

import graft.io.StoreRead
import graft.obs.Capture
import graft.operators.{IncrementalNearDup, Similarity}
import graft.queries.TextQueries
import graft.streaming.StreamUpsert
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The store-open contract of [[StoreRead]]: a footer-schema read is the
  * plain `spark.read.parquet` read minus its inference job, and resident
  * model params never outlive the store version they were read from.
  */
class StoreReadSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded corpus in the testdata layout: 200 64-d embeddings and 200
    * short documents over a 40-word vocabulary.
    */
  private lazy val sf: String = {
    val dir = graft.queries.Dsl.tempDir("sr_data")
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    (0L until 200L).map(i => (i, Seq.fill(8)(s"w${rnd.nextInt(40)}").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def tmpStore(prefix: String): String =
    graft.queries.Dsl.tempStore(prefix)

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Message of what `f` throws, or of no throw at all. */
  private def failure(f: => Any): String =
    try { f; "no error" } catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }

  test("footer schemas equal inferred schemas for every store layout") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = tmpStore("sr_ivf")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, ivf)
    val bm = tmpStore("sr_bm25")
    TextQueries.bm25BuildIndex(spark, sf, bm)
    val nd = tmpStore("sr_neardup")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    IncrementalNearDup.dedupeBatch(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", nd)
    IncrementalNearDup.dedupeBatch(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", nd)
    val up = tmpStore("sr_upsert")
    for (b <- 0 to 1)
      StreamUpsert.applyBatch(spark, up,
        Seq((1L, 10L * b, b.toLong), (2L + b, 5L, b.toLong)).toDF("post_id", "likes", "version"),
        Seq("post_id"), Seq("version"))
    val dirs = Seq("coarse", "codebook", "codes").map(d => s"$ivf/$d") ++
      Seq("stats", "terms", "postings").map(d => s"$bm/$d") ++ Seq(nd, s"$up/v00001")
    for (d <- dirs) {
      val plain = spark.read.parquet(d)
      val (fast, cap) = Capture.during(spark)(StoreRead.parquet(spark, d))
      assert(cap.jobs == 0, s"$d: footer-schema open launched ${cap.jobs} jobs")
      assert(fast.schema == plain.schema, s"$d:\n${fast.schema}\nvs\n${plain.schema}")
      assert(same(fast, plain), s"$d: rows differ")
    }
    // partition columns still come from directory names and still prune
    for ((d, key) <- Seq(s"$ivf/codes" -> "cluster", s"$bm/postings" -> "bucket")) {
      val plan = StoreRead.parquet(spark, d).filter(col(key).isin(0, 1))
        .queryExecution.executedPlan.toString
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
      assert(pf.contains(s"$key#") && pf.contains(" IN "), s"$d: no $key pruning:\n$plan")
    }
  }

  test("an empty dir, a missing one, and a file without Spark metadata read like spark.read.parquet") {
    val empty = graft.queries.Dsl.tempDir("sr_empty")
    val missing = s"$empty/absent"
    for (d <- Seq(empty, missing))
      assert(failure(StoreRead.parquet(spark, d)) == failure(spark.read.parquet(d)), d)
    // a parquet file written outside Spark: no row-metadata key
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val plainDir = graft.queries.Dsl.tempDir("sr_plain")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$plainDir/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (i, n) =>
      w.write(groups.newGroup().append("id", i).append("name", n))
    } finally w.close()
    val plain = spark.read.parquet(plainDir)
    val fast = StoreRead.parquet(spark, plainDir)
    assert(fast.schema == plain.schema)
    assert(fast.collect().toSeq == plain.collect().toSeq)
  }

  test("a stats dir without buckets still fails as predating the self-describing layout") {
    val store = tmpStore("sr_legacy")
    TextQueries.bm25BuildIndex(spark, sf, store)
    TextQueries.bm25Retrieve(spark, store).collect() // stats now resident
    spark.read.parquet(s"$store/stats").drop("buckets")
      .write.mode("overwrite").parquet(s"$store/stats_new")
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$store/stats"), true)
    fs.rename(new Path(s"$store/stats_new"), new Path(s"$store/stats"))
    val e = intercept[IllegalArgumentException](TextQueries.bm25Retrieve(spark, store))
    assert(e.getMessage.contains("predates the self-describing layout"), e.getMessage)
  }

  test("resident model params are re-read after a rebuild and after a rebalance") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val request = spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
    def topK(store: String) = Similarity.ivfPqStoredTopK(spark, store, request,
      "vec_id", "embedding", 10, 2).collect().map(_.toSeq).toSet
    // an uncached read: the same files at a path the cache has never seen
    def uncached(store: String) = {
      val copy = tmpStore("sr_copy")
      val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
      FileUtil.copy(fs, new Path(store), fs, new Path(copy), false, fs.getConf)
      topK(copy)
    }
    def centroids(store: String) =
      StoreRead.resident(spark, s"$store/coarse", "g_id").rows.map(_.getLong(0)).toSet
    val store = tmpStore("sr_inval")
    def build(coarse: org.apache.spark.sql.Column): Unit =
      Similarity.buildIvfPqStore(emb, "vec_id", "embedding", coarse, col("id") < 8, store)
    build(col("id") >= 8 && col("id") < 12)
    val first = topK(store)
    assert(first == uncached(store))
    build(col("id") >= 16 && col("id") < 24) // same path, different centroids
    assert(centroids(store) == (16L until 24L).toSet)
    val rebuilt = topK(store)
    assert(rebuilt != first, "the rebuild must change the answer for this check to bite")
    assert(rebuilt == uncached(store), "a rebuild served stale centroids")
    val hot = Similarity.rebalanceIvfPqStore(spark, store)
    assert(hot >= 0 && !centroids(store).contains(hot))
    assert(topK(store) == uncached(store), "a rebalance served stale centroids")
  }
}
