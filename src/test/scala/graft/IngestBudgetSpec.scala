package graft

import graft.obs.Capture
import graft.operators.{IncrementalNearDup, Similarity}
import graft.queries.Dsl
import graft.streaming.StreamUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What one ingest micro-batch costs: the Spark jobs and the generated
  * classes of the four calls a batch makes — near-dup admission (with the
  * caller's collect of the admitted ids), IVF-PQ admission, the upsert
  * merge and an IVF-PQ forget. Each batch is its own seeded parquet input,
  * so no plan carries a per-batch literal: a second batch of the same shape
  * must find every class of the first in Spark's codegen cache.
  */
class IngestBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val dir = Dsl.tempDir("ingest_budget")
  private val Vocab = 300
  private val SeedDocs = 600
  private val BatchDocs = 200
  private val Updates = 200

  private def text(rnd: scala.util.Random): String =
    Seq.fill(30)(s"w${rnd.nextInt(Vocab)}").mkString(" ")

  /** Docs `lo until lo + n`; a sixth of them copy an earlier text with
    * one word changed (near-duplicates of the seed or of the batch).
    */
  private def docs(seed: Int, lo: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (lo until lo + n).foreach { id =>
      val t =
        if (out.nonEmpty && rnd.nextInt(6) == 0) {
          val w = out(rnd.nextInt(out.size))._2.split(" ")
          w(rnd.nextInt(w.length)) = s"w${rnd.nextInt(Vocab)}"
          w.mkString(" ")
        } else text(rnd)
      out += id -> t
    }
    out.toSeq
  }

  private def vectors(seed: Int, ids: Seq[Long]): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i -> Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  private def write(df: DataFrame, name: String): String = {
    val p = s"$dir/$name"
    df.write.parquet(p)
    p
  }
  private def read(p: String) = spark.read.parquet(p)

  private val nd = s"$dir/neardup"
  private val ivf = s"$dir/ivfpq"
  private val up = s"$dir/upsert"

  /** Seed the three stores the way a deployment starts them. */
  private lazy val stores: Unit = {
    val seedDocs = docs(1, 0L, SeedDocs)
    IncrementalNearDup.dedupeBatch(seedDocs.toDF("doc_id", "text"), "doc_id", "text", nd).count()
    Similarity.buildIvfPqStore(vectors(2, seedDocs.map(_._1)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", col("id") >= 16 && col("id") < 32, col("id") < 16, ivf)
    StreamUpsert.applyBatch(spark, up,
      (0L until 2000L).map(k => (k, k % 97, k % 13, 0L)).toDF("post_id", "likes", "comments", "version"),
      Seq("post_id"), Seq("version"))
    // the model is resident once the store has served a query
    Similarity.ivfPqStoredTopK(spark, ivf, vectors(3, Seq(-1L)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 10, 2).collect()
  }

  /** Batch `b`'s three inputs, each its own parquet dir, and the ten seed
    * vectors it forgets.
    */
  private def inputs(b: Int): (String, String, String, Seq[Long]) = {
    val lo = SeedDocs.toLong + b * BatchDocs
    val ds = docs(100 + b, lo, BatchDocs)
    val rnd = new scala.util.Random(200 + b)
    val ups = Seq.fill(Updates)((rnd.nextInt(4000).toLong, rnd.nextInt(1000).toLong,
      rnd.nextInt(100).toLong, b.toLong * 10 + rnd.nextInt(10)))
    (write(ds.toDF("doc_id", "text"), s"docs_$b"),
      write(vectors(300 + b, ds.map(_._1)).toDF("vec_id", "embedding"), s"vectors_$b"),
      write(ups.toDF("post_id", "likes", "comments", "version"), s"updates_$b"),
      (0L until 10L).map(i => b * 10L + i))
  }

  /** One batch: (call, jobs, compiles) for each of the four calls. */
  private def ingest(b: Int): Seq[(String, Int, Long)] = {
    val (ds, vs, us, gone) = inputs(b)
    val (docsB, vecsB, updatesB) = (read(ds), read(vs), read(us))
    val (ids, dedupe) = Capture.during(spark) {
      IncrementalNearDup.dedupeBatch(docsB, "doc_id", "text", nd)
        .select("doc_id").collect().map(_.getLong(0))
    }
    assert(ids.nonEmpty && ids.length < BatchDocs, s"batch $b admitted ${ids.length}")
    val (_, admit) = Capture.during(spark) {
      Similarity.admitIvfPqBatch(spark, ivf,
        vecsB.filter(col("vec_id").isin(ids.toSeq.map(Long.box): _*)),
        "vec_id", "embedding", batchId = b.toLong)
    }
    val (_, upsert) = Capture.during(spark) {
      StreamUpsert.applyBatch(spark, up, updatesB, Seq("post_id"), Seq("version"))
    }
    val (_, forget) = Capture.during(spark) {
      Similarity.forgetFromIvfPqStore(spark, ivf, gone.toDF("id"))
    }
    Seq("dedupeBatch" -> dedupe, "admitIvfPqBatch" -> admit,
      "applyBatch" -> upsert, "forgetFromIvfPqStore" -> forget)
      .map { case (n, c) => (n, c.jobs, c.codegenCompiles) }
  }

  test("index rows piled up under one band key put no ceiling on admission") {
    import graft.operators.Dedup
    val store = s"$dir/pileup"
    val dup = Seq((9000L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    // 1.1M index rows, every one under the same band key as `dup`
    val key = Dedup.bandedSignatures(dup, "doc_id", "text", 2, 16, 8)
      .filter(col("band_id") === 0).drop("id")
    spark.range(0, 1100000, 1, 4).crossJoin(key)
      .select(col("id"), col("band_id"), col("band_key")).write.parquet(store)
    val batch = dup.unionByName(Seq((9001L, "m n o p q r s t u v w x")).toDF("doc_id", "text"))
    val admitted = IncrementalNearDup.dedupeBatch(batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect()
    assert(admitted.toSeq == Seq(9001L))
  }

  test("a micro-batch runs a pinned number of jobs and its classes stay cached for the next") {
    stores
    SparkSpec.clearCodegenCache()
    val first = ingest(1)
    val second = ingest(2)
    val calls = first.map(_._1)
    // dedupe: collect the batch, sign it, probe the index, append; admit:
    // collect the quantized batch, append; upsert: the shuffle, the write;
    // forget: collect the ids, find the clusters, the shuffle, the write
    assert(first.map(_._2) == Seq(4, 2, 2, 4), s"jobs: $first")
    assert(second.map(_._2) == first.map(_._2), s"jobs: $second")
    assert(first.map(_._2).sum <= 15)
    assert(first.map(_._3) == Seq(9L, 11L, 11L, 8L), s"compiles: $first")
    assert(first.map(_._3).sum <= 40)
    assert(second.map(_._3).sum <= 5, s"a same-shape batch recompiled: $second")
    assert(second.map(_._1) == calls)
  }
}
