package graft

import graft.operators.Publish
import org.apache.spark.sql.functions._

/** Process-level contracts of the manifest-pointer publish (io08's gate
  * proves snapshot arithmetic; these are the crash/concurrency seams SQL
  * cannot express): orphaned data dirs and leftover `.tmp` manifests are
  * invisible, re-publish is idempotent, and old versions stay readable
  * (time travel) after new ones land.
  */
class PublishSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def freshRoot() =
    graft.queries.Dsl.tempDir("publish-spec") + "/lake"

  test("publish is versioned and the snapshot is exactly the committed batches") {
    val root = freshRoot()
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    assert(Publish.currentVersion(spark, root) == 0)
    assert(Publish.readSnapshot(spark, root).isEmpty)

    val v1 = Publish.publishBatch(spark, docs.filter(col("doc_id") < 100), root, "b1")
    assert(v1 == 1)
    assert(Publish.readSnapshot(spark, root).get.count() == 100)

    val v2 = Publish.publishBatch(spark, docs.filter(col("doc_id") >= 100), root, "b2")
    assert(v2 == 2)
    val full = Publish.readSnapshot(spark, root).get
    assert(full.count() == docs.count())
    // time travel: version 1 still reads the pre-b2 snapshot
    assert(Publish.readSnapshot(spark, root, version = 1).get.count() == 100)
  }

  test("a crashed writer's work is invisible: orphan data dir and .tmp manifest") {
    val root = freshRoot()
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    Publish.publishBatch(spark, docs.filter(col("doc_id") < 50), root, "b1")
    // crash seam 1: data landed, manifest commit never happened
    docs.write.mode("overwrite").parquet(s"$root/data/orphan")
    // crash seam 2: a staged manifest that was never renamed into place
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/_manifests/m-00099.txt.tmp")
    val out = hfs.create(tmp, true)
    try out.write("orphan\n".getBytes("UTF-8")) finally out.close()

    assert(Publish.currentVersion(spark, root) == 1)
    assert(Publish.batches(spark, root) == Seq("b1"))
    assert(Publish.readSnapshot(spark, root).get.count() == 50)
  }

  test("re-publishing a batch name is idempotent, not duplicating") {
    val root = freshRoot()
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    Publish.publishBatch(spark, docs.filter(col("doc_id") < 50), root, "b1")
    // the retry rewrites the (immutable-by-convention) dir and commits a
    // new manifest version, but the batch list — and so the row set —
    // is unchanged
    val v = Publish.publishBatch(spark, docs.filter(col("doc_id") < 50), root, "b1")
    assert(v == 2)
    assert(Publish.batches(spark, root) == Seq("b1"))
    assert(Publish.readSnapshot(spark, root).get.count() == 50)
  }

  test("readIncrement: processed-state + increment reconstructs the snapshot exactly") {
    import spark.implicits._
    val root = graft.queries.Dsl.tempDir("pub_incr") + "/lake"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val v1 = Publish.publishBatch(spark,
      docs.filter(col("doc_id") % 3 === 0), root, "b0")
    // nothing new since the current version → None, not an empty scan
    assert(Publish.readIncrement(spark, root, sinceVersion = v1).isEmpty)
    Publish.publishBatch(spark, docs.filter(col("doc_id") % 3 === 1), root, "b1")
    val v3 = Publish.publishBatch(spark,
      docs.filter(col("doc_id") % 3 === 2), root, "b2")
    // increment since v1 = exactly b1+b2; plus the processed prefix it
    // equals the current snapshot — the consumer-resume invariant
    val inc = ids(Publish.readIncrement(spark, root, sinceVersion = v1).get)
    assert(inc == ids(docs.filter(col("doc_id") % 3 =!= 0)))
    assert(ids(Publish.readSnapshot(spark, root, v1).get) ++ inc ==
      ids(Publish.readSnapshot(spark, root).get))
    // bounded window: (v1, v3-1] sees only b1
    val mid = ids(Publish.readIncrement(spark, root, v1, v3 - 1).get)
    assert(mid == ids(docs.filter(col("doc_id") % 3 === 1)))
    // since=0 means from the beginning: the full snapshot
    assert(ids(Publish.readIncrement(spark, root, 0).get) ==
      ids(Publish.readSnapshot(spark, root).get))
  }
}
