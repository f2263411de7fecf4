package graft

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.operators.{AdmissionLedger, Dedup, IncrementalComponents, IncrementalNearDup, Similarity}
import graft.queries.TextQueries
import graft.streaming.StreamSketch
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A local filesystem whose mutations (create, mkdirs, rename, delete)
  * can be made to fail. Only paths under [[CrashFs.root]] count. Once
  * armed, counting starts at the first in-scope mutation whose path
  * satisfies `start`; the mutation at `offset` and every one after it
  * throw before they happen — a crashed process writes nothing more.
  * `onStep` runs before each counted mutation that goes ahead, with its
  * index: a test lands a concurrent write at an exact step with it.
  */
class CrashFs extends LocalFileSystem {
  private def mutation(op: String, p: Path): Unit =
    CrashFs.mutation(op, makeQualified(p).toUri.getPath)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutation("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutation("mkdirs", f); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutation("rename", src); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutation("delete", f); super.delete(f, recursive)
  }
}

object CrashFs {
  @volatile var root = "/nonexistent"
  private var start: String => Boolean = _ => false
  private var scope: String => Boolean = _ => true
  private var offset = Int.MaxValue
  private var onStep: Int => Unit = _ => ()
  private var started = false
  private val seen = scala.collection.mutable.ArrayBuffer[String]()
  @volatile var tripped = false

  /** `onStep` must not write through this filesystem: it runs outside
    * the lock, but its own mutations would count as steps.
    */
  def arm(start: String => Boolean, offset: Int,
          scope: String => Boolean = _ => true, onStep: Int => Unit = _ => ()): Unit = synchronized {
    this.start = start; this.offset = offset; this.scope = scope; this.onStep = onStep
    started = false; seen.clear(); tripped = false
  }
  /** Stop counting; [[counted]] and [[tripped]] keep the armed run's. */
  def disarm(): Unit = synchronized {
    start = _ => false; started = false; offset = Int.MaxValue; onStep = _ => ()
  }
  /** The mutations counted since the start trigger, as "op path". */
  def counted: Seq[String] = synchronized(seen.toList)

  private def mutation(op: String, path: String): Unit = {
    val step = synchronized {
      if (path.startsWith(root) && scope(path)) {
        if (!started && start(path)) started = true
        if (started) {
          seen += s"$op ${path.stripPrefix(root)}"
          if (seen.size > offset) {
            tripped = true
            throw new java.io.IOException(s"injected crash at $op $path")
          }
          Some((onStep, seen.size - 1))
        } else None
      } else None
    }
    step.foreach { case (f, i) => f(i) }
  }
}

/** The crash matrix of [[graft.io.StagedCommit]]: for every store
  * mutation routed through it, make the i-th filesystem mutation fail —
  * the stage write, then every step from the marker tmp on (marker
  * commit, each install rename or delete, the stage cleanup) — and
  * require the store's read entry point to return exactly the read
  * before or exactly the read after the mutation.
  */
class StagedCommitSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private lazy val base = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("stagedcommit")).toRealPath()

  /** A child session whose "file" scheme is [[CrashFs]], uncached so
    * every filesystem lookup sees this session's conf.
    */
  private lazy val cs: SparkSession = {
    CrashFs.root = base.toString
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[CrashFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }
  private lazy val emb = cs.read.parquet(s"$sf/embeddings.parquet")

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** One mutation: `fresh` lays down the before-store in a dir, `run`
    * mutates it, `read` is the store's read entry point. `stage` and
    * `marker` are the store's commit file names.
    */
  private final case class Mutation(name: String, stage: String, marker: String,
                                    fresh: String => Unit, run: String => Unit,
                                    read: String => Any)

  private def build(dir: String, coarseLo: Int, cbLo: Int): Unit =
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= coarseLo && col("id") < coarseLo + 4,
      col("id") >= cbLo && col("id") < cbLo + 8, dir)

  private def ivfRead(dir: String): Any = (
    Similarity.ivfPqStoredTopK(cs, dir, emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", 5, 2).collect().map(_.toSeq).sortBy(_.toString).toSeq,
    Similarity.ivfPqClusterSizes(cs, dir).collect().map(_.toSeq).toSet)

  private def dirNames(dir: String, prefix: String): Set[String] =
    Option(new java.io.File(dir).list()).toSet.flatten.filter(_.startsWith(prefix))

  private def docs(s: SparkSession, rem: Int) =
    Tables.documents(s, sf).select("doc_id", "text").filter(col("doc_id") % 3 === rem)

  /** The bucketed near-dup index is a catalog table over its dir. The
    * catalog entry is not part of a copied tree, so every copy registers
    * its own table, with the template's watermark.
    */
  private def ndTable(dir: String, streaming: Boolean, watermark: Option[Long] = None): String = {
    val t = "sc_nd" + dir.stripPrefix(base.toString).replaceAll("\\W+", "_")
    cs.sql(s"""CREATE TABLE IF NOT EXISTS $t
      |(id BIGINT, band_id INT, band_key BIGINT${if (streaming) ", batch_id BIGINT" else ""})
      |USING parquet CLUSTERED BY (band_id, band_key) SORTED BY (band_id, band_key)
      |INTO 4 BUCKETS LOCATION '$dir'
      |${watermark.fold("")(m => s"TBLPROPERTIES ('graft.maxBatchId' = '$m')")}""".stripMargin)
    t
  }

  private def admit(t: String, batch: org.apache.spark.sql.DataFrame, batchId: Option[Long] = None) =
    IncrementalNearDup.dedupeBatchBucketed(batch, "doc_id", "text", t, buckets = 4, batchId = batchId)

  private def ndRows(t: String): Seq[String] = cs.table(t).collect().map(_.mkString(",")).sorted.toSeq

  /** The index read: the multiset of rows and the number of part files,
    * after an ingest entry point has met the crash state and the
    * compactor's recovery has finished or discarded it.
    */
  private def ndRead(dir: String, watermark: Option[Long]): Any = {
    val t = ndTable(dir, watermark.isDefined, watermark)
    watermark match {
      case Some(m) =>
        val e = intercept[IllegalArgumentException](admit(t, docs(cs, 0), Some(m - 1)))
        assert(e.getMessage.contains("high watermark"), e.getMessage)
        assert(admit(t, docs(cs, 0), Some(m)).isEmpty, "a re-sent batch was admitted")
      case None =>
        assert(admit(t, docs(cs, 0)).isEmpty, "a re-sent batch was admitted")
    }
    IncrementalNearDup.recoverCompaction(cs, t)
    (ndRows(t), dirNames(dir, "part-").size)
  }

  private val mutations = Seq(
    Mutation("IVF-PQ build over an existing store", "_build_pending", "_build_done",
      build(_, 8, 0), build(_, 20, 12), ivfRead),
    Mutation("IVF-PQ forget", "_forget_pending", "_forget_done",
      build(_, 8, 0),
      dir => Similarity.forgetFromIvfPqStore(cs, dir,
        emb.filter(col("vec_id") % 10 === 3).select("vec_id")),
      ivfRead),
    Mutation("IVF-PQ rebalance", "_rebalance_pending", "_rebalance_done",
      build(_, 8, 0), dir => Similarity.rebalanceIvfPqStore(cs, dir), ivfRead),
    Mutation("StreamSketch.compact", "_compact_pending", "_compact_upto",
      dir => (0 to 2).foreach { id =>
        import cs.implicits._
        StreamSketch.mergeBatch((1 to 200).map(i => s"k${(i * (id + 3)) % 37}").toDF("item"),
          id.toLong, "item", dir)
      },
      StreamSketch.compact(cs, _, 2L),
      dir => (StreamSketch.readMerged(cs, dir).collect().map(_.toSeq).toSet,
        dirNames(dir, "batch="))),
    Mutation("IncrementalComponents.compact", "_compact_pending", "_compact_done",
      dir => {
        import cs.implicits._
        Seq(Seq(1L -> 2L, 3L -> 4L), Seq(2L -> 3L, 7L -> 8L), Seq(8L -> 1L, 9L -> 9L))
          .zipWithIndex.foreach { case (edges, id) =>
            IncrementalComponents.admitEdges(cs, dir, edges.toDF("a", "b"), id.toLong)
          }
      },
      IncrementalComponents.compact(cs, _),
      dir => (IncrementalComponents.resolved(cs, dir).collect().map(_.toSeq).toSet,
        dirNames(s"$dir/labels", "lbucket=").flatMap(b => dirNames(s"$dir/labels/$b", "ver=")))),
    Mutation("IncrementalNearDup.compactIndex batch", "_compact_pending", "_compact_done",
      dir => Seq(0, 1).foreach(r => admit(ndTable(dir, false), docs(cs, r))),
      dir => IncrementalNearDup.compactIndex(cs, ndTable(dir, false)),
      ndRead(_, None)),
    // a redelivered batch 1 leaves duplicate rows for the dedupe rewrite
    Mutation("IncrementalNearDup.compactIndex streaming", "_compact_pending", "_compact_done",
      dir => Seq(0, 1, 1).foreach(r => admit(ndTable(dir, true), docs(cs, r), Some(r.toLong))),
      dir => IncrementalNearDup.compactIndex(cs, ndTable(dir, true, Some(1L)), dedupe = true),
      ndRead(_, Some(1L)))
  )

  test("crash matrix: every store mutation reads exactly before or exactly after at every crash step") {
    val t0 = System.nanoTime()
    var runs = 0
    mutations.foreach { m =>
      val home = Files.createDirectories(base.resolve(m.name.replaceAll("\\W+", "_")))
      val template = home.resolve("template")
      m.fresh(template.toString)
      var copies = 0
      def copy(): String = {
        copies += 1
        val d = home.resolve(s"run$copies"); copyTree(template, d); d.toString
      }
      val before = m.read(copy())
      // the clean run counts the steps from the marker tmp to the end
      val clean = copy()
      CrashFs.arm(_ == s"$clean/${m.marker}.tmp", Int.MaxValue)
      try m.run(clean) finally CrashFs.disarm()
      val steps = CrashFs.counted
      val after = m.read(clean)
      assert(after != before, s"${m.name}: the mutation must be observable")
      assert(steps.exists(_.startsWith("rename")), s"${m.name}: no install step in $steps")
      val crashes: Seq[(String, String => String => Boolean, Int)] =
        ("stage write", (d: String) => (_: String).startsWith(s"$d/${m.stage}/"), 0) +:
          steps.indices.map(i =>
            (steps(i), (d: String) => (_: String) == s"$d/${m.marker}.tmp", i))
      val outcomes = crashes.map { case (step, start, offset) =>
        val dir = copy()
        CrashFs.arm(start(dir), offset)
        val result = try Try(m.run(dir)) finally CrashFs.disarm()
        assert(CrashFs.tripped && result.isFailure,
          s"${m.name}: crash point '$step' was never reached")
        runs += 1
        val got = m.read(dir)
        assert(got == before || got == after,
          s"${m.name}: crash at '$step' reads neither before nor after:\n$got")
        got == after
      }
      // the matrix straddles the commit point: early crashes roll back,
      // crashes after the marker rename roll forward
      assert(outcomes.contains(false) && outcomes.contains(true),
        s"${m.name}: outcomes $outcomes")
    }
    info(f"$runs crash runs over ${mutations.size} mutations in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("an append landing at any install step survives the compaction") {
    val home = Files.createDirectories(base.resolve("nd_concurrent"))
    val template = home.resolve("template").toString
    Seq(0, 1).foreach(r => admit(ndTable(template, false), docs(cs, r)))
    var copies = 0
    def copy(): String = {
      copies += 1
      val d = home.resolve(s"run$copies"); copyTree(Paths.get(template), d); d.toString
    }
    val clean = copy()
    CrashFs.arm(_ == s"$clean/_compact_done.tmp", Int.MaxValue)
    try IncrementalNearDup.compactIndex(cs, ndTable(clean, false)) finally CrashFs.disarm()
    val steps = CrashFs.counted
    // the appending ingest runs in a session outside CrashFs, so its
    // own writes are not steps
    val added = Dedup.bandedSignatures(docs(spark, 2), "doc_id", "text", 2, 16, 8)
      .collect().map(_.mkString(",")).toSeq
    steps.indices.foreach { i =>
      val dir = copy()
      val t = ndTable(dir, false)
      val history = ndRows(t)
      var landed = false
      CrashFs.arm(_ == s"$dir/_compact_done.tmp", Int.MaxValue, onStep = n =>
        if (n == i) { admit(t, docs(spark, 2)); landed = true })
      try IncrementalNearDup.compactIndex(cs, t) finally CrashFs.disarm()
      assert(landed, s"no append at '${steps(i)}'")
      assert(ndRows(t) == (history ++ added).sorted, s"an append at '${steps(i)}' was lost")
      assert(admit(t, docs(cs, 2)).isEmpty, s"after an append at '${steps(i)}': a re-sent batch was admitted")
    }
    info(s"${steps.size} append points: ${steps.mkString(", ")}")
  }

  test("no file under src/main swaps a table through the catalog") {
    val swap = """RENAME TO|graft\.swapPending""".r
    val files = Files.walk(Paths.get("src/main"))
    val offenders = try files.iterator.asScala
      .filter(Files.isRegularFile(_))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .collect { case (l, i) if swap.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}" })
      .toList
    finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("compacting the admission ledger keeps every admitted batch admitted at every crash step") {
    val home = Files.createDirectories(base.resolve("ledger_compact"))
    var runs = 0
    // batches 0-2 admitted and folded (the watermark holds 1), then 3-4
    def fresh(): String = {
      runs += 1
      val dir = home.resolve(s"run$runs").toString
      val fs = AdmissionLedger.fsOf(cs, dir)
      (0L to 2L).foreach(AdmissionLedger.record(fs, dir, _))
      Similarity.compactAdmissionLedger(cs, dir)
      (3L to 4L).foreach(AdmissionLedger.record(fs, dir, _))
      dir
    }
    def admitted(dir: String) =
      (0L to 4L).filter(AdmissionLedger.isAdmitted(AdmissionLedger.fsOf(cs, dir), dir, _))
    val clean = fresh()
    CrashFs.arm(_.startsWith(s"$clean/_admitted"), Int.MaxValue)
    try Similarity.compactAdmissionLedger(cs, clean) finally CrashFs.disarm()
    val steps = CrashFs.counted
    assert(steps.exists(_.startsWith("rename")), s"no rename in $steps")
    assert(admitted(clean) == (0L to 4L))
    steps.indices.foreach { i =>
      val dir = fresh()
      CrashFs.arm(_.startsWith(s"$dir/_admitted"), i)
      val result = try Try(Similarity.compactAdmissionLedger(cs, dir)) finally CrashFs.disarm()
      assert(CrashFs.tripped && result.isFailure, s"crash point '${steps(i)}' was never reached")
      assert(admitted(dir) == (0L to 4L), s"crash at '${steps(i)}' un-admitted a batch")
      // the next compaction finishes the fold
      Similarity.compactAdmissionLedger(cs, dir)
      assert(admitted(dir) == (0L to 4L))
      assert(AdmissionLedger.upTo(AdmissionLedger.fsOf(cs, dir), dir) == 3L)
    }
    info(s"${steps.size} crash steps: ${steps.mkString(", ")}")
  }

  test("a failed build write awaits its sibling writes, commits nothing and keeps the old store") {
    val dir = Files.createDirectories(base.resolve("build_sibling")).toString
    build(dir, 8, 0)
    val before = ivfRead(dir)
    val codebook = s"$dir/_build_pending/codebook/"
    CrashFs.arm(_.startsWith(codebook), 0, scope = _.startsWith(codebook))
    val result = try Try(build(dir, 20, 12)) finally CrashFs.disarm()
    assert(CrashFs.tripped && result.isFailure)
    org.apache.spark.graftspark.ListenerFlush.flush(cs.sparkContext)
    assert(cs.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "the coarse and codes writes must have finished when the build fails")
    assert(!new java.io.File(s"$dir/_build_done").exists(), "no marker after a failed write")
    assert(ivfRead(dir) == before)
  }

  test("a failed BM25 index write awaits its sibling writes and unpersists its frame") {
    val sc = cs.sparkContext
    val store = base.resolve("bm25_sibling").resolve("store").toString
    val cached = sc.getPersistentRDDs.size
    val terms = s"$store/terms/"
    CrashFs.arm(_.startsWith(terms), 0, scope = _.startsWith(terms))
    val result = try Try(TextQueries.bm25BuildIndex(cs, sf, store)) finally CrashFs.disarm()
    assert(CrashFs.tripped && result.isFailure)
    org.apache.spark.graftspark.ListenerFlush.flush(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the postings and stats writes must have finished when the build fails")
    assert(sc.getPersistentRDDs.size == cached, "the term-frequency frame must be unpersisted")
  }

  test("a bad plan line fails naming the marker and the line before any dir is touched") {
    val dir = Files.createDirectories(base.resolve("bad_plan")).toString
    Similarity.buildIvfPqStore(spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id",
      "embedding", col("id") >= 8 && col("id") < 12, col("id") < 8, dir)
    val cluster = new java.io.File(s"$dir/codes").list().filter(_.startsWith("cluster=")).min
    Files.createDirectories(Paths.get(dir, "_forget_pending", cluster))
    Files.writeString(Paths.get(dir, "_forget_done"), s"keep $cluster\nfrobnicate $cluster")
    def tree() = Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString).toSet
    val snapshot = tree()
    val err = intercept[IllegalStateException](Similarity.recoverForget(spark, dir))
    assert(err.getMessage.contains(s"$dir/_forget_done") &&
      err.getMessage.contains(s"frobnicate $cluster"), err.getMessage)
    assert(tree() == snapshot, "no dir may be renamed or deleted")
  }
}
