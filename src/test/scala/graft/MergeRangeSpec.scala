package graft

import graft.operators.{Multimodal, RangeJoin, Similarity, Upsert}
import org.apache.spark.sql.functions._

/** Unit invariants for the round-4 operators: changelog upsert, bucketed
  * range join, video frame sampling, and int8 quantization.
  */
class MergeRangeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // ---------------------------------------------------------------- Upsert
  private val keys = Seq("k")
  private val version = Seq("v")

  test("Upsert.latestWins: newer update wins, older update loses, new key inserts") {
    val snapshot = Seq(("a", 5L, "old-a"), ("b", 9L, "old-b")).toDF("k", "v", "payload")
    val updates = Seq(
      ("a", 7L, "new-a"),   // newer than snapshot → wins
      ("b", 3L, "late-b"),  // older than snapshot → loses (out-of-order delivery)
      ("c", 1L, "new-c"))   // unseen key → inserts
      .toDF("k", "v", "payload")
    val out = Upsert.latestWins(snapshot, updates, keys, version)
      .as[(String, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("a", 7L, "new-a"), ("b", 9L, "old-b"), ("c", 1L, "new-c")))
  }

  test("Upsert.latestWins: multi-row batch compacts to its max version first") {
    val snapshot = Seq(("a", 1L, "s")).toDF("k", "v", "payload")
    val updates = Seq(("a", 4L, "u4"), ("a", 9L, "u9"), ("a", 2L, "u2"))
      .toDF("k", "v", "payload")
    val out = Upsert.latestWins(snapshot, updates, keys, version)
      .as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("a", 9L, "u9")))
  }

  test("Upsert: incremental merge equals backfill recompaction") {
    val all = Seq(
      ("a", 1L, "x1"), ("a", 3L, "x3"), ("b", 2L, "y2"),
      ("b", 5L, "y5"), ("c", 4L, "z4"))
      .toDF("k", "v", "payload")
    val backfill = Upsert.compact(all, keys, version)
    val merged = Upsert.latestWins(
      Upsert.compact(all.filter($"v" <= 2), keys, version),
      all.filter($"v" > 2), keys, version)
    assert(merged.exceptAll(backfill).isEmpty && backfill.exceptAll(merged).isEmpty)
  }

  test("Upsert.latestWins: null versions sort as minimum, matching backfill compaction") {
    // a non-null-versioned update vs a null-versioned snapshot row must
    // pick the update (compact's desc nulls-last would); and vice versa.
    val snapshot = Seq(("a", Option.empty[Long], "s-null"), ("b", Some(8L), "s8"))
      .toDF("k", "v", "payload")
    val updates = Seq(("a", Some(2L), "u2"), ("b", Option.empty[Long], "u-null"))
      .toDF("k", "v", "payload")
    val out = Upsert.latestWins(snapshot, updates, keys, version)
      .as[(String, Option[Long], String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("a", Some(2L), "u2"), ("b", Some(8L), "s8")))
    // and the full law: merge ≡ compact(union) with nulls present
    val backfill = Upsert.compact(snapshot.unionByName(updates), keys, version)
    val merged = Upsert.latestWins(snapshot, updates, keys, version)
    assert(merged.exceptAll(backfill).isEmpty && backfill.exceptAll(merged).isEmpty)
  }

  // ------------------------------------------------------------- RangeJoin
  private val intervals = Seq(
    (0L, ts("2024-01-01 00:00:00"), ts("2024-01-01 12:00:00")),
    (1L, ts("2024-01-01 06:00:00"), ts("2024-01-01 18:00:00")), // overlaps 0
    (2L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"))) // empty
    .toDF("interval_id", "start_ts", "end_ts")

  test("RangeJoin: boundary semantics — start inclusive, end exclusive, overlap = 2 matches") {
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")),  // == start of 0 → in
      (2L, ts("2024-01-01 12:00:00")),  // == end of 0 → out; inside 1
      (3L, ts("2024-01-01 07:30:00")),  // inside both 0 and 1
      (4L, ts("2024-01-02 00:00:00")),  // empty interval matches nothing
      (5L, ts("2024-01-03 00:00:00")))  // no interval
      .toDF("pid", "t")
    val out = RangeJoin.pointInInterval(points, "t", intervals,
        "start_ts", "end_ts", bucketUs = 3600000000L) // 1h buckets
      .select("pid", "interval_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 0L), (2L, 1L), (3L, 0L), (3L, 1L)))
  }

  test("RangeJoin: result is bucket-granularity invariant") {
    val points = (0 until 200).map(i =>
      (i.toLong, new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + i * 431000L)))
      .toDF("pid", "t")
    def run(bucketUs: Long) =
      RangeJoin.pointInInterval(points, "t", intervals, "start_ts", "end_ts", bucketUs)
        .select("pid", "interval_id").as[(Long, Long)].collect().toSet
    assert(run(3600000000L) == run(7200000000L) && run(3600000000L) == run(900000000L))
  }

  // ------------------------------------------------------------ VideoModel
  test("VideoModel: stride sampling decodes the expected frames; corrupt input → None") {
    val m = Multimodal.VideoModel()
    val id = 17L // nFrames = 3 + 17%4 = 4 → sampled frames 0, 2
    val frames = m.sampleFrames(Multimodal.syntheticVideo(id), stride = 2).get
    assert(frames.map(_._1) == Seq(0, 2))
    assert(frames.forall { case (_, w, h, _) => w == (8 + id % 5) && h == (6 + id % 4) })
    // frame 0 vs frame 2 differ (per-frame pixel term)
    assert(frames(0)._4 != frames(1)._4)
    assert(m.sampleFrames(Array[Byte](1, 2, 3), 2).isEmpty)
    assert(m.sampleFrames("GVIDxxxxgarbage".getBytes, 2).isEmpty)
  }

  // ------------------------------------------------------------ BloomPrune
  test("BloomPrune: semi join equals plain semi join; prune actually drops rows") {
    import graft.operators.BloomPrune
    val big = (0L until 2000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val small = (0L until 2000L by 50).map(i => (i, "x")).toDF("sk", "tag")
    val pruned = BloomPrune.bloomPrune(big, "k", small, "sk", fpp = 0.01)
    val nPruned = pruned.count()
    // no false negatives: every true match survives the prune …
    assert(nPruned >= 40)
    // … and the probe is selective (40 true keys + ~1% fp of 2000)
    assert(nPruned < 200, s"bloom prune kept $nPruned of 2000 rows")
    val exact = big.join(small.select($"sk".as("k")).distinct(), Seq("k"), "left_semi")
    val viaBloom = BloomPrune.bloomSemiJoin(big, "k", small, "sk")
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
  }

  test("BloomMightContainExpr survives codegen and serialization round-trips") {
    val small = (0L until 100L by 10).toDF("k")
    val bf = small.stat.bloomFilter("k", 10, 0.01)
    val probed = (0L until 100L).toDF("k")
      .filter(graft.plans.BloomExprs.mightContain($"k", bf))
      .as[Long].collect().toSet
    assert((0L until 100L by 10).toSet.subsetOf(probed)) // no false negatives
  }

  // --------------------------------------------------------------- ZOrder
  test("ZOrder.zValue2: exact interleave values and per-coordinate monotonicity") {
    import graft.operators.ZOrder
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
      .select(ZOrder.zValue2($"a", $"b").as("z")).as[Long].collect()
    // z(3,5): a=011 on even bits, b=101 on odd bits → 100111 = 39
    assert(df.toSeq == Seq(0L, 1L, 2L, 39L, 4294967295L))
    // monotone in each coordinate with the other fixed
    val zs = (0 to 40).map(i => Seq((i.toLong, 7L)).toDF("a", "b")
      .select(ZOrder.zValue2($"a", $"b")).as[Long].head())
    assert(zs == zs.sorted)
  }

  test("ZOrder.clusterByZ: rejects keys outside the 16-bit range at runtime") {
    import graft.operators.ZOrder
    val df = Seq((1L, 2L), (65536L, 3L)).toDF("a", "b") // 65536 = 2^16, out of range
    val ex = intercept[Exception] {
      ZOrder.clusterByZ(df, $"a", $"b", 2).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("16-bit z-order key")))
  }

  test("ZOrder.clusterByZ: NULL keys pass through and the row survives clustering") {
    import graft.operators.ZOrder
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("a", "b")
    // nulls are missing data, not out-of-range keys: no raise_error, no
    // row loss — null z-values sort into repartitionByRange's null range
    val out = ZOrder.clusterByZ(df, $"a", $"b", 2)
    assert(out.count() == 3)
    assert(out.filter($"a".isNull || $"b".isNull).count() == 2)
  }

  test("ZOrder.clusterByZ: partitions carry disjoint z ranges") {
    import graft.operators.ZOrder
    val df = (0 until 400).map(i => (i.toLong % 20, (i.toLong / 20) % 20)).toDF("a", "b")
    val clustered = ZOrder.clusterByZ(df, $"a", $"b", 4)
    val ranges = clustered
      .select(spark_partition_id().as("p"), ZOrder.zValue2($"a", $"b").as("z"))
      .groupBy("p").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy("p").as[(Int, Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  // -------------------------------------------------- IncrementalNearDup
  test("IncrementalNearDup: cross-batch and intra-batch blocking, fresh docs admitted") {
    import graft.operators.IncrementalNearDup
    val store = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("ind_store"))
      .resolve("bands").toString
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val a1 = IncrementalNearDup.dedupeBatch(b1, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == Set(1L, 2L)) // disjoint texts: both admitted
    val b2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1 → blocked
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"), // fresh
      (5L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")) // intra-dup of 4
      .toDF("doc_id", "text")
    val a2 = IncrementalNearDup.dedupeBatch(b2, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(a2 == Set(4L))
    // index-all: a third batch doc duplicating the BLOCKED 3 is still blocked
    val b3 = Seq((6L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val a3 = IncrementalNearDup.dedupeBatch(b3, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(a3.isEmpty)
  }

  test("knnCoarseRerank with coarseK covering the corpus equals brute KNN") {
    import graft.operators.Similarity
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(d =>
        (math.sin(i * 7.3 + d * 1.9) * 0.4).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val brute = Similarity.knnBrute(vecs, "vec_id", "embedding", $"id" < 3, 5)
      .collect().toSeq.map(_.toSeq)
    val rerank = Similarity.knnCoarseRerank(vecs, "vec_id", "embedding", $"id" < 3, 5,
        coarseDims = 4, coarseK = 60)
      .collect().toSeq.map(_.toSeq)
    assert(rerank == brute) // full candidate coverage ⇒ exact recall
  }

  // ---------------------------------------------------------- quantization
  test("Similarity.quantize: int8 code range and exact integer dot") {
    val df = Seq((Seq(0.5f, -0.5f, 0.999f), Seq(1.0f, 1.0f, -1.0f)))
      .toDF("a", "b")
      .select(Similarity.quantize($"a").as("qa"), Similarity.quantize($"b").as("qb"))
    val (qa, qb) = df.as[(Seq[Long], Seq[Long])].head()
    assert(qa == Seq(63L, -64L, 126L) && qb == Seq(127L, 127L, -127L))
    assert(qa.forall(c => c >= -128 && c <= 127))
    val dot = df.select(Similarity.dotCodes($"qa", $"qb").as("d")).as[Long].head()
    assert(dot == 63L * 127 - 64L * 127 - 126L * 127)
  }
}
