package graft

import graft.functions.TextFunctions
import graft.obs.Capture
import graft.operators.{Dedup, Similarity}
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit invariants for the text / dedup / similarity primitives. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("rollingHash matches the hand-computed fold and handles empty strings") {
    val out = Seq("abc", "", "a").toDF("s")
      .select(TextFunctions.rollingHash($"s").as("h")).as[Long].collect()
    // 'a'=97; ((97*31+98)*31+99) mod p = 96354
    assert(out.toSeq == Seq(96354L, 0L, 97L))
  }

  test("shingles produces k-grams and empty below k") {
    val out = Seq("a b c d", "a b").toDF("s")
      .select(TextFunctions.shingles(TextFunctions.tokens($"s"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq())
  }

  test("jaccard is 1 for identical sets, 0 for disjoint, exact for partial") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
    val out = df.select(Dedup.jaccard($"a", $"b").as("j")).as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 0.0 && out(2) == 0.5)
  }

  test("minhash signature of identical shingle sets is identical") {
    val docs = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "p q r s")).toDF("id", "text")
    val shs = docs.select($"id",
      Dedup.shingleHashes(Dedup.tokenHashes($"text"), 2).as("shs"))
    val (a, b) = Dedup.permConstants(4).head match { case p => p }
    val sigs = shs.select($"id", Dedup.minHashSig($"shs", a, b).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash of identical token multisets is identical") {
    val df = Seq((1L, "x y x"), (2L, "x y x"), (3L, "entirely different words here")).toDF("id", "t")
    val sims = df.select($"id", Dedup.simHash(Dedup.tokenHashes($"t"), 32).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
    assert(sims(1L) != sims(3L))
  }

  test("lane-packed simhash equals the per-bit reference formulation") {
    val df = Seq(
      (1L, "x y x"), (2L, "entirely different words here"), (3L, ""),
      (4L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      (5L, "repeat repeat repeat distinct")).toDF("id", "t")
    for (bits <- Seq(16, 32, 64)) {
      val ref = df.select($"id", Dedup.simHash(Dedup.tokenHashes($"t"), bits).as("s"))
        .as[(Long, Long)].collect().toMap
      val packed = Dedup.withSimHashHof(df, "id", "t", bits)
        .as[(Long, Long)].collect().toMap
      assert(packed == ref, s"hof bits=$bits")
      val native = Dedup.withSimHash(df, "id", "t", bits)
        .as[(Long, Long)].collect().toMap
      assert(native == ref, s"native bits=$bits")
    }
  }

  test("dedupFirst keeps exactly the first row per key by the given order") {
    val df = Seq((1L, "k1", 5.0), (2L, "k1", 1.0), (3L, "k2", 2.0)).toDF("id", "k", "v")
    val out = Dedup.dedupFirst(df, Seq("k"), Seq($"v")).select("id").as[Long].collect().toSet
    assert(out == Set(2L, 3L)) // k1 → id2 (lowest v)
  }

  test("dedupFirstAgg picks the same rows as the window variant, without a sort") {
    val df = Seq(
      (1L, "k1", 5.0, "a"), (2L, "k1", 1.0, "b"), (3L, "k2", 2.0, "c"),
      (4L, "k1", 1.0, "d"), (5L, "k2", 9.0, "e")).toDF("id", "k", "v", "p")
    val windowed = Dedup.dedupFirst(df, Seq("k"), Seq($"v", $"id"))
      .select("k", "id", "p").as[(String, Long, String)].collect().toSet
    val agged = Dedup.dedupFirstAgg(df, Seq("k"), Seq($"v", $"id"), Seq("id", "p"))
      .select("k", "id", "p").as[(String, Long, String)].collect().toSet
    assert(agged == windowed)
    val plan = Dedup.dedupFirstAgg(df, Seq("k"), Seq($"v", $"id"), Seq("id", "p"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"aggregate variant must not plan a window:\n$plan")
  }

  test("fixed-point cosine: identical vectors ≈ 1, orthogonal = 0") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (3L, Seq(0.5f, 0.5f), Seq(0.5f, 0.5f))).toDF("id", "a", "b")
    val out = df.select($"id",
      Similarity.cosineFromFixed(
        Similarity.dotFixed($"a", $"b"),
        Similarity.dotFixed($"a", $"a"),
        Similarity.dotFixed($"b", $"b")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(out(2L) == 0.0)
    assert(math.abs(out(3L) - 1.0) < 1e-12)
  }

  test("knnBrute ranks the exact nearest neighbors") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.8f, 0.3f))).toDF("vid", "emb")
    val out = Similarity.knnBrute(vecs, "vid", "emb", col("id") === 0L, 2)
      .select("rank", "n_id").as[(Int, Long)].collect().toMap
    assert(out(1) == 1L) // closest to (1,0) is (0.9,0.1)
    assert(out(2) == 3L)
  }

  test("trainIvfCentroids converges on separated clusters; trained search stays in-cluster") {
    // three clusters hugging orthogonal axes, 8 vectors each
    val vecs = (0 until 24).map { i =>
      val axis = i % 3
      val jitter = 0.05f * (i / 3)
      val e = Array.fill(3)(jitter)
      e(axis) = 1.0f
      (i.toLong, e.toSeq)
    }.toDF("vid", "emb")
    val cent = Similarity.trainIvfCentroids(vecs, "vid", "emb", k = 3, iters = 3)
    val cmap = cent.as[(Long, Seq[Float])].collect().toMap
    assert(cmap.size == 3)
    // each trained centroid is dominated by exactly one axis, and the
    // three centroids cover all three axes
    val axes = cmap.values.map(e => e.indexOf(e.max)).toSet
    assert(axes == Set(0, 1, 2))
    // deterministic: retraining yields identical centroids
    val again = Similarity.trainIvfCentroids(vecs.repartition(5), "vid", "emb", 3, 3)
      .as[(Long, Seq[Float])].collect().toMap
    assert(again == cmap)
    // trained-centroid search: neighbors of vector 0 (axis 0) are axis-0
    val out = Similarity.knnIvfTrained(vecs, "vid", "emb", cent,
      col("id") === 0L, k = 3, nprobe = 1)
    val ids = out.select("n_id").as[Long].collect().toSet
    assert(ids.nonEmpty && ids.forall(_ % 3 == 0))
  }

  test("cosinePairsTopK fails fast above the driver-collect bound") {
    val vecs = (0L until 10L).map(i => (i, Seq(i.toFloat, 1.0f))).toDF("vid", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairsTopK(vecs, "vid", "emb", 3, 5, 128L << 20)
    }
    assert(e.getMessage.contains("lshPairs"))
    // within the bound it still computes the exact answer
    val ok = Similarity.cosinePairsTopK(vecs, "vid", "emb", 3, 10, 128L << 20)
    assert(ok.count() == 3)
  }

  test("cosinePairsTopK bound is byte-accurate, not row-count-only") {
    // 10 rows of 2048-d vectors = 80 KB of floats: far under any row cap
    // but over a 64 KB broadcast budget — the guard must reject on BYTES
    // (rows × dims × 4), the invariant that actually protects the driver.
    val wide = (0L until 10L)
      .map(i => (i, Seq.tabulate(2048)(d => (i + d).toFloat)))
      .toDF("vid", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairsTopK(wide, "vid", "emb", 3, 1000000, 64L << 10)
    }
    assert(e.getMessage.contains("2048 dims") && e.getMessage.contains("lshPairs"))
    // same rows under a budget that admits them: computes fine
    val ok = Similarity.cosinePairsTopK(wide, "vid", "emb", 3, 1000000, 1L << 20)
    assert(ok.count() == 3)
  }

  test("trainIvfCentroids fails fast above the driver model budget") {
    // 8 rows of 1024-d vectors, k=8: model = 8×1024×4 = 32 KB — over a
    // 16 KB budget the guard must reject BEFORE any collect (VERDICT r8
    // #6: the k×dims model is driver state every round; oversized k
    // would otherwise OOM quietly)
    val vecs = (0L until 8L)
      .map(i => (i, Seq.tabulate(1024)(d => (i + d).toFloat)))
      .toDF("vid", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(vecs, "vid", "emb", k = 8, iters = 1,
        maxModelBytes = 16L << 10)
    }
    assert(e.getMessage.contains("1024") && e.getMessage.contains("k ∝ √n"))
    // under a budget that admits the model it still trains
    val ok = Similarity.trainIvfCentroids(vecs, "vid", "emb", k = 2, iters = 1,
      maxModelBytes = 16L << 10)
    assert(ok.count() == 2)
  }

  test("ivfPqStoredTopK fails fast above the probe-row budget") {
    val store = graft.queries.Dsl.tempDir("e19_budget") + "/store"
    val vecs = (0L until 32L)
      .map(i => (i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vid", "emb")
    Similarity.buildIvfPqStore(vecs, "vid", "emb",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    // 6 queries × nprobe 200 000 = 1.2M probe rows — over the 1M budget
    // (a cap of 5 queries) the guard must reject with the remedy; at
    // nprobe 2 the search runs
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqStoredTopK(spark, store,
        vecs.filter(col("vid") < 6), "vid", "emb", k = 3, nprobe = 200000)
    }
    assert(e.getMessage.contains("bounded request frame"))
    val ok = Similarity.ivfPqStoredTopK(spark, store,
      vecs.filter(col("vid") < 6), "vid", "emb", k = 3, nprobe = 2)
    assert(ok.count() > 0)
  }

  test("in-memory IVF-PQ calls leave nothing cached once their results are materialized") {
    val sc = spark.sparkContext
    val vecs = (0L until 64L)
      .map(i => (i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vid", "emb")
    val before = sc.getPersistentRDDs.size
    // each call over a frame of its own, so no call finds another's cache
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "knnIvfPqAdc" -> (v => Similarity.knnIvfPqAdc(v, "vid", "emb",
        col("id") >= 8 && col("id") < 12, col("id") < 8, col("id") < 4, 5, 2)),
      "knnIvfPqAdcCurve" -> (v => Similarity.knnIvfPqAdcCurve(v, "vid", "emb",
        col("id") >= 8 && col("id") < 12, col("id") < 8, col("id") < 4, 5, Seq(1, 2, 4))),
      "pqAdcTopK" -> (v => Similarity.pqAdcTopK(v, "vid", "emb",
        col("id") < 8, col("id") < 4, 5)),
      "pqAssign" -> (v => Similarity.pqAssign(v, "vid", "emb", col("id") < 8)))
    calls.zipWithIndex.foreach { case ((name, call), i) =>
      assert(call(vecs.filter(col("vid") =!= 40L + i)).count() > 0, name)
      assert(sc.getPersistentRDDs.size == before, s"$name left its frames cached")
    }
  }

  test("admitEdges fails with the remedy past the batch's edge budget") {
    import graft.operators.{AdmissionLedger, IncrementalComponents}
    val store = graft.queries.Dsl.tempDir("g15_budget")
    // 4 distinct edges over a budget of 3: refused, nothing admitted
    val e = intercept[IllegalArgumentException] {
      IncrementalComponents.admitEdges(spark, store,
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b"), 0L, 3)
    }
    assert(e.getMessage.contains("split the batch"), e.getMessage)
    assert(!AdmissionLedger.isAdmitted(AdmissionLedger.fsOf(spark, store), store, 0L))
    // a repeated edge and a self-loop do not count: 3 distinct edges fit
    IncrementalComponents.admitEdges(spark, store,
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 2L), (7L, 7L)).toDF("a", "b"), 0L, 3)
    assert(IncrementalComponents.resolved(spark, store).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("stored IVF-PQ routing refuses non-numeric ids with a message, not a MatchError") {
    val store = graft.queries.Dsl.tempDir("e19_strids") + "/store"
    val vecs = (0L until 32L)
      .map(i => (f"v$i%02d", Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vid", "emb")
    Similarity.buildIvfPqStore(vecs, "vid", "emb",
      col("id") >= "v08" && col("id") < "v12", col("id") < "v08", store)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqStoredTopK(spark, store,
        vecs.filter(col("vid") < "v02"), "vid", "emb", k = 3, nprobe = 2)
    }
    assert(e.getMessage.contains("needs numeric g_id/c_id"), e.getMessage)
  }

  test("pqAssign and pqAdcTopK take non-numeric ids: neither routes") {
    val vecs = (0L until 32L)
      .map(i => (f"v$i%02d", Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vid", "emb")
    // the same vectors under numeric ids: zero-padded names sort like
    // their numbers, so every tie-break picks the same id
    val numeric = vecs.select(substring(col("vid"), 2, 2).cast("long").as("vid"), col("emb"))
    def num(id: String) = id.drop(1).toLong
    val codes = Similarity.pqAssign(vecs, "vid", "emb", col("id") < "v08")
      .as[(String, Long, String, Long)].collect()
      .map { case (v, s, c, d) => (num(v), s, num(c), d) }
    assert(codes.length == 32 * 4)
    assert(codes.toSet == Similarity.pqAssign(numeric, "vid", "emb", col("id") < 8)
      .as[(Long, Long, Long, Long)].collect().toSet)
    val top = Similarity.pqAdcTopK(vecs, "vid", "emb", col("id") < "v08", col("id") < "v02", k = 3)
      .as[(String, Int, String, Long)].collect()
      .map { case (q, r, n, d) => (num(q), r, num(n), d) }
    assert(top.length == 2 * 3)
    assert(top.toSet == Similarity.pqAdcTopK(numeric, "vid", "emb",
        col("id") < 8, col("id") < 2, k = 3)
      .as[(Long, Int, Long, Long)].collect().toSet)
  }

  test("rebalance of an empty or unsplittable store returns -1; a warm empty one launches no job") {
    val vecs = (0L until 32L)
      .map(i => (i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vid", "emb")
    val empty = graft.queries.Dsl.tempDir("e31_empty") + "/store"
    Similarity.buildIvfPqStore(vecs, "vid", "emb",
      col("id") < 0, col("id") < 8, empty)
    assert(Similarity.rebalanceIvfPqStore(spark, empty) == -1L)
    val (again, cap) = Capture.during(spark)(Similarity.rebalanceIvfPqStore(spark, empty))
    assert(again == -1L && cap.jobs == 0, s"warm empty-store rebalance launched ${cap.jobs} jobs")
    val small = graft.queries.Dsl.tempDir("e31_small") + "/store"
    Similarity.buildIvfPqStore(vecs, "vid", "emb",
      col("id") >= 8 && col("id") < 12, col("id") < 8, small)
    assert(Similarity.rebalanceIvfPqStore(spark, small, minSplitVectors = 33) == -1L)
  }

  test("semDedupRemovalsTwoLevel ≡ brute semDedupRemovals on separated clusters") {
    // four orthogonal-axis clusters of near-duplicates in 8 dims; the
    // first member of each cluster (ids 0..3) is a centroid. With
    // clusters this separated the coarse routing cannot misassign, so
    // the two-level output must equal the brute assignment's exactly.
    val vecs = (0 until 32).map { i =>
      val cluster = i % 4
      val e = Array.fill(8)(0.001f * (i / 4)) // tiny jitter, high cosine in-cluster
      e(cluster * 2) = 1.0f
      (i.toLong, e.toSeq)
    }.toDF("vid", "emb")
    val brute = Similarity.semDedupRemovals(vecs, "vid", "emb",
      col("id") < 4, threshold = 0.9).collect().toSet
    val twoLevel = Similarity.semDedupRemovalsTwoLevel(vecs, "vid", "emb",
      col("id") < 4, threshold = 0.9).collect().toSet
    assert(twoLevel == brute)
    assert(brute.nonEmpty) // the clusters really contain near-dups
    // structural SemDeDup invariants hold for the two-level output
    twoLevel.foreach { r =>
      val (removed, keep) = (r.getLong(0), r.getLong(1))
      assert(keep < removed) // min id is always the kept representative
    }
  }

  test("connectedComponents labels chains, cliques and isolates-by-edge correctly") {
    // two components: a 4-chain (1-2-3-4) and a triangle (10,11,12);
    // vertex 20-21 pair; labels must converge to each component's min id
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // small-graph fast path (driver union-find)
    val local = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(local == expected)
    // distributed pointer-jump loop, forced by zeroing BOTH driver
    // budgets — must produce the identical fixpoint
    val dist = Dedup.connectedComponents(edges, localEdgeLimit = 0L,
        streamEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == expected)
    // streamed union-find middle path (state O(V), edges via
    // toLocalIterator), forced by zeroing only the collect budget —
    // the three paths must agree label for label
    val streamed = Dedup.connectedComponents(edges, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(streamed == expected)
  }

  test("lshComponentEdges: star edges yield the exact clique-edge components") {
    // the contraction claim itself, on real documents: components over
    // the per-bucket STARS must equal components over the per-bucket
    // CLIQUES (lshCandidatePairs), vertex for vertex — stars are only
    // valid for grouping because of this equivalence
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val viaCliques = Dedup.connectedComponents(
      Dedup.lshCandidatePairs(docs, "doc_id", "text", 2, 16, 8))
      .as[(Long, Long)].collect().toMap
    val viaStars = Dedup.connectedComponents(
      Dedup.lshComponentEdges(docs, "doc_id", "text", 2, 16, 8))
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaCliques)
    assert(viaStars.nonEmpty)
  }

  test("lshComponentEdges: a hot bucket emits linear edges where cliques go quadratic") {
    // 400 identical documents land in the same band buckets; the clique
    // form emits ~n²/2 pairs from that one bucket while the star form
    // emits n−1 per bucket — the asymmetry the 100 TB path depends on
    val hot = (0L until 400L).map(i => (i, "the same exact document text"))
      .toDF("doc_id", "text")
    val stars = Dedup.lshComponentEdges(hot, "doc_id", "text", 2, 16, 8)
    val cliques = Dedup.lshCandidatePairs(hot, "doc_id", "text", 2, 16, 8)
    assert(stars.count() == 399L)          // one star edge per non-min doc
    assert(cliques.count() == 399L * 400L / 2)  // every pair
    // and the components still agree: all 400 in one group rooted at 0
    val comps = Dedup.connectedComponents(stars).as[(Long, Long)].collect()
    assert(comps.length == 400 && comps.forall(_._2 == 0L))
  }

  test("connectedComponents: reliable checkpointing survives the iterative loop on a deep chain") {
    // a 120-vertex path is the pointer-jump worst case (diameter 119 →
    // ~7 doubling rounds); run the DISTRIBUTED loop with the opt-in
    // reliable checkpoint dir and assert (a) the fixpoint is the exact
    // union-find labeling, (b) round state actually went to the dir
    // (i.e. the loop really ran on reliable checkpoints, not local ones)
    val ckpt = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-ckpt"))
    val chain = (0 until 119).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain, localEdgeLimit = 0L,
        streamEdgeLimit = 0L, checkpointDir = Some(ckpt.toString))
      .as[(Long, Long)].collect().toMap
    assert(labels == (0 to 119).map(v => v.toLong -> 0L).toMap)
    val files = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(ckpt)
      try s.iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p))
      finally s.close()
    }
    assert(files > 0, "no reliable-checkpoint files were written")
  }

  test("asOfJoin: boundary equality matches, ties break by last id, no-match is null") {
    import graft.operators.AsOf
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq(
      (1L, 101L, ts(50)),   // before any right row → nulls
      (1L, 102L, ts(100)),  // equal-ts right row must match (<= semantics)
      (1L, 103L, ts(250)),  // picks latest of the two earlier rows
      (2L, 201L, ts(500))   // other key, ties at ts=400 → max tiebreak id wins
    ).toDF("k", "lid", "ts")
    val right = Seq(
      (1L, 11L, ts(100), "a"),
      (1L, 12L, ts(200), "b"),
      (2L, 21L, ts(400), "x"),
      (2L, 22L, ts(400), "y")
    ).toDF("k", "rid", "ts", "tag")
    val out = AsOf.asOfJoin(left, right, "k", "ts", "ts",
        rightCols = Seq("rid", "tag"), rightTieBreak = "rid")
      .select($"lid", $"prior_rid", $"prior_tag")
      .as[(Long, Option[Long], Option[String])].collect()
      .map { case (l, r, t) => l -> (r, t) }.toMap
    assert(out == Map(
      101L -> (None, None),
      102L -> (Some(11L), Some("a")),
      103L -> (Some(12L), Some("b")),
      201L -> (Some(22L), Some("y"))))
  }

  test("IncrementalDedup: batches dedupe against the persistent corpus store") {
    import graft.operators.IncrementalDedup
    val store = graft.queries.Dsl.tempDir("graft-incdedup")
    def batchDf(rows: (Long, String)*) = rows.toSeq.toDF("id", "text")
    val key = TextFunctions.rollingHash($"text")

    // batch 1: all fresh
    val b1 = IncrementalDedup.dedupeBatch(
      batchDf(1L -> "aa", 2L -> "bb", 3L -> "cc"), key, Seq($"id"), store)
    assert(b1.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))

    // batch 2: bb/cc already ingested; dd duplicated within the batch
    val b2 = IncrementalDedup.dedupeBatch(
      batchDf(4L -> "bb", 5L -> "cc", 6L -> "dd", 7L -> "dd"), key, Seq($"id"), store)
    assert(b2.select("id").as[Long].collect().toSet == Set(6L))

    // retried batch is a no-op (at-least-once key append is harmless)
    val b2again = IncrementalDedup.dedupeBatch(
      batchDf(4L -> "bb", 5L -> "cc", 6L -> "dd", 7L -> "dd"), key, Seq($"id"), store)
    assert(b2again.count() == 0)

    // the store never grows past the distinct-key count semantics:
    // anti-join against it still admits only genuinely new content
    val b3 = IncrementalDedup.dedupeBatch(
      batchDf(8L -> "ee", 9L -> "aa"), key, Seq($"id"), store)
    assert(b3.select("id").as[Long].collect().toSet == Set(8L))
  }

  test("kmeansRound: exact assignment and decimal-exact quantized means") {
    // two separated groups hugging orthogonal axes; seeds = ids 0 and 1
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f)),
      (4L, Seq(0.8f, 0.2f))).toDF("vid", "emb")
    val out = Similarity.kmeansRound(vecs, "vid", "emb", col("id") < 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (c, d, n, m) => (c, d) -> (n, m) }.toMap
    // cluster 0 = {0, 2, 4}: dim-1 mean (1.0+0.9+0.8)/3 = 0.9 exactly on
    // the decimal grid (floats 0.9f/0.8f are not exact, so compute the
    // expected mean from the actual float values the way the operator does)
    def mq(xs: Seq[Float]): Long =
      math.floor(xs.map(x => BigDecimal(x.toDouble).setScale(8, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.size * 1e6).toLong
    assert(out((0L, 1L)) == ((3L, mq(Seq(1.0f, 0.9f, 0.8f)))))
    assert(out((0L, 2L)) == ((3L, mq(Seq(0.0f, 0.1f, 0.2f)))))
    assert(out((1L, 1L)) == ((2L, mq(Seq(0.0f, 0.1f)))))
    assert(out((1L, 2L)) == ((2L, mq(Seq(1.0f, 0.9f)))))
    // every (c_id, dim) cell present; member counts consistent across dims
    assert(out.keySet == Set((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L)))
  }

  test("t14 classifier: per-row HOF score equals the explode formulation") {
    val docs = Seq((0L, "key agg row"), (1L, "scan slow fast table"), (2L, "a"))
      .toDF("doc_id", "text")
    val w = TextFunctions.rollingHash($"t") % 1001 - 500
    val exploded = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("t"))
      .select($"doc_id", w.as("w"))
      .groupBy("doc_id").agg(sum($"w").as("score"))
      .as[(Long, Long)].collect().toMap
    val hof = docs
      .select($"doc_id", TextFunctions.tokens($"text").as("tk"))
      .select($"doc_id",
        aggregate(transform($"tk", t => TextFunctions.rollingHash(t) % 1001 - 500),
          lit(0L), _ + _).as("score"))
      .as[(Long, Long)].collect().toMap
    assert(hof == exploded)
  }

  test("t15 mixture: shares sum to ~1e6 and weights invert the shares") {
    val out = SparkEntry.queries("t15_source_mixture")(spark, "/root/testdata/sf0.001")
      .select("n_tokens", "share_ppm", "weight_ppm", "capped_ppm")
      .as[(Long, Long, Long, Long)].collect()
    val n = out.length
    val shareSum = out.map(_._2).sum
    // integer floors: each source loses < 1 ppm
    assert(shareSum <= 1000000L && shareSum > 1000000L - n)
    // fewer tokens -> strictly larger (uncapped) weight; cap respected
    val byTokens = out.sortBy(_._1)
    assert(byTokens.zip(byTokens.tail).forall { case (a, b) => a._3 >= b._3 })
    assert(out.forall(r => r._4 <= 4000000L && r._4 <= r._3))
  }

  test("d13 shard shuffle: dense per-shard positions, partition-count invariant") {
    val out = SparkEntry.queries("d13_shard_shuffle")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    // positions are dense 1..n within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // the assignment is a pure function of doc_id: a repartitioned input
    // yields the identical (doc_id, shard, pos) triples
    val again = SparkEntry.queries("d13_shard_shuffle")(spark, "/root/testdata/sf0.001")
      .repartition(7).select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect()
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("c03 mixture apply: per-doc copies are floor(w) or floor(w)+1, token mass moves toward uniform") {
    val out = SparkEntry.queries("c03_mixture_apply")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "w_ppm", "copy_id").as[(Long, Long, Long)].collect()
    val perDoc = out.groupBy(_._1).map { case (_, rows) =>
      (rows.head._2, rows.length.toLong)
    }
    perDoc.foreach { case (wPpm, copies) =>
      val fl = wPpm / 1000000L
      assert(copies == fl || copies == fl + 1,
        s"w_ppm=$wPpm produced $copies copies")
    }
    // copy_ids are dense 1..n per doc
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("t16 BPE round: pair counts weight by occurrence; gate emits dense ranked merges") {
    // "abab" contributes ab,ba,ab — BPE counts every occurrence, and the
    // repeated word doubles its pairs
    val words = Seq("abab", "abab", "xy", "z").toDF("text")
    val pairs = words
      .select(explode(TextFunctions.tokens($"text")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(transform(sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toMap
    assert(pairs == Map("ab" -> 4L, "ba" -> 2L, "xy" -> 1L))
    val out = SparkEntry.queries("t16_bpe_merge_round")(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSeq == (1L to 20L))
    assert(out.forall(_._2.length == 2))
    // frequencies non-increasing; ties broken by pair ascending
    out.zip(out.tail).foreach { case (a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
    }
  }

  test("pqAssign: codewords self-assign at zero distortion; nearest wins with integer L2") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.1f, 0.9f))).toDF("vid", "emb")
    val out = Similarity.pqAssign(vecs, "vid", "emb", col("id") < 2, m = 2, dsub = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (v, s, c, d) => (v, s) -> (c, d) }.toMap
    // seeds are their own codewords, distortion 0 in every subspace
    assert(out((0L, 0L)) == ((0L, 0L)) && out((0L, 1L)) == ((0L, 0L)))
    assert(out((1L, 0L)) == ((1L, 0L)) && out((1L, 1L)) == ((1L, 0L)))
    // v2 ≈ seed 0: codes 0 with the hand-computed int8 squared-L2
    // (floor(.9·127)=114, floor(.1·127)=12 → (114-127)²+(12-0)² = 313)
    assert(out((2L, 0L)) == ((0L, 313L)))
    assert(out((2L, 1L)) == ((0L, 313L)))
  }

  test("t17 DSIR weights: target-resembling raw docs outscore disjoint ones per gram") {
    val out = SparkEntry.queries("t17_dsir_weights")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect()
    // only raw docs appear, every score positive, smoothing bounds hold:
    // each gram contributes at least floor(1e6·1/(rf+1)) ≥ 1 and at most
    // 1e6·(tf+1)
    assert(out.nonEmpty && out.forall { case (id, n, imp) =>
      id % 97 != 0 && n >= 1 && imp >= n })
  }

  test("ReprList codec round-trips single-quoted python reprs") {
    val out = Seq("['#a', '#b']", "[]", null.asInstanceOf[String]).toDF("s")
      .select(Schemas.ReprList.decode($"s").as("a")).as[Seq[String]].collect()
    assert(out(0) == Seq("#a", "#b"))
    assert(out(1) == Seq())
    assert(out(2) == Seq())
  }

  test("ZoneMap range read opens a strict subset of files; misses open zero") {
    import graft.operators.ZoneMap
    val lake = graft.queries.Dsl.tempDir("zonemap_spec") + "/lake"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "event_type", "value")
    ZoneMap.writeClustered(ev, lake, "ts", numFiles = 16)
    val total = spark.read.parquet(ZoneMap.zonesPath(lake)).count()
    assert(total >= 8, s"clustered write produced only $total files")
    val lo = lit("2024-01-10").cast("timestamp")
    val hi = lit("2024-01-13").cast("timestamp")
    // the skip is REAL: a 3-day band of a ~month corpus touches a strict
    // subset of the range-clustered files
    val selected = ZoneMap.filesForRange(spark, lake, lo, hi)
    assert(selected.nonEmpty && selected.size < total,
      s"no skipping: ${selected.size} of $total files selected")
    // containment + residual filter = exact row-level truth
    val viaZones = ZoneMap.readRange(spark, lake, "ts", lo, hi)
      .select("event_id").as[Long].collect().toSet
    val full = ev.filter(col("ts") >= lo && col("ts") < hi)
      .select("event_id").as[Long].collect().toSet
    assert(viaZones == full)
    // a band outside the data opens ZERO files and returns an empty
    // frame of the lake's schema
    val missLo = lit("2030-01-01").cast("timestamp")
    val missHi = lit("2030-02-01").cast("timestamp")
    assert(ZoneMap.filesForRange(spark, lake, missLo, missHi).isEmpty)
    val miss = ZoneMap.readRange(spark, lake, "ts", missLo, missHi)
    assert(miss.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "event_type", "value") && miss.count() == 0)
    // half-open semantics: a row exactly at hi is excluded, at lo kept
    val dayLo = lit("2024-01-10").cast("timestamp")
    val boundary = ZoneMap.readRange(spark, lake, "ts", dayLo, dayLo)
    assert(boundary.count() == 0, "[lo, lo) must be empty")
    // driver-state bound: over the listed-files budget the read falls
    // back to the root scan — identical rows, no path list collected
    val bounded = ZoneMap.readRange(spark, lake, "ts", lo, hi, 2)
    assert(bounded.select("event_id").as[Long].collect().toSet == full,
      "fallback read must return the identical rows")
  }

  test("deterministicSample: stable, nested by rate, single-rate stratified twin agrees") {
    import graft.operators.Sampling
    val df = spark.range(2000).toDF("id")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").as[Long].collect().toSet
    val a = ids(Sampling.deterministicSample(df, col("id"), 0.3))
    // deterministic across invocations, roughly the requested rate
    assert(a == ids(Sampling.deterministicSample(df, col("id"), 0.3)))
    assert(a.size > 400 && a.size < 800, s"rate off: ${a.size}/2000")
    // hash-threshold semantics: a lower rate is a SUBSET of a higher one
    // (the property that makes rate changes monotone, unlike re-seeding)
    assert(a.subsetOf(ids(Sampling.deterministicSample(df, col("id"), 0.5))))
    // stratifiedSample with only the default rate IS deterministicSample
    val strat = ids(Sampling.stratifiedSample(
      df.withColumn("s", lit("x")), col("s"), col("id"), Map.empty, 0.3))
    assert(strat == a)
  }

  test("dotFixedUnrolled equals the native and HOF dot forms at small dims") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.25f, 2.0f, 0.125f), Seq(1.0f, 0.5f, -0.75f, 2.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
    val got = vecs.select(
      Similarity.dotFixed(col("a"), col("b")).as("native"),
      Similarity.dotFixedHof(col("a"), col("b")).as("hof"),
      Similarity.dotFixedUnrolled(col("a"), col("b"), 4).as("unrolled"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (n, h, u) => assert(n == h && h == u, s"($n, $h, $u)") }
  }

  test("GraftQuery.unchecked registers an oracle-less query (the weaker rows-only path)") {
    val q = GraftQuery.unchecked("tmp_probe")((s, _) => s.range(3).toDF())
    assert(q.name == "tmp_probe" && q.oracle.isEmpty && q.bench.isEmpty)
    assert(q.run(spark, "unused").count() == 3)
  }

  /** io15's landing-format mechanics, pinned at the filesystem level:
    * the writer bounds part size via maxRecordsPerFile (no repartition
    * guessing) and the parts really carry the zstd codec — the two
    * properties the gate's aggregate hash cannot see.
    */
  test("io15: zstd parquet landing bounds part size at the writer and names the codec") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.Dsl.tempDir("io15_spec") + "/land"
    val src = graft.Tables.events(spark, dir).select("event_id", "event_type")
    val n = src.count()
    src.repartition(1)
      .write.option("compression", "zstd").option("maxRecordsPerFile", "100")
      .mode("overwrite").parquet(out)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    assert(parts.forall(_.getName.endsWith(".zstd.parquet")),
      s"codec missing from part names: ${parts.map(_.getName).mkString(",")}")
    // one writer task + a 100-row bound → exactly ceil(n/100) parts
    assert(parts.length == math.ceil(n / 100.0).toInt,
      s"expected ${math.ceil(n / 100.0).toInt} parts for $n rows, got ${parts.length}")
    // loss-free: the landing zone reads back row-identical
    assert(spark.read.parquet(out).count() == n)
  }
}
