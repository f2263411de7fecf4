package graft

import graft.operators.{Dedup, Preprocess}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.util.Random

/** Algebraic properties over seeded-random data (SURVEY §5d): dedup
  * idempotence, filter commutativity, union-count additivity, sample-cap
  * invariant, Jaccard bounds/symmetry, and the MinHash union law.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(20260812)

  private def randomDf(n: Int): DataFrame =
    (1 to n).map { i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(5), rnd.nextDouble() * 100)
    }.toDF("id", "k", "cat", "v")

  test("dedupFirst is idempotent and keeps one row per key") {
    val df = randomDf(500)
    val once = Dedup.dedupFirst(df, Seq("k"), Seq($"id"))
    val twice = Dedup.dedupFirst(once, Seq("k"), Seq($"id"))
    assert(once.collect().toSet == twice.collect().toSet)
    assert(once.groupBy("k").count().filter($"count" > 1).isEmpty)
  }

  test("conjunctive filters commute") {
    val df = randomDf(500)
    val ab = df.filter($"v" > 30).filter($"cat" =!= 2).collect().toSet
    val ba = df.filter($"cat" =!= 2).filter($"v" > 30).collect().toSet
    assert(ab == ba)
  }

  test("union count is additive") {
    val a = randomDf(300)
    val b = randomDf(211)
    assert(a.unionByName(b).count() == a.count() + b.count())
  }

  test("per-year sample cap invariant: ∀year, selected ≤ n and = min(n, group)") {
    val n = 7
    val df = (1 to 400).map { i =>
      (i.toLong, Timestamp.valueOf(s"${2010 + rnd.nextInt(5)}-03-01 10:00:00"))
    }.toDF("id", "timestamp").withColumn("scrape_image", lit(true))
    val out = Preprocess.selectNImagesPerYear(df, n)
    val byYear = out.groupBy(year($"timestamp").as("y"))
      .agg(count(lit(1)).as("total"),
        sum(when($"scrape_image", 1L).otherwise(0L)).as("sel"))
      .as[(Int, Long, Long)].collect()
    byYear.foreach { case (_, total, sel) =>
      assert(sel == math.min(n.toLong, total))
    }
    assert(out.count() == 400) // flags, never drops
  }

  test("jaccard is symmetric and bounded in [0, 1]") {
    val sets = (1 to 100).map { i =>
      (i.toLong, (1 to rnd.nextInt(20) + 1).map(_ => rnd.nextInt(30).toLong).distinct)
    }.toDF("id", "s")
    val pairs = sets.as("a").crossJoin(sets.as("b")).limit(2000)
      .select(Dedup.jaccard($"a.s", $"b.s").as("jab"),
        Dedup.jaccard($"b.s", $"a.s").as("jba"))
    assert(pairs.filter($"jab" =!= $"jba").isEmpty)
    assert(pairs.filter($"jab" < 0 || $"jab" > 1).isEmpty)
  }

  test("dedupFirstAgg ≡ dedupFirst on random frames with duplicate order keys") {
    val df = (1 to 600).map { i =>
      // coarse v so order-key ties are common — the tie-break must agree
      (i.toLong, rnd.nextInt(15).toLong, rnd.nextInt(4).toDouble, s"p${rnd.nextInt(9)}")
    }.toDF("id", "k", "v", "p")
    val windowed = Dedup.dedupFirst(df, Seq("k"), Seq($"v", $"p", $"id"))
      .select("k", "id", "v", "p").collect().toSet
    val agged = Dedup.dedupFirstAgg(df, Seq("k"), Seq($"v", $"p", $"id"), Seq("id", "v", "p"))
      .select("k", "id", "v", "p").collect().toSet
    assert(agged == windowed)
  }

  test("lane-packed simhash ≡ per-bit simhash on random token streams") {
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "data", "row")
    val df = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("id", "t")
    val ref = df.select($"id", Dedup.simHash(Dedup.tokenHashes($"t"), 64).as("s"))
      .as[(Long, Long)].collect().toMap
    val packed = Dedup.withSimHash(df, "id", "t", 64).as[(Long, Long)].collect().toMap
    assert(packed == ref)
  }

  test("native minhash-sigs kernel ≡ 64 HOF array_min passes") {
    val df = (1 to 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(100000).toLong).distinct)
    }.toDF("id", "shs")
    val perms = Dedup.permConstants(64)
    val hof = df.select($"id" +: perms.zipWithIndex.map { case ((a, b), j) =>
      Dedup.minHashSig($"shs", a, b).as(s"s$j")
    }: _*).collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong(_)).toVector).toMap
    val native = df.select($"id", graft.plans.DedupExprs.minHashSigs($"shs", 64).as("sigs"))
      .as[(Long, Vector[Long])].collect().toMap
    assert(native == hof)
  }

  test("native simhash64 kernel ≡ lane-packed HOF pipeline") {
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "data", "row")
    val df = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("id", "t")
    val hof = Dedup.withSimHashHof(df, "id", "t", 64).as[(Long, Long)].collect().toMap
    val native = Dedup.withSimHash(df, "id", "t", 64).as[(Long, Long)].collect().toMap
    assert(native == hof)
  }

  test("native fixed-point dot kernel ≡ zip_with/aggregate HOF on signed floats") {
    import graft.operators.Similarity
    val df = (1 to 200).map { i =>
      val a = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
      val b = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val cmp = df.select($"id",
      Similarity.dotFixed($"a", $"b").cast("long").as("native"),
      Similarity.dotFixedHof($"a", $"b").cast("long").as("hof"))
    assert(cmp.filter($"native" =!= $"hof").isEmpty)
  }

  test("native lsh-bucket kernel ≡ per-plane HOF passes") {
    import graft.operators.Similarity
    val df = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("id", "emb")
    val vfix = df.withColumn("__vfix",
      transform($"emb", x => floor(x.cast("double") * lit(Similarity.SignScale)).cast("long")))
    val cmp = vfix.select($"id",
      Similarity.lshBucketFromVfix($"__vfix", 12, 64).as("native"),
      Similarity.lshBucketFromVfixHof($"__vfix", 12, 64).as("hof"))
    assert(cmp.filter($"native" =!= $"hof").isEmpty)
  }

  test("native top-k aggregate ≡ Aggregator twin ≡ ranked window on random groups") {
    import graft.functions.{ScoredId, TopKAggregator}
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 2000).map { i =>
      (i.toLong, rnd.nextInt(7), rnd.nextInt(40).toDouble) // duplicate scores on purpose
    }.toDF("id", "g", "score")
    def flat(c: org.apache.spark.sql.Column) = df.groupBy($"g").agg(c.as("top"))
      .select($"g", posexplode($"top").as(Seq("r", "s")))
      .select($"g", $"r", $"s.score", $"s.id")
    val native = flat(graft.plans.TopKAgg.topK($"score", $"id", 5)).collect().toSet
    val twin = flat(udaf(new TopKAggregator(5),
      org.apache.spark.sql.Encoders.product[ScoredId])($"score", $"id")).collect().toSet
    val window = df
      .withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)))
      .filter($"rk" <= 5)
      .select($"g", ($"rk" - 1).cast("int").as("r"), $"score", $"id")
      .collect().toSet
    assert(native == twin)
    assert(native == window)
  }

  test("upsert laws: idempotent, and sequential batch merges ≡ one backfill compaction") {
    import graft.operators.Upsert
    val keys = Seq("k")
    val version = Seq("v", "id")
    val rows = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(30).toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
    val all = rows.toDF("id", "k", "v", "payload").select("k", "v", "id", "payload")
    val Seq(b1, b2, b3) = Seq(0, 1, 2).map(r =>
      rows.filter(_._1 % 3 == r).toDF("id", "k", "v", "payload")
        .select("k", "v", "id", "payload"))
    val backfill = Upsert.compact(all, keys, version)
    val seq = Upsert.latestWins(
      Upsert.latestWins(Upsert.compact(b1, keys, version), b2, keys, version),
      b3, keys, version)
    assert(seq.exceptAll(backfill).isEmpty && backfill.exceptAll(seq).isEmpty)
    // idempotence: re-applying the last batch changes nothing
    val again = Upsert.latestWins(seq, b3, keys, version)
    assert(again.exceptAll(seq).isEmpty && seq.exceptAll(again).isEmpty)
  }

  test("bucketed range join ≡ naive theta join on random intervals") {
    import graft.operators.RangeJoin
    val base = 1700000000000000L // µs epoch
    val points = (1 to 300).map(i =>
      (i.toLong, new Timestamp((base + rnd.nextInt(86400) * 1000000L) / 1000)))
      .toDF("pid", "t")
    val intervals = (1 to 40).map { i =>
      val s = base + rnd.nextInt(80000) * 1000000L
      (i.toLong, new Timestamp(s / 1000),
        new Timestamp((s + rnd.nextInt(20000) * 1000000L) / 1000))
    }.toDF("iid", "lo", "hi")
    val naive = points.join(intervals, $"t" >= $"lo" && $"t" < $"hi")
      .select("pid", "iid").collect().toSet
    val bucketed = RangeJoin.pointInInterval(points, "t", intervals, "lo", "hi",
      bucketUs = 3600L * 1000000L).select("pid", "iid").collect().toSet
    assert(bucketed == naive)
  }

  test("bucketed interval-overlap join ≡ naive theta join, exactly one row per pair") {
    import graft.operators.RangeJoin
    val base = 1700000000000000L
    def intervals(n: Int, tag: String) = (1 to n).map { i =>
      val s = base + rnd.nextInt(200000) * 1000000L
      (i.toLong, new Timestamp(s / 1000),
        new Timestamp((s + (rnd.nextInt(30000) + 1) * 1000000L) / 1000))
    }.toDF(s"${tag}_id", s"${tag}_start", s"${tag}_end")
    val a = intervals(60, "a")
    val b = intervals(80, "b")
    val naive = a.join(b, $"a_start" < $"b_end" && $"b_start" < $"a_end")
      .select("a_id", "b_id").collect().toSeq
    val bucketed = RangeJoin.intervalOverlapJoin(
        a, "a_start", "a_end", b, "b_start", "b_end", bucketUs = 3600L * 1000000L)
      .select("a_id", "b_id").collect().toSeq
    // same pair SET and same cardinality: first-shared-bucket dedup emits
    // each overlapping pair exactly once
    assert(bucketed.toSet == naive.toSet && bucketed.length == naive.length)
  }

  test("z-values are unique per (a, b) pair (interleave is a bijection)") {
    import graft.operators.ZOrder
    val pairs = (1 to 500)
      .map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)).distinct
    val zs = pairs.toDF("a", "b").select(ZOrder.zValue2($"a", $"b")).as[Long].collect()
    assert(zs.distinct.length == pairs.length)
  }

  test("banded LSH signatures are partition-count invariant") {
    import graft.operators.Dedup
    val docs = (1 to 120).map(i =>
      (i.toLong, (1 to 12).map(_ => s"w${rnd.nextInt(25)}").mkString(" ")))
      .toDF("doc_id", "text")
    def rows(parts: Int) =
      Dedup.bandedSignatures(docs.repartition(parts), "doc_id", "text", 2, 16, 8)
        .collect().map(_.toSeq).toSet
    assert(rows(1) == rows(7))
  }

  test("Upsert treats a NULL key value as a real key (null-safe equality)") {
    import graft.operators.Upsert
    val snapshot = Seq((Option(5L), 1L, "s-five"), (Option.empty[Long], 1L, "s-null"))
      .toDF("k", "v", "payload")
    val updates = Seq((Option.empty[Long], 2L, "u-null"))
      .toDF("k", "v", "payload")
    val out = Upsert.latestWins(snapshot, updates, Seq("k"), Seq("v"))
      .as[(Option[Long], Long, String)].collect().toSet
    // the null-keyed row is REPLACED (not duplicated, not dropped)
    assert(out == Set((Some(5L), 1L, "s-five"), (None, 2L, "u-null")))
  }

  test("minhash union law: sig(A ∪ B) = min(sig(A), sig(B))") {
    val (a, b) = Dedup.permConstants(2)(1)
    val df = (1 to 200).map { i =>
      val xs = (1 to rnd.nextInt(15) + 1).map(_ => rnd.nextInt(1000).toLong).distinct
      val ys = (1 to rnd.nextInt(15) + 1).map(_ => rnd.nextInt(1000).toLong).distinct
      (xs, ys)
    }.toDF("xs", "ys")
    val checked = df.select(
      Dedup.minHashSig(array_union($"xs", $"ys"), a, b).as("su"),
      least(Dedup.minHashSig($"xs", a, b), Dedup.minHashSig($"ys", a, b)).as("mn"))
    assert(checked.filter($"su" =!= $"mn").isEmpty)
  }

  test("mix64 simhash: 64-bit fingerprints are non-degenerate; banded hamming is exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(300)
    val n = docs.count()
    // high 32 bits must vary across docs (without mix64 they are a
    // constant 0 — the raw rolling hashes are mod 1e9+7 — and banding
    // degenerates to all-pairs)
    val sims = Dedup.withSimHash(docs, "doc_id", "text", 64, mix64 = true)
      .persist()
    assert(sims.select(countDistinct(shiftright($"sim", 32))).as[Long].head() > 1L)
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 64, 16, mix64 = true)
      .persist()
    // candidates are a strict subset of the pair space, not all-pairs
    assert(pairs.count() < n * (n - 1) / 2)
    // the banded path's hamming equals brute bit_count over the same sims
    val mismatches = pairs.as("p")
      .join(sims.select($"id".as("id_a"), $"sim".as("sim_a")), "id_a")
      .join(sims.select($"id".as("id_b"), $"sim".as("sim_b")), "id_b")
      .filter($"hamming" =!= expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .count()
    assert(mismatches == 0)
    // banding guarantee: any pair agreeing on a full 16-bit chunk is found
    val found = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val mustFind = sims.as("x").join(sims.as("y"), expr(
        "x.id < y.id AND (" + (0 until 4).map(c =>
          s"((x.sim >> ${c * 16}) & 65535) = ((y.sim >> ${c * 16}) & 65535)")
          .mkString(" OR ") + ")"))
      .select($"x.id", $"y.id").as[(Long, Long)].collect().toSet
    assert(found == mustFind)
    sims.unpersist(); pairs.unpersist()
  }

  test("i07 dHash is invariant to the encoding codec (PNG vs BMP, 200 ids)") {
    import graft.operators.Multimodal
    val m = Multimodal.ImageIoVisionModel()
    (0 until 200).foreach { i =>
      val id = rnd.nextInt(1000000).toLong
      val png = m.dhashHalves(Multimodal.syntheticImageAs(id, "png"))
      val bmp = m.dhashHalves(Multimodal.syntheticImageAs(id, "bmp"))
      assert(png.isDefined && png == bmp, s"codec-dependent hash for id $id")
    }
  }

  test("w04 boundary: session_window merges on exact microsecond gaps, splits at gap") {
    // The equivalence w04's oracle must encode, pinned by MEASUREMENT:
    // an 86399.2s gap MERGES (a seconds-granularity date_diff oracle
    // would split it — boundary crossings, not elapsed time); an
    // EXACT-86400s gap also merges (Spark's session end is inclusive);
    // only a strictly greater gap (86400.5s) splits. Hence the oracle's
    // strict `ts > prev_ts + gap` rule.
    val df = Seq(
      (1L, "2024-01-01 00:00:00.9"), (1L, "2024-01-02 00:00:00.1"), // 86399.2s
      (2L, "2024-01-01 00:00:00.5"), (2L, "2024-01-02 00:00:00.5"), // 86400.0s
      (3L, "2024-01-01 00:00:00.2"), (3L, "2024-01-02 00:00:00.7")) // 86400.5s
      .toDF("user_id", "s")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val sessions = df
      .groupBy(col("user_id"), session_window(col("ts"), "86400 seconds"))
      .agg(count(lit(1)))
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sessions(1L) == 1, "sub-gap (86399.2s) pair must share a session")
    assert(sessions(2L) == 1, "exact-gap pair still merges (inclusive session end)")
    assert(sessions(3L) == 2, "strictly-greater gap must start a new session")
  }

  test("j09 2-of-3 blocking recall: any single-position corruption is matched") {
    // the guarantee the blocking design claims: a substitution at ANY digit
    // position (not just the gate's position formula) leaves one window
    // pair intact, so the true match always survives blocking and wins at
    // distance 1 (ties can pick another key, but SOME match at dist <= 1
    // must exist). Verified against the real customer table.
    val cust = Tables.customer(spark, "/root/testdata/sf0.001")
      .select("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    (0 until 200).foreach { _ =>
      val (key, name) = cust(rnd.nextInt(cust.length))
      val pos = 9 + rnd.nextInt(9) // any digit position, 0-based 9..17
      val dirty = name.substring(0, pos) + "X" + name.substring(pos + 1)
      // the query's three pair keys (1-based SQL substr -> 0-based here)
      def k1(s: String) = s.substring(9, 15)            // substr(10, 6)
      def k2(s: String) = s.substring(9, 12) + s.substring(15, 18) // substr(10,3)||substr(16,3)
      def k3(s: String) = s.substring(12, 18)           // substr(13, 6)
      val survives = k1(dirty) == k1(name) || k2(dirty) == k2(name) || k3(dirty) == k3(name)
      assert(survives, s"corruption at $pos of $name escaped all three window pairs")
    }
  }

  /** w08's distributed two-pass prefix sum must equal the classic
    * single global running sum — on RANDOM timestamps (many midnight
    * crossings, duplicate instants), not just the gate's corpus. The
    * reference formulation here is the unpartitioned window the
    * distributed plan exists to replace.
    */
  test("w08 two-pass sweep-line equals the global running-sum formulation") {
    import org.apache.spark.sql.expressions.Window
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val ev = (1 to 4000).map { i =>
      // cluster timestamps so concurrency is non-trivial and duplicates occur
      new Timestamp(base + rnd.nextInt(6 * 86400) / 37 * 37 * 1000L)
    }.toDF("ts")
    val twoPass = graft.queries.AnalyticsQueries.maxConcurrency(ev)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val iv = ev.select($"ts".as("s"), ($"ts" + expr("INTERVAL 30 MINUTES")).as("e"))
    val pts = iv.select($"s".as("t"), lit(1L).as("delta"))
      .unionAll(iv.select($"e".as("t"), lit(-1L).as("delta")))
    val globalW = Window.orderBy("t", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = pts.withColumn("conc", sum("delta").over(globalW))
      .groupBy(date_trunc("day", $"t").as("day"))
      .agg(max("conc").as("m")).orderBy("day")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(twoPass == global)
  }

  /** CMS one-sided error: the estimate can never be BELOW the exact
    * count, for every term in the vocabulary (the gate samples the
    * top-20; this sweeps all of it on random token data).
    */
  test("t23 CMS estimate >= exact count for every vocabulary term") {
    val docs = (1 to 300).map { _ =>
      (1 to 1 + rnd.nextInt(30))
        .map(_ => s"tok${rnd.nextInt(200)}").mkString(" ")
    }.toDF("text")
    val est = graft.queries.TextQueries.cmsEstimates(docs)
    assert(est.count() > 150, "vocabulary unexpectedly small")
    assert(est.filter($"cms_est" < $"n_exact").isEmpty)
    // and the sketch is genuinely lossy here: some term must overestimate
    assert(est.filter($"overestimate" === 1).count() > 0)
  }

  /** Eval.forcedCount is the bench's anti-cheat evaluation: same row
    * count as count(), but the executed plan must retain the computed
    * columns count() would let the optimizer prune. The window case is
    * the one that bit: under plain count() the Window node vanishes
    * from the physical plan entirely.
    */
  test("forcedCount matches count() and keeps pruned-under-count windows in the plan") {
    import org.apache.spark.sql.expressions.Window
    val df = randomDf(1000)
      .withColumn("r", row_number().over(
        Window.partitionBy("k").orderBy("v", "id")))
    assert(Eval.forcedCount(df) == df.count())
    // map columns are unhashable — skipped, not fatal
    val withMap = df.withColumn("m", map(col("cat"), col("v")))
    assert(Eval.forcedCount(withMap) == 1000L)
    // the forced plan retains the Window; the count plan prunes it
    def physical(d: DataFrame): String = d.queryExecution.executedPlan.toString
    val counted = physical(df.groupBy().count())
    val forced = physical(df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")))
    assert(!counted.contains("Window"),
      "expected plain count() to prune the window (optimizer behavior changed?)")
    assert(forced.contains("Window"), "forcedCount lost the window node")
  }

  /** a36's load-bearing claim is MERGEABILITY: bucket counts are
    * additive, so per-slice histograms sum to the whole-corpus
    * histogram and the percentile picks off the merged counts equal
    * the direct ones — the a19/a20 re-aggregation story applied to
    * percentiles (what exact rank picks a17/a24 can never do).
    * Pinned by splitting the corpus on event_id parity, summing the
    * two slices' bucket counts, and re-deriving p50/p95/p99.
    */
  test("a36 HDR buckets merge: split-sum percentiles equal direct percentiles") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    def buckets(df: DataFrame): DataFrame = df
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
      .select(col("event_type"),
        length(col("cents").cast("string")).as("m"),
        substring(col("cents").cast("string"), 1, 2).cast("bigint").as("sub"))
      .groupBy("event_type", "m", "sub").agg(count(lit(1)).as("n_b"))
    def percentiles(b: DataFrame): Set[String] = {
      import org.apache.spark.sql.expressions.Window
      val cumW = Window.partitionBy("event_type").orderBy("m", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = b
        .withColumn("ub_cents",
          when(col("m") <= 2, col("sub"))
            .otherwise((col("sub") + 1) * pow(lit(10), col("m") - 2).cast("bigint") - 1))
        .withColumn("cum_n", sum("n_b").over(cumW))
        .withColumn("n", sum("n_b").over(Window.partitionBy("event_type")))
      def pick(q: Int) =
        min(when(col("cum_n") >= expr(s"($q * n + 99) div 100"), col("ub_cents")))
      cum.groupBy("event_type")
        .agg(pick(50).as("p50"), pick(95).as("p95"), pick(99).as("p99"))
        .collect().map(_.toString).toSet
    }
    val even = buckets(ev.filter(col("event_id") % 2 === 0))
    val odd = buckets(ev.filter(col("event_id") % 2 === 1))
    val merged = even.unionAll(odd)
      .groupBy("event_type", "m", "sub").agg(sum("n_b").as("n_b"))
    assert(percentiles(merged) == percentiles(buckets(ev)))
    // and the bucket upper bound truly bounds its members: every value
    // lands in a bucket whose ub is >= the value's cents
    val viol = ev
      .select((col("value").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
      .select(col("cents"),
        length(col("cents").cast("string")).as("m"),
        substring(col("cents").cast("string"), 1, 2).cast("bigint").as("sub"))
      .withColumn("ub",
        when(col("m") <= 2, col("sub"))
          .otherwise((col("sub") + 1) * pow(lit(10), col("m") - 2).cast("bigint") - 1))
      .filter(col("ub") < col("cents"))
    assert(viol.isEmpty)
  }

  /** a37's per-row pair generation from the bounded per-user type set
    * must equal the naive distinct self-join it replaces.
    */
  test("a37 set-exploded pairs equal the distinct self-join") {
    val dir = "/root/testdata/sf0.001"
    val ua = Tables.events(spark, dir).select("user_id", "event_type").distinct()
    val viaJoin = ua.as("a").join(ua.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .collect().map(_.toString).toSet
    val viaSets = ua.groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
      .select(explode(flatten(expr(
        """transform(types, (x, i) ->
          |  transform(slice(types, i + 2, size(types)),
          |            y -> struct(x AS a, y AS b)))""".stripMargin))).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .collect().map(_.toString).toSet
    assert(viaSets == viaJoin)
  }

  /** t24's per-row fold must implement exactly greedy left-to-right
    * non-overlapping BPE merging — pinned on the crafted overlap cases
    * windows get wrong, then fold ≡ the independent islands/run-parity
    * formulation over the real corpus vocabulary.
    */
  test("t24 bpeApplyMerge: greedy non-overlap cases and fold ≡ islands on real words") {
    import graft.functions.TextFunctions.bpeApplyMerge
    val cases = Seq(
      ("aaaa", "aa", Seq("aa", "aa")),
      ("aaa", "aa", Seq("aa", "a")),
      ("abab", "ab", Seq("ab", "ab")),
      ("xabay", "ab", Seq("x", "ab", "a", "y")),
      ("q", "ab", Seq("q")),
      ("ab", "ab", Seq("ab")))
    val got = cases.toDF("w", "p", "want")
      .select(bpeApplyMerge(col("w"), col("p")).as("got"), col("want"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString) }

    // fold vs islands over the sf0.001 vocabulary with its real top pair
    val dir = "/root/testdata/sf0.001"
    val wc = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val top = wc.filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("freq"))
      .orderBy(desc("freq"), asc("pair")).limit(1)
      .select(col("pair").as("p"))
    val foldUnits = wc.crossJoin(broadcast(top))
      .select(explode(bpeApplyMerge(col("w"), col("p"))).as("unit"), col("cnt"))
      .groupBy("unit").agg(sum("cnt").as("freq"))
      .collect().map(_.toString).toSet
    // islands: explode chars, group runs of consecutive matches, keep odd
    import org.apache.spark.sql.expressions.Window
    val chars = wc.crossJoin(broadcast(top))
      .select(col("w"), col("cnt"), col("p"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
    val mpos = chars.filter(col("pos") < length(col("w")) &&
      col("w").substr(col("pos"), lit(2)) === col("p"))
    val runs = mpos.withColumn("g",
      col("pos") - row_number().over(Window.partitionBy("w").orderBy("pos")))
    val kept = runs.withColumn("rn",
        row_number().over(Window.partitionBy("w", "g").orderBy("pos")))
      .filter(col("rn") % 2 === 1)
      .select(col("w").as("kw"), col("pos").as("kpos"))
    val mergedUnits = kept.join(wc, col("kw") === col("w"))
      .select(col("w").substr(col("kpos"), lit(2)).as("unit"), col("cnt"))
    val soloUnits = chars
      .join(kept, col("kw") === col("w") && col("kpos") === col("pos"), "left_anti")
      .join(kept, col("kw") === col("w") && col("kpos") === col("pos") - 1, "left_anti")
      .select(col("w").substr(col("pos"), lit(1)).as("unit"), col("cnt"))
    val islandUnits = mergedUnits.unionAll(soloUnits)
      .groupBy("unit").agg(sum("cnt").as("freq"))
      .collect().map(_.toString).toSet
    assert(foldUnits == islandUnits)
  }

  /** e16's composition invariant: every returned neighbor's assigned
    * coarse cluster must be one of its query's probed clusters — the
    * IVF restriction genuinely gates the PQ scoring (a vector outside
    * every probed cluster never scores, however close its codes).
    */
  test("e16 neighbors all lie inside their query's probed clusters") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val res = Similarity.knnIvfPqAdc(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, col("id") < 5,
      k = 10, nprobe = 2)
    // recompute routing exactly as the operator does
    val v = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("q"))
    val g = v.filter(col("id") >= 8 && col("id") < 12)
      .select(col("id").as("g_id"), col("q").as("gq"))
    val aff = v.crossJoin(broadcast(g))
      .select(col("id"), col("g_id"),
        aggregate(zip_with(col("q"), col("gq"), (x, y) => (x - y) * (x - y)),
          lit(0L), _ + _).as("gdist"))
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy("id").orderBy(asc("gdist"), asc("g_id"))
    val ranked = aff.withColumn("rn", row_number().over(wA))
    val clusterOf = ranked.filter(col("rn") === 1)
      .select(col("id"), col("g_id").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probesOf = ranked.filter(col("id") < 5 && col("rn") <= 2)
      .select(col("id"), col("g_id"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rows = res.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(2)
      assert(probesOf(q).contains(clusterOf(n)),
        s"neighbor $n of query $q sits in cluster ${clusterOf(n)} outside probes ${probesOf(q)}")
    }
  }

  /** e17's packed-halves Hamming must equal the per-dimension sign
    * mismatch count it compresses — the 256× compression is LOSSLESS
    * for the sign metric, on every pair of a 200-vector sample.
    */
  test("e17 packed Hamming equals per-dim sign mismatch count") {
    val dir = "/root/testdata/sf0.001"
    def packF(emb: Column, from: Int): Column =
      aggregate(slice(emb, from, 32), lit(0L),
        (acc, x) => acc * 2 + when(x >= 0, 1L).otherwise(0L))
    val v = Tables.embeddings(spark, dir).filter(col("vec_id") < 200)
      .select(col("vec_id").as("id"), col("embedding").as("emb"),
        packF(col("embedding"), 1).as("h1"), packF(col("embedding"), 33).as("h2"))
    val pairs = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(
        (expr("bit_count(a.h1 ^ b.h1)") + expr("bit_count(a.h2 ^ b.h2)")).as("packed"),
        aggregate(zip_with(col("a.emb"), col("b.emb"),
          (x, y) => when((x >= 0) =!= (y >= 0), 1L).otherwise(0L)),
          lit(0L), _ + _).as("direct"))
    assert(pairs.filter(col("packed") =!= col("direct")).isEmpty)
  }

  /** t25's smoothed estimator must be a proper probability component:
    * for every context w1, Σ_w2 (n_12+1) over OBSERVED next-tokens is
    * ≤ n_1 + V (the full smoothed mass including unseen w2 is exactly
    * n_1 + V), and every p_ppm < 10⁶.
    */
  test("t25 bigram LM: smoothed mass bounded, conditional counts consistent") {
    val dir = "/root/testdata/sf0.001"
    val tok = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("tk"))
    val c1 = tok.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val vocab = c1.count()
    val c12 = tok.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_12"))
    val joined = c12.join(c1.withColumnRenamed("w", "w1"), "w1")
      .withColumn("p_ppm",
        expr(s"CAST((1000000 * (n_12 + 1)) div (n + $vocab) AS BIGINT)"))
    assert(joined.filter(col("p_ppm") >= 1000000L).isEmpty)
    // per-context observed smoothed mass never exceeds the full mass
    val mass = joined.groupBy("w1")
      .agg(sum(col("n_12") + 1).as("observed_mass"), first("n").as("n_1"))
    assert(mass.filter(col("observed_mass") > col("n_1") + lit(vocab)).isEmpty)
    // and Σ n_12 = Σ (len-1): every adjacent position is one bigram
    val nBigrams = c12.agg(sum("n_12")).collect()(0).getLong(0)
    val nPositions = tok.filter(size(col("tk")) >= 2)
      .agg(sum(size(col("tk")) - 1)).collect()(0).getLong(0)
    assert(nBigrams == nPositions)
  }

  /** w10's contribution-explode must equal the EWMA recurrence it
    * replaces: recompute Σ 2^(7−lag)·x over the trailing 8 days
    * directly from the collected daily series (driver-side ground
    * truth on the tiny |types|×|days| frame).
    */
  test("w10 contribution-explode equals the direct trailing-8-day weighted sum") {
    val dir = "/root/testdata/sf0.001"
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1)
    val expect = (for {
      (t, rows) <- byType.toSeq
      series = rows.map(r => r._2 -> r._3).toMap
      day <- series.keys
    } yield {
      val terms = (0 to 7).flatMap { lag =>
        series.get(day.minusDays(lag.toLong)).map(x => (x * (1L << (7 - lag)), 1L << (7 - lag)))
      }
      (t, day.toString, terms.map(_._1).sum, terms.map(_._2).sum)
    }).toSet
    val got = SparkEntry.queries("w10_ewma_revenue")(spark, dir)
      .select(col("event_type"), col("day").cast("date").cast("string"),
        col("ewma_num"), col("ewma_den"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
  }

  /** e18's probe geometry: e02's single-bucket candidates are a subset
    * of the multi-probe candidates, and every extra candidate's bucket
    * sits at Hamming distance exactly 1 from the query's.
    */
  test("e18 multi-probe: e02 candidates ⊆ e18; extras at Hamming 1") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val planes = 6
    val v = Similarity.withBucket(
      emb.select(col("vec_id").as("id"), col("embedding").as("emb")), "emb", planes, 64)
    val buckets = v.select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cands(multi: Boolean): Map[Long, Set[Long]] = {
      val probes = buckets.filter(_._1 < 5).map { case (q, b) =>
        q -> (if (multi) (Set(b) ++ (0 until planes).map(j => b ^ (1L << j))) else Set(b))
      }
      probes.map { case (q, ps) =>
        q -> buckets.filter { case (id, b) => id != q && ps.contains(b) }.keySet.toSet
      }
    }
    val single = cands(multi = false)
    val multi = cands(multi = true)
    single.foreach { case (q, s) => assert(s.subsetOf(multi(q))) }
    multi.foreach { case (q, m) =>
      (m -- single(q)).foreach { id =>
        val x = buckets(id) ^ buckets(q)
        assert(java.lang.Long.bitCount(x) == 1, s"extra $id for $q at hamming != 1")
      }
    }
    // operator-level dominance (ADVICE r8): e18's candidate pool is a
    // per-query SUPERSET of e02's (proven on the bucket sets above), so
    // its ranked cosine sequence must dominate e02's pointwise — for
    // every query and every rank both return, e18's cosine >= e02's,
    // and e18 never returns FEWER neighbors
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getAs[Number](3).doubleValue()))
      .toMap
    val e02 = ranked(Similarity.knnLsh(
      emb, "vec_id", "embedding", col("id") < 5, 10, planes, 64))
    val e18 = ranked(Similarity.knnLshMultiProbe(
      emb, "vec_id", "embedding", col("id") < 5, 10, planes, 64))
    assert(e02.nonEmpty && e18.nonEmpty)
    assert(e02.keySet.subsetOf(e18.keySet),
      "e18 returned fewer (query, rank) slots than e02")
    e02.foreach { case (qr, c02) =>
      assert(e18(qr) >= c02,
        s"e18 cosine ${e18(qr)} < e02 cosine $c02 at (query, rank)=$qr")
    }
  }

  /** x15's MERGE semantics: with no tombstones it equals latestWins
    * (plus correct action labels); with tombstones, exactly the keys
    * whose LATEST change is a delete are absent.
    */
  test("x15 applyChangeset: no-delete ≡ latestWins; deletes remove exactly latest-D keys") {
    import graft.operators.Upsert
    val dir = "/root/testdata/sf0.001"
    val keys = Seq("user_id", "event_type")
    val version = Seq("ts", "event_id")
    val events = Tables.events(spark, dir)
      .select("user_id", "event_type", "event_id", "ts", "value")
    val cut = lit("2024-01-16").cast("timestamp")
    val snapshot = Upsert.compact(events.filter(col("ts") < cut), keys, version)
    val batch = events.filter(col("ts") >= cut)
    // no deletes: applyChangeset ≡ latestWins row-for-row
    val noDel = Upsert.applyChangeset(snapshot, batch.withColumn("op", lit("U")),
      keys, version).drop("action")
    val lw = Upsert.latestWins(snapshot, batch, keys, version)
    assert(noDel.collect().map(_.toString).toSet == lw.collect().map(_.toString).toSet)
    // with deletes: absent keys = keys whose latest change is a D
    val changes = batch.withColumn("op",
      when(col("event_id") % 10 < 2, "D").otherwise("U"))
    val merged = Upsert.applyChangeset(snapshot, changes, keys, version)
    val mergedKeys = merged.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val latestD = Upsert.compact(changes, keys, version)
      .filter(col("op") === "D")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val allKeys = snapshot.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ++
      changes.select("user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mergedKeys == allKeys -- latestD)
  }

  /** io10's reason to exist: DYNAMIC overwrite keeps untouched
    * partitions, STATIC (the default) silently wipes the whole table —
    * the trap the gate guards. Both modes measured on the same lake.
    */
  test("io10: dynamic overwrite keeps untouched days; static mode wipes them") {
    val dir = "/root/testdata/sf0.001"
    val base = Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string").as("day"), col("event_id"))
    val allDays = base.select("day").distinct().count()
    assert(allDays > 3)
    def writeLake(mode: String): Long = {
      val lake = graft.queries.Dsl.tempDir("io10_spec") + "/lake"
      base.repartition(col("day")).write.mode("overwrite").partitionBy("day").parquet(lake)
      val batch = base.filter(col("day").isin("2024-01-05", "2024-01-06", "2024-01-07"))
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
      try batch.repartition(col("day")).write.mode("overwrite").partitionBy("day").parquet(lake)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      spark.read.parquet(lake).select("day").distinct().count()
    }
    assert(writeLake("dynamic") == allDays)
    assert(writeLake("static") == 3L)
  }

  /** The production sinks (StreamSketch / StreamNearDup / io10) use the
    * WRITER-scoped `.option("partitionOverwriteMode", "dynamic")` instead
    * of a session-conf set/restore window, because two writers sharing a
    * session can race the window and one lands in STATIC mode. This pins
    * the precedence that makes that safe: the writer option wins even
    * when the session conf says static.
    */
  test("io10: writer-scoped dynamic option overrides a static session conf") {
    val dir = "/root/testdata/sf0.001"
    val base = Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string").as("day"), col("event_id"))
    val allDays = base.select("day").distinct().count()
    val lake = graft.queries.Dsl.tempDir("io10_opt") + "/lake"
    base.repartition(col("day")).write.mode("overwrite").partitionBy("day").parquet(lake)
    val batch = base.filter(col("day") === "2024-01-05")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try batch.repartition(col("day"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(lake)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(spark.read.parquet(lake).select("day").distinct().count() == allDays)
  }

  /** j11's window-pass pick must equal the brute-force nearest click:
    * for every purchase, argmin |Δt| over ALL the user's clicks within
    * ±1h, ties to the earlier click — recomputed on the driver.
    */
  test("j11 window-pass nearest click equals the brute-force argmin") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._1)
    val hour = 3600000000L
    val expect = ev.filter(_._4 == "purchase").flatMap { case (u, pid, pts, _) =>
      val clicks = clicksByUser.getOrElse(u, Array.empty)
        .map { case (_, cid, cts, _) => (cts, cid) }
      // mirror the window EXACTLY (ADVICE r8): prev = LAST click at or
      // before the purchase in (ts, event_id) order — equal-ts clicks
      // resolve to the HIGHEST id on the prev side — next = FIRST click
      // after (lowest id); then prev wins a distance tie (dp <= dn).
      // The old minBy((d, cts, cid)) picked the LOWEST id among
      // same-ts equal-distance clicks — a latent mismatch.
      val prevC = clicks.filter(c => c._1 < pts || (c._1 == pts && c._2 < pid))
        .sortBy(identity).lastOption
      val nextC = clicks.filter(c => c._1 > pts || (c._1 == pts && c._2 > pid))
        .sortBy(identity).headOption
      val dp = prevC.map(pts - _._1)
      val dn = nextC.map(_._1 - pts)
      if (dp.exists(_ <= hour) &&
          (dn.isEmpty || dn.get > hour || dp.get <= dn.get))
        Some((pid, prevC.get._2, dp.get))
      else if (dn.exists(_ <= hour)) Some((pid, nextC.get._2, dn.get))
      else None
    }.toSet
    val got = SparkEntry.queries("j11_nearest_event")(spark, dir)
      .select("event_id", "click_id", "dist_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  /** a33's weekday formula must match the real calendar (2024-01-01
    * was a Monday), and per-type weekday counts must partition the
    * type's total.
    */
  test("a33 epoch-day weekday formula matches the calendar; counts partition") {
    val dowOfJan1 = spark.sql(
      "SELECT (unix_micros(TIMESTAMP '2024-01-01 00:00:00') div 86400000000 + 4) % 7")
      .collect()(0).getLong(0)
    assert(dowOfJan1 == 1L, "2024-01-01 must be Monday (dow=1, 0=Sunday)")
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("a33_seasonal_index")(spark, dir).collect()
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 6))
    val byType = out.groupBy(_.getString(0))
    val totals = Tables.events(spark, dir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { case (t, rows) =>
      assert(rows.map(_.getLong(2)).sum == totals(t), s"weekday counts don't partition $t")
    }
  }

  /** g10's exact-rational modularity must respect the theory bounds
    * and its internal identities (Σd_c = 2m, intra ≤ m).
    */
  test("g10 modularity: bounds and degree-sum identity hold") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("g10_modularity")(spark, dir).collect()(0)
    val (m, nc, intra, qNum, qDen, q) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    assert(qDen == 4 * m * m)
    assert(intra <= m && nc >= 1)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of bounds")
    assert(math.abs(q - qNum.toDouble / qDen.toDouble) == 0.0)
  }

  /** e19's store fidelity: retrieval off the persisted index must
    * return exactly the in-query e16 answer, row for row, at every probe
    * width — any loss in the written codes, clusters, or centroids shows
    * here. The e21 sweep must equal independent single-width runs.
    */
  test("e19 stored-index retrieval equals the in-query IVF-PQ answer") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val store = graft.queries.Dsl.tempDir("e19_spec") + "/index"
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val curve = Similarity.knnIvfPqAdcCurve(emb, "vec_id", "embedding",
        col("id") >= 8 && col("id") < 12, col("id") < 8, col("id") < 5, 10, Seq(1, 2, 4))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => org.apache.spark.sql.Row(r.toSeq.tail: _*).toString).toSet)
    for (nprobe <- Seq(1, 2, 4)) {
      val stored = Similarity.ivfPqStoredTopK(spark, store,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe)
        .collect().map(_.toString).toSet
      val inQuery = Similarity.knnIvfPqAdc(emb, "vec_id", "embedding",
          col("id") >= 8 && col("id") < 12, col("id") < 8, col("id") < 5, 10, nprobe)
        .collect().map(_.toString).toSet
      assert(inQuery.nonEmpty, s"nprobe=$nprobe")
      assert(stored == inQuery, s"nprobe=$nprobe")
      assert(curve(nprobe.toLong) == inQuery, s"nprobe=$nprobe")
    }
  }

  /** w09 with a 0-day trailing window degenerates to plain daily
    * distinct users — pins the explode-window construction against the
    * direct groupBy it generalizes.
    */
  test("w09 trailing window of one day equals daily distinct users") {
    val dir = "/root/testdata/sf0.001"
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val direct = ud.groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      .collect().map(_.toString).toSet
    val viaExplode = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 0))).as("wday"))
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .collect().map(_.toString).toSet
    assert(viaExplode == direct)
  }

  /** a36's histogram must hold over the FULL signed domain (ADVICE r8:
    * the pre-fix string bucketing glued '-' into the digit prefix,
    * misordering the cumulative walk): sign-split buckets, value-order
    * cumulative sum, negative buckets reporting their toward-zero end —
    * checked against a driver-side brute force of the same semantics,
    * and the reported bound must dominate the exact percentile.
    */
  test("a36 histogram is correct on negative/zero cents (signed-domain brute force)") {
    import spark.implicits._
    val vals: Seq[Long] = Seq(-987654L, -100L, -99L, -50L, -12L, -1L, 0L, 1L,
      9L, 10L, 55L, 99L, 100L, 101L, 999L, 1000L, 123456L, 999999L)
    val df = Seq("a", "b").flatMap(t => vals.map(v => (t, v)))
      .toDF("event_type", "cents")
    val got = graft.queries.AnalyticsQueries.hdrCentsPercentiles(df)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def pow10(e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * 10)
    def bucket(c: Long): (Int, Int, Long) = {
      val s = math.abs(c).toString
      (java.lang.Long.signum(c), s.length, s.take(2).toLong)
    }
    def ub(b: (Int, Int, Long)): Long = b match {
      case (sgn, m, sub) =>
        if (sgn >= 0) { if (m <= 2) sub else (sub + 1) * pow10(m - 2) - 1 }
        else { if (m <= 2) -sub else -(sub * pow10(m - 2)) }
    }
    val buckets = vals.groupBy(bucket).toSeq
      .map { case (b, vs) => (b, vs.size.toLong) }
      .sortBy { case ((sgn, m, sub), _) => (sgn, sgn * m, sgn * sub) }
    // the bucket walk must be ascending in VALUE: every bucket's upper
    // bound strictly below the next bucket's
    buckets.map(b => ub(b._1)).sliding(2).foreach {
      case Seq(a, b) => assert(a < b, s"bucket bounds out of value order: $a >= $b")
      case _ =>
    }
    val n = vals.size.toLong
    def pick(q: Int): Long = {
      val thr = (q * n + 99) / 100
      val cums = buckets.scanLeft(0L) { case (acc, (_, c)) => acc + c }.tail
      ub(buckets(cums.indexWhere(_ >= thr))._1)
    }
    val sorted = vals.sorted
    def exact(q: Int): Long = sorted(((q * n + 99) / 100 - 1).toInt)
    for (t <- Seq("a", "b")) {
      val (gn, p50, p95, p99) = got(t)
      assert(gn == n)
      assert((p50, p95, p99) == (pick(50), pick(95), pick(99)),
        s"histogram picks diverge from brute force for $t")
    }
    // the bucket bound never understates the exact percentile
    for (q <- Seq(50, 95, 99)) assert(pick(q) >= exact(q))
  }

  test("t28 vocab coverage ≡ brute force, incl. vocab smaller than k and count ties") {
    // engineered ties (b and a swap between count and lexical order) and
    // a vocab (6) far below the largest k
    val docs = Seq((1L, "a a a b b c"), (2L, "b c d d e a"), (3L, "f f a b"))
      .toDF("doc_id", "text")
    val got = graft.queries.TextQueries.vocabCoverage(docs, Seq(2, 4, 100), 100)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val toks = Seq("a a a b b c", "b c d d e a", "f f a b")
      .flatMap(_.split(" ").toSeq)
    val byTok = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }
    val total = toks.size.toLong
    val expected = Seq(2, 4, 100).map { k =>
      val covered = byTok.take(k).map(_._2).sum
      (k, covered, total, covered * 1000000L / total)
    }
    assert(got == expected, s"got $got expected $expected")
    // k beyond the vocab covers everything
    assert(got.last._2 == total && got.last._4 == 1000000L)
  }

  test("t29 LM doc score ≡ brute-force smoothed bigram mean (0/1-bigram docs excluded)") {
    val texts = Map(1L -> "a b a b", 2L -> "a", 4L -> "b a", 5L -> "c c c")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = graft.queries.TextQueries.lmDocScore(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // brute: unigrams over ALL docs (the 1-token doc counts toward the
    // LM even though it gets no score row)
    val uni = texts.values.flatMap(_.split(" ")).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val bi = texts.view.mapValues(_.split(" ").toSeq.sliding(2).toSeq
      .filter(_.size == 2)).toMap
    val c12 = bi.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = bi.collect { case (id, bs) if bs.nonEmpty =>
      val ps = bs.map(b => 1000000L * (c12(b) + 1) / (uni(b.head) + v))
      id -> (bs.size.toLong, ps.sum / bs.size)
    }.toMap
    assert(got == expected, s"got $got expected $expected")
    assert(!got.contains(2L), "a 1-token doc must not get a score row")
  }

  test("x20 packed-key argmin decodes the true (priority, id) minimum at the 2^32 boundary") {
    val P = 4294967296L
    val rows = Seq(
      // component 1: priority tie broken by id; id at the 2^32-1 boundary
      (1L, 3L, P - 1), (1L, 3L, 7L), (1L, 9L, 1L),
      // component 2: lower priority wins over a much smaller id
      (2L, 0L, P - 1), (2L, 1L, 0L),
      // component 3: single member
      (3L, 99L, 42L)).toDF("component", "pri", "doc_id")
    val got = rows.select(col("component"), (col("pri") * P + col("doc_id")).as("k"))
      .groupBy("component").agg(min("k").as("k"))
      .select(col("component"), expr("k div " + P).as("pri"),
        expr("k % " + P).as("doc_id"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val brute = Seq((1L, 3L, P - 1), (1L, 3L, 7L), (1L, 9L, 1L),
        (2L, 0L, P - 1), (2L, 1L, 0L), (3L, 99L, 42L))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).min).toMap
    assert(got == brute, s"got $got expected $brute")
  }

  test("streaming CMS merge is additive and redelivery-idempotent (sm09)") {
    import graft.streaming.StreamSketch
    val base = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("cms_spec"))
    val streamed = base.resolve("streamed").toString
    val onepass = base.resolve("onepass").toString
    val all = (1 to 600).map(i => s"k${(i * i) % 53}")
    val slices = all.grouped(200).toSeq
    slices.zipWithIndex.foreach { case (sl, id) =>
      StreamSketch.mergeBatch(sl.toDF("item"), id.toLong, "item", streamed)
    }
    StreamSketch.mergeBatch(all.toDF("item"), 0L, "item", onepass)
    def cells(store: String) =
      StreamSketch.readMerged(spark, store)
        .as[(Int, Long, Long)].collect().toSet
    // additivity: three merged partials == the single batch pass
    assert(cells(streamed) == cells(onepass))
    // redelivery: re-running a batch overwrites its own partition, so the
    // merged sketch is unchanged (exactly-once under foreachBatch retry)
    StreamSketch.mergeBatch(slices(1).toDF("item"), 1L, "item", streamed)
    assert(cells(streamed) == cells(onepass))
  }

  /** sm09's retention story: without compaction the store grows one
    * `batch=<id>` directory per micro-batch forever (the io06 small-file
    * failure, ~500k dirs at a year of minutely batches). Compaction
    * folds ids strictly behind the committed frontier into a `batch=-1`
    * base slice — the additive merge the gate already proves — while the
    * frontier batch stays live so a foreachBatch redelivery still lands
    * in its own partition.
    */
  test("sm09 compaction folds committed batches into the base slice; merge and redelivery unchanged") {
    import graft.streaming.StreamSketch
    val root = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("cms_compact"))
    val store = root.resolve("store").toString
    val all = (1 to 900).map(i => s"k${(i * 7) % 41}")
    val slices = all.grouped(300).toSeq // batches 0, 1, 2
    slices.zipWithIndex.foreach { case (sl, id) =>
      StreamSketch.mergeBatch(sl.toDF("item"), id.toLong, "item", store)
    }
    def cells() = StreamSketch.readMerged(spark, store)
      .as[(Int, Long, Long)].collect().toSet
    def dirs() = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val before = cells()
    // frontier = 2: batch 2 is the one a crash could redeliver; fold 0+1
    StreamSketch.compact(spark, store, 2L)
    assert(cells() == before, "compaction must not change the merged sketch")
    assert(dirs() == Set("batch=-1", "batch=2"), s"got ${dirs()}")
    // a redelivered frontier batch still overwrites its own partition
    StreamSketch.mergeBatch(slices(2).toDF("item"), 2L, "item", store)
    assert(cells() == before)
    // frontier advances past a new batch: everything folds into the base
    StreamSketch.mergeBatch(slices(0).toDF("item"), 3L, "item", store)
    StreamSketch.compact(spark, store, 4L)
    assert(dirs() == Set("batch=-1"), s"got ${dirs()}")
    val onepass = root.resolve("one").toString
    StreamSketch.mergeBatch((all ++ slices(0)).toDF("item"), 0L, "item", onepass)
    assert(cells() == StreamSketch.readMerged(spark, onepass)
      .as[(Int, Long, Long)].collect().toSet)
    // compacting with no tail behind the frontier is a no-op
    StreamSketch.compact(spark, store, 10L)
    assert(dirs() == Set("batch=-1") && cells() != Set.empty)
  }

  /** Crash-state convergence for sm09 compaction (single compactor, the
    * IncrementalNearDup recovery discipline): before the marker commits
    * the pending merge is garbage and the live store is intact; after,
    * the pending/base slice is authoritative and the install replays.
    * Readers run recovery first, so neither state is ever visible.
    */
  test("sm09 compaction recovery converges from both crash states without dropping cells") {
    import graft.streaming.StreamSketch
    def build(): (String, Set[(Int, Long, Long)]) = {
      val store = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("cms_crash"))
        .resolve("store").toString
      (0 to 2).foreach { id =>
        StreamSketch.mergeBatch(
          (1 to 200).map(i => s"k${(i * (id + 3)) % 37}").toDF("item"),
          id.toLong, "item", store)
      }
      (store, StreamSketch.readMerged(spark, store)
        .as[(Int, Long, Long)].collect().toSet)
    }
    def dirs(store: String) = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet

    // crash BEFORE the marker: pending exists, no marker → discarded,
    // every live partition intact
    val (s1, m1) = build()
    spark.read.parquet(s1).filter(col("batch") < 2)
      .groupBy("r", "bucket").agg(sum("bsum").as("bsum"))
      .coalesce(1).write.parquet(s"$s1/_compact_pending")
    assert(StreamSketch.readMerged(spark, s1)
      .as[(Int, Long, Long)].collect().toSet == m1)
    assert(!new java.io.File(s"$s1/_compact_pending").exists())
    assert(dirs(s1) == Set("batch=0", "batch=1", "batch=2"))

    // crash AFTER the marker, before the install: pending + marker →
    // recovery completes the swap; merge unchanged, tail collapsed
    val (s2, m2) = build()
    spark.read.parquet(s2).filter(col("batch") < 2)
      .groupBy("r", "bucket").agg(sum("bsum").as("bsum"))
      .coalesce(1).write.parquet(s"$s2/_compact_pending")
    java.nio.file.Files.write(java.nio.file.Paths.get(s2, "_compact_upto"),
      "keep batch=-1\ndrop batch=0\ndrop batch=1".getBytes)
    assert(StreamSketch.readMerged(spark, s2)
      .as[(Int, Long, Long)].collect().toSet == m2)
    assert(dirs(s2) == Set("batch=-1", "batch=2"))
    assert(!new java.io.File(s"$s2/_compact_upto").exists())
  }

  /** t33's update-rule invariants on the real table: renormalized
    * weights must sum to 10⁶ ppm up to per-source floor dust (< nsrc),
    * every applied factor must sit inside the [0.1×, 2.0×] trust
    * region, and the update must be order-consistent: a source with
    * excess above another's gets the weakly-larger new weight (equal
    * w0 for all sources).
    */
  test("t33 mixture reweighting: ppm normalization, trust region, monotonicity") {
    val rows = SparkEntry.queries("t33_mixture_reweight")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val total = rows.map(_._6).sum
    assert(total <= 1000000L && total > 1000000L - rows.length,
      s"w1 ppm sum $total out of floor-dust band")
    rows.foreach { case (src, _, _, excess, w0, w1) =>
      // reconstruct the applied factor bound: w1_raw = w0 * clamp(...)
      val factor = 1000000L + 10000L * excess
      val clamped = math.max(100000L, math.min(2000000L, factor))
      assert(clamped >= 100000L && clamped <= 2000000L, src)
      assert(w0 == rows.head._5, "uniform start")
    }
    val byExcess = rows.sortBy(_._4).map(_._6)
    assert(byExcess.zip(byExcess.tail).forall { case (a, b) => a <= b },
      s"weights must be monotone in excess: ${rows.sortBy(_._4).toSeq}")
  }

  /** t35's bucket structure on the real table: per language exactly the
    * populated quartiles appear (all 4 when n ≥ 4), bucket sizes differ
    * by at most 1 from n/4 (the exact-rank equidepth property), kept
    * flags drop exactly bucket 0, and score ranges are non-overlapping
    * and ascending with the bucket index.
    */
  test("t35 perplexity buckets: equidepth, ordered ranges, tail-drop keep flags") {
    val rows = SparkEntry.queries("t35_perplexity_buckets")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long, Int, Long)].collect()
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (lang, bs) =>
      val sorted = bs.sortBy(_._2)
      val n = sorted.map(_._3).sum
      if (n >= 4) assert(sorted.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L), lang)
      val sizes = sorted.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang sizes ${sizes.toSeq}")
      sorted.foreach { r => assert((r._7 == 1) == (r._2 >= 1), s"$lang kept flag") }
      // ranges ascend without overlap (ties can touch at the boundary)
      sorted.sliding(2).foreach {
        case Array(lo, hi) => assert(lo._6 <= hi._5, s"$lang overlap")
        case _ =>
      }
    }
  }

  /** g13's walks on the real graph: every step follows a real edge of
    * the CAPPED adjacency (the transition rule can't invent neighbors),
    * and the whole corpus of walks is deterministic across two
    * independent executions (no RNG state anywhere).
    */
  test("g13 random walks follow capped-adjacency edges and are rerun-deterministic") {
    val sf = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("g13_random_walks")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val a = run()
    assert(a.nonEmpty)
    assert(a == run(), "walks must be a pure function of the graph")
    // recover the per-step nodes from the fingerprint of a few walks by
    // brute-forcing the capped adjacency (fp folds (node*4099+t))
    val adjAll = Tables.events(spark, sf).select(
        col("user_id").as("src"),
        (regexp_extract(col("props"), "[0-9]+", 0).cast("long") % 150).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .as[(Long, Long)].collect()
    val adj = (adjAll.map(e => e._1 -> e._2) ++ adjAll.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(16).toSet).toMap
    a.take(10).foreach { case (start, end, fp) =>
      // walk the graph choosing ANY neighbor sequence that reproduces fp
      def feasible(cur: Long, t: Int, acc: Long): Boolean =
        if (t > 3) acc == fp && cur == end
        else adj.getOrElse(cur, Set.empty).exists(nb =>
          feasible(nb, t + 1, acc ^ (nb * 4099 + t)))
      assert(feasible(start, 1, 0L), s"walk from $start not on the capped graph")
    }
  }

  /** x22's reason to exist, shown both ways on a corpus of 40 exact
    * near-dup pairs: the doc-grain hash split (d15 applied naively)
    * separates SOME pair across train/eval — eval contamination by
    * construction — while the cluster-grain split straddles zero
    * clusters, because membership is a pure function of the cluster
    * key.
    */
  test("x22: cluster-grain split straddles zero near-dup clusters; doc-grain split leaks") {
    import graft.operators.{Dedup, Sampling}
    val docs = (0 until 40).flatMap { p =>
      val text = (0 until 6).map(t => s"w${p}x$t").mkString(" ")
      Seq((2L * p, text), (2L * p + 1, text))
    }.toDF("doc_id", "text")
    val pairs = Dedup.lshComponentEdges(docs, "doc_id", "text", 2, 16, 8)
    val comps = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    // every pair clustered (identical text shares all bands)
    assert(comps.select(countDistinct("comp")).as[Long].head() == 40L)
    val keyed = docs.select("doc_id")
      .join(comps.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("ckey"))
    def straddling(grain: org.apache.spark.sql.Column): Long = keyed
      .select(col("ckey"),
        when(Sampling.hashBucket(concat(grain.cast("string"), lit("#csplit")))
          < 800000L, "train").otherwise("eval").as("split"))
      .groupBy("ckey").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling(col("ckey")) == 0L, "cluster-grain split must never straddle")
    assert(straddling(col("doc_id")) > 0L,
      "doc-grain split should separate at least one of 40 near-dup pairs")
  }

  /** e24's composed MaxSim (stored-ANN shortlist → exact re-rank) on a
    * cluster-SEPARATED fixture: four orthogonal 16-dim blocks, every
    * doc's tokens in one block, ≥5 docs per block — so the probe set
    * provably covers every top-5 doc and the composed form must equal
    * corpus-wide e22 exactly. Plus the gating half: a planted doc whose
    * tokens carry a real query-block component (positive corpus-wide
    * MaxSim) but ROUTE to an unprobed cluster (their dominant block) —
    * the composed form must never score it. That asymmetry (dot-near,
    * L2-routed-away) is precisely what "a near doc outside the probe
    * set must not score" means.
    */
  test("e24 composed MaxSim == corpus-wide e22 on separated clusters; out-of-probe near doc never scores") {
    import graft.operators.Similarity
    val dims = 64
    def block(j: Int, v: Float, extra: Map[Int, Float] = Map.empty): Array[Float] = {
      val a = Array.fill(dims)(0.0f)
      (16 * j until 16 * j + 16).foreach(i => a(i) = v)
      extra.foreach { case (jj, vv) =>
        (16 * jj until 16 * jj + 16).foreach(i => a(i) = vv) }
      a
    }
    val docMod = 25L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    // PQ codebook ids 0..7 (small magnitudes; quality is irrelevant —
    // the shortlist k covers every probed vector)
    (0 to 7).foreach(i => rows += ((i.toLong, block(i % 4, 0.1f + 0.02f * i))))
    // coarse centroids ids 8..11, one per block
    (0 to 3).foreach(j => rows += ((8L + j, block(j, 0.8f))))
    // corpus docs 2..21 (5 per cluster), 3 strong tokens each
    for (d <- 2 to 21; t <- 1 to 3) {
      val id = d + 25 * t
      rows += ((id.toLong, block(d % 4, 0.8f + 0.003f * (id % 5))))
    }
    // query docs 0 (cluster 0) and 1 (cluster 1)
    for (d <- 0 to 1; t <- 1 to 3) {
      val id = d + 25 * t
      rows += ((id.toLong, block(d, 0.8f + 0.003f * (id % 5))))
    }
    // the planted near doc 22: a real B0 component (positive MaxSim vs
    // query doc 0) dominated by B3 → every token L2-routes to c11,
    // which query-doc-0 tokens (probes = c8, then tie→c9) never probe
    for (t <- 1 to 3)
      rows += ((22L + 25 * t, block(0, 0.4f, Map(3 -> 0.7f))))
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val store = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("e24_fix"))
      .toString + "/index"
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val qTokens = emb.filter(pmod(col("vec_id"), lit(docMod)) < 2)
    val short = Similarity.ivfPqStoredTopK(spark, store, qTokens,
      "vec_id", "embedding", k = 1000, nprobe = 2)
    val cand = short.select(pmod(col("q_id"), lit(docMod)).as("qd"),
        pmod(col("n_id"), lit(docMod)).as("cd"))
      .filter(col("cd") =!= col("qd")).distinct()
    val candSet = cand.as[(Long, Long)].collect().toSet
    val composed = Similarity.maxSimTopKShortlist(emb, "vec_id", "embedding",
        docMod, 2, cand, 5)
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    val corpusWide = Similarity.maxSimTopK(emb, "vec_id", "embedding",
        docMod, 2, 25)
      .as[(Long, Int, Long, Long)].collect().toSeq
    // separation ⇒ the shortlist covers every top-5 doc: exact equality
    assert(composed == corpusWide.filter(_._2 <= 5).sortBy(r => (r._1, r._2)),
      s"composed=$composed corpusTop5=${corpusWide.filter(_._2 <= 5)}")
    // the planted doc scores corpus-wide (it IS MaxSim-near)...
    val planted = corpusWide.find(r => r._1 == 0L && r._3 == 22L)
    assert(planted.exists(_._4 > 0L), s"planted doc missing: $corpusWide")
    // ...but its cluster is never probed, so the composed form cannot
    // score it — the candidate set and the output both exclude it
    assert(!candSet.contains((0L, 22L)), s"candidates leaked doc 22: $candSet")
    assert(!composed.exists(r => r._3 == 22L))
  }

  /** e25's distributed farthest-point sampling vs a from-scratch driver
    * implementation of the same greedy (seed = min id, argmax of
    * min-distance with id tie-break, exact integer grid) — selection
    * order, selection distances, assignment counts, and radii all pin.
    */
  test("e25 greedy k-center equals the naive driver computation at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("e25_kcenter_coreset")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) =>
        id -> e.map(x => math.floor(x.toDouble * 127).toLong) }
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var centers = Vector((0L, vecs.head._1, vecs.head._2, 0L))
    var dist = vecs.map { case (id, q) => (id, q, d2(q, vecs.head._2)) }
    for (r <- 1 to 3) {
      val next = dist.minBy { case (id, _, dd) => (-dd, id) }
      centers :+= ((r.toLong, next._1, next._2, next._3))
      dist = dist.map { case (id, q, dd) => (id, q, math.min(dd, d2(q, next._2))) }
    }
    val expected = centers.map { case (r, cid, _, sel) =>
      // assignment tie-break is (distance, center id) — c._2 is the id
      val assigned = vecs.map { case (_, q) =>
        centers.map(c => (d2(q, c._3), c._2)).min }
        .filter(_._2 == cid)
      (r, cid, sel, assigned.size.toLong, assigned.map(_._1).max)
    }
    assert(got == expected, s"got $got expected $expected")
  }

  test("e22 relational MaxSim equals the naive driver computation at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("e22_maxsim_late_interaction")(spark, sf)
      .as[(Long, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def dotF(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i =>
        math.floor(a(i).toDouble * b(i).toDouble * 1e15).toLong).sum
    val byDoc = vecs.groupBy { case (id, _) => id % 100 }
    val expected = byDoc.keys.filter(_ < 2).flatMap { qd =>
      val scores = byDoc.collect { case (cd, dvs) if cd != qd =>
        cd -> byDoc(qd).map { case (_, qv) =>
          dvs.map { case (_, dv) => dotF(qv, dv) }.max
        }.sum
      }.toSeq.sortBy { case (cd, s) => (-s, cd) }.take(5)
      scores.zipWithIndex.map { case ((cd, s), i) => (qd, i + 1) -> (cd, s) }
    }.toMap
    assert(got == expected)
  }

  test("g12 GNN round equals the naive driver computation at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g12_gnn_mean_agg_round")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    val edges = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id AS src",
        "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) % 150 AS dst")
      .as[(Long, Long)].collect()
    val und = edges.filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet
    val adj = (und.toSeq.map(e => e._1 -> e._2) ++
      und.toSeq.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(16)).toMap
    val n = emb.size.toLong
    val expected = adj.map { case (node, nbs) =>
      val feats = nbs.map(nb => emb(nb % n))
      val dims = feats.head.indices
      val means = dims.map { d =>
        val s = feats.map(f =>
          math.floor(f(d).toDouble * 1000000).toLong).sum
        s / nbs.size // Long division truncates toward zero, like div
      }
      val fp = dims.map(d => means(d) * 4099 + d).reduce(_ ^ _)
      node -> (nbs.size.toLong, means(0), fp)
    }
    assert(got == expected)
  }

  test("e23 flags are threshold-consistent; x21 receipts cover every subject × table") {
    val sf = "/root/testdata/sf0.001"
    val e23 = SparkEntry.queries("e23_semantic_decontamination")(spark, sf)
      .as[(Long, Long, Double, Long)].collect()
    e23.foreach { case (id, hits, maxCos, _) =>
      assert(hits > 0 && maxCos >= 0.3, s"vec $id flagged with max $maxCos")
    }
    val x21 = SparkEntry.queries("x21_subject_access_export")(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    val subjects = x21.map(_._1).toSet
    val byTable = x21.groupBy(_._2)
    assert(byTable.keySet == Set("events", "orders", "customer"))
    byTable.values.foreach(rows =>
      assert(rows.map(_._1).toSet == subjects, "a table misses a subject"))
    // a subject's events receipt is never zero (the subject set derives
    // from events), and the zero-rows contract means id_sum is 0 there
    x21.filter(_._2 == "events").foreach(r => assert(r._3 > 0))
    x21.foreach { case (_, _, nRows, idSum) =>
      if (nRows == 0) assert(idSum == 0) }
  }

  test("d17 takes exactly min(k, stratum size) per stratum; g11 scores are bounded non-edges") {
    val sf = "/root/testdata/sf0.001"
    val sizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = SparkEntry.queries("d17_stratified_exact_sample")(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(got.keySet == sizes.keySet)
    got.foreach { case (lang, n) => assert(n == math.min(30L, sizes(lang)), lang) }

    val g11 = SparkEntry.queries("g11_link_prediction")(spark, sf)
      .select("u", "v", "jaccard_ppm").as[(Long, Long, Long)].collect()
    assert(g11.nonEmpty)
    g11.foreach { case (u, v, j) =>
      assert(u < v && j > 0 && j <= 1000000L, s"($u,$v,$j)")
    }
    val und = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id AS src",
        "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) % 150 AS dst")
      .filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .distinct().as[(Long, Long)].collect().toSet
    g11.foreach { case (u, v, _) =>
      assert(!und.contains((u, v)), s"predicted pair ($u,$v) already an edge")
    }
  }

  test("x23 forget: codes purged exactly, idempotent, emptied cluster dir dropped, unretrievable") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val store = graft.queries.Dsl.tempDir("x23spec")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val before = spark.read.parquet(s"$store/codes")
      .select("vec_id", "subspace", "code", "cluster").collect()
    val delIds = emb.filter(col("vec_id") % 10 === 7).select("vec_id")
    val nDel = delIds.count()
    Similarity.forgetFromIvfPqStore(spark, store, delIds)
    val after = spark.read.parquet(s"$store/codes")
    // exactly the deleted ids' rows gone (4 code rows per vector), the rest intact
    assert(after.count() == before.length - 4 * nDel)
    assert(after.filter(col("vec_id") % 10 === 7).count() == 0)
    // idempotent: re-running the same forget changes nothing
    Similarity.forgetFromIvfPqStore(spark, store, delIds)
    assert(after.count() == before.length - 4 * nDel)
    // deleted ids are unretrievable through the unmodified search
    val got = Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 2)
      .select("n_id").as[Long].collect()
    assert(got.forall(_ % 10 != 7))
    // emptying a whole cluster drops its directory (the dynamic-overwrite
    // blind spot the operator handles explicitly)
    // partition discovery types `cluster` as INT — normalize
    val someCluster = after.select(col("cluster").cast("long")).head().getLong(0)
    val clusterIds = after.filter(col("cluster") === someCluster).select("vec_id").distinct()
    Similarity.forgetFromIvfPqStore(spark, store, clusterIds)
    assert(!new java.io.File(s"$store/codes/cluster=$someCluster").exists())
    assert(spark.read.parquet(s"$store/codes")
      .filter(col("cluster") === someCluster).count() == 0)
  }

  test("e28 filtered ANN: all-pass filter ≡ unfiltered; strict filter excludes every ineligible id") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val store = graft.queries.Dsl.tempDir("e28spec")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val q = emb.filter(col("vec_id") < 5)
    val plain = Similarity.ivfPqStoredTopK(spark, store, q, "vec_id", "embedding", 10, 2)
      .collect().map(_.toSeq).toSet
    val allPass = Similarity.ivfPqStoredTopK(spark, store, q, "vec_id", "embedding", 10, 2,
        allowed = Some(emb.select("vec_id")))
      .collect().map(_.toSeq).toSet
    assert(allPass == plain, "an all-pass filter must not change the answer")
    val evens = Similarity.ivfPqStoredTopK(spark, store, q, "vec_id", "embedding", 10, 2,
        allowed = Some(emb.filter(col("label") % 2 === 0).select("vec_id")))
    val evenSet = emb.filter(col("label") % 2 === 0)
      .select("vec_id").as[Long].collect().toSet
    val gotIds = evens.select("n_id").as[Long].collect()
    assert(gotIds.nonEmpty && gotIds.forall(evenSet.contains))
    // pre-filter semantics: every query still gets k eligible answers
    // when enough eligible candidates exist in the probed clusters
    val perQ = evens.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(perQ.values.forall(_ == 10), s"under-filled filtered top-k: $perQ")
  }

  test("e29 admit: store equals from-scratch build row-for-row; ledger makes re-admit a no-op") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val isBatch = col("vec_id") >= 12 && col("vec_id") % 7 === 3
    val incr = graft.queries.Dsl.tempDir("e29incr")
    Similarity.buildIvfPqStore(emb.filter(!isBatch), "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, incr)
    Similarity.admitIvfPqBatch(spark, incr, emb.filter(isBatch), "vec_id", "embedding", 1L)
    val full = graft.queries.Dsl.tempDir("e29full")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, full)
    def rows(s: String) = spark.read.parquet(s"$s/codes")
      .select("vec_id", "subspace", "code", "dist_q", "cluster")
      .collect().map(_.toSeq).toSet
    val incrRows = rows(incr)
    assert(incrRows == rows(full),
      "incrementally-admitted store must equal the from-scratch build")
    // ledger: same batch id re-admitted is a no-op, not a duplicate
    Similarity.admitIvfPqBatch(spark, incr, emb.filter(isBatch), "vec_id", "embedding", 1L)
    assert(rows(incr) == incrRows)
    assert(spark.read.parquet(s"$incr/codes").count() == incrRows.size)
    // forget-then-reingest: forget does NOT clear the ledger (it cannot
    // know batch ids), so a same-id re-admission no-ops until the
    // deliberate clearAdmissionLedger — after which it restores the
    // store exactly
    Similarity.forgetFromIvfPqStore(spark, incr,
      emb.filter(isBatch).select("vec_id"))
    Similarity.admitIvfPqBatch(spark, incr, emb.filter(isBatch), "vec_id", "embedding", 1L)
    assert(rows(incr) != incrRows, "stale marker must block the re-admit")
    Similarity.clearAdmissionLedger(spark, incr, 1L)
    Similarity.admitIvfPqBatch(spark, incr, emb.filter(isBatch), "vec_id", "embedding", 1L)
    assert(rows(incr) == incrRows, "cleared ledger re-admit must restore the store")
  }

  test("e29 twin: admission encodes a null id and an id naming two vectors as a build does") {
    import graft.operators.Similarity
    val rnd = new Random(29)
    val base = (0L until 40L).map(i => i -> Seq.fill(64)(rnd.nextGaussian().toFloat))
      .toDF("vec_id", "embedding")
    // copies of centroids 8 and 9 under one id (they route to different
    // clusters on their own), and a copy of vector 20 under a null id
    val extra = base.filter(col("vec_id").isin(8L, 9L, 20L))
      .select(when(col("vec_id") === 20L, lit(null).cast("long")).otherwise(lit(7000L)).as("vec_id"),
        col("embedding"))
    val incr = graft.queries.Dsl.tempDir("e29twin_incr")
    val full = graft.queries.Dsl.tempDir("e29twin_full")
    Similarity.buildIvfPqStore(base, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, incr)
    Similarity.admitIvfPqBatch(spark, incr, extra, "vec_id", "embedding", 1L)
    Similarity.buildIvfPqStore(base.unionByName(extra), "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, full)
    def rows(s: String) = spark.read.parquet(s"$s/codes")
      .select("vec_id", "subspace", "code", "dist_q", "cluster")
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val admitted = rows(incr).filter(_.startsWith("7000,"))
    assert(admitted.size == 2 * 4, s"two vectors × 4 subspaces: $admitted")
    assert(admitted.map(_.split(",").last).distinct.size == 1, s"one cluster per id: $admitted")
    assert(rows(incr) == rows(full))
  }

  test("e27 matryoshka: the full-width prefix is exact (recall 1.0); narrower prefixes bounded") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val truth = Similarity.knnBrute(emb, "vec_id", "embedding", col("id") < 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p64 = Similarity.knnBrute(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding")),
        "vec_id", "embedding", col("id") < 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p64 == truth, "prefix=dims must reproduce the exact answer")
    val rec = SparkEntry.queries("e27_matryoshka_recall")(spark, sf)
      .select("prefix_dims", "recall").as[(Long, Double)].collect()
    assert(rec.length == 10)
    rec.foreach { case (_, r) => assert(r >= 0.0 && r <= 1.0) }
  }

  test("d19 curriculum shards: each decile deals ±1-even hands across all 8 shards") {
    val sf = "/root/testdata/sf0.001"
    val cells = SparkEntry.queries("d19_curriculum_shards")(spark, sf)
      .select("shard", "decile", "n_docs").as[(Long, Long, Long)].collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(cells.map(_._3).sum == total, "shard manifest must conserve documents")
    cells.groupBy(_._2).foreach { case (dec, rows) =>
      assert(rows.length == 8, s"decile $dec missing shards")
      val counts = rows.map(_._3)
      assert(counts.max - counts.min <= 1,
        s"decile $dec unbalanced across shards: ${counts.mkString(",")}")
    }
  }

  test("t37 pairwise overlap equals direct per-pair set Jaccard (spot pairs)") {
    val sf = "/root/testdata/sf0.001"
    import graft.functions.TextFunctions.{shingles, tokens}
    val got = SparkEntry.queries("t37_cross_source_overlap")(spark, sf)
      .select("s1", "s2", "n_inter", "jaccard_ppm")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def shingleSet(src: String): Set[String] = docs.filter(col("source") === src)
      .select(explode(shingles(tokens(col("text")), 4)).as("s"))
      .distinct().as[String].collect().toSet
    for ((a, b) <- Seq(("src0", "src1"), ("src2", "src9"), ("src14", "src5"))) {
      val (s1, s2) = if (a < b) (a, b) else (b, a)
      val (sa, sb) = (shingleSet(s1), shingleSet(s2))
      val inter = (sa & sb).size.toLong
      val expectPpm =
        if ((sa | sb).isEmpty) 0L else inter * 1000000L / (sa | sb).size
      assert(got((s1, s2)) == ((inter, expectPpm)), s"pair ($s1,$s2)")
    }
  }

  test("w12 MAD flags a planted outlier day and nothing else on a quiet series") {
    // synthetic events table: 29 quiet days + one 10× day
    val dir = graft.queries.Dsl.tempDir("w12spec")
    val rows = (0 until 30).flatMap { d =>
      val ts = Timestamp.valueOf(f"2025-03-${d + 1}%02d 12:00:00")
      val v = if (d == 17) 1000.0 else 10.0 + (d % 5)
      Seq((d.toLong, ts, 1L, "purchase", v, "{}"),
        (100L + d, ts, 2L, "view", 99.0, "{}")) // non-purchase noise ignored
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("w12_mad_outliers")(spark, dir)
      .select("day", "is_outlier").as[(Timestamp, Int)].collect()
    assert(out.length == 30)
    val flagged = out.filter(_._2 == 1).map(_._1.toString)
    assert(flagged.toSeq == Seq("2025-03-18 00:00:00.0"),
      s"expected exactly the planted day, got ${flagged.mkString(",")}")
  }

  test("sm10 mixture store: redelivered batch replaces its slice; TV is 0 for identical batches") {
    import graft.streaming.StreamMixture
    val store = graft.queries.Dsl.tempDir("sm10spec")
    val b0 = Seq("a", "a", "b").toDF("k")
    val b1 = Seq("a", "a", "b").toDF("k")
    StreamMixture.mergeBatch(b0, 0L, "k", store)
    StreamMixture.mergeBatch(b1, 1L, "k", store)
    val rep = StreamMixture.tvReport(spark, store)
      .select("batch", "n_events", "tv_ppm").as[(Long, Long, Long)].collect().toSet
    assert(rep == Set((0L, 3L, 0L), (1L, 3L, 0L)),
      "identical mixtures must show zero drift")
    // redelivery: batch 1 crashes mid-body and is redelivered with the
    // same id — its slice is REPLACED, never double-counted
    StreamMixture.mergeBatch(Seq("b", "b", "b").toDF("k"), 1L, "k", store)
    val rep2 = StreamMixture.tvReport(spark, store)
      .select("batch", "n_events", "tv_ppm").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep2(1L)._1 == 3L, "slice replaced, not appended")
    // pooled: a=2,b=4 of 6 → shares 333333/666666 ppm; batch1 b=3/3 →
    // |0-333333| + |1000000-666666| = 666667 → tv 333333
    assert(rep2(1L)._2 == 333333L)
    assert(rep2(0L)._2 == 333333L)
  }

  test("c05 dataset card: TOTAL row is the exact fold of the per-source rows") {
    val sf = "/root/testdata/sf0.001"
    val card = SparkEntry.queries("c05_dataset_card")(spark, sf)
      .select("source", "n_docs", "n_tokens", "n_chars", "n_distinct_docs")
      .as[(String, Long, Long, Long, Long)].collect()
    val (tot, per) = card.partition(_._1 == "TOTAL")
    assert(tot.length == 1 && per.nonEmpty)
    assert(tot(0)._2 == per.map(_._2).sum, "doc totals")
    assert(tot(0)._3 == per.map(_._3).sum, "token totals")
    assert(tot(0)._4 == per.map(_._4).sum, "char totals")
    // distinct docs do NOT sum (a dup can straddle sources) — but the
    // total can never exceed the per-source fold, and never the corpus
    assert(tot(0)._5 <= per.map(_._5).sum && tot(0)._5 <= tot(0)._2)
  }

  test("io17 quarantine split: partition is exact, reasons match their rules, both sinks landed") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("io17_quarantine_split")(spark, sf)
      .select("disposition", "reason", "n_rows").as[(String, String, Long)].collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val total = ev.count()
    assert(out.map(_._3).sum == total, "split must partition the corpus")
    // recompute each rule's first-match count independently
    val badType = ev.filter(!col("event_type").isin("click", "view", "purchase", "signup")).count()
    val valueCap = ev.filter(col("event_type") === "purchase" && col("value") > 300.0).count()
    val byReason = out.map(r => r._2 -> r._3).toMap
    assert(byReason("bad_type") == badType)
    assert(byReason.getOrElse("value_cap", 0L) == valueCap)
    assert(byReason("ok") == total - out.filter(_._1 == "quarantined").map(_._3).sum)
  }

  test("i11 VAD ≡ from-scratch formula recomputation; run-length invariants hold") {
    import graft.operators.Multimodal
    val m = Multimodal.WavAudioModel()
    for (id <- Seq(4L, 14L, 24L, 104L, 234L, 444L)) {
      val (nf, act, segs, longest) = m.vadStats(Multimodal.syntheticWav(id)).get
      // recompute straight from the sample formula, no codec
      val n = (1000 + id % 500).toInt
      val frames = n / 160
      val active = (0 until frames).map { f =>
        (0 until 160).map(j =>
          math.abs(Math.floorMod(37L * (f * 160 + j) + 11L * id, 65536L) - 32768L)).sum > 160L * 16384L
      }
      val expSegs = active.zipWithIndex.count { case (a, i) => a && (i == 0 || !active(i - 1)) }
      var run = 0; var expLongest = 0
      active.foreach { a => run = if (a) run + 1 else 0; expLongest = math.max(expLongest, run) }
      assert((nf, act, segs, longest) ==
        ((frames.toLong, active.count(identity).toLong, expSegs.toLong, expLongest.toLong)), s"id=$id")
      assert(segs <= act && longest <= act && ((segs == 0) == (act == 0)))
    }
  }

  test("g14 HITS round ≡ naive driver computation on the real edge set") {
    val sf = "/root/testdata/sf0.001"
    val edges = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id AS src",
        "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) % 150 AS dst")
      .as[(Long, Long)].collect()
    val auth = edges.groupBy(_._2).map { case (v, es) => v -> es.length.toLong }
    val hub = edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => auth.getOrElse(e._2, 0L)).sum }
    val got = SparkEntry.queries("g14_hits_round")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (node, a, h) =>
      assert(a == auth.getOrElse(node, 0L), s"auth($node)")
      assert(h == hub.getOrElse(node, 0L), s"hub($node)")
    }
  }

  test("w13 CUSUM: prefix-min closed form ≡ the sequential recursion; sustained drift alarms") {
    // 20 quiet days then a sustained +35% shift — the change CUSUM is
    // for (no single day is a spike; the drift accumulates)
    val dir = graft.queries.Dsl.tempDir("w13spec")
    val rows = (0 until 30).map { d =>
      val ts = Timestamp.valueOf(f"2025-05-${d + 1}%02d 09:00:00")
      val v = if (d < 20) 100.0 + (d % 3) else 135.0 + (d % 3)
      (d.toLong, ts, 1L, "purchase", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("w13_cusum_drift")(spark, dir)
      .select("day", "revenue", "cusum_micros", "alarm")
      .as[(Timestamp, Double, Long, Int)].collect().sortBy(_._1.getTime)
    // recompute the SEQUENTIAL recursion from the same integer inputs
    val rs = out.map(r => math.round(r._2 * 1e6))
    val med = rs.sorted.apply((math.ceil(0.5 * rs.length) - 1).toInt)
    var s = 0L
    val expect = rs.map { r => s = math.max(0L, s + (r - med - med / 20)); s }
    assert(out.map(_._3).toSeq == expect.toSeq,
      "closed form must equal the recursion")
    // quiet head never alarms; the sustained shift eventually does
    assert(out.take(20).forall(_._4 == 0))
    assert(out.drop(20).exists(_._4 == 1))
  }

  test("e30: a purged store retrieves EXACTLY like a store that never held the deleted vectors") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // NON-DONOR deletes (vec_id >= 12): forget removes a vector's CODE
    // ROWS but keeps the trained model params (the documented x14-style
    // boundary) — so "never admitted" equality is stated over deletes
    // that were not codebook/coarse donors. (Deleting donor id 7 is
    // legal — x23's gate does — but a survivor-only REBUILD would then
    // train a 7-codeword codebook and legitimately differ: a retrain,
    // not a forget. This spec originally asserted the naive equality
    // and the donor id failed it, which is the boundary made visible.)
    val del = emb.filter(col("vec_id") % 10 === 7 && col("vec_id") >= 12)
      .select("vec_id")
    val purged = graft.queries.Dsl.tempDir("e30purged")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, purged)
    Similarity.forgetFromIvfPqStore(spark, purged, del)
    val fresh = graft.queries.Dsl.tempDir("e30fresh")
    Similarity.buildIvfPqStore(
      emb.join(del.withColumnRenamed("vec_id", "__d"),
        col("vec_id") === col("__d"), "left_anti"),
      "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, fresh)
    def topK(store: String) = Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 2)
      .collect().map(_.toSeq).toSet
    assert(topK(purged) == topK(fresh),
      "forget must be indistinguishable from never-having-admitted")
  }

  test("t38: crafted mono/mixed docs get the exact verdict; ties break lexicographically") {
    val dir = graft.queries.Dsl.tempDir("t38spec")
    def doc(id: Long, text: String) = (id, text, "x", "src0", text.length.toLong)
    Seq(
      doc(1L, Seq.fill(40)("data").mkString(" ")),               // 2 chunks, pure datish
      doc(2L, (Seq.fill(20)("data") ++ Seq.fill(20)("fast")).mkString(" ")), // 1-1 tie
      doc(3L, (Seq.fill(20)("join") ++ Seq.fill(40)("stream")).mkString(" ")), // 1-2
      doc(4L, Seq.fill(10)("row").mkString(" ")))                // 1 partial chunk
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t38_mixed_lang_detect")(spark, dir)
      .select("doc_id", "n_chunks", "doc_lang", "mixed_ppm")
      .as[(Long, Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, "datish", 0L)))
    // 1-1 tie: lexicographically smaller language wins (datish < perfish)
    assert(got(2L) == ((2L, 2L, "datish", 500000L)))
    assert(got(3L) == ((3L, 3L, "streamish", 333333L)))
    assert(got(4L) == ((4L, 1L, "datish", 0L)))
  }

  test("d20 temporal split: three disjoint day ranges with a >= 3-day train-to-test embargo gap") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d20_temporal_split")(spark, sf)
      .select("split", "n_rows", "min_day", "max_day")
      .as[(String, Long, Timestamp, Timestamp)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set("train", "embargo", "test"))
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(out.values.map(_._2).sum == total)
    val dayMs = 86400000L
    // ranges are disjoint and ordered: train < embargo < test
    assert(out("train")._4.getTime < out("embargo")._3.getTime)
    assert(out("embargo")._4.getTime < out("test")._3.getTime)
    // the leakage guarantee: >= 3 full days between the last train day
    // and the first test day
    assert(out("test")._3.getTime - out("train")._4.getTime >= 3 * dayMs,
      s"embargo gap too small: ${out("train")._4} -> ${out("test")._3}")
  }

  test("sm11 streaming quarantine: batch slices partition each micro-batch exactly") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("sm11_stream_quarantine")(spark, sf)
      .select("disposition", "reason", "batch", "n_rows", "id_sum")
      .as[(String, String, Long, Long, Long)].collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), (col("event_id") % 3).as("batch"))
      .as[(Long, Long)].collect()
    val byBatch = ev.groupBy(_._2)
    // per batch: landed + quarantined rows and id sums reconstruct the
    // batch exactly — neither sink dropped or double-counted anything
    out.groupBy(_._3).foreach { case (b, rows) =>
      assert(rows.map(_._4).sum == byBatch(b).length, s"batch $b rows")
      assert(rows.map(_._5).sum == byBatch(b).map(_._1).sum, s"batch $b ids")
    }
    // every batch has a landed slice, and the quarantine reasons are
    // only the declared contract rules
    assert(out.filter(_._1 == "landed").map(_._3).toSet == Set(0L, 1L, 2L))
    assert(out.filter(_._1 == "quarantined").map(_._2).toSet
      .subsetOf(Set("bad_type", "value_cap", "props_range")))
  }

  test("g15 incremental components ≡ batch components over random edge batches; compaction + ledger invariant") {
    import graft.operators.{Dedup, IncrementalComponents}
    val r = new Random(20260816)
    // random sparse graph: 120 nodes, 90 edges → several components
    val edges = (1 to 90).map { _ =>
      (r.nextInt(120).toLong, r.nextInt(120).toLong)
    }.filter(e => e._1 != e._2).distinct
    val store = graft.queries.Dsl.tempDir("g15spec")
    // admit in 4 random batches, compacting mid-stream
    val batches = edges.zipWithIndex.groupBy(_._2 % 4).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalComponents.admitEdges(spark, store, b.toDF("a", "b"), i.toLong)
      if (i == 1) IncrementalComponents.compact(spark, store)
    }
    val got = IncrementalComponents.resolved(spark, store)
      .as[(Long, Long)].collect().toMap
    // ground truth: the repo's batch component operator over ALL edges
    val truth = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == truth.keySet, "node coverage")
    got.foreach { case (n, l) => assert(l == truth(n), s"node $n") }
    // compaction invariance: fold everything, resolution identical
    IncrementalComponents.compact(spark, store)
    assert(IncrementalComponents.resolved(spark, store)
      .as[(Long, Long)].collect().toMap == got)
    // ledger retention (VERDICT r12 #2): compaction folded the markers
    // behind the frontier into the _upto watermark — the ledger holds at
    // most the frontier marker + the watermark file, however many
    // batches were ever admitted
    val ledger = new java.io.File(s"$store/_admitted").listFiles().map(_.getName)
    assert(ledger.count(_.startsWith("batch=")) <= 1,
      s"ledger not folded: ${ledger.mkString(",")}")
    assert(ledger.contains("_upto"), "missing fold watermark")
    // redelivering a BEHIND-FRONTIER batch id is still a no-op — now
    // answered through the watermark, not a marker
    val before = spark.read.parquet(s"$store/labels").count()
    IncrementalComponents.admitEdges(spark, store, batches.head.toDF("a", "b"), 0L)
    assert(spark.read.parquet(s"$store/labels").count() == before)
    // monotonicity fence (ADVICE r12): a NEVER-admitted id behind the
    // ledger's high watermark is the out-of-order misconfiguration —
    // its rows could never win max-version resolution; refuse loudly
    val fenced = graft.queries.Dsl.tempDir("g15spec")
    IncrementalComponents.admitEdges(spark, fenced, Seq((1L, 2L)).toDF("a", "b"), 5L)
    val err = intercept[IllegalArgumentException] {
      IncrementalComponents.admitEdges(spark, fenced, Seq((3L, 4L)).toDF("a", "b"), 3L)
    }
    assert(err.getMessage.contains("monotonically increasing"))
    // crash shapes: pending-without-marker is discarded (live intact);
    // a committed marker completes idempotently on next read
    val pend = new java.io.File(s"$store/_compact_pending"); pend.mkdirs()
    assert(IncrementalComponents.resolved(spark, store)
      .as[(Long, Long)].collect().toMap == got)
    assert(!pend.exists(), "unmarked pending must be discarded")
  }

  test("m05 exactsubstr: keep-first masking, cross-doc and internal repeats, adjacent-gram span merge") {
    import graft.operators.SpanDedup
    val docs = Seq(
      (1L, "a b c d e f"),            // holds the canonical copy
      (2L, "x y a b c d z"),          // shares grams "a b c"/"b c d" → loses 3..6
      (3L, "p q r p q r p q r"),      // internal repeat: keeps one period
      (4L, "u v w")                   // no dups, too short for extra grams
    ).toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicatedSpans(docs, "doc_id", "text", 3)
      .as[(Long, Int, Int, String)].collect()
      .map { case (id, nt, nr, ct) => id -> ((nt, nr, ct)) }.toMap
    // doc 1 is the global first occurrence of every shared gram — intact
    assert(out(1L) == ((6, 0, "a b c d e f")))
    // doc 2: masked starts {3,4} cover 1-based tokens 3..6 — adjacent
    // duplicated grams merged into ONE removed span
    assert(out(2L) == ((7, 4, "x y z")))
    // doc 3: grams at pos 4..7 duplicate pos 1..3 → tokens 4..9 removed,
    // the first period survives
    assert(out(3L) == ((9, 6, "p q r")))
    assert(out(4L) == ((3, 0, "u v w")))
  }

  test("t39 backoff LM: seen / backoff / OOV branches hand-checked; short docs zeroed") {
    // train = doc 0 ("a b a c"): cu = {a:2, b:1, c:1}, T = 4;
    // c12 = {(a,b):1, (b,a):1, (a,c):1}; c1 = {a:2, b:1}
    val docs = Seq(
      (0L, "a b a c"),
      (1L, "a b z q"), // seen 2e6, then two OOV ceilings 2e7 each
      (2L, "c a"),     // c never a context → backoff via cu(a)=2 → 5e6
      (3L, "solo")     // no bigrams → all-zero row
    ).toDF("doc_id", "text")
    val out = graft.queries.TextQueries.backoffLmScore(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, nb, nbk, nov, s) => id -> ((nb, nbk, nov, s)) }.toMap
    assert(out(0L) == ((3L, 0L, 0L, (2000000L + 1000000L + 2000000L) / 3)))
    assert(out(1L) == ((3L, 2L, 2L, (2000000L + 20000000L + 20000000L) / 3)))
    assert(out(2L) == ((1L, 1L, 0L, 5000000L)))
    assert(out(3L) == ((0L, 0L, 0L, 0L)))
  }

  test("g15 admission is bounded: lookup broadcasts the batch side; relabel scan partition-prunes to losing lbuckets") {
    import graft.operators.IncrementalComponents
    val store = graft.queries.Dsl.tempDir("g15plan")
    // two components whose labels will merge: 10—11—12 and 40—41—42,
    // then a bridge 12—40 relabels 40's members to label 10
    IncrementalComponents.admitEdges(spark, store,
      Seq((10L, 11L), (11L, 12L), (40L, 41L), (41L, 42L)).toDF("a", "b"), 0L)
    val members = IncrementalComponents.membersOfLabels(spark, store, Seq((40L, 10L)))
    val plan = members.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    // a single losing lbucket folds the IN-list to an equality — both
    // are the static partition prune the bound needs
    assert(pf.contains("lbucket#") && (pf.contains(" IN ") || pf.contains("= ")),
      s"relabel scan must statically prune to the losing labels' lbuckets:\n$plan")
    assert(members.as[(Long, Long)].collect().toSet ==
      Set((40L, 10L), (41L, 10L), (42L, 10L)))
    // the bridge batch end-to-end: store equals the from-scratch answer
    IncrementalComponents.admitEdges(spark, store, Seq((12L, 40L)).toDF("a", "b"), 1L)
    assert(IncrementalComponents.resolved(spark, store)
      .as[(Long, Long)].collect().toMap ==
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 40L -> 10L, 41L -> 10L, 42L -> 10L))
  }

  test("ivfpq admission ledger folds behind the frontier; folded ids stay admitted; clear refuses folded ids") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val store = graft.queries.Dsl.tempDir("ledgerspec")
    // the resident corpus is vec_id >= 100, so the model-param picks
    // must come from inside it (an 8..12 pred would select ZERO
    // centroids and build an unreadable empty store)
    Similarity.buildIvfPqStore(emb.filter(col("vec_id") >= 100), "vec_id", "embedding",
      col("id") >= 108 && col("id") < 112, col("id") < 108, store)
    def batch(m: Long) = emb.filter(col("vec_id") < 100 && col("vec_id") % 4 === m)
    (0 to 2).foreach(i => Similarity.admitIvfPqBatch(
      spark, store, batch(i.toLong), "vec_id", "embedding", i.toLong))
    val n = spark.read.parquet(s"$store/codes").count()
    Similarity.compactAdmissionLedger(spark, store)
    val ledger = new java.io.File(s"$store/_admitted").listFiles().map(_.getName)
    assert(ledger.count(_.startsWith("batch=")) == 1 && ledger.contains("_upto"),
      s"ledger not folded: ${ledger.mkString(",")}")
    // a FOLDED batch redelivered is still a no-op (watermark answers)
    Similarity.admitIvfPqBatch(spark, store, batch(0L), "vec_id", "embedding", 0L)
    // the frontier marker still answers too
    Similarity.admitIvfPqBatch(spark, store, batch(2L), "vec_id", "embedding", 2L)
    assert(spark.read.parquet(s"$store/codes").count() == n,
      "redelivery after the fold must not duplicate rows")
    // clearing a folded id is impossible (the fold is one-way) — the
    // remedy is a fresh id, and the error says so
    val err = intercept[IllegalArgumentException] {
      Similarity.clearAdmissionLedger(spark, store, 0L)
    }
    assert(err.getMessage.contains("FRESH"))
  }

  test("forget crash shapes: unmarked pending is discarded; a committed marker replays to completion") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val store = graft.queries.Dsl.tempDir("forgetcrash")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val intact = spark.read.parquet(s"$store/codes").collect().map(_.toSeq).toSet
    // crash BEFORE the marker: staged survivors are garbage — the next
    // entry discards them and the live store is untouched
    val pend = new java.io.File(s"$store/_forget_pending")
    new java.io.File(pend, "cluster=99").mkdirs()
    Similarity.recoverForget(spark, store)
    assert(!pend.exists(), "unmarked pending must be discarded")
    assert(spark.read.parquet(s"$store/codes").collect().map(_.toSeq).toSet == intact)
    // crash AFTER the marker, mid-install: re-entry replays the plan
    // idempotently — simulate by running a real forget, then re-invoking
    // the recovery with a hand-restored marker for the same plan
    val delIds = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    Similarity.forgetFromIvfPqStore(spark, store, delIds)
    val purged = spark.read.parquet(s"$store/codes").collect().map(_.toSeq).toSet
    assert(!new java.io.File(s"$store/_forget_done").exists(), "marker consumed")
    // a replayed DROP plan (the pending dirs already renamed away) must
    // be a no-op on the final state
    val mk = new java.io.File(s"$store/_forget_done")
    val keepDir = spark.read.parquet(s"$store/codes")
      .select(col("cluster").cast("long")).head().getLong(0)
    java.nio.file.Files.writeString(mk.toPath, s"keep cluster=$keepDir")
    Similarity.recoverForget(spark, store)
    assert(!mk.exists(), "marker consumed on replay")
    assert(spark.read.parquet(s"$store/codes").collect().map(_.toSeq).toSet == purged,
      "replaying an already-installed plan must change nothing")
  }

  test("ivfPqClusterSizes finishes a committed forget before counting") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def build() = {
      val store = graft.queries.Dsl.tempDir("forgetsizes")
      Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
        col("id") >= 8 && col("id") < 12, col("id") < 8, store)
      store
    }
    val delIds = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val done = build()
    Similarity.forgetFromIvfPqStore(spark, done, delIds)
    // crash after the marker committed: staged survivors + marker, the
    // live codes still hold every deleted vector
    val store = build()
    val codes = spark.read.parquet(s"$store/codes")
    val del = delIds.select(col("vec_id").as("del_id"))
    val hit = codes.join(del, col("vec_id") === col("del_id"), "left_semi")
      .select(col("cluster").cast("long")).distinct().as[Long].collect()
    codes.filter(col("cluster").isin(hit: _*))
      .join(del, col("vec_id") === col("del_id"), "left_anti")
      .write.partitionBy("cluster").parquet(s"$store/_forget_pending")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(store, "_forget_done"),
      hit.map(c => s"keep cluster=$c").mkString("\n"))
    assert(Similarity.ivfPqClusterSizes(spark, store).as[(Long, Long)].collect().toMap ==
      Similarity.ivfPqClusterSizes(spark, done).as[(Long, Long)].collect().toMap)
  }

  test("e31 rebalance: conservation, hot-dir swap, retrieval intact, crash shapes, no-op floor") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val store = graft.queries.Dsl.tempDir("e31spec")
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= 8 && col("id") < 12, col("id") < 8, store)
    val before = Similarity.ivfPqClusterSizes(spark, store)
      .as[(Long, Long)].collect().toMap
    val total = before.values.sum
    val hot = Similarity.rebalanceIvfPqStore(spark, store)
    assert(hot == before.minBy { case (c, n) => (-n, c) }._1,
      "must split the largest cluster (ties to the smaller id)")
    val after = Similarity.ivfPqClusterSizes(spark, store)
      .as[(Long, Long)].collect().toMap
    // conservation: every vector still lives in exactly one cluster
    assert(after.values.sum == total, s"vectors lost: $before -> $after")
    assert(!after.contains(hot), "split cluster must leave the store")
    val newIds = after.keySet.diff(before.keySet)
    assert(newIds.nonEmpty && newIds.forall(_ > before.keySet.max),
      s"new ids must extend the id space: $newIds")
    assert(after.filterKeys(newIds).values.sum == before(hot),
      "the two sides must partition the hot cluster's members")
    assert(!new java.io.File(s"$store/codes/cluster=$hot").exists(),
      "hot partition dir must be dropped")
    // retrieval still serves k results against the swapped coarse table
    val got = Similarity.ivfPqStoredTopK(spark, store,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", 5, 2)
    assert(got.groupBy("q_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 5L), "retrieval must still fill top-k post-split")
    // crash BEFORE the marker: staged state discarded, live intact
    val pend = new java.io.File(s"$store/_rebalance_pending/coarse")
    pend.mkdirs()
    Similarity.recoverRebalance(spark, store)
    assert(!pend.exists(), "unmarked pending must be discarded")
    assert(Similarity.ivfPqClusterSizes(spark, store)
      .as[(Long, Long)].collect().toMap == after)
    // crash AFTER the marker, mid-install: a replayed drop-only plan is
    // a no-op on the final state (the staged coarse is already gone)
    val mk = new java.io.File(s"$store/_rebalance_done")
    java.nio.file.Files.writeString(mk.toPath, s"drop cluster=$hot")
    Similarity.recoverRebalance(spark, store)
    assert(!mk.exists(), "marker consumed on replay")
    assert(Similarity.ivfPqClusterSizes(spark, store)
      .as[(Long, Long)].collect().toMap == after)
    // no-op floor: a store whose largest cluster is under the minimum
    // refuses to split (returns -1, nothing changes)
    assert(Similarity.rebalanceIvfPqStore(spark, store,
      minSplitVectors = total + 1) == -1L)
    assert(Similarity.ivfPqClusterSizes(spark, store)
      .as[(Long, Long)].collect().toMap == after)
  }

  test("sm10 retention: dropBefore removes old slices; report over survivors equals a survivors-only store") {
    import graft.streaming.StreamMixture
    val a = graft.queries.Dsl.tempDir("sm10retA")
    val b = graft.queries.Dsl.tempDir("sm10retB")
    val slices = Seq(
      0L -> Seq("a", "a", "b"), 1L -> Seq("a", "b", "b"), 2L -> Seq("b", "b", "b"))
    slices.foreach { case (id, ks) =>
      StreamMixture.mergeBatch(ks.toDF("k"), id, "k", a) }
    slices.drop(1).foreach { case (id, ks) =>
      StreamMixture.mergeBatch(ks.toDF("k"), id, "k", b) }
    StreamMixture.dropBefore(spark, a, 1L)
    assert(!new java.io.File(s"$a/batch=0").exists(), "old slice dropped")
    assert(new java.io.File(s"$a/batch=1").exists(), "surviving slice intact")
    def rep(s: String) = StreamMixture.tvReport(spark, s)
      .select("batch", "n_events", "tv_ppm")
      .as[(Long, Long, Long)].collect().toSet
    assert(rep(a) == rep(b),
      "post-retention report must equal a store that only ever held the survivors")
    // idempotent; surviving-batch redelivery still replaces its slice
    StreamMixture.dropBefore(spark, a, 1L)
    StreamMixture.mergeBatch(Seq("a", "b", "b").toDF("k"), 2L, "k", a)
    assert(rep(a).map(_._1) == Set(1L, 2L))
  }

  test("near-dup pair forms fail past the corpus budget with the named scale remedy") {
    import graft.operators.Dedup
    val docs = (1 to 40).map(i => (i.toLong, s"tok$i alpha beta gamma"))
      .toDF("doc_id", "text")
    spark.conf.set(Dedup.PairsMaxDocsKey, "10")
    try {
      val e1 = intercept[IllegalArgumentException] {
        Dedup.nearDupPairs(docs, "doc_id", "text", 2, 16, 8)
      }
      assert(e1.getMessage.contains("nearDupPairsEstimated"))
      val e2 = intercept[IllegalArgumentException] {
        Dedup.simHashPairs(docs, "doc_id", "text", 32, 16)
      }
      assert(e2.getMessage.contains("s01b"))
      // the named scale form itself passes unguarded — the remedy must
      // never be the thing the guard blocks
      assert(Dedup.simHashPairs(docs, "doc_id", "text", 64, 16, mix64 = true)
        .columns.contains("hamming"))
      assert(Dedup.nearDupPairsEstimated(docs, "doc_id", "text", 2, 16, 8)
        .columns.contains("jaccard_est"))
    } finally spark.conf.unset(Dedup.PairsMaxDocsKey)
  }

  test("io16 gate flags exactly the corrupted shard") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("io16_manifest_verify")(spark, sf)
      .select("shard", "status").as[(Long, String)].collect().toMap
    assert(out.size == 4)
    assert(out(2L) == "mismatch")
    assert(Seq(0L, 1L, 3L).forall(out(_) == "ok"))
  }
}
