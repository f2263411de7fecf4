package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact
  * first-pick dedup, MinHash+LSH near-dup candidate generation with exact
  * Jaccard verification, and SimHash with banded Hamming search.
  *
  * Design for 100 TB:
  *  - signatures/shingles are computed with array-level Catalyst HOFs
  *    (`transform`/`aggregate`) — one narrow projection, no shuffle, full
  *    codegen, embarrassingly parallel;
  *  - candidate generation is an equi-join on (band_id, band_key) — the
  *    only shuffle, keyed so Spark hash-partitions buckets across the
  *    cluster; AQE's skew-join split handles hot buckets;
  *  - verification touches only candidate pairs (LSH output), never the
  *    full O(n²) pair space.
  *
  * All hash math is integer-only mod 1e9+7 (every intermediate < 2^63 in
  * both Spark and DuckDB), so the oracle reproduces results bit-exactly.
  */
object Dedup {
  val P: Long = TextFunctions.HashP

  /** Deterministic MinHash permutation constants (fixed LCG seed, so the
    * Spark plan and the SQL oracle embed identical literals).
    */
  def permConstants(n: Int): Seq[(Long, Long)] = {
    var x = 88172645463325252L
    def next(): Long = { // xorshift64 — deterministic, well-mixed
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x
    }
    (0 until n).map { _ =>
      val a = Math.floorMod(next(), P - 1) + 1
      val b = Math.floorMod(next(), P)
      (a, b)
    }
  }

  /** Per-token rolling hashes of a text column: `array<long>`. */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(text), t => TextFunctions.rollingHash(t))
  def sqlTokenHashes(textE: String): String =
    s"[${TextFunctions.sqlRollingHash("t")} for t in ${TextFunctions.sqlTokens(textE)}]"

  /** Distinct k-shingle hashes, folding k consecutive token hashes
    * (h = fold(h*31 + tokHash) mod P). The unit set for Jaccard/MinHash.
    */
  def shingleHashes(tokHashes: Column, k: Int): Column = {
    val sh = transform(sequence(lit(1), size(tokHashes) - (k - 1)), i =>
      (0 until k).foldLeft(lit(0L): Column)((acc, j) =>
        (acc * TextFunctions.HashMul + element_at(tokHashes, i + lit(j))) % P))
    when(size(tokHashes) < k, array().cast("array<long>")).otherwise(array_distinct(sh))
  }
  def sqlShingleHashes(hsE: String, k: Int): String = {
    val fold = (0 until k).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
      s"(($acc) * ${TextFunctions.HashMul} + $hsE[i + $j]) % $P")
    s"CASE WHEN len($hsE) < $k THEN [] ELSE " +
      s"list_distinct([$fold for i in range(1, len($hsE) - ${k - 2})]) END"
  }

  /** One MinHash signature value: min over the shingle set of the permuted
    * hash (a*s + b) mod P; empty set → sentinel P.
    */
  def minHashSig(shs: Column, a: Long, b: Long): Column =
    coalesce(array_min(transform(shs, s => (lit(a) * s + lit(b)) % P)), lit(P))
  def sqlMinHashSig(shsE: String, a: Long, b: Long): String =
    s"COALESCE(list_min([($a * s + $b) % $P for s in $shsE]), $P)"

  /** Docs → (id, shs) with each intermediate (tokens, token hashes,
    * shingle set) materialized as its own projection. CRITICAL for
    * performance: inlining `tokenHashes` inside `shingleHashes` makes
    * every `element_at` re-evaluate the whole token-hash transform —
    * O(len²·chars) per row; separate projections bind the arrays to
    * attributes, each computed once (CollapseProject keeps expensive
    * multi-referenced expressions un-inlined).
    */
  def withShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      // native single-pass token hash (bit-identical to the HOF fold for
      // the ASCII corpus — ExpressionSpec asserts it); the per-char
      // aggregate HOF allocates a position array + substring per char
      .select(col("id"), transform(col("__toks"),
        t => graft.plans.DedupExprs.rollingHash(t)).as("__th"))
      .select(col("id"), shingleHashes(col("__th"), shingleK).as("shs"))

  /** Conf key bounding the corpus the EXACT-verification pair forms
    * ([[nearDupPairs]], [[simHashPairs]]) will accept; -1 disables.
    */
  val PairsMaxDocsKey = "graft.neardup.pairs.maxDocs"
  val PairsMaxDocsDefault = 200000L

  /** The e28 budget discipline applied to the superlinear pair forms
    * (VERDICT r12 #3): both gate forms are candidate-pair-verification
    * shapes whose measured 10×→100× step is ~16× (BENCH_SCALE m01/s01
    * at 500k docs) — correct, and the right tool at corpus sizes where
    * every pair matters, but a cluster-killer as the accidental entry
    * point at 100 TB. Past the budget, fail LOUDLY with the named
    * scale remedy instead of letting the job run into the shuffle
    * wall; the sweep that deliberately measures the unguarded curve
    * disables the budget by conf.
    */
  private def requirePairBudget(docs: DataFrame, op: String,
                                remedy: String): Unit = {
    val maxDocs = docs.sparkSession.conf
      .get(PairsMaxDocsKey, PairsMaxDocsDefault.toString).toLong
    if (maxDocs < 0) return
    val n = docs.count()
    require(n <= maxDocs,
      s"$op: $n docs exceed the $PairsMaxDocsKey budget ($maxDocs) — " +
        "candidate-pair verification is superlinear at this size; use " +
        s"$remedy, or raise the budget (set $PairsMaxDocsKey; -1 " +
        "disables) if the pair cost is intended")
  }

  /** LSH near-dup pipeline: docs(id, text) → verified candidate pairs
    * (id_a, id_b, jaccard). `bands` bands of `rowsPerBand`=2 signatures;
    * a pair is a candidate iff some band's signature pair collides.
    * Corpus-budget-guarded ([[requirePairBudget]]): at scale use
    * [[nearDupPairsEstimated]] (m03's signature-estimator verify — the
    * gated 100 TB form) or [[lshComponentEdges]] for grouping.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, numPerms: Int, bands: Int): DataFrame = {
    require(numPerms == bands * 2, "2 rows per band")
    requirePairBudget(docs, "nearDupPairs",
      "nearDupPairsEstimated (signature-estimator verify, m03) or " +
        "lshComponentEdges (grouping)")
    // The shingle frame feeds BOTH sides of the band self-join AND both
    // sides of the verification join; without materialization Spark plans
    // the tokenize→shingle subtree once per consumer (4×). A broadcast-hash
    // self-join cannot reuse exchanges (one side has no exchange at all),
    // so persist explicitly. MEMORY_AND_DISK: narrow frame (id + hash
    // arrays), spills instead of OOM at scale; Spark's ContextCleaner
    // unpersists it once the query's RDDs are unreferenced.
    val withShs = withShingleHashes(docs, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // all 64 signatures in ONE native pass over the shingle array
    // (MinHashSigsExpr doGenCode) instead of 64 array_min∘transform HOF
    // passes; same (a·s+b) mod P math, PropertySpec asserts equality.
    // The sig array is bound to an attribute before the band-key
    // projection reads it 2×/band (multi-referenced-HOF rule).
    val withSigs = withShs.select(col("id"),
      graft.plans.DedupExprs.minHashSigs(col("shs"), numPerms).as("__sigs"))
    val bandKeys = (0 until bands).map(bd =>
      (element_at(col("__sigs"), 2 * bd + 1) * P +
        element_at(col("__sigs"), 2 * bd + 2)).as(s"band_$bd"))
    val banded = withSigs
      .select(col("id") +: bandKeys: _*)
      .select(col("id"), posexplode(array((0 until bands).map(bd => col(s"band_$bd")): _*))
        .as(Seq("band_id", "band_key")))
      // both self-join sides read this; (id, band_id, band_key) is 24 B/row
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sets = withShs.select(col("id"), col("shs"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("shs_a"), col("shs_b")).as("jaccard"))
  }

  /** Just the LSH candidate pairs (band collisions, deduped) — no
    * verification stage. The consumer for duplicate-GROUPING pipelines
    * (g02, c02), whose semantics are defined over the candidate edge
    * set: routing them through [[nearDupPairs]] would pay the exact
    * Jaccard verify joins (each candidate pair re-joins both documents'
    * shingle arrays) only to drop the column, and Catalyst cannot
    * eliminate the joins (they are not provably non-filtering).
    * Measured at the 500k-doc tier the end-to-end saving is modest
    * (~5% — the grouping gates are dominated by the component loop, and
    * m03 shows the verify stage itself at ~4 s there), but the edge set
    * is also the semantically RIGHT input: the oracles define groups
    * over band collisions.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numPerms: Int, bands: Int): DataFrame = {
    require(numPerms == bands * 2, "2 rows per band")
    val withSigs = withShingleHashes(docs, idCol, textCol, shingleK)
      .select(col("id"),
        graft.plans.DedupExprs.minHashSigs(col("shs"), numPerms).as("__sigs"))
    val bandKeys = (0 until bands).map(bd =>
      (element_at(col("__sigs"), 2 * bd + 1) * P +
        element_at(col("__sigs"), 2 * bd + 2)).as(s"band_$bd"))
    val banded = withSigs
      .select(col("id") +: bandKeys: _*)
      .select(col("id"), posexplode(array((0 until bands).map(bd => col(s"band_$bd")): _*))
        .as(Seq("band_id", "band_key")))
      // both self-join sides read this; (id, band_id, band_key) is 24 B/row
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Connectivity-preserving candidate edges for COMPONENT GROUPING: per
    * (band_id, band_key) bucket, a STAR to the bucket-minimum id instead
    * of the full clique. Connected components over the stars equal
    * components over [[lshCandidatePairs]]' cliques — a bucket's clique
    * and its star connect exactly the same vertex set — but the edge
    * count is Σ|bucket| instead of Σ|bucket|², which is what survives a
    * hot bucket at 100 TB: one 10^4-doc bucket emits 10^4 star edges
    * where the clique form emits 10^8 pairs (and pair-count, not doc
    * count, is what made the clique form super-linear on a
    * closed-vocabulary corpus). One window shuffle on the bucket key
    * replaces the band self-join + pair distinct entirely. Use this for
    * grouping (g02/c02); keep [[lshCandidatePairs]] where each PAIR is
    * consumed downstream (m01's verify).
    */
  def lshComponentEdges(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numPerms: Int, bands: Int): DataFrame = {
    val bucketMin = org.apache.spark.sql.expressions.Window
      .partitionBy("band_id", "band_key")
    bandedSignatures(docs, idCol, textCol, shingleK, numPerms, bands)
      .select(col("id"), min(col("id")).over(bucketMin).as("__root"))
      .filter(col("id") =!= col("__root"))
      .select(col("__root").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** MinHash near-dup pairs verified by the SIGNATURE ESTIMATOR instead
    * of exact Jaccard — the 100 TB verification form: exact verify
    * ([[nearDupPairs]]) re-joins every candidate pair to both documents'
    * full shingle sets, which is the dominant shuffle at scale (the
    * arrays ship once per PAIR); the estimator needs only the numPerms
    * signature ints the band join already computed — 16 longs instead of
    * a whole shingle array per side — and the estimator's fidelity to
    * exact Jaccard is itself oracle-gated (m02). `minEstimate` is the
    * production dedup threshold (matching signature positions /
    * numPerms ≥ t). Returns (id_a, id_b, jaccard_est).
    */
  def nearDupPairsEstimated(docs: DataFrame, idCol: String, textCol: String,
                            shingleK: Int, numPerms: Int, bands: Int,
                            minEstimate: Double = 0.0): DataFrame = {
    require(numPerms == bands * 2, "2 rows per band")
    // one persisted frame feeds the two band-join sides AND the two
    // estimator sides — nothing else is ever rejoined
    val withSigs = withShingleHashes(docs, idCol, textCol, shingleK)
      .select(col("id"),
        graft.plans.DedupExprs.minHashSigs(col("shs"), numPerms).as("__sigs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandKeys = (0 until bands).map(bd =>
      (element_at(col("__sigs"), 2 * bd + 1) * P +
        element_at(col("__sigs"), 2 * bd + 2)).as(s"band_$bd"))
    val banded = withSigs
      .select(col("id") +: bandKeys: _*)
      .select(col("id"), posexplode(array((0 until bands).map(bd => col(s"band_$bd")): _*))
        .as(Seq("band_id", "band_key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sigs = withSigs.select(col("id"), col("__sigs"))
    cand
      .join(sigs.select(col("id").as("id_a"), col("__sigs").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("__sigs").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), _ + _).cast("double") / numPerms).as("jaccard_est"))
      .filter(col("jaccard_est") >= minEstimate)
  }

  /** Standalone (id, band_id, band_key) banded LSH signature frame — the
    * INDEX rows incremental near-dup maintenance persists and joins
    * against ([[IncrementalNearDup]]). Same tokenize→shingle→minhash→band
    * math as [[nearDupPairs]] (which keeps its own copy inline because it
    * must persist the intermediate shingle frame for the verification
    * join — sharing the helper would un-share that cache).
    */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, numPerms: Int, bands: Int): DataFrame = {
    require(numPerms == bands * 2, "2 rows per band")
    val withSigs = withShingleHashes(docs, idCol, textCol, shingleK)
      .select(col("id"),
        graft.plans.DedupExprs.minHashSigs(col("shs"), numPerms).as("__sigs"))
    val bandKeys = (0 until bands).map(bd =>
      (element_at(col("__sigs"), 2 * bd + 1) * P +
        element_at(col("__sigs"), 2 * bd + 2)).as(s"band_$bd"))
    withSigs
      .select(col("id") +: bandKeys: _*)
      .select(col("id"), posexplode(array((0 until bands).map(bd => col(s"band_$bd")): _*))
        .as(Seq("band_id", "band_key")))
  }

  /** Exact Jaccard of two distinct-element arrays, via
    * |A∩B| / (|A| + |B| − |A∩B|) — one intersect, no union materialized.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }
  def sqlJaccard(aE: String, bE: String): String = {
    val inter = s"len(list_filter($aE, x -> list_contains($bE, x)))"
    s"(CAST($inter AS DOUBLE) / (len($aE) + len($bE) - $inter))"
  }

  /** SimHash over the token-hash multiset: bit b of the fingerprint is set
    * iff the ±1 contributions of all token hashes' bit b sum positive.
    * Reference formulation — one aggregate pass per bit; the pipeline path
    * is [[withSimHash]], which produces identical fingerprints in 16
    * passes.
    */
  def simHash(tokHashes: Column, bits: Int): Column =
    (0 until bits).map { b =>
      val bitSum = aggregate(tokHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 0x0001000100010001 — four parallel 16-bit popcount lanes per long. */
  private val LaneMask = 281479271743489L

  /** Lane-packed SimHash pipeline: docs → (id, sim). Each of 16 packed
    * array passes accumulates bit-counts for bits {j, j+16, j+32, j+48}
    * in four 16-bit counter lanes of one long (capacity 65535 tokens/row —
    * far above any caption/document), so a 64-bit fingerprint costs 16
    * aggregate passes instead of 64. The packs are bound to attributes
    * between projections (multi-referenced HOF results must be columns —
    * see [[withShingleHashes]]); the fingerprint assembles from counters:
    * bit b set iff 2·count_b > n ⟺ Σ(±1) > 0, bit-identical to
    * [[simHash]] so the SQL oracle keeps the reference formulation.
    */
  def withSimHash(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int, mix64: Boolean = false): DataFrame = {
    require(bits <= 64)
    // mix64 rehashes each ~30-bit rolling hash through xxhash64 so all 64
    // bit positions carry signal — REQUIRED for fingerprints wider than
    // ~30 bits, where the raw hash's high bits are constant zero and
    // every doc would agree on the top chunks (degenerate all-pairs
    // candidates). Without it, bits 30..31 voting a constant 0 is
    // tolerable slack at bits=32 (the oracle mirrors the arithmetic);
    // bits ≫ 32 must pass mix64=true.
    val th0 = transform(col("__toks"), t => graft.plans.DedupExprs.rollingHash(t))
    val th = if (mix64) transform(th0, h => xxhash64(h)) else th0
    docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"), th.as("__th"))
      // one native pass over the token hashes (SimHashExpr) instead of
      // 16 lane-packed aggregate HOF passes; majority-bit math identical
      // to the reference formulation [[simHash]] (PropertySpec)
      .select(col("id"), graft.plans.DedupExprs.simHash(col("__th"), bits).as("sim"))
  }

  /** The lane-packed HOF SimHash pipeline (4×16-bit counter lanes per
    * long, 16 aggregate passes) — kept as the portable no-custom-Expression
    * formulation; PropertySpec asserts it equals the native kernel.
    */
  def withSimHashHof(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int): DataFrame = {
    require(bits <= 64)
    val packCols = (0 until 16).map { j =>
      aggregate(col("__th"), lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(LaneMask))).as(s"__p$j")
    }
    val sim = (0 until bits).map { b =>
      val c = shiftright(col(s"__p${b % 16}"), 16 * (b / 16)).bitwiseAND(lit(0xffffL))
      when(c * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"), transform(col("__toks"), t => TextFunctions.rollingHash(t)).as("__th"))
      .select(col("id") +: size(col("__th")).as("__n") +: packCols: _*)
      .select(col("id"), sim.as("sim"))
  }
  def sqlSimHash(hsE: String, bits: Int): String =
    (0 until bits).map { b =>
      s"CASE WHEN list_sum([((h >> $b) & 1) * 2 - 1 for h in $hsE]) > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  // ---- DuckDB replica of Spark's xxhash64 on a BIGINT input (seed 42) ----
  // The production 64-bit SimHash widens each ~30-bit rolling hash through
  // xxhash64 (withSimHash mix64=true). DuckDB ships no xxhash64 SQL
  // function, so the oracle re-derives the published xxHash64
  // single-8-byte-lane arithmetic in unsigned-64 space: UBIGINT carries
  // values (logical shifts + xor are exact there), HUGEINT carries the
  // wrap-around multiplies, split 32/32 so no intermediate exceeds 2^127.
  // Bit-for-bit agreement with the JVM is pinned two ways: ExpressionSpec
  // fixes xxhash64 sample values, and the s01b gate hashes the full
  // pipeline against DuckDB at sf0.01.
  private val M64 = "18446744073709551616" // 2^64
  private val XxP1 = "11400714785074694791" // 0x9E3779B185EBCA87
  private val XxP2 = "14029467366897019727" // 0xC2B2AE3D27D4EB4F
  private val XxP3 = "1609587929392839161"  // 0x165667B19E3779F9
  private val XxP4 = "9650029242287828579"  // 0x85EBCA77C2B2AE63
  private val XxSeedState = "2870177450012600311" // seed 42 + PRIME64_5 + 8

  // (a * c) mod 2^64 for a in [0, 2^64): al*c ≤ 2^96 and (ah*c mod 2^32)
  // * 2^32 ≤ 2^64 both fit HUGEINT, their sum reassembles the low 64 bits
  private def sqlMulMod(a: String, c: String): String =
    s"CAST((((CAST($a AS HUGEINT) % 4294967296) * $c + " +
      s"(((CAST($a AS HUGEINT) // 4294967296) * $c) % 4294967296) * 4294967296) " +
      s"% $M64) AS UBIGINT)"
  private def sqlAddMod(a: String, c: String): String =
    s"CAST(((CAST($a AS HUGEINT) + $c) % $M64) AS UBIGINT)"
  // rotl(a, k): low part a·2^k mod 2^64 and high part a >> (64-k) occupy
  // disjoint bit ranges, so + is |
  private def sqlRotl(a: String, k: Int): String =
    s"CAST(((CAST($a AS HUGEINT) * ${BigInt(1) << k}) % $M64 + " +
      s"CAST($a AS HUGEINT) // ${BigInt(1) << (64 - k)}) AS UBIGINT)"
  private def sqlXorShr(a: String, k: Int): String = s"xor($a, ($a >> $k))"

  /** xxhash64-of-a-long as per-element STAGES (input: one nonnegative
    * BIGINT named `h`; output: the hash as UBIGINT). Kept as a stage list
    * so callers apply them as successive list comprehensions over a hash
    * column — inlining the chain into one expression would duplicate
    * subtrees ~2^9× (rotl and xor-shift each reference their argument
    * twice).
    */
  private def sqlXxh64Stages: Seq[String] = Seq(
    sqlMulMod("h", XxP2), sqlRotl("h", 31), sqlMulMod("h", XxP1),
    s"xor(CAST($XxSeedState AS UBIGINT), h)",
    sqlRotl("h", 27), sqlMulMod("h", XxP1), sqlAddMod("h", XxP4),
    sqlXorShr("h", 33), sqlMulMod("h", XxP2),
    sqlXorShr("h", 29), sqlMulMod("h", XxP3),
    sqlXorShr("h", 32))

  /** CTE chain applying [[sqlXxh64Stages]] element-wise to list column
    * `listCol` of CTE `srcCte` (which must also carry `id`); the final
    * CTE is named `mixed` with UBIGINT list column `mh`.
    */
  def sqlXxh64Ctes(srcCte: String, listCol: String): String = {
    val stages = sqlXxh64Stages
    stages.zipWithIndex.map { case (st, i) =>
      val (src, c) = if (i == 0) (srcCte, listCol) else (s"mx$i", s"m$i")
      val (name, outc) =
        if (i == stages.size - 1) ("mixed", "mh") else (s"mx${i + 1}", s"m${i + 1}")
      s"$name AS (SELECT id, [$st for h in $c] AS $outc FROM $src)"
    }.mkString(",\n")
  }

  /** SimHash over an UNSIGNED (UBIGINT) hash list, emitted as a signed
    * BIGINT fingerprint — bit 63 becomes the sign bit, matching the JVM
    * long the native kernel returns. Same majority-bit vote as
    * [[sqlSimHash]].
    */
  def sqlSimHashU(mhE: String, bits: Int): String =
    (0 until bits).map { b =>
      val vote =
        s"list_sum([CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END for h in $mhE]) > 0"
      val term =
        if (b == 63) "(-9223372036854775807 - 1)"
        else s"CAST(${1L << b} AS BIGINT)"
      s"CASE WHEN $vote THEN $term ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Banded Hamming candidate pairs over SimHash fingerprints: pairs that
    * agree on at least one `chunkBits`-bit chunk, with exact Hamming
    * distance. Same join-shape scale story as LSH.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int, chunkBits: Int, mix64: Boolean = false): DataFrame = {
    // budget-guarded like nearDupPairs (VERDICT r12 #3), scoped to the
    // known-superlinear class: narrow fingerprints without the xxhash64
    // widening pocket candidates quadratically (BENCH_SCALE s01 at 500k
    // docs — 16-bit chunks over a low-entropy 32-bit fingerprint). The
    // mix64 64-bit form IS the named scale path (s01b, measured 2.2 s
    // at the same tier) and passes unguarded.
    if (!(mix64 && bits >= 64))
      requirePairBudget(docs, "simHashPairs",
        "the 64-bit mix64 fingerprint form with 16-bit chunks (s01b)")
    val nChunks = bits / chunkBits
    val mask = (1L << chunkBits) - 1
    val sims = withSimHash(docs, idCol, textCol, bits, mix64)
    val chunked = sims.select(col("id"), col("sim"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sim"), c * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk_id", "chunk_key")))
      // materialize the fingerprint once: the per-bit aggregate HOFs are
      // the expensive part, and both self-join sides consume this frame
      // (broadcast self-joins plan the subtree twice otherwise)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a pair agreeing on several chunks would surface once per chunk;
    // keeping only the FIRST matching chunk (checkable from the sims
    // alone) dedups without a distinct() shuffle over the candidates
    val noEarlierMatch = (0 until nChunks).map { c =>
      col("x.chunk_id") <= c ||
        shiftright(col("x.sim"), c * chunkBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("y.sim"), c * chunkBits).bitwiseAND(lit(mask))
    }.reduce(_ && _)
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
          col("x.chunk_key") === col("y.chunk_key") &&
          col("x.id") < col("y.id") && noEarlierMatch)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        expr("bit_count(x.sim ^ y.sim)").cast("long").as("hamming"))
  }

  /** The streamed path's resident-state bound, in vertices. */
  private val LocalVertexLimit = 8000000

  /** Connected components over an undirected pair list (id_a, id_b) —
    * the clustering step after near-dup pair generation: duplicates form
    * groups, the pipeline keeps one representative per group. Iterative
    * min-label propagation: every vertex starts as its own component and
    * repeatedly takes the min of its own and its neighbors' labels, so
    * labels converge to the component's minimum id (deterministic).
    *
    * Scale notes: each round is a 1-hop min propagation (equi-join +
    * map-side-combinable min aggregate) followed by a POINTER JUMP
    * (labels self-join: comp(v) := comp(comp(v))) — the jump doubles the
    * distance a minimum travels per round, so rounds = O(log diameter),
    * not O(diameter). Every round shuffles the full label table, so the
    * round count is exactly what a 100 TB graph pays for; log d rounds is
    * the difference between 5 shuffles and 30 on a deep chain. The jump
    * is sound because a min-label is always the id of a vertex in the
    * same component, so comp(comp(v)) exists, is ≤ comp(v), and stays in
    * v's component; the fixpoint (comp(v) = component min everywhere) is
    * unchanged. Convergence probe: label sum decreases monotonically, so
    * equal sums across a full round ⇔ fixpoint.
    *
    * Small-graph fast path: when the edge list fits a broadcast-class
    * budget (`localEdgeLimit` edges ≤ tens of MB on the driver — the same
    * size class Spark broadcasts for joins), path-compressed union-find
    * on the collected edges replaces the loop: exact same min-id labels,
    * zero iterative shuffles. The collect is one job that stops as soon as
    * it passes the bound, so the bound is ENFORCED, not advisory; above it
    * the distributed loop runs. Candidate-pair
    * graphs are usually tiny relative to the corpus (edges ≈ near-dups),
    * so most runs take the fast path even at large SF, while a 100 TB
    * worst case degrades gracefully to O(log d) shuffles instead of OOM.
    *
    * STREAMED middle path: union-find state is O(vertices), not
    * O(edges) — an edge is consumed the moment it is union'd. So between
    * the collect bound and the distributed loop there is a regime where
    * the driver can hold the VERTEX arrays but not the edge list: stream
    * the edges partition-at-a-time (`toLocalIterator`) through an
    * index-compressed union-find (sorted vertex-id array + Int parents:
    * ~13 B/vertex, ~100 MB at 8M vertices). Engages when
    * `nEdges ≤ streamEdgeLimit` (driver pull throughput bound — edges
    * transit the driver once but are never held) AND
    * `nVertices ≤` [[LocalVertexLimit]] (resident-state bound). Same min-id
    * labels as both other paths (OpsSpec pins the three-way agreement).
    * This is what keeps the near-dup graph of a 50M-doc corpus off the
    * iterative loop: 2M docs in dup groups is 2M vertices — driver-sized
    * — even when band collisions emit 30M edges.
    *
    * Loop parallelism is SELF-TUNED from the measured edge count (see
    * the inline rule): callers never size shuffle partitions for the
    * label table, and the same invocation stays efficient from a 5k-doc
    * gate corpus to a forced-distributed 100× tier.
    *
    * Fault tolerance: by default rounds are cut with `localCheckpoint`
    * (blocks live on executors — fast, but an executor loss kills the
    * job, acceptable in local mode and on reliable clusters). Pass
    * `checkpointDir` (a shared/durable filesystem path) to switch every
    * round cut to a RELIABLE `checkpoint()`: round state is written to
    * that directory, so the loop survives executor loss at the cost of
    * one filesystem round-trip per round — the right trade on a
    * 1000-executor preemptible fleet.
    *
    * `onRound` is an attribution hook: called after each distributed
    * round with (1-based round index, seconds). Default no-op; the scale
    * bench uses it to pin whether tier-to-tier growth sits in round
    * COUNT (graph diameter) or per-round time (shuffle volume).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 30,
                          localEdgeLimit: Long = 2000000L,
                          checkpointDir: Option[String] = None,
                          onRound: (Int, Double) => Unit = (_, _) => (),
                          streamEdgeLimit: Long = 50000000L): DataFrame = {
    // Cut lineage EVERY round (checkpoint, not persist): each round's
    // plan references the previous round's, so un-truncated lineage
    // grows exponentially and OOMs the DRIVER in plan optimization
    // around 15 rounds — the canonical iterative-graph-algorithm failure.
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // materialize the edge list ONCE before symmetrizing: the union
    // references `pairs` twice, and an upstream candidate-generation
    // pipeline (LSH join + verify) would otherwise run once per side
    val edges = cut(pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")))
    val collected = graft.io.Local.atMost(edges, math.min(localEdgeLimit, Int.MaxValue - 1L).toInt)
    if (collected.isDefined) return localComponents(edges.sparkSession, collected.get)
    val nEdges = edges.count()
    if (nEdges <= streamEdgeLimit) {
      // probe-and-collect in ONE job: the distinct vertex ids, or None
      // once they pass the bound — then the graph is beyond driver state
      // and the distributed loop runs (the bounded collect is the probe;
      // a separate count_distinct pass would scan the edges twice)
      val verts = graft.io.Local.valuesAtMost(
        edges.select(explode(array(col("src"), col("dst")))), LocalVertexLimit)
      if (verts.isDefined)
        return streamedComponents(edges, verts.get.iterator.map(_.asInstanceOf[Long]).toArray)
    }
    // SELF-TUNED loop parallelism: the frames the loop shuffles are the
    // label table (≈ vertex count ≤ 2·edges rows of 16 B) and the
    // symmetrized edge list — both sized by the GRAPH, not by whatever
    // the session's shuffle-partition setting was tuned for. Derive the
    // loop's partition count from the edge count (the rows-per-partition
    // rule the scale bench applied externally): a 5k-doc gate corpus
    // stops paying 32-partition task overhead per round, and a 100×
    // corpus stops starving on a small pinned constant — the same code
    // path serves both without caller tuning. Capped at 4× the session
    // setting so a huge edge list cannot explode the partition count
    // past what the cluster was provisioned for; `sum()` convergence
    // probes and checkpoint cuts are partition-count invariant, so the
    // override cannot change results (the g02 oracle pins that).
    val spark = pairs.sparkSession
    val sessParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(200L)
    val tuned = math.max(4L, math.min(2L * nEdges / 5000L, sessParts * 4))
    spark.conf.set("spark.sql.shuffle.partitions", tuned.toString)
    try {
      val sym = cut(edges
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
      var labels = cut(sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
      var prevSum = labels.agg(sum(col("comp"))).head().getLong(0)
      var i = 0
      var converged = false
      while (!converged && i < maxIters) {
        val roundT0 = System.nanoTime()
        val prop = sym.join(labels, sym("src") === labels("id"))
          .select(col("dst").as("id"), col("comp"))
        // 1-hop min propagation; checkpointed because the pointer jump
        // self-joins it (an un-materialized self-join plans the whole
        // aggregate subtree once per side)
        val hop = cut(labels.select(col("id"), col("comp")).union(prop)
          .groupBy("id").agg(min(col("comp")).as("comp")))
        // pointer jump: comp(v) := comp(comp(v)) — rename one side fully so
        // the self-join has no shared attribute ids
        val next = cut(hop
          .join(hop.select(col("id").as("__cid"), col("comp").as("__ccomp")),
            col("comp") === col("__cid"))
          .select(col("id"), col("__ccomp").as("comp")))
        val s = next.agg(sum(col("comp"))).head().getLong(0)
        labels = next
        converged = s == prevSum
        prevSum = s
        i += 1
        onRound(i, (System.nanoTime() - roundT0) / 1e9)
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponents hit maxIters=$maxIters before the label sum " +
            "stabilized — returned labels may split true components. Raise " +
            "maxIters for pathologically deep graphs.")
      labels
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessParts.toString)
  }

  /** Driver-side union-find over a collected edge list — the bounded
    * small-graph path of [[connectedComponents]]. Path compression +
    * union by rank, then every vertex is labeled with the MINIMUM id in
    * its component (a second pass over the roots), matching the
    * distributed loop's fixpoint exactly.
    */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val es = edges.map(e => (e.getLong(0), e.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val rank = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (la, lb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (la < lb) parent(ra) = rb
        else if (la > lb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = la + 1 }
      }
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
    }
    val labeled = parent.keys.toSeq.sorted.map(v => (v, minOfRoot(find(v))))
    spark.createDataFrame(labeled).toDF("id", "comp")
  }

  /** The O(vertices)-state middle path of [[connectedComponents]]:
    * given the collected distinct vertex ids (the caller's bounded
    * probe-and-collect), run an index-compressed union-find over
    * primitive Int arrays and STREAM the edges through the driver
    * partition-at-a-time — each edge is union'd and dropped, never held. Driver residency is
    * verts(8 B) + parent(4 B) + rank(1 B) ≈ 13 B/vertex; the edge list
    * transits once (a coalesce keeps toLocalIterator's one-job-per-
    * partition fetch count small). Labels are the component-minimum id,
    * identical to both sibling paths: ids stream in ascending order in
    * the final pass, so the first vertex to reach a root is its min.
    */
  private def streamedComponents(edges: DataFrame, vertsUnsorted: Array[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts: Array[Long] = vertsUnsorted.sorted
    val parent = Array.tabulate(verts.length)(identity)
    val rank = new Array[Byte](verts.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val it = edges.coalesce(8).as[(Long, Long)].toLocalIterator()
    while (it.hasNext) {
      val (a, b) = it.next()
      val ra = find(java.util.Arrays.binarySearch(verts, a))
      val rb = find(java.util.Arrays.binarySearch(verts, b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val minOfRoot = new Array[Long](verts.length)
    java.util.Arrays.fill(minOfRoot, Long.MaxValue)
    var i = 0
    while (i < verts.length) {
      val r = find(i)
      if (minOfRoot(r) == Long.MaxValue) minOfRoot(r) = verts(i)
      i += 1
    }
    // parallelize (not createDataFrame-from-Seq): a LocalRelation emits
    // its rows from one partition, serializing the downstream shuffle —
    // slicing the label array keeps the consumer parallel
    val labeled = verts.indices.map(i => (verts(i), minOfRoot(find(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      labeled, math.max(1, math.min(32, labeled.length / 50000)))).toDF("id", "comp")
  }

  /** Exact dedup keeping the first row per key by a stable order (ref:
    * Preprocessor.py:161-167 drop_duplicates; deterministic row_number
    * variant per SURVEY §4).
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** [[dedupFirst]] as a map-side-combinable aggregate: min over the
    * lexicographic (order ++ payload) struct per key. Same first-row
    * semantics when the order prefix is a total order within each key, but
    * the plan is partial-agg → shuffle of one struct per key → final agg —
    * no full-table sort, and the shuffle carries |keys| rows, not |rows|.
    * Prefer this at scale whenever the kept row's columns are known
    * up-front; the window variant remains for arbitrary-payload frames.
    */
  def dedupFirstAgg(df: DataFrame, keys: Seq[String], order: Seq[Column],
                    payload: Seq[String]): DataFrame = {
    val kept = min(struct(order :+ struct(payload.map(col): _*).as("__row"): _*))
    df.groupBy(keys.map(col): _*)
      .agg(kept.as("__first"))
      .select(keys.map(col) ++ payload.map(p => col(s"__first.__row.$p").as(p)): _*)
  }
}
