package graft.queries

import graft.{GraftQuery, Tables}
import graft.io.Overlap
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search query suite over `embeddings`: exact brute-force
  * cosine KNN, random-hyperplane LSH, IVF probing, and brute-force
  * near-dup pairs. Oracles rebuild the same fixed-point integer sums and
  * double assembly in DuckDB (see Similarity for the determinism model).
  */
object SimilarityQueries {
  private val Dims = 64
  private val K = 10
  private val Planes = 6
  private val NumQueries = 5     // query set: vec_id < 5
  private val NumCentroids = 8   // IVF centroid set: vec_id < 8
  private val NProbe = 2

  private def sqlCos(aE: String, naE: String, bE: String, nbE: String): String =
    Similarity.sqlCosineFromFixed(Similarity.sqlDotFixed(aE, bE), naE, nbE)

  private val sqlV =
    s"SELECT vec_id AS id, embedding AS emb, ${Similarity.sqlDotFixed("embedding", "embedding")} AS norm_f FROM embeddings"

  /** E1 — exact brute-force cosine top-k for a small query set. */
  val e01KnnBrute: GraftQuery = GraftQuery(
    "e01_knn_brute",
    s"""WITH v AS ($sqlV),
       |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM v WHERE id < $NumQueries),
       |scored AS (
       |  SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
       |  FROM q CROSS JOIN v WHERE v.id != q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.knnBrute(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumQueries, K)
      .orderBy("q_id", "rank")
  }

  /** E2 — LSH-bucketed approximate top-k (sub-linear probe shape). */
  val e02KnnLsh: GraftQuery = GraftQuery(
    "e02_knn_lsh",
    s"""WITH v0 AS ($sqlV),
       |vf AS (SELECT id, emb, norm_f, ${Similarity.sqlVfix("emb")} AS vfix FROM v0),
       |v AS (SELECT id, emb, norm_f,
       |             ${Similarity.sqlLshBucketFromVfix("vfix", Planes, Dims)} AS bucket FROM vf),
       |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm, bucket AS q_bucket
       |      FROM v WHERE id < $NumQueries),
       |scored AS (
       |  SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
       |  FROM q JOIN v ON v.bucket = q.q_bucket AND v.id != q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.knnLsh(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumQueries, K, Planes, Dims)
      .orderBy("q_id", "rank")
  }

  /** E18 — MULTI-PROBE LSH top-k ([[Similarity.knnLshMultiProbe]]):
    * e02 plus the `Planes` buckets one sign-bit from the query's
    * signature — recall recovered without extra hash tables (the
    * published multi-probe trade). The oracle replays the probe-set
    * generation (bucket ∪ single-bit flips), the bucket restriction,
    * and the exact-cosine rerank; PropertySpec pins e02 ⊆ e18 candidate
    * sets and the Hamming-1 probe geometry.
    */
  val e18MultiProbeLsh: GraftQuery = GraftQuery(
    "e18_multiprobe_lsh",
    s"""WITH v0 AS ($sqlV),
       |vf AS (SELECT id, emb, norm_f, ${Similarity.sqlVfix("emb")} AS vfix FROM v0),
       |v AS (SELECT id, emb, norm_f,
       |             ${Similarity.sqlLshBucketFromVfix("vfix", Planes, Dims)} AS bucket FROM vf),
       |q0 AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm, bucket AS q_bucket
       |       FROM v WHERE id < $NumQueries),
       |q AS (SELECT q_id, q_emb, q_norm,
       |             unnest(list_prepend(q_bucket,
       |               [xor(q_bucket, CAST(1 << j AS BIGINT)) for j in range(0, $Planes)]))
       |               AS probe
       |      FROM q0),
       |scored AS (
       |  SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
       |  FROM q JOIN v ON v.bucket = q.probe AND v.id != q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.knnLshMultiProbe(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumQueries, K, Planes, Dims)
      .orderBy("q_id", "rank")
  }

  /** E3 — IVF top-k: nearest-centroid assignment, nprobe=2 cluster probe. */
  val e03KnnIvf: GraftQuery = GraftQuery(
    "e03_knn_ivf",
    s"""WITH v AS ($sqlV),
       |cent AS (SELECT id AS c_id, emb AS c_emb, norm_f AS c_norm FROM v WHERE id < $NumCentroids),
       |aff AS (
       |  SELECT v.id, v.emb, v.norm_f, c_id,
       |         ${sqlCos("v.emb", "v.norm_f", "c_emb", "c_norm")} AS c_cos
       |  FROM v CROSS JOIN cent),
       |ranked_aff AS (
       |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY c_cos DESC, c_id) AS crn FROM aff),
       |assigned AS (SELECT id, emb, norm_f, c_id AS cluster FROM ranked_aff WHERE crn = 1),
       |probes AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm, c_id AS cluster
       |           FROM ranked_aff WHERE id < $NumQueries AND crn <= $NProbe),
       |scored AS (
       |  SELECT DISTINCT q_id, a.id AS n_id,
       |         ${sqlCos("q_emb", "q_norm", "a.emb", "a.norm_f")} AS cosine
       |  FROM assigned a JOIN probes p ON a.cluster = p.cluster AND a.id != p.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.knnIvf(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumCentroids, col("id") < NumQueries, K, NProbe)
      .orderBy("q_id", "rank")
  }

  /** E4 — brute-force cosine near-dup pairs: top-100 of all i<j pairs with
    * the full pair-count audit (LSH/IVF are the sub-quadratic path).
    */
  val e04CosinePairs: GraftQuery = GraftQuery(
    "e04_cosine_pairs",
    s"""WITH v AS ($sqlV),
       |scored AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         ${sqlCos("a.emb", "a.norm_f", "b.emb", "b.norm_f")} AS cosine
       |  FROM v a JOIN v b ON a.id < b.id),
       |top AS (SELECT * FROM scored ORDER BY cosine DESC, id_a, id_b LIMIT 100)
       |SELECT id_a, id_b, cosine, t.n_pairs
       |FROM top CROSS JOIN (SELECT COUNT(*) AS n_pairs FROM scored) t
       |ORDER BY cosine DESC, id_a, id_b""".stripMargin) { (spark, dir) =>
    // hand kernel (broadcast + slice loops): bit-identical math to the
    // declarative cosinePairs + top-k, ~17x faster on the 2M-pair scan
    Similarity.cosinePairsTopK(Tables.embeddings(spark, dir), "vec_id", "embedding", 100)
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
  }

  /** E5 — LSH-bucketed near-dup pairs: the sub-quadratic scale path for
    * e04 (candidates share a bucket; exact cosine on candidates only).
    */
  val e05LshPairs: GraftQuery = GraftQuery(
    "e05_lsh_pairs",
    s"""WITH v0 AS ($sqlV),
       |vf AS (SELECT id, emb, norm_f, ${Similarity.sqlVfix("emb")} AS vfix FROM v0),
       |v AS (SELECT id, emb, norm_f,
       |             ${Similarity.sqlLshBucketFromVfix("vfix", Planes, Dims)} AS bucket FROM vf),
       |scored AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         ${sqlCos("a.emb", "a.norm_f", "b.emb", "b.norm_f")} AS cosine
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.id < b.id),
       |top AS (SELECT * FROM scored ORDER BY cosine DESC, id_a, id_b LIMIT 100)
       |SELECT id_a, id_b, cosine, t.n_candidates
       |FROM top CROSS JOIN (SELECT COUNT(*) AS n_candidates FROM scored) t
       |ORDER BY cosine DESC, id_a, id_b""".stripMargin) { (spark, dir) =>
    val pairs = Similarity.lshPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      Planes, Dims)
    val total = pairs.agg(count(lit(1)).as("n_candidates"))
    pairs.orderBy(desc("cosine"), asc("id_a"), asc("id_b")).limit(100)
      .crossJoin(broadcast(total))
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
  }

  private val SemThreshold = 0.38

  /** E6 — SemDeDup (cluster-then-prune semantic dedup): vectors assigned
    * to their nearest centroid (same fixed centroid set as e03),
    * within-cluster pairs with cosine ≥ threshold form duplicate groups,
    * and each group keeps its min id — every other member is emitted as
    * (removed_id, keep_id). The oracle recomputes the groups via a
    * recursive transitive closure (g02's technique) over the same
    * exact-cosine pair set, so the clustering, thresholding and
    * representative choice are all checked end-to-end.
    */
  val e06SemDedup: GraftQuery = GraftQuery(
    "e06_semdedup",
    s"""WITH RECURSIVE v AS ($sqlV),
       |cent AS (SELECT id AS c_id, emb AS c_emb, norm_f AS c_norm FROM v WHERE id < $NumCentroids),
       |aff AS (
       |  SELECT v.id, v.emb, v.norm_f, c_id,
       |         ${sqlCos("v.emb", "v.norm_f", "c_emb", "c_norm")} AS c_cos
       |  FROM v CROSS JOIN cent),
       |ranked_aff AS (
       |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY c_cos DESC, c_id) AS crn FROM aff),
       |assigned AS (SELECT id, emb, norm_f, c_id AS cluster FROM ranked_aff WHERE crn = 1),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE ${sqlCos("a.emb", "a.norm_f", "b.emb", "b.norm_f")} >= $SemThreshold),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM verts
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT id AS removed_id, component AS keep_id
       |FROM comp WHERE id != component ORDER BY removed_id""".stripMargin) { (spark, dir) =>
    Similarity.semDedupRemovals(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumCentroids, SemThreshold)
      .orderBy("removed_id")
  }

  // gate-scale coarse stride = ⌈√NumCentroids⌉ (mirrors the operator's
  // math.round(sqrt(k)) for k = 8 → 3)
  private val CoarseStride = math.round(math.sqrt(NumCentroids.toDouble))

  /** E6b — SemDeDup with the TWO-LEVEL (coarse-quantized) assignment
    * ([[Similarity.semDedupRemovalsTwoLevel]]): the k ∝ n scale path —
    * brute assignment is n·k dots (quadratic with k ∝ n), two-level is
    * n·2√k. The assignment is approximate the way IVF search is, but
    * fully deterministic fixed-point arithmetic, so the oracle replays
    * every stage exactly: coarse set = every ⌈√k⌉-th centroid by id
    * rank, fine→coarse argmax, vector→coarse argmax, vector→fine argmax
    * within the coarse group, then the same within-cluster prune +
    * recursive-closure grouping as e06.
    */
  val e06bSemDedupTwoLevel: GraftQuery = GraftQuery(
    "e06b_semdedup_twolevel",
    s"""WITH RECURSIVE v AS ($sqlV),
       |cent AS (SELECT id AS c_id, emb AS c_emb, norm_f AS c_norm FROM v WHERE id < $NumCentroids),
       |rc AS (SELECT *, row_number() OVER (ORDER BY c_id) AS r FROM cent),
       |coarse AS (SELECT c_id AS g_id, c_emb AS g_emb, c_norm AS g_norm FROM rc
       |           WHERE (r - 1) % $CoarseStride = 0),
       |cg AS (
       |  SELECT c_id, c_emb, c_norm, g_id,
       |         ${sqlCos("c_emb", "c_norm", "g_emb", "g_norm")} AS cg_cos
       |  FROM cent CROSS JOIN coarse),
       |centgrp AS (
       |  SELECT c_id, c_emb, c_norm, g_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY cg_cos DESC, g_id) AS rn
       |    FROM cg) WHERE rn = 1),
       |vg AS (
       |  SELECT v.id, v.emb, v.norm_f, g_id,
       |         ${sqlCos("v.emb", "v.norm_f", "g_emb", "g_norm")} AS vg_cos
       |  FROM v CROSS JOIN coarse),
       |vcoarse AS (
       |  SELECT id, emb, norm_f, g_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY vg_cos DESC, g_id) AS rn
       |    FROM vg) WHERE rn = 1),
       |vc AS (
       |  SELECT vcoarse.id, vcoarse.emb, vcoarse.norm_f, centgrp.c_id,
       |         ${sqlCos("vcoarse.emb", "vcoarse.norm_f", "centgrp.c_emb", "centgrp.c_norm")} AS vc_cos
       |  FROM vcoarse JOIN centgrp ON vcoarse.g_id = centgrp.g_id),
       |assigned AS (
       |  SELECT id, emb, norm_f, c_id AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY vc_cos DESC, c_id) AS rn
       |    FROM vc) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE ${sqlCos("a.emb", "a.norm_f", "b.emb", "b.norm_f")} >= $SemThreshold),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM verts
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT id AS removed_id, component AS keep_id
       |FROM comp WHERE id != component ORDER BY removed_id""".stripMargin) { (spark, dir) =>
    Similarity.semDedupRemovalsTwoLevel(Tables.embeddings(spark, dir), "vec_id",
        "embedding", col("id") < NumCentroids, SemThreshold)
      .orderBy("removed_id")
  }

  /** E7 — int8 scalar-quantized brute KNN
    * ([[Similarity.knnQuantized]]): the 4×-compressed scan path (one
    * byte per dimension instead of a four-byte float) with fully
    * integer-exact ranking math — quantized codes, integer dot and
    * norms, one double division at the end, identical in both engines.
    */
  val e07KnnQuantized: GraftQuery = GraftQuery(
    "e07_knn_quantized",
    s"""WITH v AS (
       |  SELECT vec_id AS id, ${Similarity.sqlQuantize("embedding")} AS qv
       |  FROM embeddings),
       |n AS (SELECT id, qv, ${Similarity.sqlDotCodes("qv", "qv")} AS qnorm FROM v),
       |q AS (SELECT id AS q_id, qv AS q_qv, qnorm AS q_qnorm FROM n WHERE id < $NumQueries),
       |scored AS (
       |  SELECT q_id, n.id AS n_id,
       |         ${Similarity.sqlDotCodes("q_qv", "n.qv")} AS dot_q,
       |         (CAST(${Similarity.sqlDotCodes("q_qv", "n.qv")} AS DOUBLE)
       |          / sqrt(CAST(q_qnorm * n.qnorm AS DOUBLE))) AS cosine_q
       |  FROM q CROSS JOIN n WHERE n.id != q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine_q DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, dot_q, cosine_q FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.knnQuantized(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumQueries, K)
      .orderBy("q_id", "rank")
  }

  /** E8 — coarse-to-fine (Matryoshka-style) top-k
    * ([[Similarity.knnCoarseRerank]]): a 16-dim prefix-slice scan picks
    * 30 candidates per query, the exact 64-dim cosine reranks them —
    * the two-pass shape that reads a quarter of the vector bytes in the
    * scan pass. Both passes are fixed-point deterministic; the oracle
    * replays coarse selection and rerank exactly, boundaries and ties
    * included.
    */
  val e08CoarseRerank: GraftQuery = GraftQuery(
    "e08_coarse_rerank", {
      val coarseDims = 16
      val coarseK = 30
      s"""WITH v AS (
         |  SELECT vec_id AS id, embedding AS emb, embedding[1:$coarseDims] AS cemb,
         |         ${Similarity.sqlDotFixed("embedding", "embedding")} AS norm_f
         |  FROM embeddings),
         |vn AS (SELECT id, emb, norm_f, cemb,
         |              ${Similarity.sqlDotFixed("cemb", "cemb")} AS cnorm FROM v),
         |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm,
         |             cemb AS q_cemb, cnorm AS q_cnorm
         |      FROM vn WHERE id < $NumQueries),
         |coarse AS (
         |  SELECT q_id, vn.id AS n_id, vn.emb, vn.norm_f, q_emb, q_norm,
         |         ${sqlCos("q_cemb", "q_cnorm", "vn.cemb", "vn.cnorm")} AS coarse_cos
         |  FROM q CROSS JOIN vn WHERE vn.id != q.q_id),
         |cand AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |            ORDER BY coarse_cos DESC, n_id) AS crank
         |  FROM coarse),
         |reranked AS (
         |  SELECT q_id, n_id,
         |         ${sqlCos("q_emb", "q_norm", "emb", "norm_f")} AS cosine
         |  FROM cand WHERE crank <= $coarseK),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                     ORDER BY cosine DESC, n_id) AS rank FROM reranked)
         |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin
    }) { (spark, dir) =>
    Similarity.knnCoarseRerank(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumQueries, K, coarseDims = 16, coarseK = 30)
      .orderBy("q_id", "rank")
  }

  /** E9 — embedding post-processing ([[Similarity.centerNormalize]]):
    * corpus mean-centering + per-vector L2 normalization, the standard
    * conditioning pass before ANN indexing. The gate emits the
    * quantized squared norm and the first four normalized coordinates;
    * the oracle replays the decimal-exact means, the 1e-9 centering
    * grid, the integer norm, and the final divisions.
    */
  val e09CenterNormalize: GraftQuery = GraftQuery(
    "e09_center_normalize",
    s"""WITH m AS (
       |  SELECT d, CAST(SUM(CAST(CAST(embedding[d] AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)
       |              / COUNT(*) AS mean
       |  FROM embeddings, range(1, $Dims + 1) t(d) GROUP BY d),
       |ma AS (SELECT list(mean ORDER BY d) AS mv FROM m),
       |q AS (
       |  SELECT vec_id,
       |         [CAST(floor((CAST(embedding[i] AS DOUBLE) - mv[i]) * 1000000000.0) AS BIGINT)
       |          for i in range(1, len(embedding) + 1)] AS qc
       |  FROM embeddings CROSS JOIN ma),
       |n AS (SELECT vec_id, qc,
       |             ${Similarity.sqlDotCodes("qc", "qc")} AS qnorm FROM q)
       |SELECT vec_id, qnorm,
       |       (CAST(qc[1] AS DOUBLE) / sqrt(CAST(qnorm AS DOUBLE))) AS n1,
       |       (CAST(qc[2] AS DOUBLE) / sqrt(CAST(qnorm AS DOUBLE))) AS n2,
       |       (CAST(qc[3] AS DOUBLE) / sqrt(CAST(qnorm AS DOUBLE))) AS n3,
       |       (CAST(qc[4] AS DOUBLE) / sqrt(CAST(qnorm AS DOUBLE))) AS n4
       |FROM n ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    Similarity.centerNormalize(Tables.embeddings(spark, dir), "vec_id", "embedding", Dims)
      .select(col("id").as("vec_id"), col("qnorm"),
        element_at(col("normalized"), 1).as("n1"),
        element_at(col("normalized"), 2).as("n2"),
        element_at(col("normalized"), 3).as("n3"),
        element_at(col("normalized"), 4).as("n4"))
      .orderBy("vec_id")
  }

  /** E10 — one k-means Lloyd ROUND ([[Similarity.kmeansRound]]): the
    * training-loop body of [[Similarity.trainIvfCentroids]], previously
    * spec-only, now oracle-gated. Seeds are the $NumCentroids lowest-id
    * vectors; the gate pins the fixed-point argmax assignment (ties to
    * the lower centroid id) AND the decimal-exact per-dimension member
    * means on the 1e-6 grid — k×dims rows of model-state delta.
    */
  val e10KmeansRound: GraftQuery = GraftQuery(
    "e10_kmeans_round",
    s"""WITH v AS ($sqlV),
       |c AS (SELECT id AS c_id, emb AS c_emb, norm_f AS c_norm FROM v WHERE id < $NumCentroids),
       |a AS (SELECT id, emb, c_id, ${sqlCos("emb", "norm_f", "c_emb", "c_norm")} AS c_cos
       |      FROM v CROSS JOIN c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY c_cos DESC, c_id) AS rn FROM a)
       |SELECT c_id, d AS dim, COUNT(*) AS n_members,
       |       CAST(floor((CAST(SUM(CAST(CAST(emb[d] AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)
       |                   / COUNT(*)) * 1000000.0) AS BIGINT) AS m_q
       |FROM r, range(1, $Dims + 1) t(d) WHERE rn = 1
       |GROUP BY c_id, d ORDER BY c_id, dim""".stripMargin) { (spark, dir) =>
    Similarity.kmeansRound(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumCentroids)
      .orderBy("c_id", "dim")
  }

  /** E11 — product-quantization assignment ([[Similarity.pqAssign]]):
    * the PQ encoding pass (4 subspaces × 16 dims, codebook = the 8
    * seed vectors' subvector slices). The oracle replays the int8
    * quantization, per-subspace integer squared-L2, and the
    * lower-codeword tie-break exactly.
    */
  val e11PqAssign: GraftQuery = GraftQuery(
    "e11_pq_assign",
    s"""WITH v AS (SELECT vec_id AS id, ${Similarity.sqlQuantize("embedding")} AS q FROM embeddings),
       |cb AS (SELECT id AS c_id, q AS cq FROM v WHERE id < $NumCentroids),
       |sub AS (SELECT id, s, q[s*16+1 : s*16+16] AS qs FROM v, range(0, 4) t(s)),
       |csub AS (SELECT c_id, s, cq[s*16+1 : s*16+16] AS cqs FROM cb, range(0, 4) t(s)),
       |d AS (SELECT id, s, c_id,
       |        CAST(list_sum([(qs[i]-cqs[i])*(qs[i]-cqs[i]) for i in range(1, 17)]) AS BIGINT) AS dist
       |      FROM sub JOIN csub USING (s)),
       |a AS (SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY dist, c_id) AS rn FROM d)
       |SELECT id AS vec_id, s AS subspace, c_id AS code, dist AS dist_q
       |FROM a WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin) { (spark, dir) =>
    Similarity.pqAssign(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumCentroids, m = 4, dsub = 16)
      .orderBy("vec_id", "subspace")
  }

  /** E15 — PQ ASYMMETRIC-DISTANCE top-k ([[Similarity.pqAdcTopK]]): the
    * retrieval half of e11's encoding. Each query precomputes exact
    * integer squared-L2 distance tables to the 8 codewords per
    * subspace; a database vector scores as the SUM of 4 table lookups
    * on its codes — the search scans codes, never floats. The oracle
    * replays encoding, tables, lookup-sum, and the (dist, id) top-10
    * tie-break end to end.
    */
  val e15PqAdcTopK: GraftQuery = GraftQuery(
    "e15_pq_adc_topk",
    s"""WITH v AS (SELECT vec_id AS id, ${Similarity.sqlQuantize("embedding")} AS q FROM embeddings),
       |cb AS (SELECT id AS c_id, q AS cq FROM v WHERE id < $NumCentroids),
       |sub AS (SELECT id, s, q[s*16+1 : s*16+16] AS qs FROM v, range(0, 4) t(s)),
       |csub AS (SELECT c_id, s, cq[s*16+1 : s*16+16] AS cqs FROM cb, range(0, 4) t(s)),
       |d AS (SELECT id, s, c_id,
       |        CAST(list_sum([(qs[i]-cqs[i])*(qs[i]-cqs[i]) for i in range(1, 17)]) AS BIGINT) AS dist
       |      FROM sub JOIN csub USING (s)),
       |codes AS (SELECT id, s, c_id AS code FROM
       |            (SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY dist, c_id) AS rn FROM d)
       |          WHERE rn = 1),
       |tab AS (SELECT id AS q_id, s, c_id, dist FROM d WHERE id < $NumQueries),
       |scored AS (
       |  SELECT q_id, codes.id AS n_id, CAST(SUM(tab.dist) AS BIGINT) AS adc_dist
       |  FROM codes JOIN tab ON tab.s = codes.s AND tab.c_id = codes.code
       |  WHERE codes.id != tab.q_id GROUP BY q_id, codes.id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, adc_dist FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    Similarity.pqAdcTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") < NumCentroids, col("id") < NumQueries, K)
      .orderBy("q_id", "rank")
  }

  /** E12 — SIGN RANDOM PROJECTION (Johnson-Lindenstrauss / SRP dim
    * reduction): project the 64-d embeddings onto 16 ±1 hyperplane
    * directions — the SAME deterministic sign matrix the LSH bucketing
    * thresholds ([[Similarity.hyperplaneSign]]); e02/e05 keep only the
    * sign bit per direction, this op keeps the projected VALUE, i.e. the
    * 4×-compressed sketch that preserves dot products in expectation
    * (the dense float analog is e07's int8 quantization; this is the
    * dimensionality side of the same storage trade).
    * All math on the e01-convention fixed-point grid (floor(x·10⁹)) —
    * bit-identical across engines.
    *
    * Scale shape: pure per-row compute — the fixed-point grid binds to
    * an attribute ONCE (the t11 HOF-inlining lesson: inlined, each of
    * the 16 projections would re-quantize the vector), each projection
    * is a zip_with + aggregate over the ±1 literal array. No shuffle
    * except the gate's ORDER BY.
    */
  val e12SignProjection: GraftQuery = GraftQuery(
    "e12_sign_projection", {
      def signsArr(j: Int): String =
        (0 until Dims).map(d => Similarity.hyperplaneSign(j, d, Dims)).mkString("[", ", ", "]")
      def projE(j: Int): String =
        s"list_sum([vfix[i] * (${signsArr(j)})[i] for i in range(1, $Dims + 1)])"
      val checksum = (0 until 16).map(j => s"(${j + 1}) * (${projE(j)})").mkString(" + ")
      s"""WITH v AS (SELECT vec_id, ${Similarity.sqlVfix("embedding")} AS vfix FROM embeddings)
         |SELECT vec_id,
         |  CAST(${projE(0)} AS BIGINT) AS p0,
         |  CAST(${projE(1)} AS BIGINT) AS p1,
         |  CAST(${projE(2)} AS BIGINT) AS p2,
         |  CAST(${projE(3)} AS BIGINT) AS p3,
         |  CAST($checksum AS BIGINT) AS proj_checksum
         |FROM v ORDER BY vec_id""".stripMargin
    }) { (spark, dir) =>
    def signsLit(j: Int) =
      array((0 until Dims).map(d => lit(Similarity.hyperplaneSign(j, d, Dims).toLong)): _*)
    def proj(j: Int) =
      aggregate(zip_with(col("vfix"), signsLit(j), (a, b) => a * b), lit(0L), _ + _)
    val checksum = (0 until 16).map(j => proj(j) * lit(j + 1L)).reduce(_ + _)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(Similarity.SignScale)).cast("long")).as("vfix"))
      .select(col("vec_id"),
        proj(0).as("p0"), proj(1).as("p1"), proj(2).as("p2"), proj(3).as("p3"),
        checksum.as("proj_checksum"))
      .orderBy("vec_id")
  }

  /** E13 — MMR DIVERSIFIED RE-RANK (maximal marginal relevance): the
    * result-diversification pass every retrieval/RAG pipeline runs on
    * its top-k head — greedily pick 5 of the top-20 candidates
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` (λ = 0.7), so
    * near-duplicate hits can't crowd the slate. Greedy MMR is
    * inherently sequential in k; the DISTRIBUTED part is exactly where
    * the data is big — candidate generation (e01/e03's top-k over the
    * corpus) and the 20×20 pairwise-sim table — while the 5-step
    * selection loop touches ≤ 20 rows per round (the g07 driver-looped
    * round convention; each round is one plan over the persisted pool).
    * The oracle UNROLLS the same greedy recursion into 5 chained CTEs,
    * so the argmax sequence itself is oracle-pinned. All cosines ride
    * the fixed-point grid; λ-arithmetic is the same double expression
    * on both engines.
    */
  val e13MmrRerank: GraftQuery = GraftQuery(
    "e13_mmr_rerank", {
      def step(i: Int): String = {
        val prev = (1 until i).map(j => s"SELECT id FROM s$j").mkString(" UNION ALL ")
        s"""c$i AS (
           |  SELECT p.id, p.rel,
           |         0.7 * p.rel - 0.3 * (SELECT MAX(s) FROM P
           |                              WHERE P.a = p.id AND P.b IN ($prev)) AS mmr
           |  FROM pool p WHERE p.id NOT IN ($prev)),
           |s$i AS (SELECT id, rel, mmr FROM c$i ORDER BY mmr DESC, id LIMIT 1)"""
          .stripMargin
      }
      s"""WITH v AS ($sqlV),
         |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM v WHERE id = 0),
         |rel0 AS (
         |  SELECT v.id, v.emb, v.norm_f,
         |         ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS rel
         |  FROM v CROSS JOIN q WHERE v.id != q.q_id),
         |pool AS (SELECT * FROM rel0 ORDER BY rel DESC, id LIMIT 20),
         |P AS (
         |  SELECT a.id AS a, b.id AS b,
         |         ${sqlCos("a.emb", "a.norm_f", "b.emb", "b.norm_f")} AS s
         |  FROM pool a JOIN pool b ON a.id != b.id),
         |s1 AS (SELECT id, rel, 0.7 * rel AS mmr FROM pool ORDER BY rel DESC, id LIMIT 1),
         |${(2 to 5).map(step).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 5).map(i => s"  SELECT $i AS sel_rank, id, rel, mmr FROM s$i")
              .mkString("  UNION ALL\n")})
         |ORDER BY sel_rank""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val v = Similarity.withNormFixed(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val q = v.filter(col("id") === 0)
      .select(col("emb").as("q_emb"), col("norm_f").as("q_norm"))
    val pool = v.filter(col("id") =!= 0).crossJoin(broadcast(q))
      .select(col("id"), col("emb"), col("norm_f"),
        Similarity.cosineFromFixed(Similarity.dotFixed(col("q_emb"), col("emb")),
          col("q_norm"), col("norm_f")).as("rel"))
      .orderBy(desc("rel"), asc("id")).limit(20)
      .persist(mem)
    val pa = pool.select(col("id").as("a"), col("emb").as("a_emb"), col("norm_f").as("a_norm"))
    val pb = pool.select(col("id").as("b"), col("emb").as("b_emb"), col("norm_f").as("b_norm"))
    val pairs = pa.join(pb, col("a") =!= col("b"))
      .select(col("a"), col("b"),
        Similarity.cosineFromFixed(Similarity.dotFixed(col("a_emb"), col("b_emb")),
          col("a_norm"), col("b_norm")).as("s"))
      .persist(mem)
    var sel = Vector.empty[(Int, Long, Double, Double)]
    for (r <- 1 to 5) {
      val picked = sel.map(_._2)
      val cand0 = if (picked.isEmpty) pool else pool.filter(!col("id").isin(picked: _*))
      val cand =
        if (picked.isEmpty) cand0.withColumn("mmr", lit(0.7) * col("rel"))
        else {
          val maxs = pairs.filter(col("b").isin(picked: _*))
            .groupBy("a").agg(max("s").as("maxs"))
          cand0.join(maxs, col("id") === col("a"))
            .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("maxs"))
        }
      val row = cand.orderBy(desc("mmr"), asc("id"))
        .select("id", "rel", "mmr").limit(1).collect()(0)
      sel :+= ((r, row.getLong(0), row.getDouble(1), row.getDouble(2)))
    }
    pool.unpersist(); pairs.unpersist()
    sel.toDF("sel_rank", "id", "rel", "mmr")
  }

  /** E14 — ANN RECALL@K EVALUATION: the quality harness every
    * approximate index ships with — e02's LSH top-k measured against
    * e01's brute-force ground truth, recall@10 per query plus the
    * hit count. Production tunes `Planes`/`nprobe` against exactly
    * this curve before trusting an index at corpus scale; here the
    * whole evaluation (truth, candidates, join, recall) is
    * oracle-gated so the measurement itself is verified.
    *
    * Scale shape: ground truth runs on a SAMPLED query set (5 ids —
    * recall curves need tens of queries, not the corpus), so the brute
    * leg is |sample|×n and the comparison is a broadcast-size join of
    * two top-k lists; the division is one exact-integer op.
    */
  val e14AnnRecall: GraftQuery = GraftQuery(
    "e14_ann_recall",
    s"""WITH v AS ($sqlV),
       |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM v WHERE id < $NumQueries),
       |scored_b AS (
       |  SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
       |  FROM q CROSS JOIN v WHERE v.id != q.q_id),
       |ranked_b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |             FROM scored_b),
       |truth AS (SELECT q_id, n_id FROM ranked_b WHERE rank <= $K),
       |vf AS (SELECT id, emb, norm_f, ${Similarity.sqlVfix("emb")} AS vfix FROM v),
       |vb AS (SELECT id, emb, norm_f,
       |              ${Similarity.sqlLshBucketFromVfix("vfix", Planes, Dims)} AS bucket FROM vf),
       |ql AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm, bucket AS q_bucket
       |       FROM vb WHERE id < $NumQueries),
       |scored_l AS (
       |  SELECT q_id, vb.id AS n_id, ${sqlCos("q_emb", "q_norm", "vb.emb", "vb.norm_f")} AS cosine
       |  FROM ql JOIN vb ON vb.bucket = ql.q_bucket AND vb.id != ql.q_id),
       |ranked_l AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |             FROM scored_l),
       |cand AS (SELECT q_id, n_id, 1 AS hit FROM ranked_l WHERE rank <= $K)
       |SELECT t.q_id, CAST($K AS BIGINT) AS k, CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       |       CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / $K.0 AS recall
       |FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.knnBrute(emb, "vec_id", "embedding",
        col("id") < NumQueries, K)
      .select("q_id", "n_id")
    val cand = Similarity.knnLsh(emb, "vec_id", "embedding",
        col("id") < NumQueries, K, Planes, Dims)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    truth.join(cand, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("q_id"), lit(K.toLong).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("q_id")
  }

  /** E16 — IVF-PQ composed search ([[Similarity.knnIvfPqAdc]]): e03's
    * coarse routing over e15's code-lookup scoring — the FAISS
    * `IVFx,PQy` index shape. Coarse centroids (ids 8..11, DISJOINT
    * from the PQ codebook ids < 8 — routing granularity and code
    * resolution are independent dials) assign every vector by
    * full-vector integer squared-L2; each query probes its 2 nearest
    * clusters; only codes of vectors INSIDE probed clusters meet the
    * query's ADC distance tables. The oracle replays routing,
    * encoding, tables, the cluster restriction, and the top-10
    * tie-break end to end — pinning the composition (a near vector in
    * an unprobed cluster must NOT appear).
    */
  /** E20 — IVF-PQ RECALL@K EVALUATION: e14's quality harness pointed at
    * the PRODUCTION ANN path — e16's IVF-PQ ADC answer measured against
    * brute-force cosine ground truth, recall@10 per query. This is the
    * curve `nprobe`/`m`/codebook size are tuned against before an index
    * is trusted at corpus scale (compression error + probe misses both
    * land here, which neither e14 (LSH only) nor e16's self-oracle can
    * see). Whole evaluation oracle-gated: truth, PQ answer, join,
    * recall arithmetic.
    *
    * Scale shape: brute truth on the |sample| query set only; the PQ
    * leg is the e16 search; the comparison is a broadcast-size join of
    * two top-k lists.
    */
  val e20IvfPqRecall: GraftQuery = GraftQuery(
    "e20_ivfpq_recall",
    s"""WITH bv AS ($sqlV),
       |bq AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM bv WHERE id < $NumQueries),
       |scored_b AS (
       |  SELECT q_id, bv.id AS n_id, ${sqlCos("q_emb", "q_norm", "bv.emb", "bv.norm_f")} AS cosine
       |  FROM bq CROSS JOIN bv WHERE bv.id != bq.q_id),
       |ranked_b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |             FROM scored_b),
       |truth AS (SELECT q_id, n_id FROM ranked_b WHERE rank <= $K),
       |$ivfPqCtes,
       |cand AS (SELECT q_id, n_id, 1 AS hit FROM ranked WHERE rank <= $K)
       |SELECT t.q_id, CAST($K AS BIGINT) AS k, CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       |       CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / $K.0 AS recall
       |FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.knnBrute(emb, "vec_id", "embedding",
        col("id") < NumQueries, K)
      .select("q_id", "n_id")
    val cand = Similarity.knnIvfPqAdc(emb, "vec_id", "embedding",
        col("id") >= NumCentroids && col("id") < NumCentroids + 4,
        col("id") < NumCentroids, col("id") < NumQueries, K, NProbe)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    truth.join(cand, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("q_id"), lit(K.toLong).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("q_id")
  }

  /** The IVF-PQ reference computation as a reusable CTE body (no WITH,
    * no final SELECT): e16/e19 read its `ranked`; e20 joins it against
    * brute-force truth.
    */
  /** E21 — RECALL-vs-NPROBE tuning curve (m04's threshold sweep, for
    * the ANN family): e20's recall evaluation at nprobe ∈ {1, 2, 4} in
    * ONE gated table — the dial an IVF-PQ deployment turns (probe more
    * clusters → more candidates → higher recall, linearly more codes
    * I/O) frozen as data. The oracle instantiates the full IVF-PQ
    * reference chain once per probe width (prefixed CTEs) against one
    * shared brute-force truth, so every point on the curve is
    * hash-gated.
    *
    * Scale shape: the truth leg is |sample|×n once; each sweep point is
    * an e16 search (probed-clusters-bounded); the output is
    * |nprobes|×|sample| rows. In production the truth sample is
    * persisted and the sweep amortizes across tuning runs.
    */
  val e21NprobeRecallCurve: GraftQuery = GraftQuery(
    "e21_nprobe_recall_curve", {
      def point(x: String, np: Int): String =
        s"""r$x AS (
           |  SELECT CAST($np AS BIGINT) AS nprobe, t.q_id,
           |         CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit
           |  FROM truth t LEFT JOIN
           |    (SELECT q_id, n_id, 1 AS hit FROM ${x}ranked WHERE rank <= $K) c
           |    ON t.q_id = c.q_id AND t.n_id = c.n_id
           |  GROUP BY 2)""".stripMargin
      s"""WITH bv AS ($sqlV),
         |bq AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM bv WHERE id < $NumQueries),
         |scored_b AS (
         |  SELECT q_id, bv.id AS n_id, ${sqlCos("q_emb", "q_norm", "bv.emb", "bv.norm_f")} AS cosine
         |  FROM bq CROSS JOIN bv WHERE bv.id != bq.q_id),
         |ranked_b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |             FROM scored_b),
         |truth AS (SELECT q_id, n_id FROM ranked_b WHERE rank <= $K),
         |${ivfPqCtesP("p1", 1)},
         |${ivfPqCtesP("p2", 2)},
         |${ivfPqCtesP("p4", 4)},
         |${point("p1", 1)},
         |${point("p2", 2)},
         |${point("p4", 4)}
         |SELECT nprobe, q_id, CAST($K AS BIGINT) AS k, n_hit,
         |       CAST(n_hit AS DOUBLE) / $K.0 AS recall
         |FROM (SELECT * FROM rp1 UNION ALL SELECT * FROM rp2
         |      UNION ALL SELECT * FROM rp4)
         |ORDER BY nprobe, q_id""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.knnBrute(emb, "vec_id", "embedding",
        col("id") < NumQueries, K)
      .select("q_id", "n_id")
    // ONE assignment/encoding/ADC pass serves every sweep point
    // (probe width only changes which clusters score — see
    // knnIvfPqAdcCurve); per-width results are identical to the former
    // three independent knnIvfPqAdc runs
    val curve = Similarity.knnIvfPqAdcCurve(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, col("id") < NumQueries, K, Seq(1, 2, 4))
    Seq(1, 2, 4).map { np =>
      val cand = curve.filter(col("nprobe") === np)
        .select(col("q_id"), col("n_id"), lit(1).as("hit"))
      truth.join(cand, Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("q_id"),
          lit(K.toLong).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(K.toDouble)).as("recall"))
    }.reduce(_ unionByName _).orderBy("nprobe", "q_id")
  }

  // lazy/def: referenced by e20/e21 above the definition point —
  // initialization order would otherwise interpolate null into the SQL
  private lazy val ivfPqCtes: String = ivfPqCtesP("", NProbe)

  /** The IVF-PQ CTE chain with every CTE name prefixed `$x`, the probe
    * width as a parameter (e21's nprobe sweep), and the query-set
    * predicate as a parameter (e24 probes with the MULTI-vector query
    * docs' token set instead of the e16/e19 singleton queries) — lets
    * one WITH clause instantiate the whole reference computation
    * several times without name collisions.
    */
  private def ivfPqCtesP(x: String, nprobe: Int,
                         qPred: String = s"id < $NumQueries",
                         candPred: String = "TRUE"): String =
    s"""${x}v AS (SELECT vec_id AS id, ${Similarity.sqlQuantize("embedding")} AS q FROM embeddings),
       |${x}g AS (SELECT id AS g_id, q AS gq FROM ${x}v WHERE id >= $NumCentroids AND id < ${NumCentroids + 4}),
       |${x}aff AS (
       |  SELECT id, g_id,
       |         CAST(list_sum([(q[i]-gq[i])*(q[i]-gq[i]) for i in range(1, len(q)+1)]) AS BIGINT) AS gdist
       |  FROM ${x}v CROSS JOIN ${x}g),
       |${x}ra AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY gdist, g_id) AS rn FROM ${x}aff),
       |${x}assigned AS (SELECT id, g_id AS cluster FROM ${x}ra WHERE rn = 1),
       |${x}probes AS (SELECT id AS q_id, g_id AS cluster FROM ${x}ra WHERE ($qPred) AND rn <= $nprobe),
       |${x}cb AS (SELECT id AS c_id, q AS cq FROM ${x}v WHERE id < $NumCentroids),
       |${x}sub AS (SELECT id, s, q[s*16+1 : s*16+16] AS qs FROM ${x}v, range(0, 4) t(s)),
       |${x}csub AS (SELECT c_id, s, cq[s*16+1 : s*16+16] AS cqs FROM ${x}cb, range(0, 4) t(s)),
       |${x}d AS (SELECT id, s, c_id,
       |        CAST(list_sum([(qs[i]-cqs[i])*(qs[i]-cqs[i]) for i in range(1, 17)]) AS BIGINT) AS dist
       |      FROM ${x}sub JOIN ${x}csub USING (s)),
       |${x}codes AS (SELECT id, s, c_id AS code FROM
       |            (SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY dist, c_id) AS rn FROM ${x}d)
       |          WHERE rn = 1),
       |${x}tab AS (SELECT id AS q_id, s, c_id, dist FROM ${x}d WHERE ($qPred)),
       |${x}scored AS (
       |  SELECT p.q_id, c.id AS n_id, CAST(SUM(t.dist) AS BIGINT) AS adc_dist
       |  FROM ${x}codes c
       |  JOIN ${x}assigned a ON a.id = c.id
       |  JOIN ${x}probes p ON p.cluster = a.cluster
       |  JOIN ${x}tab t ON t.q_id = p.q_id AND t.s = c.s AND t.c_id = c.code
       |  WHERE c.id != p.q_id AND ($candPred)
       |  GROUP BY 1, 2),
       |${x}ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rank
       |           FROM ${x}scored)""".stripMargin

  private lazy val ivfPqOracleSql: String =
    s"""WITH $ivfPqCtes
       |SELECT q_id, rank, n_id, adc_dist FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  val e16IvfPqSearch: GraftQuery = GraftQuery(
    "e16_ivfpq_search", ivfPqOracleSql) { (spark, dir) =>
    Similarity.knnIvfPqAdc(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("id") >= NumCentroids && col("id") < NumCentroids + 4,
        col("id") < NumCentroids, col("id") < NumQueries, K, NProbe)
      .orderBy("q_id", "rank")
  }

  /** E19 — IVF-PQ retrieval off a PERSISTED index
    * ([[Similarity.buildIvfPqStore]]/[[Similarity.ivfPqStoredTopK]]):
    * the production ANN split, t21b's stored-index story for vectors —
    * the index (coarse centroids, codebook, per-vector codes with their
    * cluster co-located) is written once; retrieval reads ONLY the
    * store plus the 5-row runtime query frame — the embedding corpus
    * appears nowhere in the search plan. Gated against e16's oracle
    * verbatim, so STORE FIDELITY is itself verified: any loss in the
    * persisted codes, clusters, or centroids breaks the hash.
    */
  val e19IvfPqStored: GraftQuery = GraftQuery(
    "e19_ivfpq_stored", ivfPqOracleSql) { (spark, dir) =>
    val store = Dsl.tempStore("e19_index")
    val emb = Tables.embeddings(spark, dir)
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding", K, NProbe)
      .orderBy("q_id", "rank")
  }

  /** E17 — BINARY (Hamming) embedding search: each 64-d float vector
    * compresses to its 64 SIGN BITS packed into two 32-bit halves
    * (the i07 dHash convention — two BIGINT halves instead of one
    * 64-bit word keeps every fold clear of ANSI sign-bit overflow),
    * and retrieval ranks by Hamming distance = popcount(xor) on the
    * halves. The extreme end of the storage/recall trade e07 (int8,
    * 4×) and e11/e15 (PQ codes, 64×) walk: 256× compression, the
    * corpus scanned as TWO LONGS per row, distance in two
    * bit_count(xor) ALU ops — no arithmetic on vector elements at all
    * at search time. e12's sign projection keeps projected VALUES;
    * this keeps raw-dimension signs as the index itself.
    *
    * Scale shape: packing is a pure per-row fold (no shuffle); the
    * 5-query side broadcasts; scoring is a map over the packed scan;
    * per-query top-10 via rank window on candidate rows. Deterministic
    * everywhere — bit math has no float-order hazard by construction.
    */
  val e17HammingTopK: GraftQuery = GraftQuery(
    "e17_hamming_topk",
    s"""WITH v AS (
       |  SELECT vec_id AS id,
       |         list_reduce([CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
       |                      for x in embedding[1:32]], (a, b) -> a * 2 + b) AS h1,
       |         list_reduce([CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
       |                      for x in embedding[33:64]], (a, b) -> a * 2 + b) AS h2
       |  FROM embeddings),
       |q AS (SELECT id AS q_id, h1 AS qh1, h2 AS qh2 FROM v WHERE id < $NumQueries),
       |scored AS (
       |  SELECT q_id, v.id AS n_id,
       |         bit_count(xor(CAST(h1 AS BIGINT), CAST(qh1 AS BIGINT))) +
       |         bit_count(xor(CAST(h2 AS BIGINT), CAST(qh2 AS BIGINT))) AS hamming
       |  FROM v CROSS JOIN q WHERE v.id != q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, CAST(hamming AS BIGINT) AS hamming
       |FROM ranked WHERE rank <= $K ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    def pack(emb: Column, from: Int): Column =
      aggregate(slice(emb, from, 32), lit(0L),
        (acc, x) => acc * 2 + when(x >= 0, 1L).otherwise(0L))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        pack(col("embedding"), 1).as("h1"),
        pack(col("embedding"), 33).as("h2"))
    val q = v.filter(col("id") < NumQueries)
      .select(col("id").as("q_id"), col("h1").as("qh1"), col("h2").as("qh2"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        (expr("bit_count(h1 ^ qh1)") + expr("bit_count(h2 ^ qh2)"))
          .cast("bigint").as("hamming"))
    val w = Window.partitionBy("q_id").orderBy(asc("hamming"), asc("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("q_id", "rank", "n_id", "hamming")
      .orderBy("q_id", "rank")
  }

  /** E22 — LATE-INTERACTION (MaxSim) retrieval, the ColBERT scoring rule
    * (Khattab & Zaharia 2020): documents and queries are MULTI-VECTOR
    * (one embedding per token), and score(q, d) = Σ_{qv∈q} max_{dv∈d}
    * qv·dv — each query token matches its best document token, summed.
    * Between the single-vector ANN family (e01–e21) and a cross-encoder
    * this is the standard quality/cost middle rung; corpora that store
    * per-token embeddings need exactly this operator for re-ranking.
    * Multi-vector docs derive from the embeddings table (vec_id % 100
    * groups ~5–50 vectors per doc; docs 0–1 double as queries); scores
    * stay in fixed-point BIGINT ([[Similarity.dotFixed]]) end to end, so
    * ranking is exact and engine-identical — no float-order leak.
    *
    * Scale shape: the RELATIONAL MaxSim — query token-vectors broadcast
    * into a scan of corpus token-vector rows (never a corpus self-join),
    * per-(query-token, doc) max and per-(query, doc) sum are BOTH
    * map-side-combinable keyed aggs, and the top-5 window runs on
    * |queries|×|docs| score rows, not token rows. At 100 TB the corpus
    * is scanned once per query batch; candidate generation composes with
    * e02/e19 upstream (MaxSim re-ranks their shortlist — here it runs
    * corpus-wide so the ranking itself is what's gated).
    */
  val e22MaxSimLateInteraction: GraftQuery = GraftQuery(
    "e22_maxsim_late_interaction", {
      s"""WITH v AS (SELECT vec_id, vec_id % 100 AS d, embedding AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qv, d AS qd, emb AS q_emb FROM v WHERE d < 2),
         |p AS (SELECT q.qd, q.qv, v.d AS cd,
         |             MAX(${Similarity.sqlDotFixed("q_emb", "v.emb")}) AS m
         |      FROM q CROSS JOIN v WHERE v.d != q.qd
         |      GROUP BY q.qd, q.qv, v.d),
         |sc AS (SELECT qd, cd, CAST(SUM(m) AS BIGINT) AS score
         |       FROM p GROUP BY qd, cd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rank
         |      FROM sc)
         |SELECT qd, rank, cd, score FROM r WHERE rank <= 5
         |ORDER BY qd, rank""".stripMargin
    }) { (spark, dir) =>
    Similarity.maxSimTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        docMod = 100, numQueryDocs = 2, k = 5)
      .orderBy("qd", "rank")
  }

  /** E24 — the PRODUCTION MaxSim: e19's STORED-index shortlist re-ranked
    * by e22's late interaction ([[Similarity.ivfPqStoredTopK]] →
    * [[Similarity.maxSimTopKShortlist]]) — the ColBERT serving split
    * (candidate generation from an ANN index, exact multi-vector
    * re-rank over candidates only). What the gate pins is the
    * INTERACTION, the way e16 gates routing×scoring: every query-doc
    * TOKEN probes the stored IVF-PQ index (nprobe clusters each), the
    * union of retrieved vectors' docs is the candidate set, and MaxSim
    * scores candidates ONLY — a doc none of whose tokens surfaced from
    * a probed cluster must not score, no matter how close it is (the
    * PropertySpec pin plants exactly such a doc and proves it absent
    * while corpus-wide e22 scores it). The oracle chains the e19
    * reference CTEs — re-instantiated with the token-set query
    * predicate — into the e22 scoring rule, so index fidelity,
    * shortlist membership, and re-rank arithmetic are all one hash.
    *
    * Scale shape: stage 1 is e19's (probed-partition-pruned codes scan,
    * I/O ∝ probed clusters); stage 2 touches candidate docs only —
    * corpus token rows are scanned ONCE and semi-joined against the
    * broadcast candidate pairs; at 100 TB the full-corpus MaxSim of e22
    * never runs in production, THIS does.
    */
  val e24MaxSimStored: GraftQuery = GraftQuery(
    "e24_maxsim_stored", {
      s"""WITH ${ivfPqCtesP("m", NProbe, "id % 100 < 2")},
         |short AS (SELECT q_id, n_id FROM mranked WHERE rank <= $K),
         |cand AS (SELECT DISTINCT q_id % 100 AS qd, n_id % 100 AS cd
         |         FROM short WHERE n_id % 100 != q_id % 100),
         |vv AS (SELECT vec_id, vec_id % 100 AS d, embedding AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qv, d AS qd, emb AS q_emb FROM vv WHERE d < 2),
         |p AS (SELECT c.qd, q.qv, c.cd,
         |             MAX(${Similarity.sqlDotFixed("q_emb", "vv.emb")}) AS m
         |      FROM cand c JOIN q ON q.qd = c.qd JOIN vv ON vv.d = c.cd
         |      GROUP BY c.qd, q.qv, c.cd),
         |sc AS (SELECT qd, cd, CAST(SUM(m) AS BIGINT) AS score
         |       FROM p GROUP BY qd, cd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qd ORDER BY score DESC, cd) AS rank
         |      FROM sc)
         |SELECT qd, rank, cd, score FROM r WHERE rank <= 5
         |ORDER BY qd, rank""".stripMargin
    }) { (spark, dir) =>
    val store = Dsl.tempStore("e24_index")
    val emb = Tables.embeddings(spark, dir)
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    val qTokens = emb.filter(pmod(col("vec_id"), lit(100)) < 2)
    val short = Similarity.ivfPqStoredTopK(spark, store, qTokens,
      "vec_id", "embedding", K, NProbe)
    val cand = short.select(pmod(col("q_id"), lit(100)).as("qd"),
        pmod(col("n_id"), lit(100)).as("cd"))
      .filter(col("cd") =!= col("qd")).distinct()
    Similarity.maxSimTopKShortlist(emb, "vec_id", "embedding",
        docMod = 100, numQueryDocs = 2, candidates = cand, k = 5)
      .orderBy("qd", "rank")
  }

  /** E23 — SEMANTIC (embedding-level) BENCHMARK DECONTAMINATION: flag
    * every corpus vector whose cosine to ANY held-out benchmark vector
    * clears a threshold — the embedding companion to t11's n-gram
    * overlap (paraphrased contamination shares no n-grams but sits next
    * to the benchmark in embedding space; modern eval hygiene runs BOTH
    * filters). Benchmark = the e01 query convention (vec_id < 5);
    * τ = 0.3 on the fixed-point-assembled cosine (both engines build
    * the identical IEEE double from BIGINT dot/norms, so the threshold
    * comparison cannot diverge). Output is one row per CONTAMINATED
    * vector — hit count and worst (max) cosine, the review queue a
    * curation team actually triages — with the scanned-corpus count as
    * the audit column.
    *
    * Scale shape: t11's broadcast discipline for vectors — the bounded
    * benchmark side broadcasts into ONE corpus scan (the corpus never
    * self-joins), per-vector hit-count/max are map-side-combinable
    * keyed aggs, and everything after runs on |flagged| rows. At e05's
    * corpus sizes the same flag composes with LSH bucketing upstream
    * (only bucket-sharing candidates score); here it runs corpus-wide
    * so the threshold semantics are what's gated.
    */
  val e23SemanticDecontamination: GraftQuery = GraftQuery(
    "e23_semantic_decontamination",
    s"""WITH v AS ($sqlV),
       |bench AS (SELECT id AS b_id, emb AS b_emb, norm_f AS b_norm FROM v
       |          WHERE id < $NumQueries),
       |corpus AS (SELECT id, emb, norm_f FROM v WHERE id >= $NumQueries),
       |scored AS (
       |  SELECT c.id, ${sqlCos("b_emb", "b_norm", "c.emb", "c.norm_f")} AS cosine
       |  FROM corpus c CROSS JOIN bench),
       |f AS (SELECT id, COUNT(*) FILTER (WHERE cosine >= 0.3) AS n_hits,
       |             MAX(cosine) AS max_cosine
       |      FROM scored GROUP BY id)
       |SELECT id, CAST(n_hits AS BIGINT) AS n_hits, max_cosine, t.n_scanned
       |FROM f CROSS JOIN (SELECT COUNT(*) AS n_scanned FROM corpus) t
       |WHERE n_hits > 0 ORDER BY id""".stripMargin) { (spark, dir) =>
    val v = Similarity.withNormFixed(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
    val bench = v.filter(col("id") < NumQueries)
      .select(col("id").as("b_id"), col("emb").as("b_emb"),
        col("norm_f").as("b_norm"))
    val corpus = v.filter(col("id") >= NumQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = corpus.agg(count(lit(1)).as("n_scanned"))
    corpus.crossJoin(broadcast(bench))
      .select(col("id"),
        Similarity.cosineFromFixed(
          Similarity.dotFixed(col("b_emb"), col("emb")),
          col("b_norm"), col("norm_f")).as("cosine"))
      .groupBy("id")
      .agg(sum(when(col("cosine") >= 0.3, 1L).otherwise(0L)).as("n_hits"),
        max(col("cosine")).as("max_cosine"))
      .filter(col("n_hits") > 0)
      .crossJoin(broadcast(total))
      .select(col("id"), col("n_hits"), col("max_cosine"), col("n_scanned"))
      .orderBy("id")
  }

  /** T34 — CONTAMINATION REPORT, lexical ∪ semantic: the composition
    * e23's own note promises ("modern eval hygiene runs BOTH filters")
    * — t11's exact 4-shingle overlap catches VERBATIM leakage, the
    * embedding-cosine flag catches PARAPHRASED leakage that shares no
    * n-grams, and the report attributes every flagged document to its
    * detection method (1 = semantic only, 2 = lexical only, 3 = both —
    * the Venn a decontamination review actually triages). Benchmark =
    * t11's held-out convention (doc_id % 97 = 0); document vectors
    * attach from the embeddings table by key (g12's deterministic
    * feature attachment); the cosine is the fixed-point-assembled
    * double (identical IEEE values both engines, so the τ = 0.35
    * threshold cannot diverge). One hash pins BOTH detectors AND their
    * interaction — a drift in either flag moves documents between Venn
    * cells.
    *
    * Scale shape: the lexical leg is t11's plan (distinct bench
    * shingles broadcast into one exploded-train join); the semantic leg
    * broadcasts the ≤|bench| distinct vectors into ONE train scan with
    * a map-side max; the Venn rollup runs on |flagged| rows. Neither
    * leg self-joins the corpus.
    */
  val t34ContaminationReport: GraftQuery = GraftQuery(
    "t34_contamination_report", {
      import graft.functions.TextFunctions.{sqlShingles, sqlTokens}
      s"""WITH cnt AS (SELECT COUNT(*) AS c FROM embeddings),
         |v AS ($sqlV),
         |dd AS (SELECT d.doc_id, d.text, v.emb, v.norm_f
         |       FROM documents d CROSS JOIN cnt
         |       JOIN v ON v.id = d.doc_id % cnt.c),
         |bench AS (SELECT * FROM dd WHERE doc_id % 97 = 0),
         |train AS (SELECT * FROM dd WHERE doc_id % 97 != 0),
         |sh_t AS (SELECT doc_id,
         |           unnest(list_distinct(${sqlShingles(sqlTokens("text"), 4)})) AS s
         |         FROM train),
         |sh_b AS (SELECT DISTINCT
         |           unnest(list_distinct(${sqlShingles(sqlTokens("text"), 4)})) AS s
         |         FROM bench),
         |lex AS (SELECT doc_id, COUNT(*) AS n_overlap
         |        FROM sh_t JOIN sh_b USING (s) GROUP BY doc_id),
         |bvec AS (SELECT DISTINCT emb, norm_f FROM bench),
         |sem AS (SELECT t.doc_id,
         |          MAX(${sqlCos("t.emb", "t.norm_f", "b.emb", "b.norm_f")}) AS max_cos
         |        FROM train t CROSS JOIN bvec b GROUP BY t.doc_id),
         |flags AS (SELECT t.doc_id,
         |            COALESCE(l.n_overlap, 0) AS n_overlap, s.max_cos,
         |            (CASE WHEN l.doc_id IS NOT NULL THEN 2 ELSE 0 END +
         |             CASE WHEN s.max_cos >= 0.35 THEN 1 ELSE 0 END) AS method
         |          FROM train t LEFT JOIN lex l USING (doc_id)
         |          JOIN sem s USING (doc_id))
         |SELECT method, COUNT(*) AS n_docs, BIT_XOR(doc_id) AS id_fp,
         |       MAX(max_cos) AS worst_cosine,
         |       CAST(MAX(n_overlap) AS BIGINT) AS worst_overlap
         |FROM flags WHERE method > 0
         |GROUP BY method ORDER BY method""".stripMargin
    }) { (spark, dir) => contaminationReport(spark, dir, benchMod = 97L) }

  /** t34's operator body with the benchmark-membership modulus as a
    * parameter — the gate pins benchMod = 97; the scale sweep holds the
    * BENCHMARK constant while the corpus grows (97 × tier factor),
    * which is the real deployment shape (the held-out set is fixed).
    */
  def contaminationReport(spark: org.apache.spark.sql.SparkSession,
                          dir: String, benchMod: Long): DataFrame = {
    import graft.functions.TextFunctions.{shingles, tokens}
    val emb = Tables.embeddings(spark, dir)
    val v = Similarity.withNormFixed(emb, "vec_id", "embedding")
    val cnt = emb.agg(count(lit(1)).as("c"))
    val dd = Tables.documents(spark, dir).select("doc_id", "text")
      .crossJoin(broadcast(cnt))
      .select(col("doc_id"), col("text"), pmod(col("doc_id"), col("c")).as("id"))
      .join(v, "id")
      .select(col("doc_id"), col("text"), col("emb"), col("norm_f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = dd.filter(col("doc_id") % benchMod === 0)
    val train = dd.filter(col("doc_id") % benchMod =!= 0)
    // lexical leg (t11's plan): bind the token array before the HOF
    def sh(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(array_distinct(shingles(col("tk"), 4))).as("s"))
    val lex = sh(train)
      .join(broadcast(sh(bench).select("s").distinct()), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    val bvec = bench.select("emb", "norm_f").distinct()
    val sem = train.crossJoin(broadcast(bvec.select(
        col("emb").as("b_emb"), col("norm_f").as("b_norm"))))
      .select(col("doc_id"),
        Similarity.cosineFromFixed(
          Similarity.dotFixed(col("emb"), col("b_emb")),
          col("norm_f"), col("b_norm")).as("cos"))
      .groupBy("doc_id").agg(max("cos").as("max_cos"))
    train.select("doc_id")
      .join(lex.withColumnRenamed("doc_id", "l_id"),
        col("doc_id") === col("l_id"), "left")
      .join(sem, "doc_id")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"), col("max_cos"),
        (when(col("l_id").isNotNull, 2).otherwise(0) +
          when(col("max_cos") >= 0.35, 1).otherwise(0)).as("method"))
      .filter(col("method") > 0)
      .groupBy("method")
      .agg(count(lit(1)).as("n_docs"), bit_xor(col("doc_id")).as("id_fp"),
        max("max_cos").as("worst_cosine"),
        max("n_overlap").cast("long").as("worst_overlap"))
      .orderBy("method")
  }

  /** E26 — RECALL@5 of the COMPOSED MaxSim (e24) against corpus-wide
    * truth (e22) — the e14/e20 discipline applied to the
    * late-interaction pipeline: candidate generation from the stored
    * IVF-PQ index is approximate (a doc whose tokens never surface
    * from a probed cluster can't be re-ranked), and this gate MEASURES
    * exactly how much ranking quality the probe set gives up, per
    * query doc, as a pinned number — the overlap of the composed top-5
    * with the exhaustive top-5. The oracle instantiates BOTH reference
    * chains (the e19 CTEs with the token-set predicate feeding the
    * candidate-restricted scoring, and the unrestricted e22 scoring)
    * and intersects them, so retrieval, both rankings, and the recall
    * arithmetic are one hash.
    *
    * Scale shape: the truth side is e22's one-scan relational MaxSim —
    * affordable at gate scale because recall needs ground truth (e14's
    * note verbatim); production monitors recall on a SAMPLED query set
    * exactly this shape while serving runs e24 alone.
    */
  val e26MaxSimRecall: GraftQuery = GraftQuery(
    "e26_maxsim_recall", {
      s"""WITH ${ivfPqCtesP("m", NProbe, "id % 100 < 2")},
         |short AS (SELECT q_id, n_id FROM mranked WHERE rank <= $K),
         |cand AS (SELECT DISTINCT q_id % 100 AS qd, n_id % 100 AS cd
         |         FROM short WHERE n_id % 100 != q_id % 100),
         |vv AS (SELECT vec_id, vec_id % 100 AS d, embedding AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qv, d AS qd, emb AS q_emb FROM vv WHERE d < 2),
         |cp AS (SELECT c.qd, q.qv, c.cd,
         |             MAX(${Similarity.sqlDotFixed("q_emb", "vv.emb")}) AS m
         |      FROM cand c JOIN q ON q.qd = c.qd JOIN vv ON vv.d = c.cd
         |      GROUP BY c.qd, q.qv, c.cd),
         |csc AS (SELECT qd, cd, CAST(SUM(m) AS BIGINT) AS score
         |        FROM cp GROUP BY qd, cd),
         |got AS (SELECT qd, cd FROM
         |        (SELECT *, row_number() OVER (PARTITION BY qd
         |           ORDER BY score DESC, cd) AS rank FROM csc) WHERE rank <= 5),
         |wp AS (SELECT q.qd, q.qv, vv.d AS cd,
         |             MAX(${Similarity.sqlDotFixed("q_emb", "vv.emb")}) AS m
         |      FROM q CROSS JOIN vv WHERE vv.d != q.qd
         |      GROUP BY q.qd, q.qv, vv.d),
         |wsc AS (SELECT qd, cd, CAST(SUM(m) AS BIGINT) AS score
         |        FROM wp GROUP BY qd, cd),
         |truth AS (SELECT qd, cd FROM
         |        (SELECT *, row_number() OVER (PARTITION BY qd
         |           ORDER BY score DESC, cd) AS rank FROM wsc) WHERE rank <= 5)
         |SELECT t.qd, CAST(5 AS BIGINT) AS k,
         |       CAST(COUNT(g.qd) AS BIGINT) AS n_hit,
         |       CAST(COUNT(g.qd) AS DOUBLE) / 5.0 AS recall
         |FROM truth t LEFT JOIN got g ON g.qd = t.qd AND g.cd = t.cd
         |GROUP BY t.qd ORDER BY t.qd""".stripMargin
    }) { (spark, dir) =>
    val store = Dsl.tempStore("e26_index")
    val emb = Tables.embeddings(spark, dir)
    // truth and shortlist ranking share one per-(query-token, doc) max
    // frame (the candidate scores are a subset of the truth leg's) —
    // results identical to independent maxSimTopK/maxSimTopKShortlist.
    // The max frame reads ONLY the corpus, never the store, so its
    // materialization overlaps the store build + stored search of the
    // shortlist leg instead of serializing after them.
    val p = Similarity.maxSimMaxFrame(emb, "vec_id", "embedding",
        docMod = 100, numQueryDocs = 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Seq(_, cand) = Overlap.all(spark, "e26")(Seq(
      "truth" -> { () => p.count(); p },
      "shortlist" -> { () =>
        Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
          col("id") >= NumCentroids && col("id") < NumCentroids + 4,
          col("id") < NumCentroids, store)
        val qTokens = emb.filter(pmod(col("vec_id"), lit(100)) < 2)
        Similarity.ivfPqStoredTopK(spark, store, qTokens, "vec_id", "embedding", K, NProbe)
          .select(pmod(col("q_id"), lit(100)).as("qd"), pmod(col("n_id"), lit(100)).as("cd"))
          .filter(col("cd") =!= col("qd")).distinct()
      }))
    val truthFull = Similarity.maxSimTopFromMax(p, 5)
    val gotFull = Similarity.maxSimTopFromMax(
      p.join(broadcast(cand.select(col("qd"), col("cd"))), Seq("qd", "cd")), 5)
    val got = gotFull.select(col("qd"), col("cd"), lit(1).as("hit"))
    val truth = truthFull.select("qd", "cd")
    truth.join(got, Seq("qd", "cd"), "left")
      .groupBy("qd")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("qd"), lit(5L).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(5.0)).as("recall"))
      .orderBy("qd")
  }

  /** E25 — GREEDY K-CENTER CORESET (farthest-point sampling, the
    * Gonzalez 2-approximation): select k maximally-spread vectors —
    * seed = smallest id, then k−1 rounds of "the point farthest from
    * every chosen center" — and report each center's selection
    * distance, assignment count, and coverage radius. This is the
    * data-SELECTION primitive diversity-driven curation runs (coreset /
    * active-learning seeding / dedup-aware eval sampling): d10–d18
    * sample by key or weight, e06 drops near-duplicates, e25 picks the
    * subset that COVERS the embedding space. All distances are squared
    * L2 on the quantized BIGINT grid (ties by id), so selection,
    * assignment, and radii are exact and engine-identical.
    *
    * Scale shape: k corpus scans, each one codegen'd projection against
    * the k×dims BIGINT centers literal (driver-held — the e19
    * probe-collect convention, bounded by k); the farthest point per
    * round is a TakeOrderedAndProject, never a full sort; the final
    * assignment is one scan against the broadcast centers frame with a
    * map-side min(struct(dist, center)) — no shuffle wider than
    * |centers| × the agg. At 100 TB this is exactly how FPS runs: k
    * passes, O(k·dims) driver state, no pairwise matrix ever forms.
    */
  val e25KcenterCoreset: GraftQuery = GraftQuery(
    "e25_kcenter_coreset", {
      def d(aE: String, bE: String) =
        s"CAST(list_sum([($aE[i]-$bE[i])*($aE[i]-$bE[i]) for i in range(1, len($aE)+1)]) AS BIGINT)"
      s"""WITH v AS (SELECT vec_id AS id, ${Similarity.sqlQuantize("embedding")} AS q FROM embeddings),
         |seed AS (SELECT id, q FROM v ORDER BY id LIMIT 1),
         |d0 AS (SELECT v.id, v.q, ${d("v.q", "s.q")} AS dist FROM v CROSS JOIN seed s),
         |p1 AS (SELECT id, q, dist FROM d0 ORDER BY dist DESC, id LIMIT 1),
         |d1 AS (SELECT d0.id, d0.q, LEAST(d0.dist, ${d("d0.q", "c.q")}) AS dist
         |       FROM d0 CROSS JOIN p1 c),
         |p2 AS (SELECT id, q, dist FROM d1 ORDER BY dist DESC, id LIMIT 1),
         |d2 AS (SELECT d1.id, d1.q, LEAST(d1.dist, ${d("d1.q", "c.q")}) AS dist
         |       FROM d1 CROSS JOIN p2 c),
         |p3 AS (SELECT id, q, dist FROM d2 ORDER BY dist DESC, id LIMIT 1),
         |centers AS (
         |  SELECT 0 AS r, id, q, CAST(0 AS BIGINT) AS sel_dist FROM seed
         |  UNION ALL SELECT 1, id, q, dist FROM p1
         |  UNION ALL SELECT 2, id, q, dist FROM p2
         |  UNION ALL SELECT 3, id, q, dist FROM p3),
         |asgn AS (SELECT v.id, c.id AS center_id, ${d("v.q", "c.q")} AS dd
         |         FROM v CROSS JOIN centers c),
         |best AS (SELECT id, center_id, dd FROM
         |         (SELECT *, row_number() OVER (PARTITION BY id ORDER BY dd, center_id) AS rn
         |          FROM asgn) WHERE rn = 1)
         |SELECT CAST(c.r AS BIGINT) AS round, c.id AS center_id,
         |       CAST(c.sel_dist AS BIGINT) AS sel_dist,
         |       COUNT(*) AS n_assigned, CAST(MAX(b.dd) AS BIGINT) AS radius
         |FROM centers c JOIN best b ON b.center_id = c.id
         |GROUP BY c.r, c.id, c.sel_dist ORDER BY round""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    def qLit(qs: Seq[Long]): Column = array(qs.map(lit): _*)
    // k×dims BIGINTs of driver state — the e19 probe-collect convention
    val seed = v.orderBy("id").limit(1)
      .select(col("id"), col("q")).as[(Long, Seq[Long])].head()
    var centers = Vector((0L, seed._1, seed._2, 0L))
    var cur = v.select(col("id"), col("q"),
      sqDist(col("q"), qLit(seed._2)).as("dist"))
    for (r <- 1 to 3) {
      val next = cur.orderBy(desc("dist"), asc("id")).limit(1)
        .select(col("id"), col("q"), col("dist"))
        .as[(Long, Seq[Long], Long)].head()
      centers :+= ((r.toLong, next._1, next._2, next._3))
      cur = cur.select(col("id"), col("q"),
        least(col("dist"), sqDist(col("q"), qLit(next._2))).as("dist"))
    }
    val centersDf = centers.toDF("round", "center_id", "cq", "sel_dist")
    val best = v.crossJoin(broadcast(centersDf))
      .select(col("id"), col("center_id"), sqDist(col("q"), col("cq")).as("dd"))
      .groupBy("id").agg(min(struct(col("dd"), col("center_id"))).as("b"))
      .select(col("b.center_id").as("center_id"), col("b.dd").as("dd"))
    best.groupBy("center_id")
      .agg(count(lit(1)).as("n_assigned"), max(col("dd")).as("radius"))
      .join(broadcast(centersDf.select("round", "center_id", "sel_dist")),
        "center_id")
      .select(col("round"), col("center_id"), col("sel_dist"),
        col("n_assigned"), col("radius"))
      .orderBy("round")
  }

  /** E27 — MATRYOSHKA (prefix-dimension) recall curve (Kusupati et al.
    * 2022, "Matryoshka Representation Learning"): exact top-k computed
    * on only the FIRST d dimensions of every embedding, measured
    * against full-dimension brute-force truth at d ∈ {16, 32} — the
    * modern coarse-search dial where one stored vector serves every
    * cheaper width by prefix truncation (no re-embedding, no second
    * index). The whole evaluation — both prefix searches, the truth,
    * the recall arithmetic — is one hash-gated table, e14/e20/e21's
    * discipline applied to the width dial.
    *
    * Scale shape: a prefix scan reads d/D of the vector bytes — in
    * production the first-d slice is stored as its OWN column so
    * parquet column pruning (not post-read slicing) delivers the
    * saving; truth runs on the |sample| query set only; each curve
    * point is an independent brute pass over sliced vectors (16/64 and
    * 32/64 of the full-scan bytes).
    */
  val e27MatryoshkaRecall: GraftQuery = GraftQuery(
    "e27_matryoshka_recall", {
      def pfx(d: Int): String =
        s"""p${d}v AS (SELECT vec_id AS id, embedding[1:$d] AS emb,
           |  ${Similarity.sqlDotFixed(s"embedding[1:$d]", s"embedding[1:$d]")} AS norm_f FROM embeddings),
           |p${d}q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM p${d}v WHERE id < $NumQueries),
           |p${d}s AS (SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
           |           FROM p${d}q q CROSS JOIN p${d}v v WHERE v.id != q.q_id),
           |p${d}r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
           |           FROM p${d}s),
           |r$d AS (SELECT CAST($d AS BIGINT) AS prefix_dims, t.q_id,
           |               CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit
           |        FROM truth t LEFT JOIN
           |          (SELECT q_id, n_id, 1 AS hit FROM p${d}r WHERE rank <= $K) c
           |          ON t.q_id = c.q_id AND t.n_id = c.n_id
           |        GROUP BY 2)""".stripMargin
      s"""WITH v AS ($sqlV),
         |q AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM v WHERE id < $NumQueries),
         |scored_b AS (
         |  SELECT q_id, v.id AS n_id, ${sqlCos("q_emb", "q_norm", "v.emb", "v.norm_f")} AS cosine
         |  FROM q CROSS JOIN v WHERE v.id != q.q_id),
         |ranked_b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |             FROM scored_b),
         |truth AS (SELECT q_id, n_id FROM ranked_b WHERE rank <= $K),
         |${pfx(16)},
         |${pfx(32)}
         |SELECT prefix_dims, q_id, CAST($K AS BIGINT) AS k, n_hit,
         |       CAST(n_hit AS DOUBLE) / $K.0 AS recall
         |FROM (SELECT * FROM r16 UNION ALL SELECT * FROM r32)
         |ORDER BY prefix_dims, q_id""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val truth = Similarity.knnBrute(emb, "vec_id", "embedding",
        col("id") < NumQueries, K)
      .select("q_id", "n_id")
    Seq(16, 32).map { d =>
      val pref = emb.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      val cand = Similarity.knnBrute(pref, "vec_id", "embedding",
          col("id") < NumQueries, K)
        .select(col("q_id"), col("n_id"), lit(1).as("hit"))
      truth.join(cand, Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(lit(d.toLong).as("prefix_dims"), col("q_id"),
          lit(K.toLong).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(K.toDouble)).as("recall"))
    }.reduce(_ unionByName _).orderBy("prefix_dims", "q_id")
  }

  /** E28 — FILTERED ANN over the stored IVF-PQ index (the FAISS
    * `IDSelector` / vector-DB metadata-filter shape): retrieval under a
    * predicate on corpus metadata (`label % 2 = 0`) — the "only docs in
    * this language / this license / this date range" query every
    * production vector store serves. PRE-filtering semantics: the
    * allow-list lands on the probed codes scan BEFORE any ADC scoring,
    * so the top-k is computed among eligible candidates (post-filtering
    * an unfiltered top-k under-fills — a strict-filter query could
    * return zero rows with matches present). The oracle replays the
    * full IVF-PQ chain with the candidate restriction inside the
    * scoring CTE, so one hash pins index fidelity AND filter placement:
    * an odd-label vector scoring well must not appear.
    *
    * Scale shape: identical to e19 (statically-pruned probed-partition
    * codes scan) plus one broadcast LEFT SEMI on the scan; the filter
    * side here is metadata-derived and request-sized — corpus-scale
    * predicates belong in the store as partition/stored columns, and a
    * mid-size set degrades to x07's bloom semi-join.
    */
  val e28FilteredAnn: GraftQuery = GraftQuery(
    "e28_filtered_ann",
    s"""WITH ${ivfPqCtesP("", NProbe, s"id < $NumQueries",
        "c.id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")}
       |SELECT q_id, rank, n_id, adc_dist FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val store = Dsl.tempStore("e28_index")
    val emb = Tables.embeddings(spark, dir)
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    val allowed = emb.filter(col("label") % 2 === 0).select(col("vec_id"))
    Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding",
        K, NProbe, allowed = Some(allowed))
      .orderBy("q_id", "rank")
  }

  /** X23 — VECTOR-STORE FORGET (right-to-be-forgotten reaching the ANN
    * index): x11 purges raw tables and derived rollups — this purges
    * the DERIVED VECTOR INDEX, the store a GDPR audit most easily
    * misses (an index still serving deleted vectors' codes has erased
    * nothing). [[Similarity.forgetFromIvfPqStore]] rewrites only the
    * cluster partitions containing deleted ids (dynamic partition
    * overwrite, per-writer option), then the gate runs the UNMODIFIED
    * stored retrieval against the purged store: deleted ids must be
    * unretrievable and ranks must close up over survivors. The oracle
    * replays the IVF-PQ chain with the tombstone exclusion in the
    * scoring CTE plus the erasure receipt (n_forgotten), so one hash
    * pins the purge, the receipt, and post-purge ranking.
    *
    * Scale shape: erase I/O ∝ affected clusters (the delete set routes
    * to a handful of partitions), never store size; retrieval is e19's
    * pruned probe unchanged. Centroids/codebook are trained parameters,
    * not per-subject rows — the x14 boundary, documented at the
    * operator.
    */
  val x23VectorStoreForget: GraftQuery = GraftQuery(
    "x23_vector_store_forget",
    s"""WITH ${ivfPqCtesP("", NProbe, s"id < $NumQueries", "c.id % 10 <> 7")},
       |receipt AS (SELECT COUNT(*) AS n_forgotten FROM embeddings WHERE vec_id % 10 = 7)
       |SELECT q_id, rank, n_id, adc_dist, n_forgotten
       |FROM ranked CROSS JOIN receipt WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val store = Dsl.tempStore("x23_index")
    val emb = Tables.embeddings(spark, dir)
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    val del = emb.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    Similarity.forgetFromIvfPqStore(spark, store, del)
    Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding", K, NProbe)
      .crossJoin(broadcast(del.agg(count(lit(1)).as("n_forgotten"))))
      .orderBy("q_id", "rank")
  }

  /** E29 — INCREMENTAL ADMISSION into the stored IVF-PQ index
    * ([[Similarity.admitIvfPqBatch]]): the insert half of the vector
    * store's lifecycle — x23 forgets, e29 admits, e19 serves — so the
    * index stays fresh without a rebuild as the corpus grows (the x04/
    * x08 incremental-admission discipline applied to the ANN store).
    * The gate builds the store WITHOUT the batch (`vec_id ≥ 12 AND
    * vec_id % 7 = 3` held out), admits the batch using only STORED
    * model parameters, then runs the unmodified stored retrieval — and
    * gates it against the FROM-SCRATCH full-corpus oracle (e16/e19's
    * SQL verbatim): routing or encoding drift through the store
    * round-trip breaks the hash, which is exactly the "does the
    * incrementally-maintained index equal the rebuilt one" invariant
    * (x08 pins the same equality for the near-dup index).
    *
    * Scale shape: admission is O(batch) — batch × broadcast params,
    * appends touch only routed partitions, the resident corpus is
    * never read; retrieval unchanged from e19.
    */
  val e29IvfPqAdmit: GraftQuery = GraftQuery(
    "e29_ivfpq_admit", ivfPqOracleSql) { (spark, dir) =>
    val store = Dsl.tempStore("e29_index")
    val emb = Tables.embeddings(spark, dir)
    val isBatch = col("vec_id") >= 12 && col("vec_id") % 7 === 3
    Similarity.buildIvfPqStore(emb.filter(!isBatch), "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    Similarity.admitIvfPqBatch(spark, store, emb.filter(isBatch),
      "vec_id", "embedding", batchId = 1L)
    Similarity.ivfPqStoredTopK(spark, store,
        emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding", K, NProbe)
      .orderBy("q_id", "rank")
  }

  /** E30 — RECALL AFTER FORGETTING (x23 × e20): the quality audit a
    * GDPR erasure should trigger — recall@10 of the PURGED store's
    * retrieval against brute-force truth over the SURVIVING corpus.
    * Erasure correctness (deleted ids unretrievable) is x23's gate;
    * this gates erasure QUALITY: the purged index must rank survivors
    * exactly as an index that never contained the deleted vectors
    * would — deletion touches affected partitions only, so surviving
    * codes, clusters, and centroids are untouched and recall must not
    * move. The oracle chains the survivor-restricted truth into the
    * tombstone-excluded IVF-PQ reference (x23's candPred), so one hash
    * pins truth restriction, purge, and recall arithmetic.
    *
    * Scale shape: e20's — |sample|×survivors truth leg, probed stored
    * search, broadcast-size recall join.
    *
    * Model-param boundary (made visible by the PropertySpec's first
    * failure): a deleted id that was a CODEBOOK DONOR keeps its trained
    * codeword — forget removes corpus rows, not model parameters — so
    * the "≡ never-admitted rebuild" equality holds exactly for
    * non-donor deletes; deleting a donor and retraining is a REINDEX,
    * a different operation with different (legitimate) results.
    */
  val e30RecallPostForget: GraftQuery = GraftQuery(
    "e30_recall_post_forget",
    s"""WITH bv AS ($sqlV),
       |sv AS (SELECT * FROM bv WHERE id % 10 <> 7),
       |bq AS (SELECT id AS q_id, emb AS q_emb, norm_f AS q_norm FROM sv WHERE id < $NumQueries),
       |scored_b AS (
       |  SELECT q_id, sv.id AS n_id, ${sqlCos("q_emb", "q_norm", "sv.emb", "sv.norm_f")} AS cosine
       |  FROM bq CROSS JOIN sv WHERE sv.id != bq.q_id),
       |ranked_b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |             FROM scored_b),
       |truth AS (SELECT q_id, n_id FROM ranked_b WHERE rank <= $K),
       |${ivfPqCtesP("", NProbe, s"id < $NumQueries", "c.id % 10 <> 7")},
       |cand AS (SELECT q_id, n_id, 1 AS hit FROM ranked WHERE rank <= $K)
       |SELECT t.q_id, CAST($K AS BIGINT) AS k, CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       |       CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / $K.0 AS recall
       |FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin) { (spark, dir) =>
    val store = Dsl.tempStore("e30_index")
    val emb = Tables.embeddings(spark, dir)
    // the survivor-restricted brute truth reads only the corpus — its
    // materialization overlaps the store build + forget + stored search
    // instead of serializing after them
    val truth = Similarity.knnBrute(emb.filter(col("vec_id") % 10 =!= 7),
        "vec_id", "embedding", col("id") < NumQueries, K)
      .select("q_id", "n_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Seq(_, cand) = Overlap.all(spark, "e30")(Seq(
      "truth" -> { () => truth.count(); truth },
      "search" -> { () =>
        Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
          col("id") >= NumCentroids && col("id") < NumCentroids + 4,
          col("id") < NumCentroids, store)
        Similarity.forgetFromIvfPqStore(spark, store,
          emb.filter(col("vec_id") % 10 === 7).select("vec_id"))
        Similarity.ivfPqStoredTopK(spark, store,
            emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding", K, NProbe)
          .select(col("q_id"), col("n_id"), lit(1).as("hit"))
      }))
    truth.join(cand, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("q_id"), lit(K.toLong).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("q_id")
  }

  /** E31 — stored-index REBALANCE (hot-cluster split): the capacity-
    * maintenance leg of the store lifecycle (build → e29 admit → x23
    * forget → e19 serve → e31 rebalance). Admissions route against
    * FROZEN centroids, so a long-ingesting store grows hot clusters
    * and p99 search cost is set by the largest partition; e31 splits
    * the hottest in two, STORE-ONLY — members are reconstructed from
    * their PQ codes against the codebook (the raw corpus may be cold
    * or GDPR-purged), split by a deterministic 2-seed single
    * assignment round (seed A = min id, seed B = farthest from A,
    * ties to A — the e10 one-Lloyd-round convention), and the new
    * centroids are per-dimension floor-means of each side's
    * reconstructions. Install goes through `StagedCommit`, like the
    * x23 forget (staged coarse + new partitions → marker → install;
    * `Similarity.recover` replays from every entry point).
    *
    * The gate reads its whole answer FROM THE POST-REBALANCE STORE
    * (sizes from the codes partitions, centroid fingerprints from the
    * swapped coarse) while the oracle re-derives store content and
    * split from the corpus — so partition rewrite, coarse swap, and
    * the split arithmetic are all hash-gated (the e19 store-fidelity
    * discipline applied to a store MUTATION).
    */
  val e31IvfPqRebalance: GraftQuery = GraftQuery(
    "e31_ivfpq_rebalance", {
      def sq(a: String, b: String, n: String): String =
        s"CAST(list_sum([($a[i]-$b[i])*($a[i]-$b[i]) for i in range(1, len($n)+1)]) AS BIGINT)"
      s"""WITH $ivfPqCtes,
         |sizes0 AS (SELECT cluster, COUNT(*) AS n FROM assigned GROUP BY 1),
         |hot AS (SELECT cluster AS hot_c FROM sizes0 ORDER BY n DESC, cluster LIMIT 1),
         |mem AS (SELECT id FROM assigned, hot WHERE cluster = hot_c),
         |mrec AS (SELECT c.id, c.s, cs.cqs
         |         FROM codes c JOIN mem USING (id)
         |         JOIN csub cs ON cs.c_id = c.code AND cs.s = c.s),
         |rv AS (SELECT id, flatten(list(cqs ORDER BY s)) AS r FROM mrec GROUP BY id),
         |sa AS (SELECT r AS ra FROM rv ORDER BY id LIMIT 1),
         |da AS (SELECT rv.id, rv.r, ${sq("r", "ra", "r")} AS d_a FROM rv, sa),
         |sb AS (SELECT r AS rb FROM da ORDER BY d_a DESC, id LIMIT 1),
         |sided AS (SELECT da.id, da.r,
         |                 CASE WHEN ${sq("da.r", "rb", "da.r")} < d_a
         |                      THEN 1 ELSE 0 END AS sd
         |          FROM da, sb),
         |mxv AS (SELECT MAX(g_id) AS mx FROM g),
         |dims AS (SELECT sd, i, r[i] AS v
         |         FROM sided, unnest(range(1, len(r) + 1)) AS t(i)),
         |cmean AS (SELECT sd, i,
         |                 CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |          FROM dims GROUP BY sd, i),
         |newrows AS (SELECT mx + 1 + ns.sd AS cluster, ns.n AS n_vecs, nf.fp AS centroid_fp
         |            FROM (SELECT sd, COUNT(*) AS n FROM sided GROUP BY sd) ns
         |            JOIN (SELECT sd, CAST(SUM(cv) AS BIGINT) AS fp FROM cmean GROUP BY sd) nf
         |              USING (sd), mxv),
         |keeprows AS (SELECT s.cluster, s.n AS n_vecs,
         |                    (SELECT CAST(list_sum(gq) AS BIGINT) FROM g WHERE g_id = s.cluster) AS centroid_fp
         |             FROM sizes0 s, hot WHERE s.cluster != hot_c)
         |SELECT cluster, n_vecs, CAST(cluster > mx AS BIGINT) AS is_new, centroid_fp
         |FROM (SELECT * FROM keeprows UNION ALL SELECT * FROM newrows), mxv
         |ORDER BY cluster""".stripMargin
    }) { (spark, dir) =>
    val store = Dsl.tempStore("e31_store")
    val emb = Tables.embeddings(spark, dir)
    Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
      col("id") >= NumCentroids && col("id") < NumCentroids + 4,
      col("id") < NumCentroids, store)
    Similarity.rebalanceIvfPqStore(spark, store)
    val coarseFp = spark.read.parquet(s"$store/coarse")
      .select(col("g_id").cast("long").as("cluster"),
        aggregate(col("gq"), lit(0L), _ + _).as("centroid_fp"))
    Similarity.ivfPqClusterSizes(spark, store)
      .join(coarseFp, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"),
        (col("cluster") > lit((NumCentroids + 3).toLong)).cast("long").as("is_new"),
        col("centroid_fp"))
      .orderBy("cluster")
  }

  val all: Seq[GraftQuery] = Seq(e01KnnBrute, e02KnnLsh, e03KnnIvf, e04CosinePairs, e12SignProjection,
    e05LshPairs, e06SemDedup, e06bSemDedupTwoLevel, e07KnnQuantized,
    e08CoarseRerank, e09CenterNormalize, e10KmeansRound, e11PqAssign, e13MmrRerank,
    e15PqAdcTopK, e16IvfPqSearch, e17HammingTopK, e18MultiProbeLsh,
    e19IvfPqStored, e22MaxSimLateInteraction, e23SemanticDecontamination,
    e24MaxSimStored, e25KcenterCoreset, e26MaxSimRecall,
    e27MatryoshkaRecall, e28FilteredAnn, x23VectorStoreForget, e29IvfPqAdmit,
    e30RecallPostForget, e31IvfPqRebalance,
    t34ContaminationReport,
    e14AnnRecall, e20IvfPqRecall, e21NprobeRecallCurve)
}
