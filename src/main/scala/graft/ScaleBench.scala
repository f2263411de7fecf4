package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asymptotic scale bench: runs the operators whose VALUE is their scale
  * shape (near-dup family, components, ANN pairs, curation, span-dedup,
  * decontamination) against the [[ScaleData]] tiers and records per-tier
  * wall time + growth ratios, plus the incremental-ingestion experiment
  * (fixed batch admitted against a 1×/10×/100× store).
  *
  * Usage: `tools/run.sh graft.ScaleBench <scaleRoot> <outJson>`
  * where `<scaleRoot>/{1x,10x,100x}` are ScaleData outputs (missing tiers
  * are skipped).
  *
  * Reading the numbers: data grows 10× tier-to-tier, so a sub-quadratic
  * operator must show time growth ≪ 100×; the near-dup family's band
  * equi-joins are designed to grow ~linearly in rows + pairs (the true
  * pair count is linear by ScaleData's construction). The incremental
  * batch times should stay near-flat as the store grows 100× — per-batch
  * work is O(batch) plus a narrow store key/signature scan.
  */
object ScaleBench {
  // gate queries with no data-size tuning knob: run verbatim per tier
  private val DocQueries = Seq(
    "m01_minhash_lsh", "s01_simhash_pairs", "g02_dedup_groups",
    "c02_curation_full", "t09_span_dedup", "t11_decontaminate",
    // r8 additions — claimed linear, now measured: t14 is a pure per-row
    // HOF map; c03 is a broadcast-weights generate; d13 is one shuffle
    // on the shard key + per-shard sort
    "t14_quality_classifier", "c03_mixture_apply", "d13_shard_shuffle",
    // r8 second wave: t19 is map-side array_distinct + one shuffle on
    // term (posting-list skew is the thing to watch); t18 is a
    // broadcast-1-row HOF map like t14
    "t18_blocklist_filter", "t19_inverted_index",
    // d14: one keyed full-outer join over map-side fingerprints — output
    // ∝ churn; the join itself is the linear part
    "d14_snapshot_diff",
    // t21: tfc shuffle + broadcast query/stats + keyed doc agg + global
    // TakeOrdered — the claim is "index-side shuffles linear, retrieval
    // side output-bounded"
    "t21_bm25_topk",
    // io07: partitioned write (1 shuffle on the partition key) + pruned
    // read — write cost dominates and should scale with corpus bytes
    "io07_partitioned_lake",
    // i07: per-row real encode+decode+hash — the flat-map profile with a
    // fat per-row constant (codec work), then x01's hash-groupBy
    "i07_phash_dedup",
    // r8 sixth wave: d15 is a pure hash projection + 3-group agg (the
    // flattest profile in the suite); t22 is the per-lang quantile
    // window (the sort-per-stratum cost to watch) + broadcast gate;
    // io08 is two manifest-committed batch writes + a multi-path read —
    // write bytes dominate, manifest cost is O(1)
    "d15_hash_split", "t22_quality_gate", "io08_manifest_publish",
    // m04: signature scan + pair probes collapse to a ≤17×17 histogram
    // before the 13-threshold readout — the sweep must stay O(scan)
    "m04_threshold_curve",
    // t23: the corpus cost is the exact token-count agg; every sketch
    // stage runs on |vocab| rows — should track t01's scan profile
    "t23_cms_topk",
    // a35/x14: one map-side agg to a tiny frame — flat-profile audits
    "a35_source_hhi", "x14_k_anonymity",
    // r8 eighth wave: t24 segments the DISTINCT-WORD table (vocab-sized
    // work after the word-count agg — should track t01's scan profile);
    // t25 is two explodes into vocab²-bounded counts + a bounded top-50
    "t24_bpe_apply_merge", "t25_bigram_lm",
    // t27: t02's per-row CASE + one map-side agg to |langs|² rows
    "t27_langid_eval",
    // d16: hash projection + TakeOrdered per-partition heaps — should be
    // the flattest row-op profile next to d15
    "d16_exact_sample",
    // r9: t28 is the token explode + freq agg + TakeOrdered(1000) heap
    // cut — the claim is NO global sort over |vocab| (the cumsum window
    // runs on the bounded frame); should track t01's scan profile.
    // t29 is the heaviest text op by design: the doc-tagged bigram
    // stream (∝ corpus tokens) shuffle-joins the bigram counts on the
    // SAME key their agg just partitioned by — the curve to watch is
    // that join staying ∝ token count, never ∝ distinct-bigrams²
    "t28_vocab_coverage", "t29_lm_doc_score",
    // r11: t30/t31/d18 are pure per-row codegen'd maps (+ one map-side
    // agg) — the t14 flat-profile claim; t32 is the per-row HOF line
    // chunk/filter/reassemble; c04 composes t30→fold→t32→gate→d18→d13
    // in ONE projection + one agg, so its curve should track the
    // heaviest of its stages (t32's HOF work), never a join
    "t30_unicode_normalize", "t31_url_domain_stats",
    "t32_boilerplate_lines", "d18_weighted_sample", "c04_cleaning_cut",
    // r12 second wave: t37 is ONE corpus-shingle scan + idempotent
    // bit_or mask agg (no distinct pass), then |masks|×|pairs| tiny
    // arithmetic — the claim is the corpus is touched once for ALL
    // O(|S|²) pairs; d19 measures its PRODUCTION twin (broadcast
    // thresholds + hash shard — benchQueries, pure map, the flattest
    // profile); io16 is one landing write + one verification agg pass
    // (the io08 write shape plus a map-side agg read)
    "t37_cross_source_overlap", "d19_curriculum_shards",
    "io16_manifest_verify",
    // r12 third wave: c05 is one rollup pass + two (group, value)
    // count-distinct shuffles — the release-card cost a publisher pays
    // once per corpus; i11 is i03's flat codec profile plus a per-row
    // run-length fold (never a cross-row window)
    "c05_dataset_card", "i11_audio_vad",
    // r12 fourth wave: t38 is a bounded chunk explode (tokens/20 rows)
    // + per-row HOF votes + two doc-keyed aggs — between t14's flat map
    // and t32's HOF constant
    "t38_mixed_lang_detect",
    // r13: m05 is the token-grain positional-gram explode + ONE
    // map-side-combinable first-occurrence agg + join-back — the claim
    // is it tracks the corpus token count (t04's grain), with the
    // join-back ∝ duplicated occurrences (linear by the tiers'
    // cross-copy construction); t39 is t29's scoring-join profile with
    // the model side train-subset-bounded
    "m05_exactsubstr_dedup", "t39_backoff_lm_score")
  // events-backed heavies: batch-relational, stateful-batch, and the
  // five STREAMING gates (AvailableNow file stream + state stores) —
  // the state-store growth curve is the thing to measure per tier
  private val EventQueries = Seq(
    "x01_exact_dedup", "x06_upsert_merge", "w02_rolling_time_window",
    "st03_funnel", "sm01_stream_window", "sm02_stream_dedup",
    "sm03_stream_sessions", "sm04_stream_join", "sm05_stream_static_join",
    // r8 second wave: Pregel-superstep shapes (two keyed shuffles) and
    // the outer stream-stream join's band-bounded state
    "g03_pagerank_round", "g04_triangle_count", "g05_labelprop_round",
    "g07_bfs_rounds", "sm06_stream_outer_join",
    // r8 fourth wave: w04 native session-window merge state; x10 window
    // chains; a27 collapses to |types|×|days| before the window; x11 is
    // two broadcast-flagged scans; g08's cap bounds the pair fan-out
    "w04_session_window", "x10_scd2_history", "a27_spike_detection",
    "x11_delete_propagation", "g08_co_engagement", "a28_drift_chi2",
    // r8 sixth wave: a30 is per-user flag agg (|users| shuffle rows) +
    // a 2-row cohort agg — the O(1)-output experiment readout
    "a30_ab_lift",
    // r8 seventh wave: j10 rides a user-keyed equi-join (versions/key
    // bounded); a31/a32 are user-keyed windows + keyed MIN aggs — a31's
    // one global window runs on |converters| rows
    "j10_scd2_pit", "a31_conversion_lag", "a32_attribution",
    // w08: distributed two-pass prefix sum — per-day local windows +
    // |days|-row carry; should scale with the day-keyed sort
    "w08_max_concurrency",
    // sm07: foreachBatch CDC-apply — store ∝ |users|, one keyed
    // merge join per batch; a34/a35 are map-side-agg monitors
    "sm07_stream_upsert", "a34_trend_slope",
    // r8 eighth wave: a36 collapses to |types|×|buckets| map-side; a37
    // is one user-keyed set agg + bounded pair generate; w09/w10 are
    // bounded contribution explodes on the (user|type)×day dedup frame
    "a36_hdr_percentiles", "a37_assoc_lift", "w09_trailing_dau",
    "w10_ewma_revenue",
    // r8 ninth wave: w11 rides w09's explode on the |items|×|days|
    // frame; g09's star steps are MIN aggs + keyed joins (edge count
    // never grows); x15 is x06's one full-outer join with tombstones.
    // io10 is deliberately NOT tier-measured: it is write-bound (two
    // full lake writes per run) and io07/io08 already measure the
    // partitioned-write shape per tier.
    "w11_trending_items", "g09_cc_star_round", "x15_merge_changeset",
    // a33 collapses to |types|×7 map-side; j11 is one user-keyed window
    // pass (both directions from the same sort); g10 is two label joins
    // + tiny per-community math
    "a33_seasonal_index", "j11_nearest_event", "g10_modularity",
    // x16: three store versions applied then vacuumed — the retention
    // pass itself is O(versions) listing; applyBatch dominates
    "x16_store_vacuum",
    // r11: g11's 16-neighbor cap bounds wedge fan-out at C(16,2)/node —
    // the curve to watch is the capped wedge join staying ∝ nodes
    "g11_link_prediction",
    // r12: w12 is one map-side day agg + rank windows on the |days|
    // frame — the a27/a34 flat-monitor profile, now with exact medians;
    // w13 the same profile with cumulative windows; g14 is two keyed
    // shuffles (the Pregel superstep, g03's profile); io17 is one scan
    // fanned into two filtered writes + sink read-back aggs
    "w12_mad_outliers", "w13_cusum_drift", "g14_hits_round",
    "io17_quarantine_split",
    // d20 is one bounds agg + a per-row projection + 3-group agg —
    // the d15 flat-split profile with a broadcast bounds row
    "d20_temporal_split",
    // g15 runs its full 3-batch lifecycle per tier (batches grow with
    // the tier, so this row measures lifecycle throughput — the
    // per-batch O(batch ∪ affected) claim is the spec's random-split
    // equality; store scans are the narrow 3-column label layers)
    "g15_incremental_components")
  // lineitem-backed heavies: only at tiers generated in `full` mode
  private val RelQueries = Seq("a08_correlation", "q05_shipping_priority")

  def main(args: Array[String]): Unit = {
    val Array(scaleRoot, outJson) = args
    // targeted-session knobs (mirror Bench's SPARK_GRAFT_BENCH_ONLY):
    // comma-separated query-name prefixes / tier names; ONLY also skips
    // the incremental experiment (it is not a named query)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def keep(q: String): Boolean = only.forall(_.exists(q.startsWith))
    val tierFilter = sys.env.get("SPARK_GRAFT_SCALE_TIERS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // this sweep DELIBERATELY measures the unguarded pair forms'
    // growth curves past the production budget (m01/s01 at 500k docs
    // are the superlinearity evidence the guard's doc cites)
    val spark = GraftSession.local(32, graft.operators.Dedup.PairsMaxDocsKey -> "-1")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val tiers = Seq("1x", "10x", "100x")
      .filter(t => java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$scaleRoot/$t")))
      .filter(t => tierFilter.forall(_.contains(t)))
    def hasTable(t: String, name: String): Boolean =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$scaleRoot/$t/$name.parquet"))

    def timed(thunk: () => Long, runs: Int): (Double, Long) = {
      var rows = 0L
      val secs = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        rows = thunk()
        (System.nanoTime() - t0) / 1e9
      }
      (secs.min, rows)
    }

    /** The tier's operator set. Gate queries run verbatim; the two ANN
      * operators whose candidate volume is governed by an explicit
      * resolution knob get the knob scaled the way the algorithms are
      * deployed — LSH planes ∝ log n (constant bucket occupancy),
      * SemDeDup centroids ∝ n (constant cluster size). Running them with
      * the 2k-vector gate constants at 100× would measure a mis-tuned
      * quadratic configuration, not the operator.
      */
    def tierOps(dir: String, factor: Int): Seq[(String, () => Long)] = {
      val tier = dir.split('/').last
      val gates = (DocQueries ++
        EventQueries.filter(_ => hasTable(tier, "events")) ++
        RelQueries.filter(_ => hasTable(tier, "lineitem"))).map { q =>
        // forcedCount: plain count() lets the optimizer prune unread
        // columns, deleting windows/projections from the executed plan —
        // w02/w07 "flat" rows at 10M events were grid cardinality, not
        // the operator (see Eval.forcedCount)
        // benchQueries: ε-band gates measure their PRODUCTION form here
        // too — growth curves of the band proof would mis-grade the
        // operator (same rationale as Bench's benchAs split)
        q -> (() => graft.Eval.forcedCount(SparkEntry.benchQueries(q)(spark, dir)))
      }
      val planes = 6 + (math.log(factor.toDouble) / math.log(2.0)).round.toInt
      // k ∝ √n balances BRUTE SemDeDup's two stages (assignment n·k,
      // within-cluster pairs n²/k ⇒ both n^1.5); the two-level
      // (coarse-quantized) assignment makes k ∝ n affordable —
      // assignment n·2√k, pairs n²/k = O(n) — so it runs with k ∝ n
      val centroids = math.round(8.0 * math.sqrt(factor.toDouble))
      val centroidsLinear = 8L * factor
      val tuned = Seq(
        s"e05_lsh_pairs[planes=$planes]" -> (() =>
          graft.operators.Similarity.lshPairs(
            Tables.embeddings(spark, dir), "vec_id", "embedding", planes, 64).count()),
        s"e06_semdedup[k=$centroids]" -> (() =>
          graft.operators.Similarity.semDedupRemovals(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            col("id") < centroids, 0.38).count()),
        s"e06b_semdedup2l[k=$centroidsLinear]" -> (() =>
          graft.operators.Similarity.semDedupRemovalsTwoLevel(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            col("id") < centroidsLinear, 0.38).count()),
        // production SimHash config (64-bit fingerprint, 4×16-bit chunks,
        // hamming ≤ 3 guaranteed recall) — the gate's 32-bit/2-chunk form
        // has a resolution CEILING that pockets candidates quadratically
        // on this closed-vocabulary corpus
        "s01_simhash[bits=64]" -> (() =>
          graft.operators.Dedup.simHashPairs(
            Tables.documents(spark, dir), "doc_id", "text", 64, 16,
            mix64 = true).count()),
        // the 100 TB verification form: estimator verify (16 sig longs
        // per side) vs m01's exact verify (full shingle arrays per pair)
        "m03_neardup_estimated" -> (() =>
          graft.operators.Dedup.nearDupPairsEstimated(
            Tables.documents(spark, dir), "doc_id", "text", 2, 16, 8,
            minEstimate = 0.25).count()),
        // one Lloyd round at the IVF deployment shape (k ∝ √n): the
        // n·k assignment is the training loop's per-round cost — the
        // gate's fixed k=8 would measure a mis-provisioned index at
        // 100×, not the operator (same rationale as e06's knob)
        s"e10_kmeans_round[k=$centroids]" -> (() =>
          graft.operators.Similarity.kmeansRound(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            col("id") < centroids).count()),
        // t21b's ONLINE leg: the index build (the amortized offline job)
        // runs lazily on the FIRST timed run only; best-of-2 min is
        // therefore the pure retrieval pass over the store — the claim
        // under measurement is retrieval ∝ matched postings, with the
        // corpus nowhere in the plan
        // w07 over a FIXED ~1500-user sample: the tier generator grows
        // users AND days 10× each, so the full users×days grid blows up
        // 100× per tier (450M rows at 100×, ~26 min honest) — geometry,
        // not the operator. Pinning the user count makes the sweep
        // measure the fill windows' scaling in DAYS, the dimension the
        // operator actually owns; the full-grid form remains the gate.
        s"w07_gap_interpolate[users~1500]" -> (() =>
          graft.Eval.forcedCount(graft.queries.AnalyticsQueries.gapInterpolate(
            Tables.events(spark, dir)
              .filter(pmod(col("user_id"), lit(factor.toLong)) === 0)))),
        // e15 verbatim: codes scan ∝ n, distance tables fixed (5 queries
        // × 8 codes × 4 subspaces) — the claim is retrieval ∝ code rows
        "e15_pq_adc_topk" -> (() =>
          graft.Eval.forcedCount(SparkEntry.queries("e15_pq_adc_topk")(spark, dir))),
        // r11 e22: docMod ∝ n keeps TOKENS PER DOC constant as the
        // corpus grows (real corpora add docs, not tokens-per-doc) —
        // the gate's fixed modulus at 100× would inflate every doc and
        // the query 100×, a mis-shaped corpus, not the operator. The
        // claim under measurement: one broadcast-side scan ∝ corpus
        // token rows, aggs map-side — near-linear per 10×.
        s"e22_maxsim[docmod=${100L * factor}]" -> (() =>
          graft.Eval.forcedCount(graft.operators.Similarity.maxSimTopK(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            docMod = 100L * factor, numQueryDocs = 2, k = 5))),
        // r12 g12: VERDICT r11 hypothesized the 14.1× 100×-step was the
        // m01 partition floor on the 153M-row message shuffle. The
        // partition sweep FALSIFIED that (old form at the 100× tier,
        // best-of-2: 20.3 s @100 parts, 23.5 @256, 24.2 @512 — more
        // partitions strictly worse): the cost was the 9.6M-KEY
        // (node,dim) aggregate over the exploded messages, whose
        // map-side hash agg fell back to sort+spill. The operator was
        // rewritten instead (messages stay ARRAYS; one 150k-key agg
        // folds deg + per-dim sums; only |nodes|×dims explodes) —
        // 6.4 s @32 parts / 10.1 @100 at the 100× tier. Partitions
        // pinned to the cpu count: every remaining shuffle is ≤ 2.4M
        // array rows / 150k keys, where extra partitions are pure
        // overhead (measured above).
        "g12_gnn_mean_agg_round" -> (() => {
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions", cpus)
          try graft.Eval.forcedCount(
            SparkEntry.queries("g12_gnn_mean_agg_round")(spark, dir))
          finally spark.conf.set("spark.sql.shuffle.partitions", prev)
        }),
        // r12 rows — the round's corpus-sized operators, benchmark/eval
        // sides held CONSTANT (mod × factor) while the corpus grows,
        // the real deployment shape (a held-out set doesn't scale with
        // the crawl):
        // t34: both detection legs scan the corpus once (exploded
        // shingles + broadcast-bench cosine); claim = linear in corpus
        s"t34_contamination[bench~52]" -> (() =>
          graft.Eval.forcedCount(graft.queries.SimilarityQueries
            .contaminationReport(spark, dir, benchMod = 97L * factor))),
        // t36: train collapses to its distinct shingle set (the d09
        // profile), eval broadcasts; claim = distinct-shingle linear
        s"t36_novelty[eval~52]" -> (() =>
          graft.Eval.forcedCount(graft.queries.TextQueries
            .noveltyProbe(spark, dir, benchMod = 97L * factor))),
        // t35 verbatim: t29's scoring chain + a per-language rank
        // window (bounded partitions); claim = tracks t29's curve
        "t35_perplexity_buckets" -> (() =>
          graft.Eval.forcedCount(
            SparkEntry.queries("t35_perplexity_buckets")(spark, dir))),
        // e25 verbatim: k=4 corpus scans against driver-held centers +
        // one assignment scan; claim = k-scan linear, no pair matrix
        "e25_kcenter_coreset" -> (() =>
          graft.Eval.forcedCount(
            SparkEntry.queries("e25_kcenter_coreset")(spark, dir))),
        // g13 verbatim: walk frame one row per walk, T joins against
        // the reused capped adjacency; claim = linear in |starts|+|adj|
        "g13_random_walks" -> (() =>
          graft.Eval.forcedCount(
            SparkEntry.queries("g13_random_walks")(spark, dir))),
        s"t21b_retrieval[stored]" -> {
          var bm25Store: String = null
          () => {
            if (bm25Store == null) {
              bm25Store = java.nio.file.Files
                .createTempDirectory("t21b-scale").toString + "/store"
              graft.queries.TextQueries.bm25BuildIndex(spark, dir, bm25Store)
            }
            graft.queries.TextQueries.bm25Retrieve(spark, bm25Store).count()
          }
        },
        // e19's ONLINE leg at the e16 provisioning shape (coarse ∝ √n):
        // the store is built lazily on the first timed run (amortized
        // offline job, same convention as t21b above); the timed leg is
        // the pure stored search — with the r9 cluster-partitioned codes
        // layout the claim under measurement is search I/O ∝ probed
        // clusters (nprobe × cluster size), with store size amortized
        // out of the growth curve
        s"e19_retrieval[stored,coarse=$centroids]" -> {
          var pqStore: String = null
          () => {
            if (pqStore == null) {
              pqStore = java.nio.file.Files
                .createTempDirectory("e19-scale").toString + "/store"
              graft.operators.Similarity.buildIvfPqStore(
                Tables.embeddings(spark, dir), "vec_id", "embedding",
                col("id") >= 8 && col("id") < lit(8 + centroids),
                col("id") < 8, pqStore)
            }
            graft.operators.Similarity.ivfPqStoredTopK(spark, pqStore,
              Tables.embeddings(spark, dir).filter(col("vec_id") < 5),
              "vec_id", "embedding", 10, 2).count()
          }
        },
        // r12 e24: the PRODUCTION MaxSim (stored shortlist → exact
        // re-rank), docMod ∝ n as e22 (tokens-per-doc constant, ~40
        // query tokens regardless of tier). The claim: stage 1 I/O ∝
        // probed clusters (e19's curve), stage 2 ∝ candidate-doc token
        // rows — the full-corpus e22 scan never runs, so the composed
        // curve must sit far below e22_maxsim's at the 100× tier
        s"e24_maxsim[stored,docmod=${100L * factor}]" -> {
          var e24Store: String = null
          () => {
            val emb = Tables.embeddings(spark, dir)
            if (e24Store == null) {
              e24Store = java.nio.file.Files
                .createTempDirectory("e24-scale").toString + "/store"
              graft.operators.Similarity.buildIvfPqStore(
                emb, "vec_id", "embedding",
                col("id") >= 8 && col("id") < lit(8 + centroids),
                col("id") < 8, e24Store)
            }
            val dm = 100L * factor
            val short = graft.operators.Similarity.ivfPqStoredTopK(
              spark, e24Store, emb.filter(pmod(col("vec_id"), lit(dm)) < 2),
              "vec_id", "embedding", 10, 2)
            val cand = short.select(
                pmod(col("q_id"), lit(dm)).as("qd"),
                pmod(col("n_id"), lit(dm)).as("cd"))
              .filter(col("cd") =!= col("qd")).distinct()
            graft.Eval.forcedCount(
              graft.operators.Similarity.maxSimTopKShortlist(
                emb, "vec_id", "embedding", dm, 2, cand, 5))
          }
        },
        // io11's ONLINE leg: the lake is written range-clustered once
        // (amortized, first timed run — the t21b convention; files ∝
        // tier so each file stays a ~constant time band), the timed leg
        // is the manifest-pruned 3-day range read — the claim is read
        // I/O ∝ the selected band's files, not lake size
        "io11_zonemap_read" -> {
          var zmLake: String = null
          () => {
            if (zmLake == null) {
              zmLake = java.nio.file.Files
                .createTempDirectory("io11-scale").toString + "/lake"
              graft.operators.ZoneMap.writeClustered(
                Tables.events(spark, dir)
                  .select("event_id", "ts", "event_type", "value"),
                zmLake, "ts", numFiles = 16 * factor)
            }
            graft.Eval.forcedCount(graft.operators.ZoneMap.readRange(
              spark, zmLake, "ts",
              lit("2024-01-10").cast("timestamp"),
              lit("2024-01-13").cast("timestamp")))
          }
        },
        // e16 with coarse ∝ √n (the IVF provisioning rule, e06's knob):
        // fixed coarse k at 100× would make each probe scan n/k of the
        // corpus — a mis-provisioned index, not the operator; codebook
        // stays 8 (code resolution is independent of corpus size)
        s"e16_ivfpq[coarse=$centroids]" -> (() =>
          graft.operators.Similarity.knnIvfPqAdc(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            col("id") >= 8 && col("id") < lit(8 + centroids),
            col("id") < 8, col("id") < 5, 10, 2).count()),
        // r12 e27: prefix-dim brute search — same |q|×n scan as full
        // brute but 16/64 of the vector arithmetic per row; the claim
        // is the linear curve with a ~4× smaller constant (in
        // production the prefix is its own stored column, so the
        // saving is scan BYTES too, not just ALU)
        "e27_prefix16_brute" -> (() =>
          graft.operators.Similarity.knnBrute(
            Tables.embeddings(spark, dir)
              .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
            "vec_id", "embedding", col("id") < 5, 10).count()),
        // r12 e28: the e19 stored retrieval under a metadata allow-list
        // — claim: the filter is one broadcast LEFT SEMI on the probed
        // codes scan, so the curve tracks e19's (probed clusters). The
        // allow-list is held REQUEST-SIZED (≤2k ids, constant across
        // tiers) per the operator's contract — a corpus-proportional
        // predicate belongs in the store or behind x07's bloom (the
        // operator now require()s that budget); store built lazily
        // (t21b convention), timed leg = pure filtered search
        s"e28_retrieval[stored,filtered,coarse=$centroids]" -> {
          var e28Store: String = null
          () => {
            val emb = Tables.embeddings(spark, dir)
            if (e28Store == null) {
              e28Store = java.nio.file.Files
                .createTempDirectory("e28-scale").toString + "/store"
              graft.operators.Similarity.buildIvfPqStore(
                emb, "vec_id", "embedding",
                col("id") >= 8 && col("id") < lit(8 + centroids),
                col("id") < 8, e28Store)
            }
            graft.operators.Similarity.ivfPqStoredTopK(spark, e28Store,
              emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 2,
              allowed = Some(emb
                .filter(col("label") % 2 === 0 && col("vec_id") < 4000)
                .select("vec_id"))
            ).count()
          }
        },
        // r13 e30: the erasure-quality audit, tier-measured directly
        // (VERDICT r12 #7 — previously inherited from its parts). The
        // store build + forget are the amortized offline jobs (t21b
        // convention, lazy first run); the timed leg runs BOTH audit
        // halves — brute truth over survivors (|q| × survivors, the
        // linear leg) and the purged probed retrieval (e19's curve) —
        // plus the broadcast-size recall join.
        s"e30_recall_post_forget[coarse=$centroids]" -> {
          var e30Store: String = null
          () => {
            val emb = Tables.embeddings(spark, dir)
            if (e30Store == null) {
              e30Store = java.nio.file.Files
                .createTempDirectory("e30-scale").toString + "/store"
              graft.operators.Similarity.buildIvfPqStore(
                emb, "vec_id", "embedding",
                col("id") >= 8 && col("id") < lit(8 + centroids),
                col("id") < 8, e30Store)
              graft.operators.Similarity.forgetFromIvfPqStore(spark, e30Store,
                emb.filter(col("vec_id") % 10 === 7).select("vec_id"))
            }
            val truth = graft.operators.Similarity.knnBrute(
                emb.filter(col("vec_id") % 10 =!= 7),
                "vec_id", "embedding", col("id") < 5, 10)
              .select("q_id", "n_id")
            val cand = graft.operators.Similarity.ivfPqStoredTopK(
                spark, e30Store, emb.filter(col("vec_id") < 5),
                "vec_id", "embedding", 10, 2)
              .select(col("q_id"), col("n_id"), lit(1).as("hit"))
            graft.Eval.forcedCount(truth.join(cand, Seq("q_id", "n_id"), "left")
              .groupBy("q_id")
              .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit")))
          }
        },
        // r13 sm11-shaped streaming row (VERDICT r12 #7): io17's
        // semantic DLQ under a REAL file stream — the gate's
        // MemoryStream fixture can't tier-sweep (the sm09/sm10 note).
        // AvailableNow + maxFilesPerTrigger splits the tier into ~3
        // micro-batches; the row measures the shared foreachBatch body
        // (contract cascade + two exactly-once slice writes) at
        // growing batch sizes — per-batch work O(|batch|), write bytes
        // dominating, the io17 profile under streaming delivery.
        "sm11_quarantine[filestream]" -> (() => {
          val root = java.nio.file.Files
            .createTempDirectory("sm11-scale").toString
          val evPath = s"$dir/events.parquet"
          val nFiles = math.max(1, new java.io.File(evPath).listFiles()
            .count(_.getName.endsWith(".parquet")))
          val schema = spark.read.parquet(evPath).schema
          val src = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger",
              math.max(1, (nFiles + 2) / 3).toString)
            .parquet(evPath)
            .select("event_id", "event_type", "value", "props")
          val q = src.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.queries.StreamingQueries.quarantineSplitBatch(b, id, root)
            }
            .option("checkpointLocation", s"$root/_ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          // the gate's read-back shape: explicit schemas (an all-pass
          // batch leaves the DLQ with _SUCCESS and no part files)
          import org.apache.spark.sql.types._
          val base = StructType(Seq(
            StructField("event_id", LongType),
            StructField("event_type", StringType),
            StructField("value", DoubleType),
            StructField("props", StringType),
            StructField("batch", IntegerType)))
          val quarSchema = StructType(base.fields.patch(4,
            Seq(StructField("reason", StringType)), 0))
          spark.read.schema(base).parquet(s"$root/landing").count() +
            spark.read.schema(quarSchema).parquet(s"$root/quarantine").count()
        }),
        // e17 verbatim: pack is a per-row fold, scoring scans 2 longs/row
        // against a broadcast 5-query side — the flattest ANN profile
        "e17_hamming_topk" -> (() =>
          graft.Eval.forcedCount(SparkEntry.queries("e17_hamming_topk")(spark, dir))),
        // e18 at e05's plane scaling: fixed planes at 100× would pocket
        // whole-corpus buckets (e02's documented ceiling) — the probe
        // count grows with planes, the per-bucket candidate set shrinks
        s"e18_multiprobe[planes=$planes]" -> (() =>
          graft.operators.Similarity.knnLshMultiProbe(
            Tables.embeddings(spark, dir), "vec_id", "embedding",
            col("id") < 5, 10, planes, 64).count()),
        // force the distributed pointer-jumping path (the 100 TB worst
        // case) even where the union-find fast path would engage
        "g02_components_distributed" -> (() => {
          val pairs = graft.operators.Dedup.lshCandidatePairs(
            Tables.documents(spark, dir), "doc_id", "text", 2, 16, 8)
          graft.operators.Dedup.connectedComponents(
            pairs, localEdgeLimit = 0L, streamEdgeLimit = 0L).count()
        }))
      (gates ++ tuned).filter { case (q, _) => keep(q) }
    }

    val tierResults = tiers.map { t =>
      val dir = s"$scaleRoot/$t"
      val factor = t.stripSuffix("x").toInt
      val docsRows = spark.read.parquet(s"$dir/documents.parquet").count()
      val embRows = spark.read.parquet(s"$dir/embeddings.parquet").count()
      // scale the shuffle-partition count with the tier so per-partition
      // shuffle bytes stay ~constant — the sizing a real cluster applies
      // as data grows (static 32 partitions at the 100× tier spills: m01
      // measured 37s at 32 partitions vs 19s at 96 on this machine).
      val parts = math.max(cpus.toInt, (docsRows / 5000L).toInt)
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // per-tier contention canary (same rationale as Bench's): a fixed
      // data-independent workload whose time exposes machine contention
      // DURING this tier's measurements — growth ratios are only
      // trustworthy between tiers whose canaries agree
      val canary = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(200000000L).selectExpr("sum(id % 9973)").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      // best-of-2 everywhere: single runs at the 100× tier showed ±40%
      // run-to-run variance on the heavy queries (GC/page-cache state),
      // which is real noise against a 10× growth signal
      val runs = 2
      val results = tierOps(dir, factor).map { case (q, thunk) =>
        val (sec, rows) = timed(thunk, runs)
        println(f"[scalebench] $t $q: $sec%.2fs ($rows rows)")
        q -> (sec, rows)
      }
      t -> (docsRows, embRows, canary, results)
    }

    // incremental-ingestion experiment: fixed ~1k-doc batch (half novel,
    // half colliding with the store) admitted against each tier's store
    // SPARK_GRAFT_SCALE_ONLY=incremental (or any prefix of it, matching
    // the env var's prefix semantics everywhere else) runs JUST this
    // experiment; any other filter skips it, as before
    val incremental = (if (only.forall(_.exists(tok =>
        "incremental".startsWith(tok)))) tiers
      else Seq.empty).map { t =>
      val dir = s"$scaleRoot/$t"
      val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
      val batchBase = Tables.documents(spark, s"$scaleRoot/1x")
        .select("doc_id", "source", "text").filter(col("doc_id") < 1000)
      // novel half: new ids + per-token suffix → no shared keys/shingles.
      // TWO batches in disjoint id/text spaces make the admit measurable
      // best-of-2 (a repeat of ONE batch would admit 0 — the store
      // remembers it). The two batches do NOT admit identical counts:
      // batch 2 is admitted against a store that already holds batch 1's
      // appended bands, so random MinHash band collisions against them
      // legitimately block a few extra docs. Admitted counts are
      // therefore recorded PER BATCH INDEX, and the per-batch equality
      // that IS the invariant — flat == bucketed == streaming on the
      // same batch — is asserted right here in the sweep. Single runs
      // here measured up to 10× apart on page-cache state — exactly the
      // noise best-of-2 strips.
      def mkBatch(suffix: String, idOff: Long) = {
        val novel = batchBase.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + lit(990000000000L + idOff))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1" + suffix))
        val colliding = batchBase.filter(col("doc_id") % 2 === 1)
          .withColumn("doc_id", col("doc_id") + lit(991000000000L + idOff))
        novel.unionByName(colliding).localCheckpoint()
      }
      val batches = Seq(mkBatch("xb", 0L), mkBatch("xc", 10000000000L))

      // run every batch in order, timing each: best time is the reported
      // latency (page-cache noise), admitted counts are kept PER BATCH
      // so cross-path equality is assertable on like-for-like batches
      def timedBatches(run: (DataFrame, Int) => Long): (Double, Seq[Long]) = {
        val rs = batches.zipWithIndex.map { case (b, i) =>
          val t0 = System.nanoTime()
          val n = run(b, i)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        (rs.map(_._1).min, rs.map(_._2))
      }

      val key = graft.functions.TextFunctions.rollingHash(col("text"))
      val exactStore = queries.Dsl.tempStore(s"scale_x04_$t")
      graft.operators.IncrementalDedup
        .dedupeBatch(docs, key, Seq(col("doc_id")), exactStore).count()
      val (exactSec, exAdmitted) = timedBatches((b, _) =>
        graft.operators.IncrementalDedup
          .dedupeBatch(b, key, Seq(col("doc_id")), exactStore).count())

      val ndStore = queries.Dsl.tempStore(s"scale_x08_$t")
      // seeded the way the store grows, in micro-batches: dedupeBatch
      // holds a batch on the driver (budgeted), and index-all appends
      // every batch's band rows, so the seeded index is the same rows a
      // single whole-corpus batch would write
      val seedBatches = math.max(1L, (docs.count() + 19999L) / 20000L)
      (0L until seedBatches).foreach(i => graft.operators.IncrementalNearDup
        .dedupeBatch(docs.filter(pmod(col("doc_id"), lit(seedBatches)) === i),
          "doc_id", "text", ndStore).count())
      val (ndSec, ndAdmitted) = timedBatches((b, _) =>
        graft.operators.IncrementalNearDup
          .dedupeBatch(b, "doc_id", "text", ndStore).count())

      // BUCKETED index (x18): same admission semantics, but the
      // corpus-sized side is a bucketBy(band_id, band_key) table the
      // collision join reads pre-partitioned — the zero-exchange claim
      // BucketingSpec pins at gate scale, measured here across store
      // tiers (VERDICT r9 #4).
      val bkTable = s"scale_x18_$t"
      spark.sql(s"DROP TABLE IF EXISTS $bkTable")
      graft.operators.IncrementalNearDup
        .dedupeBatchBucketed(docs, "doc_id", "text", bkTable).count()
      val (bkSec, bkAdmitted) = timedBatches((b, _) =>
        graft.operators.IncrementalNearDup
          .dedupeBatchBucketed(b, "doc_id", "text", bkTable).count())
      // the x18 invariant, asserted where it's measured: the bucketed
      // layout changes the PLAN, never the admission — per matching batch
      require(ndAdmitted == bkAdmitted,
        s"$t: bucketed admission diverged from flat per batch — " +
          s"flat=$ndAdmitted bucketed=$bkAdmitted")

      // STREAMING admission (sm08's foreachBatch core): batch_id-tagged
      // bucketed index, strictly-earlier visibility filter, watermark
      // bump in table properties — the micro-batch shape minus the
      // MemoryStream harness.
      val stTable = s"scale_sm08_$t"
      spark.sql(s"DROP TABLE IF EXISTS $stTable")
      graft.operators.IncrementalNearDup
        .dedupeBatchBucketed(docs, "doc_id", "text", stTable,
          batchId = Some(0L)).count()
      val (stSec, stAdmitted) = timedBatches((b, i) =>
        graft.operators.IncrementalNearDup
          .dedupeBatchBucketed(b, "doc_id", "text", stTable,
            batchId = Some(i + 1L)).count())
      // the streaming twin sees the same batches through the same rule
      // (the strictly-earlier batch filter equals the flat twin's
      // pre-append view) — equal per batch, or the sweep screams
      require(stAdmitted == ndAdmitted,
        s"$t: streaming admission diverged from flat per batch — " +
          s"flat=$ndAdmitted stream=$stAdmitted")

      // g15 fixed-batch admission (VERDICT r12 #1 — the label store's
      // missing flat-admission evidence): the store is built from the
      // tier's chain edges (the g15 gate's edge rule — node space grows
      // with the tier, so the store is 100× larger at 100×) and
      // compacted to its base; the timed batch is FIXED ~1k edges —
      // half novel chains in a fresh id-space (new nodes: lookup
      // misses, appends), half edges the store already contains (known
      // nodes, same component: lookup hits, no appends, no relabels).
      // Admission must stay ~flat across tiers: the lookup broadcasts
      // the batch side into the raw label scan (no store shuffle), the
      // relabel scan partition-prunes to losing lbuckets, and the
      // union-find is batch-label-bounded.
      val ccStore = queries.Dsl.tempStore(s"scale_g15_$t")
      val evEdges = Tables.events(spark, dir)
        .filter(col("user_id") % 10 =!= 9)
        .select(col("user_id").as("a"), (col("user_id") + 1).as("b"))
      graft.operators.IncrementalComponents.admitEdges(
        spark, ccStore, evEdges, 0L)
      graft.operators.IncrementalComponents.compact(spark, ccStore)
      val ccBase = graft.operators.IncrementalComponents
        .resolved(spark, ccStore).count()
      def ccBatch(off: Long) = {
        val novel = spark.range(500).select(
          (col("id") * 2 + lit(980000000000L + off)).as("a"),
          (col("id") * 2 + lit(980000000001L + off)).as("b"))
        val known = Tables.events(spark, dir)
          .filter(col("user_id") % 10 === 0)
          .select(col("user_id").as("a"), (col("user_id") + 1).as("b"))
          .distinct().limit(500)
        novel.unionByName(known).localCheckpoint()
      }
      val ccSec = Seq(ccBatch(0L), ccBatch(10000000L)).zipWithIndex.map {
        case (b, i) =>
          val t0 = System.nanoTime()
          graft.operators.IncrementalComponents.admitEdges(
            spark, ccStore, b, i + 1L)
          (System.nanoTime() - t0) / 1e9
      }.min
      // admission-correctness require, the vecstore round-trip
      // discipline: exactly the two batches' novel nodes joined the
      // store; the known half changed nothing
      val ccAfter = graft.operators.IncrementalComponents
        .resolved(spark, ccStore).count()
      require(ccAfter == ccBase + 2000,
        s"$t: g15 fixed-batch admission drifted — $ccBase → $ccAfter " +
          "(want +2000 novel nodes)")

      def fmtN(ns: Seq[Long]) = ns.mkString("[", ",", "]")
      println(f"[scalebench] $t incremental: exact $exactSec%.2fs " +
        f"(${fmtN(exAdmitted)} admitted), neardup $ndSec%.2fs (${fmtN(ndAdmitted)}), " +
        f"bucketed $bkSec%.2fs (${fmtN(bkAdmitted)}), stream $stSec%.2fs (${fmtN(stAdmitted)}), " +
        f"components $ccSec%.2fs (store $ccBase nodes)")
      t -> (exactSec, exAdmitted, ndSec, ndAdmitted, bkSec, bkAdmitted,
        stSec, stAdmitted, ccSec, ccBase)
    }

    // vector-store lifecycle experiment (r12): a FIXED 500-vector batch
    // admitted into, then forgotten from, each tier's IVF-PQ store —
    // the e29/x23 operators measured where their claims live: admit is
    // O(batch) against broadcast model params (near-flat across a 100×
    // store), forget rewrites only the clusters the batch routed to
    // (∝ affected-partition bytes, sublinear in store size — cluster
    // size grows √n under the k ∝ √n provisioning). Two disjoint
    // batches make both legs measurable best-of-2 (the admit ledger and
    // forget idempotence would otherwise no-op the repeat), and the
    // round-trip invariant — admit ∘ forget restores the exact store
    // row count — is require()d in-sweep, the incremental experiment's
    // evidence discipline.
    val vecLifecycle = (if (only.forall(_.exists(tok =>
        "vecstore".startsWith(tok)))) tiers
      else Seq.empty).map { t =>
      val dir = s"$scaleRoot/$t"
      val factor = t.stripSuffix("x").toInt
      val emb = Tables.embeddings(spark, dir)
      val centroids = math.round(8.0 * math.sqrt(factor.toDouble))
      val store = queries.Dsl.tempStore(s"scale_vec_$t")
      graft.operators.Similarity.buildIvfPqStore(emb, "vec_id", "embedding",
        col("id") >= 8 && col("id") < lit(8 + centroids), col("id") < 8, store)
      val base = spark.read.parquet(s"$store/codes").count()
      val batchBase = Tables.embeddings(spark, s"$scaleRoot/1x")
        .filter(col("vec_id") < 500).select("vec_id", "embedding")
      def mkBatch(off: Long) = batchBase
        .withColumn("vec_id", col("vec_id") + lit(990000000000L + off))
        .localCheckpoint()
      val batches = Seq(mkBatch(0L), mkBatch(10000000L))
      val admitSec = batches.zipWithIndex.map { case (b, i) =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.admitIvfPqBatch(
          spark, store, b, "vec_id", "embedding", i.toLong)
        (System.nanoTime() - t0) / 1e9
      }.min
      val forgetSec = batches.map { b =>
        val ids = b.select("vec_id")
        val t0 = System.nanoTime()
        graft.operators.Similarity.forgetFromIvfPqStore(spark, store, ids)
        (System.nanoTime() - t0) / 1e9
      }.min
      val after = spark.read.parquet(s"$store/codes").count()
      require(after == base,
        s"$t: vector-store admit∘forget did not round-trip: $base → $after")
      // r13 rebalance leg: split the tier's hottest cluster — cost must
      // track the HOT CLUSTER (∝ n/k, growing √n under k ∝ √n
      // provisioning), never the store; conservation require()d like
      // the round-trip above. Run once (a second run would split the
      // next-hottest — a different, smaller workload, not a re-measure).
      val t0r = System.nanoTime()
      val hot = graft.operators.Similarity.rebalanceIvfPqStore(spark, store)
      val rebalanceSec = (System.nanoTime() - t0r) / 1e9
      val afterReb = spark.read.parquet(s"$store/codes").count()
      require(hot >= 0 && afterReb == base,
        s"$t: rebalance must split (got $hot) and conserve codes: $base → $afterReb")
      println(f"[scalebench] $t vecstore: admit $admitSec%.2fs, " +
        f"forget $forgetSec%.2fs, rebalance $rebalanceSec%.2fs (codes $base)")
      t -> (admitSec, forgetSec, rebalanceSec, base)
    }

    def j(d: Double): String = f"$d%.3f"
    val tierJson = tierResults.map { case (t, (dr, er, cn, timed)) =>
      val qjson = timed.map { case (q, (sec, rows)) =>
        s""""$q":{"sec":${j(sec)},"rows":$rows}""" }.mkString(",")
      s""""$t":{"docs_rows":$dr,"emb_rows":$er,"canary_sec":${j(cn)},"queries":{$qjson}}"""
    }.mkString(",")
    // growth ratios per query between adjacent tiers (data grows 10×);
    // tuned ops are matched by base name (the knob value differs per tier)
    def base(q: String): String = q.takeWhile(_ != '[')
    val byTier = tierResults.map { case (t, (_, _, _, res)) =>
      t -> res.map { case (q, v) => base(q) -> v }.toMap
    }.toMap
    val allBases = tierResults.flatMap(_._2._4.map(r => base(r._1))).distinct
    val growthJson = allBases.map { q =>
      val ratios = tiers.sliding(2).flatMap {
        case Seq(a, b) if byTier(a).contains(q) && byTier(b).contains(q) =>
          Some(s""""${b}_over_$a":${j(byTier(b)(q)._1 / math.max(1e-9, byTier(a)(q)._1))}""")
        case _ => None
      }.mkString(",")
      s""""$q":{$ratios}"""
    }.mkString(",")
    // *_admitted are PER-BATCH-INDEX arrays: [batch1, batch2] — the
    // cross-path equality (neardup == bucketed == stream, element-wise)
    // is require()d during the sweep, so equal arrays here are evidence,
    // not coincidence; exact admits by a different (hash) rule
    def jArr(ns: Seq[Long]) = ns.mkString("[", ",", "]")
    val incJson = incremental.map {
      case (t, (es, ea, ns, na, bs, ba, ss, sa, cs, cn)) =>
        s""""$t":{"exact_batch_sec":${j(es)},"exact_admitted":${jArr(ea)},""" +
          s""""neardup_batch_sec":${j(ns)},"neardup_admitted":${jArr(na)},""" +
          s""""bucketed_batch_sec":${j(bs)},"bucketed_admitted":${jArr(ba)},""" +
          s""""stream_batch_sec":${j(ss)},"stream_admitted":${jArr(sa)},""" +
          s""""components_batch_sec":${j(cs)},"components_store_nodes":$cn}"""
    }.mkString(",")
    val vecJson = vecLifecycle.map { case (t, (as, fs, rs, n)) =>
      s""""$t":{"admit_batch_sec":${j(as)},"forget_batch_sec":${j(fs)},""" +
        s""""rebalance_sec":${j(rs)},"codes_rows":$n}"""
    }.mkString(",")
    val out = s"""{"metric":"scale_tiers","unit":"sec","cpus":$cpus,""" +
      s""""tiers":{$tierJson},"growth":{$growthJson},""" +
      s""""incremental_fixed_batch":{$incJson},""" +
      s""""vector_store_lifecycle":{$vecJson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), out)
    println(out)
    spark.stop()
  }
}
