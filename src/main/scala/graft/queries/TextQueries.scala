package graft.queries

import graft.{Det, GraftQuery, Tables}
import graft.functions.TextFunctions._
import graft.io.{Overlap, StoreRead}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token statistics,
  * heuristic language ID, quality scoring, and rolling-hash document
  * fingerprints (training-data-pipeline extensions from the builder
  * prompt; reference analogs cited in TextFunctions).
  *
  * All expressions are codegen'd builtins — one narrow scan, no shuffles
  * except the final tiny ORDER BY, so each op is embarrassingly parallel
  * at 100 TB.
  */
object TextQueries {

  /** Token counting: whitespace tokens, BPE-ish segments, distinct tokens,
    * average token length.
    */
  val t01TokenStats: GraftQuery = GraftQuery(
    "t01_token_stats",
    s"""SELECT doc_id,
       |  len(${sqlTokens("text")}) AS n_tokens,
       |  ${sqlBpeTokenCount("text")} AS n_bpe,
       |  len(list_distinct(${sqlTokens("text")})) AS n_distinct,
       |  (CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(${sqlTokens("text")})) AS avg_tok_len
       |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe"),
        size(array_distinct(toks)).as("n_distinct"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)).as("avg_tok_len"))
      .orderBy("doc_id")
  }

  /** Heuristic language ID: marker-token scores per family, argmax with
    * deterministic tie-break (ref: Translator.py:67-94 detect_language).
    */
  val t02LangId: GraftQuery = GraftQuery(
    "t02_lang_id", {
      val scoreE = langMarkers.map { case (lang, ms) => lang -> sqlLangScore("toks", ms) }
      s"""WITH tok AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents)
         |SELECT doc_id,
         |${scoreE.map { case (l, e) => s"  $e AS s_$l" }.mkString(",\n")},
         |  ${sqlLangPick(scoreE, "text")} AS lang_pred
         |FROM tok ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val toks = tokens(col("text"))
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(toks, ms) }
    Tables.documents(spark, dir)
      .select(
        Seq(col("doc_id")) ++
          scores.map { case (l, s) => s.as(s"s_$l") } :+
          langPick(scores, col("text")).as("lang_pred"): _*)
      .orderBy("doc_id")
  }

  /** Quality scoring: type-token ratio, stopword ratio, average token
    * length, and a composite quality score in deterministic double math.
    */
  val t03Quality: GraftQuery = GraftQuery(
    "t03_quality", {
      val toksE = sqlTokens("text")
      val stopE = sqlLangScore(toksE, stopwords)
      s"""SELECT doc_id,
         |  (CAST(len(list_distinct($toksE)) AS DOUBLE) / len($toksE)) AS ttr,
         |  (CAST($stopE AS DOUBLE) / len($toksE)) AS stop_ratio,
         |  (CAST(len(replace(text, ' ', '')) AS DOUBLE) / len($toksE)) AS avg_tok_len,
         |  ((CAST(len(list_distinct($toksE)) AS DOUBLE) / len($toksE)) * 0.5
         |   + LEAST((CAST(len(replace(text, ' ', '')) AS DOUBLE) / len($toksE)) / 10.0, 1.0) * 0.3
         |   + (CAST($stopE AS DOUBLE) / len($toksE)) * 0.2) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val toks = tokens(col("text"))
    val ttr = size(array_distinct(toks)).cast("double") / size(toks)
    val stopRatio = langScore(toks, stopwords).cast("double") / size(toks)
    val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        ttr.as("ttr"),
        stopRatio.as("stop_ratio"),
        avgLen.as("avg_tok_len"),
        (ttr * 0.5 + least(avgLen / 10.0, lit(1.0)) * 0.3 + stopRatio * 0.2).as("quality"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: order-sensitive rolling hash of the full
    * text plus an order-independent fingerprint of the sorted token set
    * (the exact-dedup key at scale).
    */
  val t04Fingerprint: GraftQuery = GraftQuery(
    "t04_fingerprint", {
      val sortedE = s"array_to_string(list_sort(${sqlTokens("text")}), ' ')"
      s"""SELECT doc_id,
         |  ${sqlRollingHash("text")} AS fp,
         |  ${sqlRollingHash(sortedE)} AS fp_sorted
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val sorted = array_join(array_sort(tokens(col("text"))), " ")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        rollingHash(col("text")).as("fp"),
        rollingHash(sorted).as("fp_sorted"))
      .orderBy("doc_id")
  }

  /** Corpus rollup: predicted-language distribution per source with mean
    * quality inputs — the per-dataset profile a curation pipeline keys
    * filtering decisions on.
    */
  val t05LangDist: GraftQuery = GraftQuery(
    "t05_lang_dist", {
      val scoreE = langMarkers.map { case (lang, ms) => lang -> sqlLangScore(sqlTokens("text"), ms) }
      s"""WITH det AS (
         |  SELECT source, ${sqlLangPick(scoreE, "text")} AS lang_pred,
         |         len(${sqlTokens("text")}) AS n_tokens
         |  FROM documents)
         |SELECT source, lang_pred, COUNT(*) AS n_docs,
         |       CAST(SUM(CAST(n_tokens AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM det GROUP BY source, lang_pred ORDER BY source, lang_pred""".stripMargin
    }) { (spark, dir) =>
    // token array bound to an attribute first (multi-referenced-HOF rule:
    // 4 langScore filters + size all read it)
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(col("__toks"), ms) }
    Tables.documents(spark, dir)
      .select(col("source"), col("text"), tokens(col("text")).as("__toks"))
      .select(col("source"), langPick(scores, col("text")).as("lang_pred"),
        size(col("__toks")).as("n_tokens"))
      .groupBy("source", "lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_tokens").cast("decimal(28,4)")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy("source", "lang_pred")
  }

  /** Repetition-based quality filtering (the Gopher/MassiveText family of
    * repetition signals): per document, the share of the most frequent
    * word bigram and the fraction of duplicated bigram occurrences.
    * High values mark boilerplate/spam for corpus filtering.
    *
    * Shape at 100 TB: bigrams via the shingle HOF (bound to an attribute
    * before the multi-reference — size/distinct/explode all read it),
    * then one explode + two-level aggregation keyed by (doc_id, bigram) —
    * partitions by document, no skew (bigram cardinality per doc is
    * bounded by doc length), map-side partial aggs throughout.
    */
  val t06Repetition: GraftQuery = GraftQuery(
    "t06_repetition", {
      val bgE = sqlShingles(sqlTokens("text"), 2)
      s"""WITH bg AS (SELECT doc_id, $bgE AS bg FROM documents),
         |base AS (SELECT doc_id, unnest(bg) AS bigram FROM bg),
         |cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM base GROUP BY doc_id, bigram),
         |top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id)
         |SELECT b.doc_id, len(b.bg) AS n_bg,
         |  CASE WHEN len(b.bg) = 0 THEN NULL
         |       ELSE CAST(t.top_c AS DOUBLE) / len(b.bg) END AS top_bigram_share,
         |  CASE WHEN len(b.bg) = 0 THEN NULL
         |       ELSE 1.0 - CAST(len(list_distinct(b.bg)) AS DOUBLE) / len(b.bg) END AS dup_bigram_frac
         |FROM bg b LEFT JOIN top t USING (doc_id) ORDER BY b.doc_id""".stripMargin
    }) { (spark, dir) =>
    // Mode-of-array per row WITHOUT a generator: sort the bigram array,
    // then fold a (prev, run, best) struct to the longest equal run. The
    // obvious explode + groupBy formulation is wrong twice at scale: it
    // shuffles the whole bigram multiset through two aggregations, and
    // Spark's InferFiltersFromGenerate infers `size(bg)>0 AND
    // isnotnull(bg)` below the Generate, which predicate pushdown inlines
    // into the scan Filter — the full tokenize→shingle pipeline evaluates
    // 3× per row (measured 5.6s vs 0.4s at sf0.1). The HOF fold is one
    // codegen'd projection: no shuffle, no Generate, nothing to infer.
    // The oracle keeps the unnest+GROUP BY formulation and must agree.
    val sorted = array_sort(col("bg"))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val topRun = aggregate(sorted, zero,
      (acc, x) => {
        val run = when(acc.getField("prev") === x, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Tables.documents(spark, dir)
      // token array bound to an attribute BEFORE the shingle HOF: shingles
      // reads it per element (size + slice), and an inlined split would be
      // re-evaluated O(n_tokens) times per row (the O(n²) inlining trap)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), shingles(col("__toks"), 2).as("bg"))
      .select(col("doc_id"), size(col("bg")).as("n_bg"),
        size(array_distinct(col("bg"))).as("n_dist"), topRun.as("top_c"))
      .select(col("doc_id"), col("n_bg"),
        when(col("n_bg") > 0, col("top_c").cast("double") / col("n_bg"))
          .as("top_bigram_share"),
        when(col("n_bg") > 0, lit(1.0) - col("n_dist").cast("double") / col("n_bg"))
          .as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** PII redaction for training corpora: count and scrub email / phone
    * patterns with codegen'd regexp builtins (no UDFs). The synthetic
    * corpus carries no PII, so the gate injects deterministic addresses
    * per row first (both engines build the identical string), then
    * verifies detection counts and the fully scrubbed text. Patterns stay
    * in the RE2 ∩ java.util.regex common subset so both engines match
    * identical spans.
    */
  val t07PiiScrub: GraftQuery = GraftQuery(
    "t07_pii_scrub", {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "555-[0-9]{4}"
      s"""WITH pii AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@mail.example or 555-'
         |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(raw, '$email')) AS n_emails,
         |  len(regexp_extract_all(raw, '$phone')) AS n_phones,
         |  regexp_replace(regexp_replace(raw, '$email', '<EMAIL>', 'g'),
         |                 '$phone', '<PHONE>', 'g') AS scrubbed
         |FROM pii ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "555-[0-9]{4}"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("raw"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phone), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
          phone, "<PHONE>").as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Token-budget packing (training-shard planning): documents are packed
    * into contiguous bins of ≤4096 tokens per source in doc_id order —
    * pack_id = exclusive-running-token-sum div budget. Per-source windows
    * keep the sort partition-local (a GLOBAL packing order would serialize
    * the sort at 100 TB; sources are the natural shard key), and the
    * output is the per-pack manifest a dataloader consumes.
    */
  val t08TokenPacking: GraftQuery = GraftQuery(
    "t08_token_packing",
    s"""WITH t AS (
       |  SELECT source, doc_id, len(${sqlTokens("text")}) AS n FROM documents),
       |c AS (
       |  SELECT source, doc_id, n,
       |         COALESCE(CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS ex
       |  FROM t)
       |SELECT source, ex // 4096 AS pack_id, COUNT(*) AS n_docs,
       |       CAST(SUM(n) AS BIGINT) AS pack_tokens
       |FROM c GROUP BY source, ex // 4096
       |ORDER BY source, pack_id""".stripMargin) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), size(tokens(col("text"))).as("n"))
      .withColumn("ex", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("source"), expr("ex div 4096").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  /** T9 — corpus-level repeated-span removal (C4-style: spans occurring
    * more than once in the corpus are dropped from every document except
    * the first occurrence). Documents are cut into aligned 5-token
    * chunks; the globally-first occurrence of each distinct chunk (by
    * (doc_id, pos)) survives, later occurrences are removed, and each
    * document is reassembled from its kept chunks in position order.
    *
    * Scale shape: chunking is a per-row projection; "first occurrence"
    * is a map-side-combinable min-struct aggregate per chunk hash (the
    * x01/c01 dedup primitive — never a corpus-wide window), one equi-join
    * back, one reassembly shuffle on doc_id. Three shuffles total,
    * all on keys, at any corpus size.
    */
  val t09SpanDedup: GraftQuery = GraftQuery(
    "t09_span_dedup",
    s"""WITH toks AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |g AS (SELECT doc_id, len(tk)//5 AS n_chunks,
       |             unnest(range(len(tk)//5)) AS pos, tk FROM toks),
       |occ AS (SELECT doc_id, n_chunks, pos,
       |               array_to_string(tk[pos*5+1 : pos*5+5], ' ') AS chunk FROM g),
       |r AS (SELECT *, row_number() OVER (PARTITION BY chunk
       |                                   ORDER BY doc_id, pos) AS rn FROM occ)
       |SELECT doc_id, MAX(n_chunks) AS n_chunks, COUNT(*) AS n_kept,
       |       string_agg(chunk, ' ' ORDER BY pos) AS cleaned_text
       |FROM r WHERE rn = 1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    // integer chunk count (Spark's `/` on ints is double division) and an
    // explicit >0 guard: sequence(0, -1) would DESCEND, not be empty
    val nChunks = floor(size(toks) / lit(5)).cast("long")
    // occ feeds both the first-occurrence aggregate and the join back —
    // persist it or the tokenize+chunk+explode subtree plans twice
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), nChunks.as("n_chunks"), toks.as("tk"))
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1),
          i => array_join(slice(col("tk"), (i * 5 + 1).cast("int"), lit(5)), " ")))
          .as(Seq("pos", "chunk")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence per chunk: min-struct agg (map-side combinable),
    // not a corpus-wide window sort
    val firsts = occ.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    occ.join(firsts, "chunk")
      .filter(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
      .groupBy("doc_id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          s => s("chunk")), " ").as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** T10 — TF-IDF keyword extraction: top-3 terms per document under
    * tf · (N+1)/(df+1). The idf is kept RATIONAL (one IEEE division of
    * exact integers) rather than logarithmic — `ln` is not guaranteed
    * correctly-rounded across math libraries, and a two-engine gate
    * cannot hash-match on it; the ranking this produces is the same
    * monotone family the quality literature uses.
    *
    * Scale shape: term frequencies are one explode + keyed agg; document
    * frequencies one more agg over (term, doc) pairs; the term-stats
    * join is keyed (broadcast when the vocabulary fits); top-3 per doc
    * is a bounded window. No driver-side vocabulary, no collect.
    */
  val t10TfIdf: GraftQuery = GraftQuery(
    "t10_tfidf",
    s"""WITH tf AS (
       |  SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents),
       |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |         CAST(tf * (n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score
       |  FROM tfc JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY score DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, tf, df, score
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // tfc feeds BOTH the df aggregate and the scoring join — persist it
    // or the scan+explode+agg subtree plans once per consumer (the m01
    // lesson; at corpus scale tfc is the compacted (doc, term) table,
    // far smaller than the corpus, so materializing it is the right
    // trade on a cluster too)
    val tfc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tfc.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tfc.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * (col("n_docs") + 1)).cast("double") /
          (col("df") + 1).cast("double")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** T11 — benchmark DECONTAMINATION: flag training documents sharing
    * any 4-token n-gram with a held-out benchmark set (docs with
    * doc_id % 97 = 0 stand in for the eval suite) — the overlap check
    * every serious LLM training pipeline runs before training, reported
    * as the distinct shared-shingle count per contaminated doc.
    *
    * Scale shape: both sides are one shingle explode; the benchmark's
    * distinct shingle set is the join's build side (broadcast here —
    * eval suites are small; a keyed equi-join when not); per-doc counts
    * are a map-side-combinable agg over the matches only. The corpus
    * never self-joins.
    */
  val t11Decontaminate: GraftQuery = GraftQuery(
    "t11_decontaminate",
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(${sqlShingles(sqlTokens("text"), 4)})) AS s
       |  FROM documents),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
       |train AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 != 0)
       |SELECT doc_id, COUNT(*) AS n_overlap
       |FROM train JOIN bench USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // bind the token array before the shingle HOF: inlined, the split()
    // re-evaluates once per shingle per row (the O(n²) HOF-inlining trap)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 4))).as("s"))
    val bench = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** T12 — rare-token RARITY scoring (the unigram-surprisal quality
    * signal, kept in integer space: `-Σ log p(tok)` needs `log`, which is
    * not cross-engine reproducible, so the score is the order-free
    * integer Σ floor(1e12 / corpus_freq(tok)) — the same monotone
    * rare-token-density family). Corpus frequencies are one keyed agg;
    * scoring is one explode + broadcast-join + integer re-aggregate.
    */
  val t12Rarity: GraftQuery = GraftQuery(
    "t12_rarity",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
       |freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok)
       |SELECT doc_id,
       |       CAST(SUM(1000000000000 // f) AS BIGINT) AS rarity,
       |       CAST(MAX(1000000000000 // f) AS BIGINT) AS max_tok_rarity,
       |       COUNT(*) AS n_tokens
       |FROM tok JOIN freq USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("f"))
    tok.join(broadcast(freq), "tok")
      .groupBy("doc_id")
      .agg(sum(expr("1000000000000 div f")).as("rarity"),
        max(expr("1000000000000 div f")).as("max_tok_rarity"),
        count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** T13 — context-window chunk split (K=64 tokens, stride 48 ⇒ 16-token
    * overlap): the standard pretraining/RAG chunker — every document is
    * cut into K-token windows advancing by K−overlap so adjacent chunks
    * share the overlap; the final chunk is the remainder (never empty).
    * One row per chunk with its exact content hash, so the oracle checks
    * both the chunk GEOMETRY (count, sizes) and CONTENT (rolling hash of
    * the joined window).
    *
    * Scale: chunking is a per-row projection + generate — no shuffle but
    * the gate's final ORDER BY (which a real pipeline drops). The chunk
    * string is bound to its own attribute before hashing (the c01
    * HOF-rebinding lesson).
    */
  val t13ChunkSplit: GraftQuery = GraftQuery(
    "t13_chunk_split", {
      val tkE = sqlTokens("text")
      val chunkE = "array_to_string(tk[st+1:LEAST(st+64, n)], ' ')"
      s"""WITH tok AS (SELECT doc_id, $tkE AS tk, len($tkE) AS n FROM documents),
         |st AS (SELECT doc_id, tk, n, unnest(range(0, n, 48)) AS st
         |       FROM tok WHERE n > 0)
         |SELECT doc_id, st // 48 AS chunk_id,
         |  CAST(LEAST(st + 64, n) - st AS BIGINT) AS n_chunk,
         |  ${sqlRollingHash(chunkE)} AS chunk_hash
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin
    }) { (spark, dir) =>
    val tk = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tk.as("tk"), size(tk).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("tk"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(48)))
          .as(Seq("chunk_id", "st")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (least(col("st") + 64, col("n")) - col("st")).cast("long").as("n_chunk"),
        array_join(
          slice(col("tk"), col("st") + 1, least(lit(64), col("n") - col("st"))),
          " ").as("__chunk"))
      .select(col("doc_id"), col("chunk_id"), col("n_chunk"),
        rollingHash(col("__chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** T14 — hashed-feature linear QUALITY CLASSIFIER (the fastText-style
    * filter every web-corpus pipeline runs before training: RefinedWeb /
    * FineWeb / GPT-3's LR filter). Each token hashes to a fixed integer
    * weight w = (rollingHash(tok) % 1001) − 500; the document score is
    * Σ w with intercept −100 per token, label = keep iff score > 100·n.
    * The weights stand in for a trained model's coefficient table — the
    * PLAN is the real thing: hash → weight lookup → linear sum.
    *
    * Scale shape: entirely per-row HOFs (transform + aggregate over the
    * token array) — no explode, no shuffle except the gate's ORDER BY;
    * at 100 TB this is a pure map over the corpus. The oracle replays
    * the same math in unnest form (DuckDB has no HOF-in-HOF comfort,
    * and semantics — not plan shape — is what the gate pins).
    */
  val t14QualityClassifier: GraftQuery = GraftQuery(
    "t14_quality_classifier",
    s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents),
       |w AS (SELECT doc_id, (${sqlRollingHash("t")} % 1001) - 500 AS w FROM tok)
       |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS score,
       |       CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       CASE WHEN SUM(w) > 100 * COUNT(*) THEN 'keep' ELSE 'drop' END AS label
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // bind the token array to its own attribute before the weight HOF
    // (the t11 HOF-inlining lesson), and the weight array before the
    // three consumers below — inlined, the per-token hash re-evaluates
    // once per consumer
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        transform(col("tk"), t => rollingHash(t) % 1001 - 500).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        aggregate(col("w"), lit(0L), _ + _).as("score"),
        size(filter(col("w"), _ > 0)).cast("long").as("n_pos"))
      .withColumn("label",
        when(col("score") > col("n_tokens") * 100, lit("keep")).otherwise(lit("drop")))
      .orderBy("doc_id")
  }

  /** T15 — SOURCE-MIXTURE weighting (training-data mixing: compute the
    * per-source sampling multiplier that moves the token distribution to
    * the uniform target, capped at 4 epochs — the static-reweighting
    * pass behind Pile/LLaMA-style mixture tables). All ratios are ppm
    * integers (exact integer division), so the table is bit-identical
    * across engines — no float shares.
    *
    * Scale shape: one map-side-combinable agg to per-source totals
    * (|sources| rows), one broadcast of the 1-row corpus total. The
    * per-source table feeds both the total and the final projection, so
    * it is persisted (the t10 two-consumer lesson).
    */
  val t15SourceMixture: GraftQuery = GraftQuery(
    "t15_source_mixture",
    s"""WITH s AS (SELECT source, COUNT(*) AS n_docs,
       |             CAST(SUM(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
       |       FROM documents GROUP BY source),
       |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS n_sources FROM s)
       |SELECT source, n_docs, n_tokens,
       |       (n_tokens * 1000000) // total AS share_ppm,
       |       (total * 1000000) // (n_sources * n_tokens) AS weight_ppm,
       |       LEAST((total * 1000000) // (n_sources * n_tokens), 4000000) AS capped_ppm
       |FROM s CROSS JOIN t ORDER BY source""".stripMargin) { (spark, dir) =>
    val s = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = s.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_sources"))
    s.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 1000000) div total").as("share_ppm"),
        expr("(total * 1000000) div (n_sources * n_tokens)").as("weight_ppm"),
        least(expr("(total * 1000000) div (n_sources * n_tokens)"), lit(4000000L))
          .as("capped_ppm"))
      .orderBy("source")
  }

  /** T16 — one BPE TOKENIZER-TRAINING round: the global adjacent-pair
    * frequency count whose argmax is the next merge rule — the inner
    * loop of byte-pair-encoding vocabulary training, run over every
    * token occurrence (BPE weights pairs by corpus frequency, not
    * distinct words). The gate emits the top-20 merge candidates with
    * deterministic tie-break (pair asc), i.e. the next 20 rules a
    * greedy trainer would consider. Iteration is driver-looped like
    * Lloyd rounds (e10) — each round is this same plan over re-merged
    * symbols.
    *
    * Scale shape: two explodes (word, then char-pair) into one
    * map-side-combinable count — pair cardinality is bounded by the
    * alphabet² (tiny), so the partial aggregate collapses almost
    * everything before the shuffle; top-20 is a bounded sort
    * (TakeOrdered), with the rank window applied only to the 20
    * surviving rows.
    */
  val t16BpeMergeRound: GraftQuery = GraftQuery(
    "t16_bpe_merge_round",
    s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w FROM documents),
       |pairs AS (
       |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
       |  FROM tok WHERE len(w) >= 2),
       |counted AS (
       |  SELECT pair, COUNT(*) AS freq,
       |         row_number() OVER (ORDER BY COUNT(*) DESC, pair) AS rank
       |  FROM pairs GROUP BY pair)
       |SELECT rank, pair, freq FROM counted WHERE rank <= 20
       |ORDER BY rank""".stripMargin) { (spark, dir) =>
    // the rank window runs AFTER the bounded top-20 sort, so the
    // single-partition window touches 20 rows, never the pair table
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("freq"), asc("pair"))
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("pair")).limit(20)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "pair", "freq")
      .orderBy("rank")
  }

  /** T17 — IMPORTANCE-WEIGHTING for targeted data selection (the
    * DSIR family: score raw documents by how much their n-gram
    * distribution resembles a small target set, then sample by the
    * weight). Target = the doc_id % 97 slice (the t11 benchmark
    * convention); every raw document scores
    * Σ_bigram ⌊1e6·(tf+1)/(rf+1)⌋ — the smoothed target/raw frequency
    * ratio kept RATIONAL per gram (log-likelihood ratios need `log`,
    * which is not cross-engine reproducible; this is the same monotone
    * resemblance family, integer-exact).
    *
    * Scale shape: one bigram explode feeds both frequency tables and
    * the scoring join (persisted — the t10 multi-consumer lesson);
    * both gram tables are vocabulary-sized (broadcast); the per-doc
    * score is a map-side-combinable sum. The raw corpus never
    * self-joins and is scanned once.
    */
  val t17DsirWeights: GraftQuery = GraftQuery(
    "t17_dsir_weights",
    s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShingles("tk", 2)}) AS g FROM tok),
       |tf AS (SELECT g, COUNT(*) AS tf FROM sh WHERE doc_id % 97 = 0 GROUP BY g),
       |rf AS (SELECT g, COUNT(*) AS rf FROM sh WHERE doc_id % 97 != 0 GROUP BY g),
       |scored AS (
       |  SELECT s.doc_id,
       |         (1000000 * (COALESCE(tf.tf, 0) + 1)) // (COALESCE(rf.rf, 0) + 1) AS ratio
       |  FROM sh s LEFT JOIN tf ON s.g = tf.g LEFT JOIN rf ON s.g = rf.g
       |  WHERE s.doc_id % 97 != 0)
       |SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(ratio) AS BIGINT) AS importance
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // bind the token array before the shingle HOF (t11 lesson), persist
    // the exploded grams across their three consumers (t10 lesson)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = sh.filter(col("doc_id") % 97 === 0).groupBy("g").agg(count(lit(1)).as("tf"))
    val rf = sh.filter(col("doc_id") % 97 =!= 0).groupBy("g").agg(count(lit(1)).as("rf"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(tf), Seq("g"), "left")
      .join(broadcast(rf), Seq("g"), "left")
      .select(col("doc_id"),
        expr("(1000000 * (coalesce(tf, 0) + 1)) div (coalesce(rf, 0) + 1)").as("ratio"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("ratio")).as("importance"))
      .orderBy("doc_id")
  }

  /** T18 — data-derived term-BLOCKLIST filter (the C4 badwords /
    * RefinedWeb URL-blocklist family: drop any document containing a
    * listed term). The list here is DERIVED from the corpus — the 20
    * most frequent terms in a hash-defined slice of the vocabulary
    * (rollingHash % 3 = 0), standing in for the curated list a real
    * pipeline ships — so the plan genuinely needs the frequency
    * aggregate, not just a per-token predicate.
    *
    * Scale shape: one vocabulary-sized agg → bounded top-20 sort → a
    * ONE-ROW array that broadcasts into a per-row HOF membership count.
    * The corpus pass itself is a pure map (no explode, no shuffle): at
    * 100 TB the blocklist side is constant-size and the filter runs at
    * scan speed.
    */
  val t18BlocklistFilter: GraftQuery = GraftQuery(
    "t18_blocklist_filter",
    s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS t FROM documents),
       |freq AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY t),
       |bl AS (SELECT list(t ORDER BY t) AS bl FROM (
       |  SELECT t FROM freq WHERE (${sqlRollingHash("t")}) % 3 = 0
       |  ORDER BY f DESC, t LIMIT 20)),
       |d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents)
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(tk, t -> list_contains(bl, t))) AS BIGINT) AS n_blocked,
       |       CASE WHEN len(list_filter(tk, t -> list_contains(bl, t))) = 0
       |            THEN 'keep' ELSE 'drop' END AS label
       |FROM d CROSS JOIN bl ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val bl = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .filter(rollingHash(col("t")) % 3 === 0)
      .orderBy(desc("f"), asc("t")).limit(20)
      .agg(sort_array(collect_list(col("t"))).as("bl"))
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .crossJoin(broadcast(bl))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), t => array_contains(col("bl"), t)))
          .cast("long").as("n_blocked"))
      .withColumn("label",
        when(col("n_blocked") === 0, lit("keep")).otherwise(lit("drop")))
      .orderBy("doc_id")
  }

  /** T19 — INVERTED-INDEX build (term → posting list), the search-side
    * structure a corpus pipeline materializes for decontamination
    * lookups and example retrieval. Indexed vocabulary is the
    * rollingHash % 2 = 0 slice (a production build indexes everything;
    * the slice bounds the GATE's output, not the plan). Posting lists
    * are pinned content-wise by an ORDER-INDEPENDENT fingerprint — the
    * BIT_XOR of each member id's rolling hash, map-side combinable,
    * O(ids), and overflow-free at any df (postings are distinct ids, so
    * XOR's duplicate-cancellation caveat cannot bite). (The first
    * formulation hashed the space-joined sorted id
    * string: same pinning power, but the concatenation is O(df)-sized
    * and the interpreted per-char fold made a hot term's 3 MB posting
    * string quadratic — ~25 min for one tier query once the bench
    * stopped letting count() prune the column. An audit column must
    * never be the scan's most expensive expression.)
    *
    * Scale shape: per-doc `array_distinct` dedups ON THE MAP SIDE
    * (a per-row HOF) so the explode emits each (doc, term) once and the
    * only shuffle is the groupBy term. The skew hazard at 100 TB is the
    * stop-term posting list (df ≈ corpus); production splits postings
    * into fixed-size blocks per (term, block_id) — the same salted-key
    * shape as x03 — and this plan's agg is block-local then.
    */
  val t19InvertedIndex: GraftQuery = GraftQuery(
    "t19_inverted_index",
    s"""WITH dist AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(list_distinct(${sqlTokens("text")})) AS term
       |    FROM documents)
       |  WHERE (${sqlRollingHash("term")}) % 2 = 0)
       |SELECT term, COUNT(*) AS df,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |       BIT_XOR(${sqlRollingHash("CAST(doc_id AS VARCHAR)")}) AS postings_fp
       |FROM dist GROUP BY term ORDER BY term""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .filter(rollingHash(col("term")) % 2 === 0)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        bit_xor(rollingHash(col("doc_id").cast("string"))).as("postings_fp"))
      .orderBy("term")
  }

  /** T20 — CONJUNCTIVE POSTING INTERSECTION (boolean AND search over
    * the t19 index): the two highest-df indexed terms (deterministic
    * tie-break: term asc) are the query; a document matches iff it
    * contains BOTH. The reference's hashtag co-occurrence filtering
    * (`Preprocessor.py` hashtag membership) is this same shape with a
    * hand-picked term pair.
    *
    * Scale shape: the 2-term query side is a bounded sort → broadcast;
    * matching is the posting join (term equi-join after map-side
    * array_distinct) + a per-doc count == |query| gate — one shuffle on
    * doc_id. At 100 TB this runs off the stored t19 index, never the
    * raw corpus.
    */
  val t20PostingIntersect: GraftQuery = GraftQuery(
    "t20_posting_intersect",
    s"""WITH dist AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(list_distinct(${sqlTokens("text")})) AS term
       |    FROM documents)
       |  WHERE (${sqlRollingHash("term")}) % 2 = 0),
       |q AS (SELECT term FROM (
       |  SELECT term, COUNT(*) AS df FROM dist GROUP BY term
       |  ORDER BY df DESC, term LIMIT 2)),
       |m AS (SELECT doc_id, COUNT(*) AS n_hit
       |      FROM dist JOIN q USING (term) GROUP BY doc_id)
       |SELECT doc_id, n_hit FROM m WHERE n_hit = 2 ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
      val dist = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
        .filter(rollingHash(col("term")) % 2 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = dist.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("term")).limit(2)
        .select("term")
      dist.join(broadcast(q), Seq("term"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") === 2)
        .orderBy("doc_id")
  }

  /** T21 — BM25-SHAPED TOP-K RETRIEVAL (ranked search over the t19/t20
    * index family): the four highest-df terms (deterministic tie-break)
    * are a disjunctive query; every matching document is scored with the
    * BM25 functional form (k1 = 1.2, b = 0.75) and the global top 10 by
    * score is returned.
    *
    * Exact-rational scoring (the t10 trick, extended): `log` is
    * transcendental and engine-dependent, so the idf factor uses the
    * Robertson ratio WITHOUT the log — `(N − df + ½)/(df + ½)` — and the
    * whole per-term score is one division of two integer-valued doubles
    * with denominators cleared (k1 = 6/5, b = 3/4, avgdl = S/N):
    *
    *   score_t = 44·tf·S·(2N−2df+1)  /  (20·tf·S + 6·S + 18·dl·N)·(2df+1)
    *
    * Every factor is an exact BIGINT cast to DOUBLE; products and the
    * final division are IEEE-deterministic in identical association
    * order on both engines, and the per-doc sum routes through
    * [[graft.Det.dsum]]'s decimal grid so summation order cannot leak.
    * log is monotone, so single-term ranking is identical to textbook
    * BM25; multi-term totals weight rare terms more steeply (documented
    * semantics of this op, pinned by the oracle).
    *
    * Scale shape: tfc (one shuffle) feeds df/dl/stats; the query and the
    * corpus stats broadcast (4 rows + 1 row); candidate postings = the
    * broadcast-join slice, then ONE keyed shuffle on doc_id serves both
    * the dl join and the score agg (exchange reuse); the global top-10
    * is TakeOrdered (per-partition heaps + driver merge of 10·P rows),
    * never a single-partition sort. A production deployment denormalizes
    * dl into the stored index (the norms file every IR engine ships),
    * dropping the dl join entirely.
    */
  val t21Bm25TopK: GraftQuery = GraftQuery(
    "t21_bm25_topk",
    s"""WITH tfc AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tfc GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS s_tokens FROM dl),
       |dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
       |q AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 4),
       |scored AS (
       |  SELECT tfc.doc_id, dl.dl,
       |         (44.0 * CAST(tf AS DOUBLE) * CAST(s_tokens AS DOUBLE)
       |            * (2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df AS DOUBLE) + 1.0))
       |         / ((20.0 * CAST(tf AS DOUBLE) * CAST(s_tokens AS DOUBLE)
       |              + 6.0 * CAST(s_tokens AS DOUBLE)
       |              + 18.0 * CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
       |            * (2.0 * CAST(df AS DOUBLE) + 1.0)) AS term_score
       |  FROM tfc JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, CAST(dl AS BIGINT) AS dl, COUNT(*) AS n_hit,
       |       ${Det.sqlSum("term_score", 12)} AS score
       |FROM scored GROUP BY doc_id, dl
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (spark, dir) =>
    val tfc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = tfc.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("s_tokens"))
    val q = tfc.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(4)
    val tfd = col("tf").cast("double")
    val sd = col("s_tokens").cast("double")
    val nd = col("n_docs").cast("double")
    val dfd = col("df").cast("double")
    val dld = col("dl").cast("double")
    tfc.join(broadcast(q), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        (lit(44.0) * tfd * sd * (lit(2.0) * nd - lit(2.0) * dfd + lit(1.0))) /
          ((lit(20.0) * tfd * sd + lit(6.0) * sd + lit(18.0) * dld * nd) *
            (lit(2.0) * dfd + lit(1.0))))
      .groupBy("doc_id", "dl")
      .agg(count(lit(1)).as("n_hit"), Det.dsum(col("term_score"), 12).as("score"))
      .select(col("doc_id"), col("dl"), col("n_hit"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(10)
  }

  /** T21B — BM25 OFF A STORED INDEX (the production retrieval path t21's
    * scaladoc promises): the index build — postings with tf and the doc
    * norm `dl` DENORMALIZED in (the norms file every IR engine ships),
    * term→df, and the 1-row corpus stats — is written to a parquet
    * store once; the retrieval plan then reads ONLY the store. Same
    * result as t21 (the oracle is literally t21's SQL over the raw
    * corpus, so store round-trip fidelity is itself gated), but the
    * online path drops both corpus scans AND the dl join: one broadcast
    * of (4 query terms + stats) against the postings store, one keyed
    * agg, TakeOrdered. Retrieval cost is bounded by the matched
    * postings — independent of corpus size for fixed query df — which
    * is the whole point of an index at 100 TB. On a real lake the
    * postings store is additionally bucketed by term so a query touches
    * only its terms' files (the t19 block note).
    */
  /** Term → postings-partition id: the hash-bucket layout key. Plain
    * `hash` (Murmur3, seed 42) so build and retrieval agree byte-for-byte;
    * pmod keeps it non-negative for directory names.
    */
  private def termBucket(term: org.apache.spark.sql.Column,
                         buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(term), lit(buckets)).cast("int")

  /** Default postings-store bucket count. At the gate SF a handful of
    * files per bucket; at 100 TB this is the knob that sizes per-bucket
    * file counts (buckets ∝ vocabulary mass, like any term-sharded
    * inverted index). The count a store was BUILT with is persisted in
    * its `stats` file and read back by [[bm25Retrieve]] — never assumed
    * from this constant, which may have changed between building a
    * persistent index and reading it (old store, new binary); pruning
    * with the wrong modulus would silently return a wrong top-10.
    */
  val Bm25Buckets = 16

  /** The offline half of t21b: postings (with `dl` denormalized), term
    * dfs, and the 1-row corpus stats — INCLUDING the store's own bucket
    * count, making the layout self-describing the way e19's store is —
    * written under `store`. Amortized across every query the index will
    * ever serve. Postings are TERM-BUCKET PARTITIONED
    * (`bucket = pmod(hash(term), B)`, `partitionBy`) so retrieval scopes
    * its scan to the query terms' buckets via static partition pruning —
    * the io07 layout applied to the index store itself; a flat layout
    * would pay O(store) I/O per query at 100 TB (VERDICT r8 #1a).
    */
  def bm25BuildIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     store: String, buckets: Int = Bm25Buckets): Unit = {
    val tfc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = tfc.groupBy("doc_id").agg(sum("tf").as("dl"))
    // the three store dirs are independent outputs of the one persisted
    // frame: they overlap instead of paying three serial job latencies
    try Overlap.all(spark, "bm25BuildIndex")(Seq(
      // cluster rows by their target directory first: without it every
      // write task opens a file in every bucket dir (tasks×buckets
      // small files + committer overhead — measured ~2× on the build
      // leg); with it, file count ∝ buckets. At 100 TB the same
      // repartition is what bounds files-per-bucket.
      "postings" -> (() => tfc.join(dl, "doc_id")
        .withColumn("bucket", termBucket(col("term"), buckets))
        .repartition(buckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$store/postings")),
      "terms" -> (() => tfc.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$store/terms")),
      "stats" -> (() => dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("s_tokens"))
        .withColumn("buckets", lit(buckets))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$store/stats"))))
    finally tfc.unpersist()
  }

  /** The online half of t21b: reads ONLY the store — one broadcast of
    * (4 query terms + stats) against the postings, keyed agg,
    * TakeOrdered. No corpus scan, no dl join (denormalized at build),
    * and the postings scan is PARTITION-PRUNED to the query terms'
    * buckets: the bucket set is a literal IN resolved against directory
    * names at planning time (`PartitionFilters` — PlanSpec pins it), so
    * unmatched buckets' files are never listed, let alone read.
    * Retrieval I/O is ∝ the matched buckets, not the store.
    */
  def bm25Retrieve(spark: org.apache.spark.sql.SparkSession,
                   store: String): org.apache.spark.sql.DataFrame = {
    // the store DESCRIBES ITS OWN layout: the bucket modulus comes from
    // the stats file the build wrote, never from the binary's current
    // Bm25Buckets default — an old store read by a reconfigured binary
    // would otherwise prune the WRONG buckets and silently drop hits.
    // The 1-row stats are resident per store version; terms and postings
    // open from their footers — the query-term collect is the one job
    val statsDisk = StoreRead.resident(spark, s"$store/stats")
    require(statsDisk.schema.fieldNames.contains("buckets"),
      s"bm25Retrieve: $store/stats has no `buckets` column — the store " +
        "predates the self-describing layout; rebuild it with " +
        "bm25BuildIndex (pruning with an assumed bucket count risks a " +
        "silently wrong top-k)")
    val storeBuckets = statsDisk.rows.head.getInt(statsDisk.schema.fieldIndex("buckets"))
    val stats = statsDisk.toDF(spark).drop("buckets")
    val qDisk = StoreRead.parquet(spark, s"$store/terms")
      .orderBy(desc("df"), asc("term")).limit(4)
    // the query side is limit(4) — collect it once, re-materialize as a
    // local frame (it is the broadcast side regardless), and resolve its
    // buckets driver-side: that literal IN is what buys STATIC partition
    // pruning on the postings scan
    val qRows = qDisk.collect()
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qDisk.schema)
    val qBuckets = q.select(termBucket(col("term"), storeBuckets))
      .collect().map(_.getInt(0)).distinct.sorted
    val post = StoreRead.parquet(spark, s"$store/postings")
      .filter(col("bucket").isin(qBuckets.map(Int.box): _*))
    val tfd = col("tf").cast("double")
    val sd = col("s_tokens").cast("double")
    val nd = col("n_docs").cast("double")
    val dfd = col("df").cast("double")
    val dld = col("dl").cast("double")
    post.join(broadcast(q), "term")
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        (lit(44.0) * tfd * sd * (lit(2.0) * nd - lit(2.0) * dfd + lit(1.0))) /
          ((lit(20.0) * tfd * sd + lit(6.0) * sd + lit(18.0) * dld * nd) *
            (lit(2.0) * dfd + lit(1.0))))
      .groupBy("doc_id", "dl")
      .agg(count(lit(1)).as("n_hit"), Det.dsum(col("term_score"), 12).as("score"))
      .select(col("doc_id"), col("dl"), col("n_hit"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(10)
  }

  val t21bBm25Stored: GraftQuery = GraftQuery(
    "t21b_bm25_stored",
    t21Bm25TopK.oracle.get) { (spark, dir) =>
    val store = Dsl.tempStore("t21b_index")
    bm25BuildIndex(spark, dir, store)
    bm25Retrieve(spark, store)
  }

  /** T22 — per-language QUALITY-PERCENTILE GATE: keep each document iff
    * its t03 quality score clears its OWN language's exact 30th
    * percentile — the per-stratum relative bar real curation uses
    * instead of one global threshold (which would silently purge the
    * languages whose scores run structurally lower; CCNet buckets by
    * exactly this kind of per-language perplexity quantile). Threshold
    * ties keep (>=), and the percentile is the exact type-1 pick under
    * a total (quality, doc_id) order — a17/a23's convention — so the
    * kept set is deterministic and engine-portable. Output is the
    * per-language audit: corpus size, kept count, the threshold itself.
    *
    * Gate form computes thresholds with a per-language window
    * (rank + count in one pass); at 100 TB the thresholds come from
    * a24's integer-rank arithmetic or a05b's approx-percentile sketch
    * over the |langs|-group histogram — the corpus-side gate pass (one
    * broadcast join + a codegen'd comparison) is unchanged.
    */
  val t22QualityGate: GraftQuery = GraftQuery(
    "t22_quality_gate", {
      val toksE = sqlTokens("text")
      val stopE = sqlLangScore(toksE, stopwords)
      val qualE = s"((CAST(len(list_distinct($toksE)) AS DOUBLE) / len($toksE)) * 0.5" +
        s" + LEAST((CAST(len(replace(text, ' ', '')) AS DOUBLE) / len($toksE)) / 10.0, 1.0) * 0.3" +
        s" + (CAST($stopE AS DOUBLE) / len($toksE)) * 0.2)"
      s"""WITH q AS (SELECT doc_id, lang, $qualE AS quality FROM documents),
         |r AS (SELECT doc_id, lang, quality,
         |        row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS n
         |      FROM q),
         |thr AS (SELECT lang, MAX(n) AS n_total,
         |          MAX(CASE WHEN rn = CAST(ceil(0.30 * n) AS BIGINT)
         |              THEN quality END) AS threshold
         |        FROM r GROUP BY lang)
         |SELECT q.lang, MAX(t.n_total) AS n_total,
         |       CAST(SUM(CASE WHEN q.quality >= t.threshold THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_kept,
         |       MAX(t.threshold) AS threshold
         |FROM q JOIN thr t ON q.lang = t.lang
         |GROUP BY q.lang ORDER BY q.lang""".stripMargin
    }) { (spark, dir) =>
    val toks = tokens(col("text"))
    val ttr = size(array_distinct(toks)).cast("double") / size(toks)
    val stopRatio = langScore(toks, stopwords).cast("double") / size(toks)
    val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)
    val q = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      (ttr * 0.5 + least(avgLen / 10.0, lit(1.0)) * 0.3 + stopRatio * 0.2)
        .as("quality"))
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val r = q.select(col("lang").as("r_lang"), col("quality").as("r_quality"),
      row_number().over(byLang.orderBy("quality", "doc_id")).as("rn"),
      count(lit(1)).over(byLang).as("n"))
    val thr = r.groupBy(col("r_lang"))
      .agg(max(col("n")).as("n_total"),
        max(when(col("rn") === ceil(lit(0.30) * col("n")).cast("long"),
          col("r_quality"))).as("threshold"))
    q.join(broadcast(thr), q("lang") === thr("r_lang"))
      .groupBy("lang")
      .agg(max(col("n_total")).as("n_total"),
        sum(when(col("quality") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        max(col("threshold")).as("threshold"))
      .orderBy("lang")
  }

  /** T23 — COUNT-MIN-SKETCH heavy hitters: the mergeable approximate
    * twin of the exact frequency list (d06 / a04), the way a sharded
    * 100 TB pipeline actually tracks hot tokens — per-shard 4×64
    * integer sketches are ADDITIVE (map-side combine merges them for
    * free; a20's HLL story, for counts). Estimate = min over the 4
    * salted rows of the bucket sums; CMS never underestimates, which
    * the gate ships as a per-term 0/1 the oracle recomputes. All
    * hashing is the portable rolling hash, so the sketch is
    * deterministic and engine-identical.
    *
    * Scale shape: the only corpus-sized work is the exact token-count
    * agg (one shuffle, map-side combinable); salting, sketch build
    * (256 rows), broadcast-back, and min-estimate all run on |vocab|
    * rows. The output is the top-20 exact terms with their estimates —
    * the sketch-vs-truth calibration table.
    */
  val t23CmsTopK: GraftQuery = GraftQuery(
    "t23_cms_topk", {
      val bucketE = sqlRollingHash("term || '#' || CAST(r AS VARCHAR)")
      s"""WITH toks AS (SELECT unnest(${sqlTokens("text")}) AS term FROM documents),
         |counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         |salted AS (SELECT term, cnt, r, ($bucketE) % 64 AS bucket
         |           FROM counts, range(0, 4) t(r)),
         |sketch AS (SELECT r, bucket, SUM(cnt) AS bsum FROM salted GROUP BY r, bucket),
         |est AS (SELECT term, cnt, MIN(bsum) AS cms_est
         |        FROM salted JOIN sketch USING (r, bucket) GROUP BY term, cnt)
         |SELECT term, cnt AS n_exact, CAST(cms_est AS BIGINT) AS cms_est,
         |       CASE WHEN cms_est > cnt THEN 1 ELSE 0 END AS overestimate
         |FROM est ORDER BY n_exact DESC, term LIMIT 20""".stripMargin
    }) { (spark, dir) =>
    cmsEstimates(Tables.documents(spark, dir))
      .orderBy(desc("n_exact"), asc("term"))
      .limit(20)
  }

  /** t23's full-vocabulary calibration frame (term, n_exact, cms_est,
    * overestimate) — PropertySpec asserts est ≥ exact over ALL terms,
    * the CMS one-sided-error guarantee the gate's top-20 samples.
    */
  def cmsEstimates(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val salted = counts
      .select(col("term"), col("cnt"), explode(sequence(lit(0), lit(3))).as("r"))
      .withColumn("bucket",
        pmod(rollingHash(concat(col("term"), lit("#"), col("r").cast("string"))), lit(64)))
    val sketch = salted.groupBy("r", "bucket").agg(sum("cnt").as("bsum"))
    salted.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("term", "cnt")
      .agg(min("bsum").as("cms_est"))
      .select(col("term"), col("cnt").as("n_exact"), col("cms_est"),
        when(col("cms_est") > col("cnt"), 1).otherwise(0).as("overestimate"))
  }

  /** T24 — BPE MERGE APPLICATION (the update step t16 counts for):
    * take the corpus-winning character pair (t16's rank-1 merge,
    * derived in-query over the SAME weighted pair counts), re-segment
    * every word by greedily merging its non-overlapping occurrences
    * left-to-right ([[bpeApplyMerge]]), and emit the top-30 unit
    * vocabulary after the merge — one full train-loop iteration
    * (count → pick → apply → recount) now sits under the oracle.
    *
    * Scale shape: segmentation runs on the DISTINCT-WORD table with
    * multiplicities (vocabulary-sized — the corpus is never
    * re-segmented word instance by word instance; the reassembled
    * counts are weighted by cnt), the merge pair is a 1-row broadcast,
    * and the fold itself is a pure per-row expression. The oracle
    * derives greedy non-overlap through the independent islands
    * formulation (run-grouped character windows, odd positions within
    * each run of consecutive matches) — two different constructions of
    * the same semantics must agree bit-for-bit.
    */
  val t24BpeApplyMerge: GraftQuery = GraftQuery(
    "t24_bpe_apply_merge",
    s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w FROM documents),
       |wc AS (SELECT w, COUNT(*) AS cnt FROM tok WHERE len(w) >= 1 GROUP BY w),
       |pc AS (
       |  SELECT pair, SUM(cnt) AS freq FROM (
       |    SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair, cnt
       |    FROM wc WHERE len(w) >= 2)
       |  GROUP BY pair),
       |top AS (SELECT pair FROM pc ORDER BY freq DESC, pair LIMIT 1),
       |chars AS (SELECT w, unnest(range(1, len(w) + 1)) AS pos FROM wc),
       |mpos AS (
       |  SELECT c.w, c.pos FROM chars c, top t
       |  WHERE c.pos < len(c.w) AND substr(c.w, CAST(c.pos AS INT), 2) = t.pair),
       |runs AS (
       |  SELECT w, pos,
       |         pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS g
       |  FROM mpos),
       |kept AS (
       |  SELECT w, pos FROM (
       |    SELECT w, pos,
       |           row_number() OVER (PARTITION BY w, g ORDER BY pos) AS rn
       |    FROM runs)
       |  WHERE rn % 2 = 1),
       |units AS (
       |  SELECT w, substr(w, CAST(pos AS INT), 2) AS unit FROM kept
       |  UNION ALL
       |  SELECT c.w, substr(c.w, CAST(c.pos AS INT), 1) AS unit
       |  FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM kept k WHERE k.w = c.w AND k.pos = c.pos)
       |    AND NOT EXISTS (SELECT 1 FROM kept k WHERE k.w = c.w AND k.pos = c.pos - 1)),
       |uf AS (
       |  SELECT unit, CAST(SUM(cnt) AS BIGINT) AS freq
       |  FROM units JOIN wc USING (w) GROUP BY unit),
       |ranked AS (
       |  SELECT unit, freq,
       |         row_number() OVER (ORDER BY freq DESC, unit) AS rank
       |  FROM uf)
       |SELECT rank, unit, freq FROM ranked WHERE rank <= 30
       |ORDER BY rank""".stripMargin) { (spark, dir) =>
    val wc = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = wc.filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("freq"))
      .orderBy(desc("freq"), asc("pair")).limit(1)
      .select(col("pair").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("freq"), asc("unit"))
    wc.crossJoin(broadcast(top))
      .select(explode(bpeApplyMerge(col("w"), col("p"))).as("unit"), col("cnt"))
      .groupBy("unit").agg(sum("cnt").as("freq"))
      .orderBy(desc("freq"), asc("unit")).limit(30)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "unit", "freq")
      .orderBy("rank")
  }

  /** T25 — BIGRAM LANGUAGE-MODEL TABLE (the KenLM-style count model a
    * data pipeline trains for perplexity filtering): conditional
    * next-token probabilities P(w2|w1) with add-one smoothing, kept in
    * EXACT ppm integers — p_ppm = ⌊10⁶·(c12+1)/(c1+V)⌋, the
    * denominators-cleared rational convention (log-prob would need
    * `ln`, which is not cross-engine reproducible; the ranking this
    * model drives is monotone in the rational). a29 is the same Markov
    * estimator over event streams; this trains over corpus text, where
    * V (the smoothing vocabulary) is itself corpus-derived. t17 (DSIR)
    * consumes exactly this kind of gram table as its importance
    * numerator.
    *
    * Scale shape: one bigram explode into a map-side-combinable count
    * (pair keys bounded by vocab²), unigram counts from the same
    * token explode, V as a 1-row broadcast; the top-50 readout is a
    * bounded sort (TakeOrdered), never a global shuffle of the table.
    */
  val t25BigramLm: GraftQuery = GraftQuery(
    "t25_bigram_lm",
    s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |uni AS (SELECT unnest(tk) AS w FROM tok),
       |c1 AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
       |v AS (SELECT COUNT(*) AS vocab FROM c1),
       |bi AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM tok),
       |c12 AS (
       |  SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2,
       |         COUNT(*) AS n_12
       |  FROM bi GROUP BY 1, 2),
       |scored AS (
       |  SELECT w1, w2, n_12, c1.n AS n_1,
       |         CAST((1000000 * (n_12 + 1)) // (c1.n + v.vocab) AS BIGINT) AS p_ppm
       |  FROM c12 JOIN c1 ON c1.w = c12.w1, v),
       |top AS (SELECT * FROM scored ORDER BY n_12 DESC, w1, w2 LIMIT 50)
       |SELECT w1, w2, n_12, n_1, p_ppm FROM top
       |ORDER BY n_12 DESC, w1, w2""".stripMargin) { (spark, dir) =>
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = tok.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val v = c1.agg(count(lit(1)).as("vocab"))
    val c12 = tok.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_12"))
    c12.join(broadcast(c1.select(col("w").as("w1"), col("n").as("n_1"))), "w1")
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), col("n_12"), col("n_1"),
        expr("CAST((1000000 * (n_12 + 1)) div (n_1 + vocab) AS BIGINT)").as("p_ppm"))
      .orderBy(desc("n_12"), asc("w1"), asc("w2")).limit(50)
  }

  /** T29 — PER-DOCUMENT LM SCORE (the CCNet-style fluency filter on
    * t25's model): each document scored by its MEAN smoothed bigram
    * likelihood under the corpus bigram LM — the "does this read like
    * the corpus" dial a perplexity filter turns, kept integer-exact
    * (mean of t25's add-one p_ppm per bigram, floor division) instead
    * of float log-space so the gate hashes. Low scores are the
    * gibberish/boilerplate tail a pretraining mix drops; t12 is the
    * unigram-rarity axis, this is the bigram-fluency axis.
    *
    * Scale shape: ONE bigram explode carrying doc_id, a broadcast join
    * against the unigram counts (vocab-sized — broadcast-class by the
    * same argument as t25), and a map-side-combinable per-doc agg;
    * nothing wider than the corpus's own bigram stream ever shuffles.
    */
  val t29LmDocScore: GraftQuery = GraftQuery(
    "t29_lm_doc_score",
    s"""WITH $sqlLmCtes
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |       CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS score_ppm
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    lmDocScore(Tables.documents(spark, dir))
  }

  /** t29's reference computation as a reusable CTE chain (t35 extends
    * it with the bucketing step) — text identical to the original t29
    * oracle, so its hash is unchanged.
    */
  private def sqlLmCtes: String =
    s"""tok AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |uni AS (SELECT unnest(tk) AS w FROM tok),
       |c1 AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
       |v AS (SELECT COUNT(*) AS vocab FROM c1),
       |bi AS (
       |  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM tok WHERE len(tk) >= 2)),
       |c12 AS (SELECT w1, w2, COUNT(*) AS n_12 FROM bi GROUP BY 1, 2),
       |p AS (
       |  SELECT bi.doc_id,
       |         CAST((1000000 * (n_12 + 1)) // (c1.n + v.vocab) AS BIGINT) AS p_ppm
       |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 ON c1.w = bi.w1, v)""".stripMargin

  /** t29's operator body over any (doc_id, text) frame — factored so the
    * property spec can brute-force tiny adversarial corpora (0/1/2-token
    * docs, repeated bigrams) against the SAME plan the gate runs.
    */
  def lmDocScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = tok.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val v = c1.agg(count(lit(1)).as("vocab"))
    // the bigram stream feeds BOTH the corpus counts and the per-doc
    // scoring join — persist or the explode subtree plans twice
    val bi = tok.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_12"))
    // c12 is distinct-bigram-sized (∝ corpus) — a shuffle join on the
    // SAME (w1, w2) key its agg just partitioned by; only c1 (vocab)
    // and v (1 row) broadcast
    bi.join(c12, Seq("w1", "w2"))
      .join(broadcast(c1.select(col("w").as("w1"), col("n").as("n_1"))), "w1")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        expr("CAST((1000000 * (n_12 + 1)) div (n_1 + vocab) AS BIGINT)").as("p_ppm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST((sum(p_ppm) div count(1)) AS BIGINT)").as("score_ppm"))
      .orderBy("doc_id")
  }

  /** T27 — LANGUAGE-ID EVALUATION (confusion matrix + per-language
    * accuracy): t02 predicts a language per document; the corpus also
    * CARRIES the true label — so score the classifier (the eval metric
    * every quality/lang filter needs before it gates data: e14 is this
    * for ANN, g10 for communities, t27 for classifiers). Emits the
    * (true, predicted) confusion counts and each true language's
    * accuracy in exact ppm integers.
    *
    * Scale shape: prediction is t02's per-row codegen'd CASE; the
    * matrix is ONE map-side-combinable agg to ≤ |langs|² rows; the
    * accuracy join runs on that tiny frame.
    */
  val t27LangIdEval: GraftQuery = GraftQuery(
    "t27_langid_eval", {
      val scoreE = langMarkers.map { case (l, ms) => l -> sqlLangScore("toks", ms) }
      s"""WITH tok AS (SELECT lang, ${sqlTokens("text")} AS toks, text FROM documents),
         |pred AS (SELECT lang, ${sqlLangPick(scoreE, "text")} AS lang_pred FROM tok),
         |cm AS (SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang, SUM(n) AS n_lang,
         |               SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS n_ok
         |        FROM cm GROUP BY 1)
         |SELECT cm.lang, cm.lang_pred, cm.n,
         |       CAST((1000000 * t.n_ok) // t.n_lang AS BIGINT) AS lang_acc_ppm
         |FROM cm JOIN tot t USING (lang)
         |ORDER BY cm.lang, cm.lang_pred""".stripMargin
    }) { (spark, dir) =>
    val toks = tokens(col("text"))
    val scores = langMarkers.map { case (l, ms) => l -> langScore(toks, ms) }
    val cm = Tables.documents(spark, dir)
      .select(col("lang"), langPick(scores, col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val tot = cm.groupBy("lang")
      .agg(sum("n").as("n_lang"),
        sum(when(col("lang") === col("lang_pred"), col("n")).otherwise(0L)).as("n_ok"))
    cm.join(broadcast(tot), "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        expr("CAST((1000000 * n_ok) div n_lang AS BIGINT)").as("lang_acc_ppm"))
      .orderBy("lang", "lang_pred")
  }

  /** T28 — VOCABULARY COVERAGE CURVE (the Zipf check): what share of
    * ALL token occurrences the top-k vocabulary covers, at k ∈
    * {10, 100, 1000} — the tokenizer-design dial (vocab size vs OOV
    * rate) and the corpus-health twin of t23's heavy hitters: a curve
    * that rises too fast means boilerplate, too slow means noise.
    *
    * Scale shape: token frequency is ONE map-side agg over the exploded
    * corpus; the top-1000 cut plans as TakeOrderedAndProject
    * (per-partition heaps — d16's pin, never a global sort over
    * |vocab|); the rank/cumulative walk then runs on the ≤1000-row
    * collapsed frame (the t16/t24 bounded-window class). ppm stays in
    * BIGINT: covered·10⁶ ≤ 9·10¹⁸ up to ~9×10¹² total tokens — beyond
    * that, promote to the a33 DECIMAL(38,0) cross-multiply.
    */
  val t28VocabCoverage: GraftQuery = GraftQuery(
    "t28_vocab_coverage",
    s"""WITH toks AS (
       |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents),
       |freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
       |top AS (SELECT tok, n FROM freq ORDER BY n DESC, tok LIMIT 1000),
       |ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
       |           FROM top),
       |cum AS (SELECT rnk,
       |               CAST(SUM(n) OVER (ORDER BY rnk) AS BIGINT) AS covered
       |        FROM ranked),
       |ks AS (SELECT unnest([10, 100, 1000]) AS k)
       |SELECT ks.k, MAX(cum.covered) AS covered, t.total,
       |       (MAX(cum.covered) * 1000000) // t.total AS coverage_ppm
       |FROM ks JOIN cum ON cum.rnk <= ks.k CROSS JOIN tot t
       |GROUP BY ks.k, t.total ORDER BY ks.k""".stripMargin) { (spark, dir) =>
    vocabCoverage(Tables.documents(spark, dir), Seq(10, 100, 1000), 1000)
  }

  /** t28's operator body over any (…, text) frame — factored so the
    * property spec can drive adversarial corpora (vocab smaller than k,
    * count ties) through the SAME plan the gate runs.
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, ks: Seq[Int],
                    topN: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val freq = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = freq.agg(sum("n").as("total"))
    val order = Seq(desc("n"), asc("tok"))
    // bounded frame: everything below runs on <= topN rows
    val top = freq.orderBy(order: _*).limit(topN)
    val w = Window.orderBy(order: _*)
    val cum = top
      .withColumn("rnk", row_number().over(w))
      .withColumn("covered", sum("n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    import spark.implicits._
    ks.toDF("k")
      .join(cum, col("rnk") <= col("k"))
      .groupBy("k").agg(max("covered").as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("covered"), col("total"),
        expr("(covered * 1000000) div total").as("coverage_ppm"))
      .orderBy("k")
  }

  /** T30 — UNICODE NORMALIZATION + control-character scrub, the cleaning
    * pass every web corpus runs BEFORE hashing/dedup/tokenization (CCNet
    * and C4 both normalize first): a decomposed "e"+U+0301 must dedup and
    * shingle identically to the precomposed "é", and zero-width/control
    * characters (the classic paste artifacts) must not split tokens or
    * perturb fingerprints. The gate's fixture DERIVES a dirty twin of
    * each document carrying a decomposed é, a combining diaeresis, a
    * tab, and a zero-width space, then cleans it: NFC-compose (native
    * [[graft.plans.NfcNormalizeExpr]] — Spark has no builtin; ASCII rows
    * return uncopied), strip \\p{Cc}/\\p{Cf} (control + format chars —
    * combining marks are Mn and survive into composition), collapse
    * whitespace runs, trim. The cleaned STRING itself is a gate column,
    * so both engines' normalizers (JDK Normalizer vs DuckDB
    * nfc_normalize, both UAX #15) must agree byte-for-byte.
    *
    * Scale shape: one codegen'd per-row projection — no explode, no
    * shuffle except the gate ORDER BY; the native expression's ASCII
    * fast path makes the normalize a byte scan on the overwhelming
    * majority of web rows.
    */
  val t30UnicodeNormalize: GraftQuery = GraftQuery(
    "t30_unicode_normalize", {
      val dirtyE = "'e\u0301 ' || substr(text, 1, 60) || '\t x\u0308y \u200b'"
      s"""WITH d AS (SELECT doc_id, $dirtyE AS dirty FROM documents),
         |c AS (SELECT doc_id, dirty,
         |  trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
         |    '[\\p{Cc}\\p{Cf}]', '', 'g'), '\\s+', ' ', 'g')) AS clean
         |  FROM d)
         |SELECT doc_id, clean,
         |  CAST(len(dirty) AS BIGINT) AS raw_chars,
         |  CAST(len(clean) AS BIGINT) AS clean_chars
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val dirty = concat(lit("e\u0301 "), substring(col("text"), 1, 60),
      lit("\t x\u0308y \u200b"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"), col("dirty"),
        // single-scan native form of: trim(collapse(strip_cc_cf(nfc(x))))
        // — CleanSpec pins byte-parity vs the literal regexp chain
        graft.plans.DedupExprs.cleanText(col("dirty"), asciiFold = false)
          .as("clean"))
      .select(col("doc_id"), col("clean"),
        length(col("dirty")).cast("long").as("raw_chars"),
        length(col("clean")).cast("long").as("clean_chars"))
      .orderBy("doc_id")
  }

  /** T31 — URL PARSING + domain-level corpus stats + URL blocklist, the
    * first gate of every crawl pipeline (C4/RefinedWeb drop whole
    * domains before looking at a byte of text). Each document DERIVES a
    * deterministic URL (first token as subdomain, source as the
    * registered label, doc_id-keyed TLD); the engine parses it with the
    * codegen'd `parse_url` builtin (HOST / PATH / QUERY-key forms), rolls
    * the corpus up to registered-domain grain, and flags the top-5
    * domains by volume as the data-derived blocklist (the t18 pattern:
    * the list a real pipeline ships is curated, the PLAN — parse, roll
    * up, rank, flag — is the real thing).
    *
    * Scale shape: URL parse + domain split are one per-row codegen'd
    * projection; the rollup is ONE map-side-combinable agg to |domains|
    * rows; the blocklist rank window runs on |domains| rows, never the
    * corpus. Enforcement composes as a broadcast membership filter (x11's
    * flag-and-scan shape).
    */
  val t31UrlDomainStats: GraftQuery = GraftQuery(
    "t31_url_domain_stats", {
      val urlE = "'https://' || (" + sqlTokens("text") + ")[1] || '.' || source || '.' || " +
        "(CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) || " +
        "'/' || lang || '/p/' || CAST(doc_id AS VARCHAR) || '?ref=' || source"
      s"""WITH u AS (SELECT doc_id, lang, source, $urlE AS url FROM documents),
         |p AS (SELECT doc_id, lang,
         |  regexp_extract(url, 'https://([^/?#]+)', 1) AS host,
         |  regexp_extract(url, 'https://[^/?#]+(/[^?#]*)', 1) AS path,
         |  regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref
         |  FROM u),
         |s AS (SELECT regexp_extract(host, '^[^.]+\\.(.+)$$', 1) AS site,
         |             regexp_extract(host, '^([^.]+)\\.', 1) AS sub,
         |             lang, ref, path, doc_id
         |      FROM p),
         |g AS (SELECT site, COUNT(*) AS n_docs,
         |             COUNT(DISTINCT sub) AS n_subdomains,
         |             COUNT(DISTINCT lang) AS n_langs,
         |             MIN(ref) AS ref_sample,
         |             CAST(MAX(len(path)) AS BIGINT) AS path_len_max
         |      FROM s GROUP BY site)
         |SELECT site, n_docs, n_subdomains, n_langs, ref_sample, path_len_max,
         |  CASE WHEN ROW_NUMBER() OVER (ORDER BY n_docs DESC, site) <= 5
         |       THEN 1 ELSE 0 END AS blocked
         |FROM g ORDER BY site""".stripMargin
    }) { (spark, dir) =>
    val url = concat(lit("https://"), element_at(tokens(col("text")), 1),
      lit("."), col("source"), lit("."),
      when(col("doc_id") % 3 === 0, "com")
        .when(col("doc_id") % 3 === 1, "org").otherwise("net"),
      lit("/"), col("lang"), lit("/p/"), col("doc_id").cast("string"),
      lit("?ref="), col("source"))
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), url.as("url"))
      .select(col("doc_id"), col("lang"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
      .select(col("doc_id"), col("lang"), col("ref"), col("path"),
        regexp_extract(col("host"), "^[^.]+\\.(.+)$", 1).as("site"),
        regexp_extract(col("host"), "^([^.]+)\\.", 1).as("sub"))
      .groupBy("site")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("sub")).as("n_subdomains"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("ref")).as("ref_sample"),
        max(length(col("path"))).cast("long").as("path_len_max"))
    g.select(col("site"), col("n_docs"), col("n_subdomains"), col("n_langs"),
      col("ref_sample"), col("path_len_max"),
      when(row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("n_docs"), asc("site"))) <= 5, 1).otherwise(0).as("blocked"))
      .orderBy("site")
  }

  /** T32 — BOILERPLATE LINE FILTERING, the C4 line-level cleaning rule
    * (Raffel et al. 2020 §2.2: keep only lines that end in terminal
    * punctuation and have ≥ 5 words; RefinedWeb's line-wise filters are
    * the same shape). Documents are split into 8-token lines; each line
    * DERIVES deterministic terminal punctuation (rolling hash % 3 — the
    * corpus has none of its own), then the C4 rule keeps punctuated
    * lines of ≥ 5 tokens and the survivors reassemble with newlines.
    * The reassembled document is pinned by its rolling hash, so line
    * geometry, the keep decision, and reassembly ORDER are all gated.
    *
    * Scale shape: entirely per-row HOFs — chunk via transform over a
    * stride sequence (t13's chunker), punctuate + filter + array_join
    * inside the same projection; no explode, no shuffle except the gate
    * ORDER BY. At 100 TB this is a pure map over the corpus. (The oracle
    * replays the same semantics in unnest + string_agg form — nested
    * HOF-in-HOF comprehensions are where DuckDB and Spark lambda scoping
    * diverge, and semantics, not plan shape, is what the gate pins.)
    */
  val t32BoilerplateLines: GraftQuery = GraftQuery(
    "t32_boilerplate_lines", {
      val tkE = sqlTokens("text")
      val lineE = "array_to_string(list_slice(tk, st + 1, LEAST(st + 8, n)), ' ')"
      s"""WITH tok AS (SELECT doc_id, $tkE AS tk, len($tkE) AS n FROM documents),
         |st AS (SELECT doc_id, tk, n, unnest(range(0, n, 8)) AS st
         |       FROM tok WHERE n > 0),
         |ln AS (SELECT doc_id, st, $lineE AS line0 FROM st),
         |pl AS (SELECT doc_id, st,
         |  CASE WHEN (${sqlRollingHash("line0")}) % 3 != 0
         |       THEN line0 || '.' ELSE line0 END AS line
         |  FROM ln),
         |ag AS (SELECT doc_id,
         |  COUNT(*) AS n_lines,
         |  COUNT(*) FILTER (WHERE line LIKE '%.' AND len(string_split(line, ' ')) >= 5)
         |    AS n_kept,
         |  COALESCE(string_agg(
         |    CASE WHEN line LIKE '%.' AND len(string_split(line, ' ')) >= 5
         |         THEN line END, chr(10) ORDER BY st), '') AS clean
         |  FROM pl GROUP BY doc_id)
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  ${sqlRollingHash("clean")} AS clean_hash
         |FROM ag ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val tk = tokens(col("text"))
    // bind lines to their own attribute before the three consumers (the
    // t11/t14 HOF-rebinding lesson)
    Tables.documents(spark, dir)
      .select(col("doc_id"), tk.as("tk"), size(tk).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n") - 1, lit(8)), st => {
          val line0 = array_join(
            slice(col("tk"), st + 1, least(lit(8), col("n") - st)), " ")
          when(pmod(graft.functions.TextFunctions.rollingHash(line0), lit(3)) =!= 0,
            concat(line0, lit("."))).otherwise(line0)
        }).as("lines"))
      .select(col("doc_id"), col("lines"),
        filter(col("lines"), l =>
          l.endsWith(".") && size(split(l, " ")) >= 5).as("kept"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        graft.functions.TextFunctions.rollingHash(array_join(col("kept"), "\n"))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  /** T33 — MIXTURE REWEIGHTING round (the DoReMi update, Xie et al.
    * 2023): one multiplicative-weights step over the per-source mixture
    * — w'ᵢ ∝ wᵢ · (1 + η · excessᵢ), renormalized — where excess is the
    * source's per-doc statistic relative to the corpus mean. Completes
    * the mixture family: t15 MEASURES the realized mixture, t17 computes
    * per-example DSIR weights, c03 APPLIES a target mixture, t33 is the
    * optimization step that produces the next round's target. The
    * per-source statistic here is mean tokens/doc (a deterministic
    * stand-in for the per-domain excess-loss signal a training loop
    * would feed in — the UPDATE RULE is the operator); the update runs
    * in exact ppm BIGINT arithmetic ((1+η·excess) instead of exp(η·e) —
    * the standard MW form — with a [0.1, 2.0] per-step trust region),
    * so weights are engine-identical with no float/exp divergence.
    *
    * Scale shape: ONE map-side-combinable agg to |sources| rows is the
    * only corpus-sized work; the global mean, the update, and the
    * normalization all run on the collapsed |sources|-row frame
    * (persisted — it is consumed by both the update and the
    * normalizer), with the 1-row global broadcast back.
    */
  val t33MixtureReweight: GraftQuery = GraftQuery(
    "t33_mixture_reweight", {
      s"""WITH d AS (SELECT source, len(${sqlTokens("text")}) AS n_tok FROM documents),
         |per AS (SELECT source, COUNT(*) AS n_docs,
         |               CAST(SUM(n_tok) AS BIGINT) AS sum_tok
         |        FROM d GROUP BY source),
         |g AS (SELECT CAST(CAST(SUM(sum_tok) AS HUGEINT) // SUM(n_docs) AS BIGINT) AS gavg,
         |             COUNT(*) AS nsrc FROM per),
         |u AS (SELECT p.source, p.n_docs,
         |        CAST(CAST(p.sum_tok AS HUGEINT) // p.n_docs AS BIGINT) AS avg_tok,
         |        CAST(1000000 AS BIGINT) // g.nsrc AS w0_ppm, g.gavg
         |      FROM per p CROSS JOIN g),
         |r AS (SELECT source, n_docs, avg_tok, avg_tok - gavg AS excess, w0_ppm,
         |        w0_ppm * GREATEST(CAST(100000 AS BIGINT),
         |          LEAST(CAST(2000000 AS BIGINT),
         |                1000000 + 10000 * (avg_tok - gavg))) AS w1_raw
         |      FROM u),
         |t AS (SELECT CAST(SUM(w1_raw) AS HUGEINT) AS tot FROM r)
         |SELECT r.source, r.n_docs, r.avg_tok, r.excess, r.w0_ppm,
         |       CAST(CAST(r.w1_raw AS HUGEINT) * 1000000 // t.tot AS BIGINT) AS w1_ppm
         |FROM r CROSS JOIN t ORDER BY r.source""".stripMargin
    }) { (spark, dir) =>
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = per.agg(expr("sum(sum_tok) div sum(n_docs)").as("gavg"),
      count(lit(1)).as("nsrc"))
    val r = per.crossJoin(broadcast(g))
      .select(col("source"), col("n_docs"),
        expr("sum_tok div n_docs").as("avg_tok"),
        (expr("sum_tok div n_docs") - col("gavg")).as("excess"),
        expr("1000000 div nsrc").as("w0_ppm"))
      .select(col("source"), col("n_docs"), col("avg_tok"), col("excess"),
        col("w0_ppm"),
        (col("w0_ppm") * greatest(lit(100000L),
          least(lit(2000000L), lit(1000000L) + lit(10000L) * col("excess"))))
          .as("w1_raw"))
    val tot = r.agg(sum("w1_raw").as("tot"))
    r.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("avg_tok"), col("excess"),
        col("w0_ppm"), expr("(w1_raw * 1000000) div tot").as("w1_ppm"))
      .orderBy("source")
  }

  /** T35 — PERPLEXITY-BUCKET FILTERING (the CCNet cut, Wenzek et al.
    * 2020 §3: score every document with a language-model signal, rank
    * WITHIN ITS LANGUAGE, and keep the head/middle of the distribution
    * — the single most-used quality cut in web-corpus construction).
    * Composes t29's bigram-LM document score (the identical CTE chain —
    * a score drift would cascade into different buckets) with a24's
    * exact-rank bucketing discipline: per-language rank by (score,
    * doc_id), bucket = ⌊(rank−1)·4 / n⌋, drop the worst quartile
    * (bucket 0 = lowest-probability tail). Output per (lang, bucket):
    * doc count, token mass, score bounds, the keep flag, and the id
    * fingerprint — the mixture-shift report a curation run reviews
    * before applying the cut.
    *
    * Scale shape: scoring is t29's plan verbatim (keyed bigram joins,
    * map-side aggs); the rank window partitions by LANGUAGE (bounded
    * cardinality — never a global sort), and everything after runs on
    * \|langs\|×4 rows. Exact-rank is the GATE form per the a17/a24
    * convention; a production run swaps approx_percentile boundaries
    * for the window at petabyte scale.
    */
  val t35PerplexityBuckets: GraftQuery = GraftQuery(
    "t35_perplexity_buckets",
    s"""WITH $sqlLmCtes,
       |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |              CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS score_ppm
       |       FROM p GROUP BY doc_id),
       |ld AS (SELECT d.doc_id, d.lang, s.n_bigrams, s.score_ppm
       |       FROM documents d JOIN sc s USING (doc_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |                  ORDER BY score_ppm, doc_id) AS rn,
       |             COUNT(*) OVER (PARTITION BY lang) AS n FROM ld),
       |b AS (SELECT lang, ((rn - 1) * 4) // n AS bucket, doc_id,
       |             n_bigrams, score_ppm FROM r)
       |SELECT lang, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
       |       CAST(SUM(n_bigrams) AS BIGINT) AS token_mass,
       |       MIN(score_ppm) AS score_lo, MAX(score_ppm) AS score_hi,
       |       CASE WHEN bucket >= 1 THEN 1 ELSE 0 END AS kept,
       |       BIT_XOR(doc_id) AS id_fp
       |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) {
    (spark, dir) =>
    val sc = lmDocScore(Tables.documents(spark, dir))
    val ld = Tables.documents(spark, dir).select("doc_id", "lang").join(sc, "doc_id")
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    ld.select(col("lang"), col("doc_id"), col("n_bigrams"), col("score_ppm"),
        row_number().over(byLang.orderBy("score_ppm", "doc_id")).as("rn"),
        count(lit(1)).over(byLang).as("n"))
      .select(col("lang"), expr("((rn - 1) * 4) div n").as("bucket"),
        col("doc_id"), col("n_bigrams"), col("score_ppm"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").cast("long").as("token_mass"),
        min("score_ppm").as("score_lo"), max("score_ppm").as("score_hi"),
        bit_xor(col("doc_id")).as("id_fp"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("token_mass"),
        col("score_lo"), col("score_hi"),
        when(col("bucket") >= 1, 1).otherwise(0).as("kept"), col("id_fp"))
      .orderBy("lang", "bucket")
  }

  /** T36 — EVAL-SET NOVELTY PROBE (the verbatim-memorization metric):
    * for every held-out document, the fraction of its distinct
    * 4-shingles that appear NOWHERE in the training split — the
    * "novel n-gram rate" an eval-hygiene report quotes next to t11's
    * contamination flags (t11 asks "which TRAIN docs leak the
    * benchmark", t36 asks the converse grading question: "how much of
    * this EVAL doc could be answered by copying training text"). Exact
    * set arithmetic in ppm — no sampling, no sketch.
    *
    * Scale shape: the train side collapses to its DISTINCT shingle set
    * (one map-side-combinable distinct — d09's profile on the shingle
    * stream); the tiny eval shingle frame broadcasts into ONE pass over
    * it; per-doc totals and the novelty division run on \|eval\| rows.
    * The corpus is never self-joined and eval×train never materializes.
    */
  val t36NoveltyProbe: GraftQuery = GraftQuery(
    "t36_novelty_probe",
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(${sqlShingles(sqlTokens("text"), 4)})) AS s
       |  FROM documents),
       |ev AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 = 0),
       |tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 != 0),
       |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM ev GROUP BY doc_id),
       |seen AS (SELECT ev.doc_id, COUNT(*) AS n_seen
       |         FROM ev JOIN tr USING (s) GROUP BY ev.doc_id)
       |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_shingles,
       |       CAST(COALESCE(se.n_seen, 0) AS BIGINT) AS n_seen,
       |       CAST(((t.n_sh - COALESCE(se.n_seen, 0)) * 1000000) // t.n_sh
       |            AS BIGINT) AS novelty_ppm
       |FROM tot t LEFT JOIN seen se USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    noveltyProbe(spark, dir, benchMod = 97L)
  }

  /** t36's operator body with the held-out modulus as a parameter —
    * the gate pins benchMod = 97; the scale sweep holds the EVAL SET
    * constant (97 × tier factor) while the train side grows, the real
    * deployment shape.
    */
  def noveltyProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
                   benchMod: Long): org.apache.spark.sql.DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 4))).as("s"))
    val ev = sh.filter(col("doc_id") % benchMod === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tr = sh.filter(col("doc_id") % benchMod =!= 0).select("s").distinct()
    val tot = ev.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val seen = tr.join(broadcast(ev), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    tot.join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh").as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        expr("((n_sh - coalesce(n_seen, 0)) * 1000000) div n_sh")
          .as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** T37 — CROSS-SOURCE OVERLAP MATRIX: pairwise 4-shingle Jaccard
    * between every pair of mixture sources — the redundancy audit run
    * BEFORE setting mixture weights (t15 measures the mixture, t33
    * optimizes it; both assume sources are distinct material — two
    * near-identical crawls double-counted at full weight is the classic
    * mixture bug this table catches, and near-dup rates between dumps
    * is exactly what the CCNet/RefinedWeb pipelines report).
    *
    * Scale shape: each distinct shingle aggregates its source-membership
    * BITMASK (`bit_or(1 << source_index)` — idempotent, so map-side
    * combinable with NO distinct pass), then mask frequencies collapse
    * to ≤ 2^|sources| rows and every pairwise intersection/union is
    * arithmetic on that tiny frame against the |S|²/2 pair grid — the
    * corpus is touched ONCE for all pairs, vs the naive per-pair
    * semi-join that rescans it O(|S|²) times. Mask width bounds
    * |sources| ≤ 64; beyond that the same rollup runs on (shingle,
    * source-block) with one mask column per 64-source block. Jaccard in
    * exact integer ppm (the m02/g01 convention).
    */
  val t37CrossSourceOverlap: GraftQuery = GraftQuery(
    "t37_cross_source_overlap",
    s"""WITH srcs AS (
       |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
       |  FROM (SELECT DISTINCT source FROM documents)),
       |sh AS (
       |  SELECT source, unnest(list_distinct(${sqlShingles(sqlTokens("text"), 4)})) AS s
       |  FROM documents),
       |m AS (
       |  SELECT s, bit_or(CAST(1 AS BIGINT) << sidx) AS mask
       |  FROM sh JOIN srcs USING (source) GROUP BY s),
       |mc AS (SELECT mask, COUNT(*) AS n FROM m GROUP BY mask),
       |pairs AS (
       |  SELECT a.source AS s1, a.sidx AS i1, b.source AS s2, b.sidx AS i2
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |cell AS (
       |  SELECT s1, s2,
       |         CAST(SUM(CASE WHEN ((mask >> i1) & 1) = 1 THEN n ELSE 0 END) AS BIGINT) AS n_s1,
       |         CAST(SUM(CASE WHEN ((mask >> i2) & 1) = 1 THEN n ELSE 0 END) AS BIGINT) AS n_s2,
       |         CAST(SUM(CASE WHEN ((mask >> i1) & 1) = 1 AND ((mask >> i2) & 1) = 1
       |                       THEN n ELSE 0 END) AS BIGINT) AS n_inter
       |  FROM pairs CROSS JOIN mc GROUP BY s1, s2)
       |SELECT s1, s2, n_s1, n_s2, n_inter,
       |       CASE WHEN n_s1 + n_s2 - n_inter = 0 THEN 0
       |            ELSE (n_inter * 1000000) // (n_s1 + n_s2 - n_inter) END AS jaccard_ppm
       |FROM cell ORDER BY s1, s2""".stripMargin) { (spark, dir) =>
    // the shingle+mask fold is scan-stage per-row work on a single-row-
    // group gate file — parallelize the scan (guide §2.5; measured
    // 2.2 -> 1.1 s, and the fold scales with cores again)
    val docs = Tables.parallelizeSmallScan(
      Tables.documents(spark, dir), dir, "documents")
    // |sources| is dimension-sized; the global window runs on the
    // post-distinct frame, not the corpus
    val srcs = docs.select("source").distinct()
      .withColumn("sidx",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("source")) - 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the mask-width bound must be ENFORCED, not just documented:
    // shiftleft masks its shift amount mod 64, so source index 64 would
    // silently alias source 0 and corrupt every cell touching either —
    // fail loudly with the remedy instead
    val nSrc = srcs.count()
    require(nSrc <= 64,
      s"t37: $nSrc sources exceed the 64-bit mask — run the rollup per " +
        "64-source block (one mask column per block) as documented")
    val sh = docs.select(col("source"),
      explode(array_distinct(shingles(tokens(col("text")), 4))).as("s"))
    val masks = sh.join(broadcast(srcs), "source")
      .groupBy("s")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(sidx AS INT)))").as("mask"))
    val mc = masks.groupBy("mask").agg(count(lit(1)).as("n"))
    val pairs = srcs.select(col("source").as("s1"), col("sidx").as("i1"))
      .join(srcs.select(col("source").as("s2"), col("sidx").as("i2")),
        col("s1") < col("s2"))
    def bitSet(i: String): org.apache.spark.sql.Column =
      expr(s"(shiftright(mask, CAST($i AS INT)) & 1) = 1")
    val cell = pairs.crossJoin(mc)
      .groupBy("s1", "s2")
      .agg(sum(when(bitSet("i1"), col("n")).otherwise(0L)).cast("long").as("n_s1"),
        sum(when(bitSet("i2"), col("n")).otherwise(0L)).cast("long").as("n_s2"),
        sum(when(bitSet("i1") && bitSet("i2"), col("n")).otherwise(0L)).cast("long").as("n_inter"))
    cell.select(col("s1"), col("s2"), col("n_s1"), col("n_s2"), col("n_inter"),
        when(col("n_s1") + col("n_s2") - col("n_inter") === 0, 0L)
          .otherwise(expr("(n_inter * 1000000) div (n_s1 + n_s2 - n_inter)"))
          .as("jaccard_ppm"))
      .orderBy("s1", "s2")
  }

  /** T38 — MIXED-LANGUAGE DOCUMENT DETECTION: per-chunk language ID
    * (t02's marker vote over aligned 20-token chunks, t13's chunking
    * convention) rolled up to a per-document verdict — the dominant
    * chunk language (majority, ties to the lexicographically smaller —
    * deterministic) and the ppm of chunks that DISAGREE with it. This
    * is the mC4/CCNet multilingual split decision: a doc-level LangID
    * happily labels a 60/40 code-switched page as its majority language
    * and poisons both monolingual corpora; the chunk-disagreement
    * signal is what routes such docs to segmentation instead.
    *
    * Scale shape: chunking is a per-row projection (explode bounded by
    * tokens/20); the chunk-lang vote is per-row HOF arithmetic; the
    * rollup is two keyed aggregates on doc_id (map-side combinable) —
    * no joins, no corpus-wide windows.
    */
  val t38MixedLangDetect: GraftQuery = GraftQuery(
    "t38_mixed_lang_detect", {
      val scoreE = langMarkers.map { case (l, ms) => l -> sqlLangScore("ck", ms) }
      s"""WITH toks AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
         |g AS (SELECT doc_id, unnest(range((len(tk) + 19) // 20)) AS pos, tk FROM toks
         |      WHERE len(tk) > 0),
         |ch AS (SELECT doc_id, pos, tk[pos*20+1 : pos*20+20] AS ck FROM g),
         |cl AS (SELECT doc_id, pos,
         |              ${sqlLangPick(scoreE, "array_to_string(ck, ' ')")} AS chunk_lang
         |       FROM ch),
         |votes AS (SELECT doc_id, chunk_lang, COUNT(*) AS c FROM cl GROUP BY 1, 2),
         |dom AS (SELECT doc_id, chunk_lang AS doc_lang FROM
         |          (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY c DESC, chunk_lang) AS rn FROM votes)
         |        WHERE rn = 1),
         |agg AS (SELECT cl.doc_id, COUNT(*) AS n_chunks,
         |               CAST(SUM(CASE WHEN chunk_lang != doc_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
         |               MAX(doc_lang) AS doc_lang
         |        FROM cl JOIN dom ON cl.doc_id = dom.doc_id GROUP BY 1)
         |SELECT doc_id, n_chunks, doc_lang,
         |       n_disagree * 1000000 // n_chunks AS mixed_ppm
         |FROM agg ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val nChunks = expr("(size(tk) + 19) div 20")
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => slice(col("tk"), (i * 20 + 1).cast("int"), lit(20))))
          .as(Seq("pos", "ck")))
    val scores = langMarkers.map { case (l, ms) => l -> langScore(col("ck"), ms) }
    val cl = chunks
      .select(col("doc_id"), col("pos"),
        langPick(scores, array_join(col("ck"), " ")).as("chunk_lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dom = cl.groupBy("doc_id", "chunk_lang").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(desc("c"), asc("chunk_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_lang").as("doc_lang"))
    cl.join(dom, "doc_id")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_lang") =!= col("doc_lang"), 1L).otherwise(0L))
          .as("n_disagree"),
        max(col("doc_lang")).as("doc_lang"))
      .select(col("doc_id"), col("n_chunks"), col("doc_lang"),
        expr("n_disagree * 1000000 div n_chunks").as("mixed_ppm"))
      .orderBy("doc_id")
  }

  /** T39 — OUT-OF-DOMAIN fluency scoring with stupid backoff (Brants et
    * al. 2007; the CCNet deployment shape: an LM trained on a CURATED
    * reference corpus scores the whole crawl). t25/t29 train on the
    * corpus being scored, so every bigram is seen by construction and
    * the unseen-bigram path — the whole point of scoring out-of-domain
    * text — never executes. Here the model is trained ONLY on the
    * `doc_id % 7 = 0` holdout, and each scored bigram takes one of three
    * integer-exact branches:
    *   - seen bigram: surprisal = floor(1e6 · c1(w1) / c2(w1,w2)) — the
    *     inverse conditional probability in ppm;
    *   - unseen bigram, known word: stupid backoff to the unigram with
    *     the canonical α=0.4 penalty, floor(5·1e6·T / (2·cu(w2)));
    *   - OOV word: the deterministic ceiling 5·1e6·T (as if cu = 2/5 —
    *     strictly worse than any seen word).
    * All-integer floor division (the t12 no-log discipline), so the
    * oracle hashes; per-doc output = branch counts + mean surprisal.
    *
    * Scale shape: model aggregates are train-corpus-sized map-side
    * aggs; scoring is ONE bigram explode of the full corpus joined to
    * c12 on its own agg key (the t29 note), with vocab-sized c1/cu and
    * the 1-row total broadcast. Integer headroom: 5·1e6·T overflows
    * past T ≈ 1.8e12 train tokens — at that scale drop SCALE to 1e3 or
    * move to log-space doubles (the scoring join is unchanged).
    */
  val t39BackoffLmScore: GraftQuery = GraftQuery(
    "t39_backoff_lm_score",
    s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |tr AS (SELECT tk FROM tok WHERE doc_id % 7 = 0),
       |cu AS (SELECT w, COUNT(*) AS n_u
       |       FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w),
       |tt AS (SELECT CAST(SUM(n_u) AS BIGINT) AS t_total FROM cu),
       |trbi AS (SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
       |         FROM (SELECT tk, unnest(range(1, len(tk))) AS i
       |               FROM tr WHERE len(tk) >= 2)),
       |c12 AS (SELECT w1, w2, COUNT(*) AS n_12 FROM trbi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(n_12) AS BIGINT) AS n_1 FROM c12 GROUP BY w1),
       |bi AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
       |       FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |             FROM tok WHERE len(tk) >= 2)),
       |sc AS (
       |  SELECT bi.doc_id,
       |         CASE WHEN n_12 IS NOT NULL THEN (1000000 * n_1) // n_12
       |              WHEN n_u IS NOT NULL THEN (5000000 * t_total) // (2 * n_u)
       |              ELSE 5000000 * t_total END AS cost,
       |         CASE WHEN n_12 IS NULL THEN 1 ELSE 0 END AS backoff,
       |         CASE WHEN n_12 IS NULL AND n_u IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM bi LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
       |       LEFT JOIN cu ON cu.w = bi.w2, tt),
       |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |               CAST(SUM(backoff) AS BIGINT) AS n_backoff,
       |               CAST(SUM(oov) AS BIGINT) AS n_oov,
       |               CAST(SUM(cost) // COUNT(*) AS BIGINT) AS score_ppm
       |        FROM sc GROUP BY doc_id)
       |SELECT tok.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
       |       COALESCE(n_backoff, 0) AS n_backoff,
       |       COALESCE(n_oov, 0) AS n_oov,
       |       COALESCE(score_ppm, 0) AS score_ppm
       |FROM tok LEFT JOIN agg USING (doc_id) ORDER BY tok.doc_id""".stripMargin) {
    (spark, dir) => backoffLmScore(Tables.documents(spark, dir)).orderBy("doc_id")
  }

  /** t39's operator body over any (doc_id, text) frame, train = the
    * `doc_id % 7 = 0` slice — factored so the spec can drive the OOV
    * branch (absent from the closed-vocabulary gate corpus) on a tiny
    * adversarial corpus through the SAME plan the gate runs.
    */
  def backoffLmScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bigrams(df: org.apache.spark.sql.DataFrame) =
      df.filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = tok.filter(col("doc_id") % 7 === 0)
    val cu = train.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_u"))
    val tt = cu.agg(sum(col("n_u")).cast("long").as("t_total"))
    val c12 = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("n_12"))
    val c1 = c12.groupBy("w1").agg(sum(col("n_12")).cast("long").as("n_1"))
    // scoring: c12 joins on its own agg key (shuffle, co-partitioned);
    // vocab-sized c1/cu and the 1-row total broadcast (the t25/t29
    // broadcast-class argument)
    val sc = bigrams(tok)
      .join(c12, Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(cu.select(col("w").as("w2"), col("n_u"))), Seq("w2"), "left")
      .crossJoin(broadcast(tt))
      .select(col("doc_id"),
        when(col("n_12").isNotNull, expr("(1000000 * n_1) div n_12"))
          .when(col("n_u").isNotNull, expr("(5000000 * t_total) div (2 * n_u)"))
          .otherwise(lit(5000000L) * col("t_total")).as("cost"),
        when(col("n_12").isNull, 1L).otherwise(0L).as("backoff"),
        when(col("n_12").isNull && col("n_u").isNull, 1L).otherwise(0L).as("oov"))
    val agg = sc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        expr("CAST(SUM(cost) div COUNT(*) AS BIGINT)").as("score_ppm"))
    tok.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("score_ppm"), lit(0L)).as("score_ppm"))
  }

  val all: Seq[GraftQuery] = Seq(t01TokenStats, t02LangId, t03Quality, t04Fingerprint,
    t05LangDist, t06Repetition, t07PiiScrub, t08TokenPacking, t09SpanDedup, t10TfIdf,
    t11Decontaminate, t12Rarity, t13ChunkSplit, t14QualityClassifier, t15SourceMixture,
    t16BpeMergeRound, t17DsirWeights, t18BlocklistFilter, t19InvertedIndex,
    t20PostingIntersect, t21Bm25TopK, t21bBm25Stored, t22QualityGate, t23CmsTopK,
    t24BpeApplyMerge, t25BigramLm, t27LangIdEval, t28VocabCoverage,
    t29LmDocScore, t30UnicodeNormalize, t31UrlDomainStats, t32BoilerplateLines,
    t33MixtureReweight, t35PerplexityBuckets, t36NoveltyProbe,
    t37CrossSourceOverlap, t38MixedLangDetect, t39BackoffLmScore)
}
