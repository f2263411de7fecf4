package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-tier data generator for the asymptotic bench (BENCH_SCALE.json):
  * replicates a driver testdata dir N× with per-copy key remapping so the
  * scaled corpus has N× the distinct entities, not N copies of the same
  * ones.
  *
  * Usage: `tools/run.sh graft.ScaleData <srcSfDir> <outDir> <copies> <full|docs|events>`
  *
  * Replication rules (copy index c ∈ [0, N)):
  *  - every key column gets `+ c·10^8` (referential integrity preserved
  *    within a copy; no cross-copy key collisions);
  *  - `documents.text`: every token gets a per-copy suffix (`tok` →
  *    `tokxC`), so copies share NO shingles — cross-copy docs are never
  *    near-duplicates and the true near-dup pair count scales exactly
  *    linearly (10 interleaved verbatim copies would inflate each dup
  *    group quadratically and corrupt the growth measurement). The
  *    within-copy duplicate structure is preserved bit-for-bit. Copy 0 is
  *    suffixed too, so every tier (1×, 10×, 100×) sees the same text
  *    distribution.
  *  - `embeddings.embedding`: rotated by `c mod dims` positions, negated
  *    for `c ≥ dims`. Rotation/negation preserve all within-copy pairwise
  *    cosines (the dataset geometry replicates) while cross-copy cosines
  *    are uncorrelated — same linear-growth argument as the text rule.
  *  - dimension tables (region/nation/customer/supplier/part) are copied
  *    once, unscaled: dims grow slower than facts at real scale, and the
  *    scale queries treat them as broadcast sides.
  *
  * `docs` mode writes only documents + embeddings (+ dims) — the 100×
  * tier feeds the near-dup/text/ANN family only, so the 6 GB of unused
  * 100× relational tables are skipped. `events` mode adds the events
  * table on top of `docs` (timestamps shifted per copy so the time axis
  * grows with the data — a verbatim 100× replication of one week of
  * events would measure watermark state at 100× the per-window density
  * instead of 100× the window count, which is not how ingestion scales),
  * still skipping orders/lineitem.
  */
object ScaleData {
  private val KeyOffset = 100000000L // 10^8 per copy; source keys ≪ 10^8

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesStr, mode) = args
    val copies = copiesStr.toInt
    val spark = GraftSession.local(32)
    new java.io.File(outDir).mkdirs()

    // one row per copy index, cross-joined in (tiny broadcast side): the
    // whole tier is ONE plan per table, not N unioned scans
    val copyIdx = spark.range(copies).select(col("id").cast("long").as("__copy"))
    def replicated(name: String, keyCols: Seq[String]): DataFrame = {
      val src = Tables.load(spark, srcDir, name)
      val rep = src.crossJoin(broadcast(copyIdx))
      keyCols.foldLeft(rep)((df, k) =>
        df.withColumn(k, col(k) + col("__copy") * KeyOffset))
    }
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // documents: suffix every token with the copy index
    val docs = replicated("documents", Seq("doc_id"))
      .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1x"), col("__copy").cast("string"))))
      .withColumn("n_chars", length(col("text")))
      .drop("__copy")
    write(docs, "documents", math.max(4, copies / 2))

    // embeddings: rotate by (copy mod dims), negate for copy ≥ dims
    val emb0 = replicated("embeddings", Seq("vec_id"))
    val dims = emb0.select(size(col("embedding"))).first().getInt(0)
    val rot = (col("__copy") % dims).cast("int")
    val rotated = concat(
      slice(col("embedding"), rot + 1, lit(dims) - rot),
      slice(col("embedding"), lit(1), rot))
    val emb = emb0
      .withColumn("embedding",
        when(col("__copy") >= dims, transform(rotated, x => -x)).otherwise(rotated))
      .drop("__copy")
    write(emb, "embeddings", math.max(4, copies / 2))

    for (dim <- Seq("region", "nation", "customer", "supplier", "part"))
      write(Tables.load(spark, srcDir, dim), dim, 1)

    if (mode == "full") {
      write(replicated("orders", Seq("o_orderkey", "o_custkey")).drop("__copy"),
        "orders", math.max(4, copies))
      write(replicated("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .drop("__copy"), "lineitem", math.max(4, copies * 2))
    }
    if (mode == "full" || mode == "events") {
      // events.parquet carries TIMESTAMP(NANOS); go through Tables.events
      // (nanos→micros rebuild) and write standard micros timestamps.
      // Each copy is time-shifted by the source span + 1h: the tier covers
      // N× the wall-clock range at the SOURCE's per-window density — the
      // continuous-ingestion axis, which is what watermark eviction and
      // per-key state are designed around. (Verbatim-time replication
      // would instead pack N× the rows into the same windows — a
      // density experiment, not a scale-up of the stream.) Keys are
      // remapped per copy as everywhere else, so sessions/joins never
      // cross copies and true session/pair counts grow exactly linearly.
      val ev0 = Tables.events(spark, srcDir)
      val Array(spanMicros) = ev0
        .select((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))
          + 3600L * 1000000L).as("span"))
        .collect().map(_.getLong(0))
      write(ev0.crossJoin(broadcast(copyIdx))
        .withColumn("event_id", col("event_id") + col("__copy") * KeyOffset)
        .withColumn("user_id", col("user_id") + col("__copy") * KeyOffset)
        .withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + col("__copy") * spanMicros))
        .drop("__copy"), "events", math.max(4, copies))
    }
    spark.stop()
  }
}
