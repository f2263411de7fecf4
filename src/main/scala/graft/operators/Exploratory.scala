package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** The exploratory-analysis fan-out (ref: ExploratoryAnalysis.py:54-110 /
  * SURVEY.md §3 entry-point 3): one cached scan, independent aggregate
  * jobs off it. Each result is a small aggregate frame — the *data*
  * behind the reference's plots (plot rendering is out of engine scope,
  * SURVEY §2.1 S12).
  */
object Exploratory {

  /** A5-style numeric summary: count/mean/std/min/max per numeric column
    * (one aggregation pass; exact quantiles live in the gate query
    * a05_describe, approx variants belong at 100 TB).
    */
  def summary(df: DataFrame): DataFrame = {
    // ONE aggregate pass computing every column's stats side by side,
    // stacked to long format after — the r10 rewrite of a per-column
    // agg-union that cost |cols| scans at scale and |cols| Catalyst
    // plans of driver time at any scale (pl02's exploratory stage
    // measured 5-8 s on 230 rows, mostly plan compilation)
    val nums = numericCols(df)
    require(nums.nonEmpty, "summary: no numeric columns")
    // internal aliases are INDEX-based under a reserved prefix, never
    // derived from user column names — a frame with columns `x` and
    // `cnt_x` must not make two aggregates compete for one name
    requireNoReservedCols(df)
    val aggs = nums.zipWithIndex.flatMap { case (c, i) => Seq(
      count(col(c)).as(s"__graft_cnt_$i"),
      avg(col(c)).as(s"__graft_mean_$i"),
      stddev(col(c)).as(s"__graft_std_$i"),
      min(col(c)).cast("double").as(s"__graft_min_$i"),
      max(col(c)).cast("double").as(s"__graft_max_$i")) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(nums.zipWithIndex.map { case (c, i) => struct(
        lit(c).as("column"), col(s"__graft_cnt_$i").as("cnt"),
        col(s"__graft_mean_$i").as("mean"), col(s"__graft_std_$i").as("std"),
        col(s"__graft_min_$i").as("min_v"), col(s"__graft_max_$i").as("max_v")) }: _*)).as("r"))
      .select("r.*")
  }

  private def requireNoReservedCols(df: DataFrame): Unit =
    require(!df.columns.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ collide with internal " +
        "aggregate aliases — rename them first")

  /** A6 — per-column profile: non-null / missing / distinct counts (ref:
    * ExploratoryAnalysis.py:34-44). `approxDistinct` is the 100 TB path.
    * One aggregate pass for ALL columns (the multi-DISTINCT expands to
    * one |cols|-way Expand + single shuffle — still one scan of the
    * data, vs the previous per-column agg-union's |cols| scans).
    */
  def profile(df: DataFrame, approxDistinct: Boolean = false): DataFrame = {
    val cs = df.columns.toSeq
    require(cs.nonEmpty, "profile: no columns")
    requireNoReservedCols(df) // index-based internal aliases (see summary)
    val aggs = Seq(count(lit(1)).as("__graft_total")) ++
      cs.zipWithIndex.flatMap { case (c, i) =>
        val nd = if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c))
        Seq(count(col(c)).as(s"__graft_nn_$i"), nd.as(s"__graft_nd_$i"))
      }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cs.zipWithIndex.map { case (c, i) => struct(
        lit(c).as("column"), col(s"__graft_nn_$i").as("non_null"),
        (col("__graft_total") - col(s"__graft_nn_$i")).as("missing"),
        col(s"__graft_nd_$i").as("n_distinct")) }: _*)).as("r"))
      .select("r.*")
  }

  /** A1 — post counts per time grain (ref: plotting.py:50-67 Grouper;
    * grain ∈ week/month/quarter/year). `date_trunc` labels period *start*
    * — the period-end labels pandas uses are `bucket + interval` if ever
    * needed for golden parity (SURVEY §2.5 A1 note).
    */
  def timeCounts(df: DataFrame, tsCol: String, grain: String): DataFrame =
    df.groupBy(date_trunc(grain, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** A4 — hashtag frequency list (ref: ExploratoryAnalysis.py:88-89). */
  def hashtagFreqs(df: DataFrame, tagCol: String = "hashtags"): DataFrame =
    df.select(explode(col(tagCol)).as("hashtag"))
      .groupBy("hashtag").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("hashtag"))

  /** A7 — fixed-bin histogram over the column's own min/max (ref:
    * ExploratoryAnalysis.py:91-99).
    */
  def histogram(df: DataFrame, c: String, bins: Int = 30): DataFrame = {
    val s = df.agg(min(col(c)).cast("double").as("lo"), max(col(c)).cast("double").as("hi"))
    df.crossJoin(broadcast(s))
      .select(
        // a constant column makes the bin width 0 → the division yields
        // Infinity and floor(Infinity).cast(long) throws under ANSI;
        // pandas/numpy put everything in bucket 0 — do the same
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col(c) - col("lo")) / ((col("hi") - col("lo")) / bins)).cast("long"),
          lit(bins - 1L))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** A8 — pairwise Pearson correlation in one aggregation pass (long
    * format; ref: plotting.py:14-21, pandas `df.corr()` in float64).
    *
    * Built on Spark's `corr` aggregate — a numerically stable one-pass
    * co-moment (deviations-from-running-mean) in double. The naive
    * sum-of-products form overflows on real social-media magnitudes:
    * owner_ids ~10^10 overflow Long when squared (ANSI throws
    * ARITHMETIC_OVERFLOW — the round-10 fixture crash) and post ids
    * ~2*10^18 overflow even a decimal(38,6) product. The co-moment form
    * subtracts means first, so magnitude never compounds. Spark's `corr`
    * aggregate itself throws DIVIDE_BY_ZERO under ANSI on a zero-variance
    * column, so the ratio is assembled from covar/stddev with an explicit
    * guard → NaN, matching pandas (the sample-ddof (n-1) factors cancel).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    requireNoReservedCols(df) // index-based internal aliases (see summary)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    def d(c: String) = col(c).cast("double")
    val aggs =
      cols.zipWithIndex.map { case (c, i) => stddev_samp(d(c)).as(s"__graft_sd_$i") } ++
        pairs.zipWithIndex.map { case ((a, b), i) => covar_samp(d(a), d(b)).as(s"__graft_cv_$i") }
    val sdIdx = cols.zipWithIndex.toMap
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((a, b), i) =>
        val den = col(s"__graft_sd_${sdIdx(a)}") * col(s"__graft_sd_${sdIdx(b)}")
        struct(
          lit(a).as("col_x"), lit(b).as("col_y"),
          when(den.isNull || den === 0.0, lit(Double.NaN))
            .otherwise(col(s"__graft_cv_$i") / den).as("corr")) }: _*)).as("r"))
      .select("r.*")
  }

  /** A9 — category count (ref: ExploratoryAnalysis.py:106-108). */
  def categoryCount(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("n")).orderBy(col(c))

  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** The full fan-out over a posts-preprocessed frame: cache once, run
    * every aggregate off the cached plan. The caller unpersists `df` once
    * the aggregates have run.
    */
  def analyze(df: DataFrame): Map[String, DataFrame] = {
    val cached = df.cache()
    val nums = numericCols(cached).filter(c => !Set("id", "year", "month", "day")(c))
    Map(
      "summary" -> summary(cached.select(nums.map(col): _*)),
      "profile" -> profile(cached),
      "posts_per_week" -> timeCounts(cached, "timestamp", "week"),
      "posts_per_month" -> timeCounts(cached, "timestamp", "month"),
      "posts_per_quarter" -> timeCounts(cached, "timestamp", "quarter"),
      "posts_per_year" -> timeCounts(cached, "timestamp", "year"),
      "hashtag_freqs" -> hashtagFreqs(cached),
      "hist_likes" -> histogram(cached, "likes"),
      "hist_comment_count" -> histogram(cached, "comment_count"),
      "correlation" -> corrMatrix(cached, nums),
      "comments_disabled_count" -> categoryCount(cached, "comments_disabled"))
  }
}
