package graft.operators

import graft.io.Local
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

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

  /** The stage's 11 analyses of a posts-preprocessed frame in two passes
    * over it: one global aggregate (summary, the profile's counts,
    * correlation and the histograms' bounds), then one grouped aggregate
    * (the four time grains, the category count, hashtags, both
    * histograms and, one group per distinct value, the profile's
    * distinct counts). Both results come back to the driver ([[Local]]),
    * where they are split into local frames, each holding the rows of its
    * per-analysis operator above in that operator's order; only the
    * hashtags grow with the data, and past [[GroupBudget]] groups they
    * stay a Spark frame, [[hashtagFreqs]]'s. Nothing the
    * data yields is inlined into generated code (the histograms' bounds
    * reach the grouped pass inside a UDF's closure), and no
    * multi-distinct aggregate is planned (its Expand declares its fields
    * in a different order on every planning), so one night's classes
    * serve the next.
    */
  def analyze(df: DataFrame): Seq[(String, DataFrame)] = analyze(df, GroupBudget)

  /** The most grouped rows [[analyze]] collects. Every kind of group but
    * the hashtags stays under it whatever the data: Spark's years 1-9999
    * hold under 700k weeks, months, quarters and years, a histogram has
    * at most 30 buckets and the category 3 values.
    */
  private val GroupBudget = 1000000

  private[graft] def analyze(df: DataFrame, groupBudget: Int): Seq[(String, DataFrame)] = {
    val spark = df.sparkSession
    val nums = numericCols(df).filter(c => !Set("id", "year", "month", "day")(c))
    require(nums.size >= 2, "analyze: need at least two numeric columns")
    val cs = df.columns.toSeq
    val pairs = for { i <- nums.indices; j <- nums.indices if i < j } yield (i, j)
    val hists = Seq("likes", "comment_count")
    def d(c: String) = col(c).cast("double")
    // summary's stddev is corrMatrix's stddev_samp of the double cast
    val aggs = count(lit(1)) +:
      (nums.flatMap(c => Seq(count(col(c)), avg(col(c)), stddev(col(c)),
        min(col(c)).cast("double"), max(col(c)).cast("double"))) ++
        cs.map(c => count(col(c))) ++
        pairs.map { case (i, j) => covar_samp(d(nums(i)), d(nums(j))) } ++
        hists.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))))
    val v = Local.rows(df.agg(aggs.head, aggs.tail: _*), 1)("a global aggregate is one row").head
      .toSeq.iterator
    val total = v.next().asInstanceOf[Long]
    val summary = nums.map(c => Row(c, v.next(), v.next(), v.next(), v.next(), v.next()))
    val nonNull = cs.map(_ => v.next().asInstanceOf[Long])
    val corr = pairs.map { case (i, j) => (summary(i).get(3), summary(j).get(3), v.next()) match {
      case (a: Double, b: Double, cv) if a * b != 0.0 =>
        Row(nums(i), nums(j), if (cv == null) null else cv.asInstanceOf[Double] / (a * b))
      case _ => Row(nums(i), nums(j), Double.NaN)
    } }
    val buckets = hists.map(c => bucket(v.next(), v.next(), 30)(col(c)))

    // a group key is (kind, one value slot per type); kinds 0-3 are the
    // time grains, 4 the category, 5-6 the histograms, 7 hashtags and
    // 8 + i the distinct values of column i
    val types = (Seq(TimestampType, BooleanType, LongType, StringType) ++ df.schema.map(_.dataType)).distinct
    def key(kind: Int, t: DataType, value: Column) = struct(lit(kind).as("k") +: types.indices.map(i =>
      (if (types(i) == t) value else lit(null).cast(types(i))).as(s"v$i")): _*)
    val grains = Seq("week", "month", "quarter", "year")
    // a key per hashtag, zipped rather than transformed: a higher-order
    // function would keep the explode out of the generated stage
    val tags = coalesce(col("hashtags"), array().cast("array<string>"))
    val tagKeys = arrays_zip(array_repeat(lit(7), size(tags)) +: types.map(t =>
        if (t == StringType) tags else array_repeat(lit(null).cast(t), size(tags))): _*)
      .cast(ArrayType(StructType(StructField("k", IntegerType) +:
        types.indices.map(i => StructField(s"v$i", types(i))))))
    val keys = concat(
      array(grains.indices.map(i => key(i, TimestampType, date_trunc(grains(i), col("timestamp")))) ++
        Seq(key(4, BooleanType, col("comments_disabled"))) ++
        buckets.zipWithIndex.map { case (b, i) => key(5 + i, LongType, b) } ++
        df.schema.zipWithIndex.map { case (f, i) => key(8 + i, f.dataType, col(f.name)) }: _*),
      tagKeys)
    val grouped = df.select(explode(keys).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .groupBy(col("g.k"), when(col("g.k") < 8, col("g")).as("g"))
      .agg(sum("n"), count(when(types.indices.map(i => col(s"g.v$i").isNotNull).reduce(_ || _), 1)))
    val (rows, tagFreqs) = Local.atMost(grouped, groupBudget) match {
      case Some(all) => (all, None)
      case None => (Local.rows(grouped.filter(col("k") =!= 7), GroupBudget)(
        s"more than $GroupBudget time, histogram and category groups"), Some(hashtagFreqs(df)))
    }
    val groups = rows.groupBy(_.getInt(0)).withDefaultValue(Array.empty[Row])
    def local(rows: Seq[Row], fields: (String, DataType)*) =
      spark.createDataFrame(rows.asJava, StructType(fields.map { case (n, t) => StructField(n, t) }))
    def counted(kind: Int, t: DataType) =
      groups(kind).toSeq.map(r => Row(r.getStruct(1).get(1 + types.indexOf(t)), r.getLong(2)))
    def byBucket[K](kind: Int, t: DataType, name: String = "bucket")(implicit ord: Ordering[Option[K]]) =
      local(counted(kind, t).sortBy(r => Option(r.get(0).asInstanceOf[K])), name -> t, "n" -> LongType)
    val profile = cs.indices.map(i => Row(cs(i), nonNull(i), total - nonNull(i),
      groups(8 + i).headOption.fold(0L)(_.getLong(3))))
    Seq(
      "summary" -> local(summary, "column" -> StringType, "cnt" -> LongType, "mean" -> DoubleType,
        "std" -> DoubleType, "min_v" -> DoubleType, "max_v" -> DoubleType),
      "profile" -> local(profile, "column" -> StringType, "non_null" -> LongType,
        "missing" -> LongType, "n_distinct" -> LongType)) ++
      grains.indices.map(i => s"posts_per_${grains(i)}" -> byBucket[java.sql.Timestamp](i, TimestampType)) ++
      Seq(
        // Spark orders strings by their UTF-8 bytes
        "hashtag_freqs" -> tagFreqs.getOrElse(local(counted(7, StringType).sortBy(r =>
          (-r.getLong(1), Option(r.getString(0)).map(UTF8String.fromString))),
          "hashtag" -> StringType, "n" -> LongType)),
        "hist_likes" -> byBucket[java.lang.Long](5, LongType),
        "hist_comment_count" -> byBucket[java.lang.Long](6, LongType),
        "correlation" -> local(corr, "col_x" -> StringType, "col_y" -> StringType, "corr" -> DoubleType),
        "comments_disabled_count" -> byBucket[java.lang.Boolean](4, BooleanType, "comments_disabled"))
  }

  /** [[histogram]]'s bucket of a long column whose bounds (`lo`, `hi`,
    * null when the column has no values) are known: as there, a constant
    * column is all bucket 0, and a null value, which `least` skips, is
    * bucket `bins - 1`.
    */
  private def bucket(lo: Any, hi: Any, bins: Int): Column => Column = udf { (x: java.lang.Long) =>
    (lo, hi) match {
      case (l: Double, h: Double) if h == l => 0L
      case (l: Double, h: Double) if x != null =>
        math.min(math.floor((x.toDouble - l) / ((h - l) / bins)).toLong, bins - 1L)
      case _ => bins - 1L
    }
  }.apply(_)
}
