package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared query-construction helpers for oracle-checked queries.
  *
  * Row-level operators over big tables return a deterministic top-N by a
  * stable key plus a broadcast total row count: Spark plans the top-N as
  * `TakeOrderedAndProject` (no global sort shuffle) and the count is a
  * map-side partial aggregate, so full-table semantics are still verified
  * without moving the whole table through the gate.
  */
object Dsl {
  /** Top-N by stable key plus full-cardinality audit column (SURVEY §2.5
    * A11 / Preprocessor.py:13-21 count audit).
    */
  def topNWithTotal(df: DataFrame, n: Int, key: Column*): DataFrame = {
    val total = df.agg(count(lit(1)).as("total_rows"))
    df.orderBy(key: _*).limit(n).crossJoin(broadcast(total))
  }

  /** Half-open year range `[minYear, maxYear)` as plain comparisons on the
    * datetime column itself — semantically identical to
    * `year(c) >= minYear && year(c) < maxYear` (year is monotone in the
    * underlying date/timestamp), but scan-pushable: Catalyst cannot push a
    * function of a column, so `year(c) = K` is evaluated post-scan, while
    * `c >= lit && c < lit` reaches `PushedFilters` and prunes Parquet row
    * groups on min/max stats (and partitions on a date-partitioned lake).
    * String literals coerce to the column's own datetime type (DATE,
    * TIMESTAMP or TIMESTAMP_NTZ) and constant-fold, so one helper serves
    * all three encodings. ref: Preprocessor.py:172-180 year-window filter.
    */
  def yearRange(c: Column, minYear: Int, maxYear: Int): Column =
    c >= lit(s"$minYear-01-01") && c < lit(s"$maxYear-01-01")

  /** `year(c) === y`, scan-pushable form of the reference's single-year
    * filter (Preprocessor.py:172-180).
    */
  def yearIs(c: Column, y: Int): Column = yearRange(c, y, y + 1)

  def sqlTopNWithTotal(base: String, proj: String, order: String, n: Int): String =
    s"""WITH base AS ($base),
       |top_n AS (SELECT * FROM base ORDER BY $order LIMIT $n)
       |SELECT $proj, t.total_rows
       |FROM top_n CROSS JOIN (SELECT COUNT(*) AS total_rows FROM base) t
       |ORDER BY $order""".stripMargin

  /** Per-run throwaway state dir for gate queries that exercise
    * persistent-store operators (x04's key store, x08's signature
    * index): a fresh [[tempDir]] per invocation — re-runs must not see a
    * previous run's state.
    */
  def tempStore(prefix: String): String = s"${tempDir(prefix)}/store"

  /** A fresh temp dir (a store's, a session's warehouse), swept by one
    * JVM shutdown hook so repeated bench/verify/test runs don't
    * accumulate copies.
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    hookOnce
    dir
  }
  private val tempDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookOnce: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))))
}
