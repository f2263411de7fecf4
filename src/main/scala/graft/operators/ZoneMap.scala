package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** File-level ZONE MAPS: the data-skipping layer between directory
  * partitioning (io07 — coarse, low-cardinality keys) and parquet
  * row-group stats (implicit, opaque to the planner's file listing).
  * A clustered write gives every file a tight key range; a sidecar
  * manifest records (file, min, max, rows); a range read consults the
  * manifest and OPENS only intersecting files — O(selected bytes) I/O
  * for range predicates on a high-cardinality key (timestamps,
  * numeric ids) that directory partitioning cannot practically hold.
  * This is the file-stats pruning every lake table format ships
  * (min/max columns in the Delta/Iceberg manifests), built here on
  * plain parquet + the io08 manifest convention; [[ZOrder.clusterByZ]]
  * is the 2-D layout producer for the same consumer.
  *
  * Scale shape: the manifest is |files| rows — KB-scale per million
  * files — and the pruning decision is a driver-side filter on it (the
  * same broadcast-class resolution t21b/e19 use for their stores); the
  * data read never lists, let alone opens, non-intersecting files.
  */
object ZoneMap {

  def zonesPath(lake: String): String = lake.stripSuffix("/") + "_zones"

  private def zonesStaging(lake: String): String = zonesPath(lake) + "_staging"

  /** Resolve the manifest path, finishing a [[writeClustered]] swap that
    * crashed between its delete and rename (a swap of its own, outside
    * [[graft.io.StagedCommit]]): a missing `_zones` next to a COMPLETE
    * (`_SUCCESS`-marked) staging manifest means the staged manifest is
    * the current one — rename it into place. Called by every reader, so the crash window
    * cannot strand the lake unreadable.
    */
  private def resolveZones(spark: SparkSession, lake: String): String = {
    val zp = new org.apache.hadoop.fs.Path(zonesPath(lake))
    val sp = new org.apache.hadoop.fs.Path(zonesStaging(lake))
    val fs = zp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(zp) &&
        fs.exists(new org.apache.hadoop.fs.Path(sp, "_SUCCESS")))
      fs.rename(sp, zp)
    zonesPath(lake)
  }

  /** Write `df` range-clustered on `key` into ~`numFiles` files (each
    * covering a disjoint key band, rows sorted within) plus the zone
    * manifest. The stats pass reads back only (key, file_path) — column
    * pruning keeps it a narrow scan.
    */
  def writeClustered(df: DataFrame, lake: String, key: String,
                     numFiles: Int): Unit = {
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(lake)
    // The manifest lands via staging + rename, not a direct overwrite:
    // a crash mid-overwrite would leave a HALF-written manifest that
    // readers trust. The residual windows are covered from the reader
    // side — [[resolveZones]] finishes a crash between delete and
    // rename, and [[readRange]] detects a manifest stranded STALE by a
    // crash between the lake overwrite above and the swap below (its
    // file_path entries point at deleted files) and falls back to the
    // plain scan. Single-writer, like every store maintainer here.
    val staging = zonesStaging(lake)
    df.sparkSession.read.parquet(lake)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col(key)).as("min_k"), max(col(key)).as("max_k"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val zp = new org.apache.hadoop.fs.Path(zonesPath(lake))
    val sp = new org.apache.hadoop.fs.Path(staging)
    val fs = zp.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.delete(zp, true)
    fs.rename(sp, zp)
  }

  /** The files whose zone intersects [lo, hi) — the half-open range
    * convention of the suite's date predicates (Dsl.yearRange). Sorted
    * for determinism.
    */
  def filesForRange(spark: SparkSession, lake: String,
                    lo: Column, hi: Column): Seq[String] =
    spark.read.parquet(resolveZones(spark, lake))
      .filter(col("max_k") >= lo && col("min_k") < hi)
      .select("file").collect().map(_.getString(0)).sorted.toSeq

  /** Range read through the zone manifest: open ONLY intersecting
    * files, then the exact residual filter (zones admit whole files;
    * row-level truth needs the predicate re-applied — same containment
    * contract as bloom pruning, x07). An empty intersection returns an
    * empty frame of the lake's schema without touching any data file.
    *
    * Driver-state bound (the cosinePairsTopK discipline): the collected
    * file list is O(selected files); when a wide predicate selects more
    * than 100 000 files, enumerating paths buys nothing over the
    * ordinary directory scan — the read falls back to the ROOT path
    * with the same residual filter (identical rows, no path list kept),
    * so a near-full-range query on a million-file lake never
    * materializes a million path strings on the driver. One job lists
    * the selected files and stops once they pass the bound.
    */
  def readRange(spark: SparkSession, lake: String, key: String,
                lo: Column, hi: Column): DataFrame =
    readRange(spark, lake, key, lo, hi, 100000)

  private[graft] def readRange(spark: SparkSession, lake: String, key: String,
                               lo: Column, hi: Column, maxListedFiles: Int): DataFrame = {
    val zones = spark.read.parquet(resolveZones(spark, lake))
    val listed = graft.io.Local.atMost(
      zones.filter(col("max_k") >= lo && col("min_k") < hi).select("file"), maxListedFiles)
      .map(_.map(_.getString(0)).sorted.toSeq)
    def manifestFresh(probe: Seq[String]): Boolean = probe.headOption.forall { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    val base = listed match {
      case Some(files) if files.isEmpty =>
        // an EMPTY intersection is only trustworthy from a FRESH
        // manifest — a stale one (writer crashed between the lake
        // overwrite and the manifest swap) knows nothing about the new
        // lake's key ranges and would silently return zero rows for a
        // populated band; probe any manifest file before believing it
        val anyFile = zones.select("file").limit(1)
          .collect().map(_.getString(0)).toSeq
        if (manifestFresh(anyFile))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            spark.read.parquet(lake).schema)
        else spark.read.parquet(lake)
      case None => spark.read.parquet(lake)
      case Some(files) =>
        // STALE-manifest guard: a writer crash between the lake
        // overwrite and the manifest swap leaves the OLD manifest
        // pointing at deleted files. The overwrite replaces the whole
        // directory, so staleness is all-or-nothing — ONE existence
        // probe decides it; stale → plain root scan with the same
        // residual filter (correct rows of the current lake, no pruning
        // until the next successful writeClustered rebuilds the zones).
        if (manifestFresh(files)) spark.read.parquet(files: _*)
        else spark.read.parquet(lake)
    }
    base.filter(col(key) >= lo && col(key) < hi)
  }
}
