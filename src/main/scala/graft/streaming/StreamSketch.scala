package graft.streaming

import graft.functions.TextFunctions
import graft.io.StagedCommit
import graft.io.StagedCommit.{Drop, Keep}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STREAMING SKETCH MAINTENANCE — the `foreachBatch` composition of the
  * count-min sketch (t23's additive 4×64 integer sketch): a continuous
  * event stream folds into ONE persistent frequency sketch, micro-batch
  * by micro-batch. This is how a 100 TB pipeline actually tracks hot
  * tokens/items — no batch ever re-scans history, because CMS cells are
  * ADDITIVE: merge(sketch(A), sketch(B)) = sketch(A ∪ B) cell-by-cell
  * (the a19/a20/a36 mergeable-partials story, under streaming). The sm09
  * gate proves exactly that equality: the stream-merged store must match
  * the sketch a single batch pass builds, bit-for-bit.
  *
  * Retry safety (foreachBatch redelivers a batch after a mid-body
  * crash): a batch's cells land as a dynamic-partition overwrite of
  * exactly `batch=<id>` (io10's machinery, the StreamNearDup sink
  * discipline) — a redelivery replaces its own partition instead of
  * double-counting, so the merged sketch is exactly-once under
  * crash-shaped retries. The store stays tiny (≤ rows×buckets cells per
  * batch); readers merge with one map-side-combinable SUM.
  */
object StreamSketch {
  val Rows = 4
  val Buckets = 64

  /** The foreachBatch body: build this batch's CMS partial from
    * `batch(itemCol)` and overwrite its own `batch=<id>` partition of
    * the cell store.
    */
  def mergeBatch(batch: DataFrame, batchId: Long, itemCol: String,
                 store: String): Unit = {
    val cells = batch
      .groupBy(col(itemCol).as("item")).agg(count(lit(1)).as("cnt"))
      .select(col("item"), col("cnt"),
        explode(sequence(lit(0), lit(Rows - 1))).as("r"))
      .withColumn("bucket",
        pmod(TextFunctions.rollingHash(
          concat(col("item"), lit("#"), col("r").cast("string"))), lit(Buckets)))
      .groupBy("r", "bucket").agg(sum("cnt").as("bsum"))
    // Per-writer option, NOT a session-conf flip: two streaming queries
    // sharing one SparkSession could interleave a set/restore window and
    // one batch would write in STATIC mode — truncating the whole store
    // (the io10-documented trap). The writer-scoped option is race-free.
    cells.withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(store)
  }

  /** The merged sketch: one SUM over the (tiny) cell store. Repairs any
    * half-finished compaction first (cheap no-op when clean), so no
    * crash state of [[compact]] is ever visible to a reader.
    */
  def readMerged(spark: org.apache.spark.sql.SparkSession, store: String): DataFrame = {
    recoverCompaction(spark, store)
    spark.read.parquet(store)
      .groupBy("r", "bucket").agg(sum("bsum").as("bsum"))
  }

  // ---- compaction: bound the store at base + uncompacted tail --------
  //
  // Without retention the store grows one `batch=<id>` directory per
  // micro-batch FOREVER — a year of minutely batches is ~500k
  // directories before the SUM ever runs, the exact small-file failure
  // io06/compactIndex exists to prevent. Because CMS cells are additive,
  // retention is just the merge the sm09 gate already proves, folded
  // into a single `batch=-1` base slice.
  //
  // Exactly-once under redelivery (the x16/vacuum frontier rule):
  // foreachBatch only ever redelivers the batch that crashed mid-body —
  // the one AT the committed frontier, never behind it. So compacting
  // only ids strictly below `frontier` can never fold a batch that may
  // come back; a redelivered batch id >= frontier still overwrites its
  // own live partition exactly as before.
  //
  // Crash safety: the merged base is staged in `_compact_pending`
  // (ignored by Spark's file listing) and installed through
  // [[graft.io.StagedCommit]] behind the `_compact_upto` marker; the
  // plan is `keep batch=-1` (the stage dir is the new base slice) plus
  // `drop batch=<id>` per folded id. `recoverCompaction` runs from both
  // compact() and readMerged().

  private val BasePartition = "batch=-1"

  private def layout(store: String) =
    new StagedCommit.Layout(new Path(store), "_compact_pending", "_compact_upto") {
      override def staged(dir: String) = stageDir
    }

  private def batchIds(fs: FileSystem, store: Path): Seq[Long] =
    if (!fs.exists(store)) Seq.empty
    else fs.listStatus(store).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)

  /** Fold every committed partition `batch=<id>` with 0 <= id < frontier
    * (plus any existing base) into the `batch=-1` base slice. Additive
    * SUM — readMerged is identical before and after; file count drops to
    * base + tail.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, store: String,
              frontier: Long): Unit = {
    recoverCompaction(spark, store)
    val fs = StagedCommit.fsOf(spark, store)
    val folded = batchIds(fs, new Path(store)).filter(id => id >= 0 && id < frontier).sorted
    if (folded.nonEmpty) {
      val l = layout(store)
      val pending = StagedCommit.reset(fs, l)
      spark.read.parquet(store)
        .filter(col("batch") < frontier)
        .groupBy("r", "bucket").agg(sum("bsum").as("bsum"))
        .coalesce(1)
        .write.mode("overwrite").parquet(pending.toString)
      StagedCommit.commit(fs, l, Keep(BasePartition) +: folded.map(id => Drop(s"batch=$id")))
    }
  }

  /** Complete (or discard) a half-done compaction. Idempotent; safe to
    * run when no compaction was in flight.
    */
  def recoverCompaction(spark: org.apache.spark.sql.SparkSession, store: String): Unit =
    StagedCommit.recover(StagedCommit.fsOf(spark, store), layout(store))
}
