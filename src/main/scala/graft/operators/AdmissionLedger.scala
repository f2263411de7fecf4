package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared batch-admission ledger for the incremental stores
  * ([[IncrementalComponents]], [[Similarity.admitIvfPqBatch]]): one
  * empty marker dir per admitted batch (`_admitted/batch=<id>`) makes
  * redelivery a no-op — but markers alone grow one filesystem entry
  * per batch FOREVER (a year of minutely batches is ~500k entries per
  * store: the io06 small-file class, one layer down, on the ledger
  * itself — VERDICT r12 #2).
  *
  * Retention: batch ids are contractually MONOTONIC (the foreachBatch
  * guarantee both stores document), so every marker strictly behind
  * the frontier can fold into a single high-watermark file
  * (`_admitted/_upto` holding the max folded id): `id <= upTo` is
  * exactly as strong as "marker exists" for those ids, and
  * redelivery only ever hits the FRONTIER batch, whose marker
  * survives the fold. [[compact]] is crash-safe in the StreamSketch
  * ordering: the watermark (which only ever grows) is swapped in BEFORE
  * any marker is deleted, and the swap never leaves the ledger without
  * one — the new value lands as `_upto.next` first, and the reader takes
  * the larger of the two files — so every crash state still answers
  * `isAdmitted` correctly; at worst a folded marker lingers until the
  * next fold.
  */
object AdmissionLedger {

  private def ledgerDir(store: String) = new Path(s"$store/_admitted")
  private def marker(store: String, id: Long) =
    new Path(ledgerDir(store), s"batch=$id")
  private def uptoFile(store: String) = new Path(ledgerDir(store), "_upto")
  private def uptoNext(store: String) = new Path(ledgerDir(store), "_upto.next")

  def fsOf(spark: SparkSession, store: String): FileSystem =
    ledgerDir(store).getFileSystem(spark.sessionState.newHadoopConf())

  /** Max folded batch id, or Long.MinValue if nothing folded yet. */
  def upTo(fs: FileSystem, store: String): Long =
    Seq(uptoFile(store), uptoNext(store)).filter(fs.exists).map { p =>
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }.maxOption.getOrElse(Long.MinValue)

  /** Live (unfolded) marker ids. */
  def markerIds(fs: FileSystem, store: String): Seq[Long] = {
    val dir = ledgerDir(store)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
  }

  /** Already admitted: folded behind the watermark, or marked live. */
  def isAdmitted(fs: FileSystem, store: String, batchId: Long): Boolean =
    batchId <= upTo(fs, store) || fs.exists(marker(store, batchId))

  /** Highest batch id this ledger has ever recorded (watermark or
    * marker) — the monotonicity fence admissions `require` against.
    */
  def maxSeen(fs: FileSystem, store: String): Long =
    (upTo(fs, store) +: markerIds(fs, store)).max

  /** Record a completed admission (write AFTER the data lands — the
    * redelivery-tolerant direction).
    */
  def record(fs: FileSystem, store: String, batchId: Long): Unit = {
    fs.mkdirs(marker(store, batchId))
  }

  /** Clear one batch's marker for a deliberate re-ingest. A batch
    * already FOLDED into the watermark cannot be cleared (the fold is
    * one-way) — fail with the remedy instead of silently leaving the
    * re-admission blocked.
    */
  def clear(fs: FileSystem, store: String, batchId: Long): Unit = {
    require(batchId > upTo(fs, store),
      s"AdmissionLedger.clear: batch $batchId is folded behind the " +
        "_admitted_upto watermark and cannot be cleared — re-ingest " +
        "under a FRESH (higher) batch id instead")
    fs.delete(marker(store, batchId), false)
  }

  /** Fold every marker strictly behind the frontier (the max live
    * marker) into the watermark. Idempotent; called from the stores'
    * compaction entry points. After the fold the ledger holds at most
    * the frontier marker + the watermark file, regardless of how many
    * batches were ever admitted.
    */
  def compact(fs: FileSystem, store: String): Unit = {
    val ids = markerIds(fs, store)
    if (ids.size <= 1) return
    val frontier = ids.max
    val folded = ids.filter(_ < frontier)
    val newUpTo = math.max(upTo(fs, store), folded.max)
    // watermark first (the only ordering where a crash can never
    // un-admit a batch: markers are deleted only once the watermark
    // covering them is durably in place)
    settle(fs, store)
    graft.io.StagedCommit.writeAtomic(fs, uptoNext(store), newUpTo.toString)
    settle(fs, store)
    folded.foreach(id => fs.delete(marker(store, id), true))
  }

  /** Move a written `_upto.next` over `_upto`. Until the rename one of
    * the two holds the newer value, so [[upTo]] never reads a fold undone.
    */
  private def settle(fs: FileSystem, store: String): Unit =
    if (fs.exists(uptoNext(store))) {
      fs.delete(uptoFile(store), false)
      if (!fs.rename(uptoNext(store), uptoFile(store)))
        throw new java.io.IOException(s"rename ${uptoNext(store)} -> ${uptoFile(store)} failed")
    }
}
