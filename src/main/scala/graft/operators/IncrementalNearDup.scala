package graft.operators

import graft.io.{Local, StagedCommit, StoreRead}
import graft.io.Local.MaxRows
import graft.io.StagedCommit.{Drop, Keep}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental NEAR-dup admission against a persistent banded-signature
  * index — the streaming-ingestion twin of [[Dedup.nearDupPairs]], the
  * way [[IncrementalDedup]] is the twin of exact dedup: each arriving
  * batch is checked against the signatures of everything seen before,
  * never against the corpus texts, and never by re-running LSH over the
  * whole corpus.
  *
  * Policy: INDEX-ALL — every seen document's band rows are appended
  * whether or not it was admitted, so "blocked" means "collides with ANY
  * earlier-seen document" (first occurrence wins; later members of a
  * dup chain stay blocked even though their blocker was itself
  * blocked). This makes batch-by-batch ingestion equal the backfill
  * rule `removed(y) ⇔ ∃x seen-before y sharing a band` exactly — the
  * property the x08 gate checks. (Index-survivors-only is the other
  * common policy; it admits chain tails and is NOT backfill-stable,
  * which is why the index-all form is the default here.)
  *
  * Scale shape: per batch — one LSH signature pass over the BATCH, one
  * index scan filtered to the batch's band keys (pushed down to the
  * parquet reader), one append of O(batch·bands) narrow rows. Cost is
  * O(batch), not O(corpus); the corpus only ever contributes the index
  * rows that share a band key with the batch.
  */
object IncrementalNearDup {

  def readIndex(spark: SparkSession, storeDir: String): Option[DataFrame] =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(storeDir)))
      Some(StoreRead.parquet(spark, storeDir))
    else None

  /** Admit `batch` against the index at `storeDir`: returns the admitted
    * rows (no band collision with anything seen before, nor with an
    * earlier-`idCol` row of this batch), and appends ALL of the batch's
    * band rows to the index.
    *
    * The batch is collected once (O(batch), budgeted) and everything
    * after reads the driver's copy, so the batch lineage never re-runs:
    * one job collects the batch, one signs it, one reads the index pairs
    * whose band keys the batch holds (each task ships a pair once), one
    * appends. The blocked-id set is settled on the driver BEFORE the
    * append, so admissions never see the batch's own bands, and the
    * admitted rows come back as a local frame.
    */
  def dedupeBatch(batch: DataFrame, idCol: String, textCol: String,
                  storeDir: String, shingleK: Int = 2, numPerms: Int = 16,
                  bands: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    def local(rows: Array[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val docs = Local.rows(batch, MaxRows)(
      s"dedupeBatch: > $MaxRows docs in one batch — split it into smaller micro-batches")
    val signed = Dedup.bandedSignatures(local(docs, batch.schema), idCol, textCol,
      shingleK, numPerms, bands)
    val rows = Local.rows(signed, MaxRows)(
      s"dedupeBatch: > $MaxRows band rows (docs × $bands bands) in one " +
        "batch — split it into smaller micro-batches")
    val idType = signed.schema("id").dataType
    // (band_id, band_key) pairs the index already holds among the batch's
    // keys: each task ships a pair once, however many index rows repeat it
    val indexed = readIndex(spark, storeDir).fold(Set.empty[Any]) { idx =>
      Local.values(idx.filter(Local.isIn(col("band_key"), signed.schema("band_key").dataType,
          rows.map(_.get(2)))).select(struct("band_id", "band_key")), MaxRows)(
        s"dedupeBatch: > $MaxRows indexed band keys in one batch — split it " +
          "into smaller micro-batches")
    }
    // a band row is blocked by the index, or by a smaller id of this batch
    // in the same band (null ids never compare)
    val order = TypeUtils.getInterpretedOrdering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val blocked = rows.groupBy(r => (r.get(1), r.get(2))).valuesIterator.flatMap { band =>
      val ids = band.map(_.get(0)).filter(_ != null)
      if (indexed(Row(band.head.get(1), band.head.get(2)))) ids
      else ids.minByOption(toCatalyst)(order).toSeq.flatMap(first =>
        ids.filter(id => order.gt(toCatalyst(id), toCatalyst(first))))
    }.map(toCatalyst).toSet
    // the band rows again from the driver's copy of the batch: the plan
    // the collect above compiled
    signed.coalesce(1).write.mode("append").parquet(storeDir)
    val id = batch.schema.fieldIndex(idCol)
    local(docs.filter(d => d.isNullAt(id) || !blocked(toCatalyst(d.get(id)))), batch.schema)
  }

  /** The index table's catalog entry: its location and bucket spec. */
  private def indexMeta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** [[compactIndex]]'s commit lives inside the table's own location:
    * Spark's file listing skips the `_`-prefixed stage dir and marker.
    */
  private def layout(meta: CatalogTable) =
    new StagedCommit.Layout(new Path(meta.location), "_compact_pending", "_compact_done")

  /** The data files of the dir `d`, by name, as Spark's listing sees them. */
  private def dataFiles(fs: FileSystem, d: Path): Seq[String] =
    fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  private def bucketCountOf(meta: CatalogTable): Int =
    meta.bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalStateException(
      s"compactIndex: ${meta.identifier} carries no bucket spec — not an index table"))

  /** Finish or discard a [[compactIndex]] cut short by a crash: a
    * committed plan is replayed, an uncommitted stage is deleted.
    * compactIndex runs it on entry. Admissions never do: they cannot
    * tell a crashed compaction from one still running, and deleting a
    * running one's stage, or replaying its plan alongside it, drops
    * rows. They need no recovery either, since the table's data files
    * hold every indexed row at every crash point. Returns true when a
    * committed plan was replayed.
    */
  def recoverCompaction(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) && {
      val l = layout(indexMeta(spark, table))
      val fs = StagedCommit.fsOf(spark, l.root.toString)
      val committed = fs.exists(l.markerFile)
      StagedCommit.recover(fs, l)
      if (committed) spark.catalog.refreshTable(table)
      committed
    }

  private def maxBatchIdProp(spark: SparkSession, table: String): Option[Long] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .find(_.getString(0) == "graft.maxBatchId")
      .flatMap(r => r.getString(1).toLongOption)

  /** [[dedupeBatch]] against a BUCKETED index table — the layout lever
    * for the flat store's 100 TB form: the index is a `bucketBy(band_key)` parquet table,
    * so the per-batch collision join reads the corpus-sized side
    * PRE-PARTITIONED — no exchange ever touches the index (PlanSpec
    * pins it); only the O(batch) banded rows shuffle, to the bucket
    * count. Same admission semantics as [[dedupeBatch]] (index-all,
    * backfill-stable — the x18 gate reuses x08's oracle verbatim), and
    * each batch's bands append into the same bucket layout, keeping
    * files-per-bucket ∝ batches, never tasks×buckets.
    */
  def dedupeBatchBucketed(batch: DataFrame, idCol: String, textCol: String,
                          table: String, shingleK: Int = 2, numPerms: Int = 16,
                          bands: Int = 8, buckets: Int = 16,
                          batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    // every refusal comes before the persist below, so none leaves a
    // cache entry behind
    val index = Option.when(spark.catalog.tableExists(table)) {
      // a compaction in another session may have replaced the files
      // this session last listed
      spark.catalog.refreshTable(table)
      val t = spark.table(table)
      batchId match {
        case Some(b) =>
          require(t.columns.contains("batch_id"),
            s"dedupeBatchBucketed: table $table has no batch_id column — " +
              "it was built in batch (non-streaming) mode; streaming " +
              "admission needs its own table")
          // Structured Streaming batch ids restart at 0 under a FRESH
          // checkpoint: admitting batch 0 against an index holding
          // batches 0..N would see an EMPTY strictly-earlier view and
          // re-admit every known near-duplicate. Equal ids are a
          // legitimate foreachBatch redelivery; going BACKWARDS is the
          // lost-checkpoint misconfiguration — refuse it. The high
          // watermark lives in O(1) catalog metadata, not a table scan.
          maxBatchIdProp(spark, table).foreach(m => require(b >= m,
            s"dedupeBatchBucketed: batch id $b is behind the index's " +
              s"high watermark $m — the stream restarted with a fresh " +
              "checkpoint against an existing index; resume from the " +
              "original checkpoint or start a new index table"))
          t.filter(col("batch_id") < b)
        case None    =>
          require(!t.columns.contains("batch_id"),
            s"dedupeBatchBucketed: table $table carries a batch_id " +
              "column — it was built in streaming mode; batch admission " +
              "needs its own table")
          t
      }
    }
    val raw = Dedup.bandedSignatures(batch, idCol, textCol, shingleK, numPerms, bands)
    // batchId (streaming mode, [[graft.streaming.StreamNearDup]]): band
    // rows are tagged with their micro-batch id and admission reads only
    // STRICTLY-EARLIER batches — so recomputing a redelivered batch
    // (foreachBatch retry) never collides with its own prior append, and
    // the admitted set is a deterministic function of (batch, batchId).
    val banded = batchId.map(b => raw.withColumn("batch_id", lit(b)))
      .getOrElse(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vsIndex = index.fold(spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)) { idx =>
        banded.as("b").join(idx.as("i"),
            col("b.band_id") === col("i.band_id") &&
              col("b.band_key") === col("i.band_key"))
          .select(col("b.id"))
      }
      val intra = banded.as("x").join(banded.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.id") < col("y.id"))
        .select(col("y.id"))
      // same eager pin as dedupeBatch: admissions must see the PRE-append
      // index (the table listing would otherwise race the append below)
      val blocked = vsIndex.union(intra).distinct().localCheckpoint()
      val admitted = batch.join(blocked.withColumnRenamed("id", idCol),
        Seq(idCol), "left_anti")
      // bucketed on BOTH join keys: the scan's HashPartitioning then
      // matches the collision join's clustering exactly, which is what
      // lets the planner keep the bucketed read (a band_key-only layout
      // gets "disabled by query planner" under this SMJ)
      banded.write.bucketBy(buckets, "band_id", "band_key")
        .sortBy("band_id", "band_key")
        .mode("append").format("parquet").saveAsTable(table)
      // advance the streaming high watermark AFTER the append (a crash in
      // between leaves it one behind — the redelivery-tolerant direction)
      batchId.foreach(b => spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('graft.maxBatchId' = '$b')"))
      admitted
    } finally banded.unpersist()
  }

  /** COMPACT the bucketed index: each [[dedupeBatchBucketed]] append
    * adds writing-task × bucket files, so after many batches the
    * per-bucket file count — and every admission join's open-file cost —
    * grows ∝ batches (io06's small-files problem, on a bucketed table).
    * The data files present at the start are rewritten, with the
    * table's own bucket spec (the zero-exchange join property is
    * untouched), into a stage dir inside the table's location and
    * installed through [[graft.io.StagedCommit]]: the plan keeps every
    * staged file, then drops every file that was read. `writeTasks`
    * bounds files-per-bucket after compaction (1 at gate scale; ~buckets
    * tasks on a real cluster so the rewrite parallelizes).
    *
    * Ingestion may run throughout (one compactor at a time): an append
    * only adds files and the plan drops only files this run read, so
    * every append survives. A reader mid-install, or after a crash
    * there, sees staged and old files together — a superset of the
    * rows, which admission cannot tell apart, because collision is
    * existential. An admission whose scan meets a file dropped after
    * its listing fails before it appends, and is retried. The table,
    * and with it the streaming `graft.maxBatchId` watermark, is never
    * dropped.
    *
    * `dedupe` drops exact-duplicate rows during the rewrite — safe
    * because the index is semantically a SET of band rows; duplicates
    * only ever arise from [[graft.streaming.StreamNearDup]] redeliveries
    * that crashed between the index append and the sink write. Returns
    * the post-compaction row count.
    */
  def compactIndex(spark: SparkSession, table: String, writeTasks: Int = 1,
                   dedupe: Boolean = false): Long = {
    require(spark.catalog.tableExists(table), s"compactIndex: $table does not exist")
    recoverCompaction(spark, table)
    val meta = indexMeta(spark, table)
    val buckets = bucketCountOf(meta)
    val l = layout(meta)
    val fs = StagedCommit.fsOf(spark, l.root.toString)
    val read = dataFiles(fs, l.root)
    if (read.nonEmpty) {
      val pending = StagedCommit.reset(fs, l)
      // bucketed files are written only through a catalog table: an
      // external one over the stage dir, whose entry goes as soon as the
      // files are down
      val staging = table + "_compact_pending"
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      val src = spark.read.schema(meta.schema)
        .parquet(read.map(f => new Path(l.root, f).toString): _*)
      (if (dedupe) src.distinct() else src).coalesce(writeTasks)
        .write.bucketBy(buckets, "band_id", "band_key")
        .sortBy("band_id", "band_key")
        .option("path", pending.toString).format("parquet").saveAsTable(staging)
      spark.sql(s"DROP TABLE $staging")
      StagedCommit.commit(fs, l, dataFiles(fs, pending).map(Keep(_)) ++ read.map(Drop(_)))
      spark.catalog.refreshTable(table)
    }
    spark.table(table).count()
  }
}
