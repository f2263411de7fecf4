package graft.streaming

import graft.operators.IncrementalNearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STREAMING NEAR-DUP ADMISSION — the `foreachBatch` composition of
  * [[graft.operators.IncrementalNearDup.dedupeBatchBucketed]]: a
  * continuous document stream is admitted micro-batch by micro-batch
  * against the persistent bucketed band index, and the admitted rows
  * land in a batch-partitioned parquet sink. This is the ingest loop a
  * training-data pipeline runs forever (the reference's scraper feeds
  * its dedup stage the same way, batch files at a time —
  * `Pipeline/DataCollection` stages); here it is Structured Streaming
  * end-to-end with exactly-once OUTPUT under foreachBatch retries.
  *
  * Retry safety (foreachBatch redelivers a batch after any mid-body
  * crash) is two mechanisms, both load-bearing:
  *  - band rows carry `batch_id`, and admission joins only index rows
  *    with `batch_id < current` — so a redelivered batch never collides
  *    with its own half-appended bands and recomputes the SAME admitted
  *    set (determinism is what makes the overwrite below idempotent);
  *  - the sink write is a dynamic-partition overwrite of exactly
  *    `batch_id=<id>` — a retry replaces its own partition and touches
  *    no other batch's files (io10's machinery).
  * A crash between the index append and the sink write re-appends the
  * batch's band rows on retry; duplicates are harmless for admission
  * (collision is existential), and [[IncrementalNearDup.compactIndex]]
  * with `dedupe` drops them and bounds the file growth — while the
  * stream keeps ingesting. Single streaming writer, like every
  * foreachBatch sink.
  */
object StreamNearDup {

  /** The foreachBatch body. `batch` must carry `idCol` and `textCol`;
    * admitted rows (all input columns + `batch_id`) are written to
    * `outDir` partitioned by `batch_id`.
    */
  def admitBatch(batch: DataFrame, batchId: Long, idCol: String,
                 textCol: String, table: String, outDir: String,
                 shingleK: Int = 2, numPerms: Int = 16, bands: Int = 8,
                 buckets: Int = 16): Unit = {
    val admitted = IncrementalNearDup.dedupeBatchBucketed(
      batch, idCol, textCol, table, shingleK, numPerms, bands, buckets,
      batchId = Some(batchId))
    // Writer-scoped dynamic overwrite — race-free when another query on
    // the same session writes concurrently (a session-conf set/restore
    // window is not).
    admitted.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }
}
