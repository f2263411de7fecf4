package graft

/** THE registry of persistent stores this repo writes and the pruning
  * evidence every selective read of them must exhibit (VERDICT r9 #8 —
  * the generalization of the r8 t21b/e19 pins): any FUTURE store gets a
  * row here, and the PlanSpec sweep ("store reads prune", driven off
  * this list) fails the moment a store's selective read stops pruning —
  * the r8 #1/#2 class of gap (a store laid out flat, every query paying
  * O(store) I/O) can no longer land silently.
  *
  * Two evidence kinds cover every pruning mechanism in the repo:
  *  - [[StoreAudit.PartitionPruned]] — directory-partitioned stores
  *    (t21b postings, e19 codes, io07 lakes): the physical plan's scan
  *    must carry a static `PartitionFilters` IN-list on the layout key,
  *    i.e. unselected directories are eliminated at PLANNING time;
  *  - [[StoreAudit.FilePruned]] — manifest/version-resolved stores
  *    (io11 zone maps, io12 manifest increments, x17 version dirs): the
  *    executed scan's file list must be a STRICT subset of the data
  *    files physically present under the store root (`levelsUp`
  *    directories above any scanned file), i.e. the driver-resolved
  *    file set — not a post-scan filter — bounds the I/O.
  */
object StoreAudit {
  sealed trait Evidence
  /** Scan must show `PartitionFilters: [… <key>#… IN (…)]`. */
  final case class PartitionPruned(key: String) extends Evidence
  /** Scan must read strictly fewer parquet files than exist under the
    * store root, found `levelsUp` directories above any scanned file.
    */
  final case class FilePruned(levelsUp: Int) extends Evidence
  /** Retention evidence for stores whose reads MERGE the whole store
    * (nothing to prune — the bound is the layout itself): after the gate
    * runs, the store scan's files must span at most `maxDirs` partition
    * directories, one of them `baseDir` — i.e. compaction actually
    * folded the committed tail into the base slice instead of the store
    * growing one directory per micro-batch forever (the io06 small-file
    * failure, in streaming form).
    */
  final case class CompactedDirs(maxDirs: Int, baseDir: String) extends Evidence

  /** gate name → the pruning its plan must show. Add every new store
    * read here; the PlanSpec sweep enumerates THIS list.
    */
  val storeGates: Seq[(String, Evidence)] = Seq(
    "t21b_bm25_stored" -> PartitionPruned("bucket"),   // term-bucket postings
    "e19_ivfpq_stored" -> PartitionPruned("cluster"),  // IVF codes store
    "io07_partitioned_lake" -> PartitionPruned("lang"),// directory lake
    "io11_zonemap_skip" -> FilePruned(levelsUp = 1),   // zone-map manifest
    "io12_incremental_read" -> FilePruned(levelsUp = 2), // manifest increment
    "x17_time_travel" -> FilePruned(levelsUp = 2),     // one version dir
    // streaming CMS store: 3 batches compacted at frontier 2 → base + 1
    "sm09_stream_sketch" -> CompactedDirs(maxDirs = 2, baseDir = "batch=-1"),
    // the stored-index lifecycle gates all end in the e19 probed read —
    // each must keep its static cluster IN-list through its own store
    // mutation (filter semi-join / forget rewrite / admission append)
    "e28_filtered_ann" -> PartitionPruned("cluster"),
    "x23_vector_store_forget" -> PartitionPruned("cluster"),
    "e29_ivfpq_admit" -> PartitionPruned("cluster"),
    // incremental-components label store: 3 batches, mid-stream
    // compaction at frontier 1 → the resolved read spans the ver=-1
    // base + batch 2's appends only (the admission path's relabel-scan
    // pruning is pinned separately in PropertySpec — "g15 admission is
    // bounded" — because it runs inside admitEdges, not a gate plan)
    "g15_incremental_components" -> CompactedDirs(maxDirs = 2, baseDir = "ver=-1"))

  /** gate name → the most Spark jobs BUILDING its serving DataFrame may
    * launch once the store is warm (the [[graft.io.StoreRead]] contract:
    * schemas come from parquet footers, model params stay resident per
    * store version). e19 collects only its request-sized query frame,
    * which is local; t21b keeps its one top-df query-term collect. The
    * PlanSpec open sweep enumerates THIS list.
    */
  val warmOpenJobs: Seq[(String, Int)] = Seq(
    "e19_ivfpq_stored" -> 0,
    "t21b_bm25_stored" -> 1)
}
