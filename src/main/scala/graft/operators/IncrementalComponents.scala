package graft.operators

import graft.io.StagedCommit
import graft.io.StagedCommit.Keep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL CONNECTED COMPONENTS — the dup-GROUP store maintained
  * across edge batches, completing the incremental dedup lifecycle:
  * x04 admits exact keys, x08/x18/sm08 admit near-dup pairs, and this
  * keeps the resulting CLUSTER LABELS current as candidate edges keep
  * arriving — without ever re-running g02's full component computation
  * over the corpus (at 100 TB the edge history is unbounded; only the
  * batch and the components it actually touches may cost anything).
  *
  * Semantics: labels are the MIN NODE ID of the component (g02's
  * canonical label), and admission preserves that invariant: merging
  * components relabels every loser to the minimum label among the
  * merged set, so after ANY batch order the store equals the batch
  * computation over the union of all admitted edges (the x08
  * "incremental ≡ rebuilt" invariant, gated by g15 and spec-pinned on
  * random batch splits).
  *
  * Store layout: `store/labels/lbucket=<pmod(label,16)>/ver=<batch>/`
  * holds APPEND-ONLY rows (node, label) — a batch appends one row per
  * NEW node and per RELABELED node, never rewrites; readers resolve
  * max-version per node. `lbucket` is a LABEL bucket, and it is the
  * layout key that bounds admission (below); `ver` under it gives the
  * retention evidence its own directory grain (StoreAudit
  * CompactedDirs on the `ver=-1` base — the sm09 discipline).
  *
  * Per-batch work is O(batch ∪ affected members), NEVER an O(store)
  * shuffle (VERDICT r12 #1 — the x04/x08 "admission O(batch)" bar):
  *  - the LABEL LOOKUP broadcasts the batch's node set INTO the raw
  *    label scan (broadcast hash join — the store side never
  *    shuffles), then max-version-resolves only the ≤ |batch nodes| ×
  *    layers surviving rows. The store cost is a columnar scan of two
  *    narrow long columns, not a corpus-wide aggregate; at cluster
  *    scale the scan parallelizes and nothing re-partitions it.
  *  - the RELABEL scan ([[membersOfLabels]]) reads ONLY the losing
  *    labels' `lbucket` partitions — a static partition IN-list
  *    (PlanSpec pins `PartitionFilters`), correct because a LIVE
  *    label's member rows all still carry that label: per node,
  *    labels strictly DECREASE (min-label union), a node is only ever
  *    relabeled when its current label loses a merge, and a lost
  *    label can never become anyone's label again (it would have to
  *    be the min node id of a component containing node `label`,
  *    whose own label is already smaller forever). So raw rows with
  *    `label = L`, for L live, ARE exactly L's current members — no
  *    resolution pass needed before the member read.
  *  - the driver union-find runs over the batch's LABEL graph
  *    (≤ 2|batch| labels — never corpus nodes).
  *
  * Batches are idempotent under redelivery via the [[AdmissionLedger]]
  * (`_admitted/batch=<id>` markers + the `_upto` fold watermark), and
  * batch ids MUST be monotonically increasing — enforced with a
  * `require` against the ledger's high watermark (an out-of-order
  * smaller id would append rows that silently LOSE the max-version
  * resolution to the rows they were meant to supersede).
  *
  * Retention: appends grow one row per label change forever;
  * [[compact]] folds everything into a `ver=-1` base (resolution is
  * unchanged — max-version is a fold the base participates in),
  * installed through [[graft.io.StagedCommit]]: stage
  * `_compact_pending`, marker `_compact_done`, plan `keep labels`
  * ([[recoverCompaction]] runs from both entry points). Compaction also
  * folds the admission ledger's markers behind the frontier into the
  * `_upto` watermark ([[AdmissionLedger.compact]]).
  */
object IncrementalComponents {

  private val LabelBuckets = 16

  private def layout(store: String) =
    new StagedCommit.Layout(new org.apache.hadoop.fs.Path(store), "_compact_pending", "_compact_done")

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("node"), col("id").as("label"))

  /** Current (node, label) view: max-version resolution over the
    * layered appends. Repairs any half-finished compaction first.
    * This is the full-store READ (gates, compaction, exports); the
    * admission path never calls it — see [[admitEdges]].
    */
  def resolved(spark: SparkSession, store: String): DataFrame = {
    recoverCompaction(spark, store)
    val labels = s"$store/labels"
    if (!StagedCommit.fsOf(spark, store).exists(new org.apache.hadoop.fs.Path(labels)))
      return emptyLabels(spark)
    spark.read.parquet(labels)
      .groupBy("node")
      .agg(max(struct(col("ver"), col("label"))).as("b"))
      .select(col("node"), col("b.label").as("label"))
  }

  /** Current members of the given (still-live) labels, already carrying
    * their new label: a static `lbucket` partition-pruned scan of the
    * RAW layers + a broadcast join on the old→new map — a merge reads
    * only the losing labels' partitions (see the class doc for why raw
    * rows under a live label need no version resolution). Package-
    * visible so PlanSpec can pin the partition pruning directly.
    */
  private[graft] def membersOfLabels(spark: SparkSession, store: String,
                                     oldToNew: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    // Int literals: the inferred partition-column type is IntegerType,
    // and a same-type IN-list is what stays a static PartitionFilter
    // (a long literal would wrap the attribute in a cast)
    val lbuckets = oldToNew.map(t =>
      math.floorMod(t._1, LabelBuckets.toLong).toInt).distinct
    val m = oldToNew.toDF("old_label", "new_label")
    spark.read.parquet(s"$store/labels")
      .filter(col("lbucket").isin(lbuckets: _*))
      .join(broadcast(m), col("label") === col("old_label"))
      .select(col("node"), col("new_label").as("label"))
      .distinct()
  }

  /** Admit one batch of undirected edges (columns (a, b), any names —
    * positional). Appends (node, label, ver=batchId) rows for new and
    * relabeled nodes; exactly-once per batchId via the ledger marker,
    * and monotonically-increasing ids are ENFORCED (redelivering an
    * already-admitted id is a no-op; a never-seen id behind the
    * ledger's high watermark is the out-of-order misconfiguration and
    * fails loudly — its rows could never win max-version resolution).
    * A batch holds at most 2M distinct edges.
    */
  def admitEdges(spark: SparkSession, store: String, edges: DataFrame,
                 batchId: Long): Unit =
    admitEdges(spark, store, edges, batchId, 2000000)

  private[graft] def admitEdges(spark: SparkSession, store: String, edges: DataFrame,
                                batchId: Long, maxBatchEdges: Int): Unit = {
    recoverCompaction(spark, store)
    val fs = AdmissionLedger.fsOf(spark, store)
    if (AdmissionLedger.isAdmitted(fs, store, batchId)) return
    val maxSeen = AdmissionLedger.maxSeen(fs, store)
    require(batchId > maxSeen,
      s"admitEdges: batch id $batchId is behind the ledger's high " +
        s"watermark $maxSeen and was never admitted — batch ids must be " +
        "monotonically increasing (max-version resolution would silently " +
        "discard this batch's relabels); re-ingest under a fresh id")
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    // the batch is driver-bounded BY CONTRACT (micro-batches) — the
    // union-find below holds its labels; fail loudly past the budget
    val e = graft.io.Local.values(edges.select(ca.cast("long").as("a"), cb.cast("long").as("b"))
      .filter(col("a") =!= col("b")).select(struct("a", "b")), maxBatchEdges)(
      s"admitEdges: batch exceeds $maxBatchEdges edges — split the batch " +
        "(micro-batch contract)").iterator.map(_.asInstanceOf[org.apache.spark.sql.Row]).toArray
    val nodesB = e.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    val nodesDf = spark.createDataFrame(
      java.util.Arrays.asList(nodesB.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType))))
    val labelsPath = s"$store/labels"
    val hasStore = fs.exists(new org.apache.hadoop.fs.Path(labelsPath))
    // current labels of the batch's nodes: broadcast the BATCH side into
    // the raw label scan (broadcast hash join — the store side is
    // filtered in place, never shuffled), then resolve max-version over
    // only the surviving ≤ |batch nodes| × layers rows. This replaces
    // the full-store groupBy aggregate that made admission O(store)
    // (VERDICT r12 #1). An absent node is NEW (label defaults to its id)
    // — tracked so only genuinely new or relabeled nodes append rows.
    val found: Map[Long, Long] =
      if (!hasStore) Map.empty
      else spark.read.parquet(labelsPath)
        .join(broadcast(nodesDf), Seq("node"))
        .groupBy("node")
        .agg(max(struct(col("ver"), col("label"))).as("b"))
        .select(col("node"), col("b.label").as("label"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cur: Map[Long, (Long, Boolean)] =
      nodesB.map(n => n -> found.get(n).map((_, true)).getOrElse((n, false)))
        .toMap
    // union-find over the LABEL graph (min-label union keeps g02's
    // canonical-label invariant). ITERATIVE find — a recursive walk
    // stack-overflows on chain-shaped batches (a path graph unioned in
    // descending order builds an O(chain) parent chain, and near-dup
    // edge streams are naturally chain-heavy) — with two-pass path
    // compression so later finds are O(α).
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { val lo = math.min(rx, ry); val hi = math.max(rx, ry)
        parent(hi) = lo }
    }
    e.foreach(r => union(cur(r.getLong(0))._1, cur(r.getLong(1))._1))
    val changedLabels = parent.keys.filter(l => find(l) != l).toSeq
    // rows to append: batch nodes that are NEW or whose label moved...
    val batchRows = nodesB.toSeq.flatMap { n =>
      val (label, known) = cur(n)
      val newLabel = find(label)
      if (!known || newLabel != label) Some((n, newLabel)) else None
    }
    import spark.implicits._
    // ...plus every MEMBER of a losing label, via the lbucket-pruned
    // raw scan: only STORED losing labels can have members beyond the
    // batch (a new node's never-stored label has none), and the scan
    // stays DISTRIBUTED end to end — the (old → new) label map is
    // batch-bounded and broadcasts; merging two large clusters relabels
    // O(smaller cluster) rows, which only the executors should hold.
    val storedLabels = found.values.toSet
    val storedChanged = changedLabels.filter(storedLabels.contains)
    val members =
      if (storedChanged.isEmpty || !hasStore) emptyLabels(spark)
      else membersOfLabels(spark, store,
        storedChanged.map(l => (l, find(l))))
    val out = batchRows.toDF("node", "label").unionByName(members).distinct()
    // an all-empty batch must not create a part-file-less labels dir
    // (parquet schema inference cannot read one back). Emptiness is
    // decidable DRIVER-SIDE — members is non-empty exactly when a
    // stored label lost (its resolved (node, label) row is in the
    // pruned raw scan by construction) — so don't pay an isEmpty
    // action that evaluates the whole union (incl. the members scan)
    // once for the check and again for the write.
    if (batchRows.nonEmpty || storedChanged.nonEmpty)
      out.withColumn("lbucket", pmod(col("label"), lit(LabelBuckets)))
        .withColumn("ver", lit(batchId))
        .repartition(col("lbucket"))
        .write.mode("append").partitionBy("lbucket", "ver")
        .parquet(labelsPath)
    AdmissionLedger.record(fs, store, batchId)
  }

  /** Fold the layered appends into a single `ver=-1` base — resolution
    * is invariant (max-version includes the base) and the file count
    * drops to the base slice. Also folds the admission ledger's
    * behind-frontier markers into the `_upto` watermark (VERDICT r12 #2).
    */
  def compact(spark: SparkSession, store: String): Unit = {
    recoverCompaction(spark, store)
    val fs = StagedCommit.fsOf(spark, store)
    if (!fs.exists(new org.apache.hadoop.fs.Path(store, "labels"))) return
    val l = layout(store)
    val pending = StagedCommit.reset(fs, l)
    resolved(spark, store)
      .withColumn("lbucket", pmod(col("label"), lit(LabelBuckets)))
      .withColumn("ver", lit(-1L))
      .repartition(col("lbucket"))
      .write.mode("overwrite").partitionBy("lbucket", "ver")
      .parquet(s"$pending/labels")
    StagedCommit.commit(fs, l, Seq(Keep("labels")))
    AdmissionLedger.compact(fs, store)
  }

  /** Complete (or discard) a half-done compaction — idempotent. */
  def recoverCompaction(spark: SparkSession, store: String): Unit =
    StagedCommit.recover(StagedCommit.fsOf(spark, store), layout(store))
}
