package graft.streaming

import graft.io.StoreRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** foreachBatch CDC-APPLY: maintain a latest-wins keyed snapshot store
  * on plain parquet across streaming micro-batches — the production
  * deployment of x06's upsert merge (ref analog: the scrapers re-land
  * updated posts continuously; DataStorage.py only ever appends). Each
  * batch merges into the CURRENT snapshot and writes the result as a
  * NEW versioned directory (`v00000`, `v00001`, …); readers resolve the
  * highest version whose `_SUCCESS` marker exists (io08's
  * commit-visibility story with Spark's own write marker as the
  * commit), so a batch that dies mid-write is invisible and earlier
  * versions remain for time travel.
  *
  * Retry safety: latest-wins merge is IDEMPOTENT on replay — a
  * foreachBatch redelivery re-merges rows that are already at their
  * final version and changes nothing except writing an equal snapshot
  * under a fresh version id (UpsertStreamSpec pins this).
  *
  * Scale shape: per batch, one keyed shuffle and sort of O(store) +
  * O(batch) rows — the store side is a plain parquet scan (bucketable on
  * the key in a real lake); nothing driver-side. Old versions are retired by
  * io06-style compaction/GC, not by this operator.
  */
object StreamUpsert {

  // toIntOption + length guard: a dir named exactly "v" (empty digit
  // suffix passes forall) or one with an overflowing digit run must be
  // SKIPPED as a non-version entry, not crash the whole retention pass
  private def versionOf(name: String): Option[Int] =
    if (name.length > 1 && name.startsWith("v") && name.drop(1).forall(_.isDigit))
      name.drop(1).toIntOption
    else None

  /** Highest committed (has `_SUCCESS`) snapshot version, if any. */
  def latestVersion(store: String): Option[Int] = {
    val root = Paths.get(store)
    if (!Files.isDirectory(root)) None
    else {
      import scala.jdk.CollectionConverters._
      Files.list(root).iterator().asScala
        .flatMap(p => versionOf(p.getFileName.toString))
        .filter(v => Files.exists(Paths.get(store, f"v$v%05d", "_SUCCESS")))
        .reduceOption(_ max _)
    }
  }

  def readSnapshot(spark: SparkSession, store: String): Option[DataFrame] =
    latestVersion(store).map(v => StoreRead.parquet(spark, f"$store/v$v%05d"))

  /** TIME TRAVEL — the snapshot AS OF a committed version: every
    * version [[applyBatch]] ever committed remains readable until
    * [[vacuum]] retires it, so audits and reproductions pin the exact
    * store state a downstream job consumed (io08's manifest-pinning
    * story applied to the CDC store). Refuses uncommitted versions —
    * an in-flight or crashed write is not history.
    */
  def readVersion(spark: SparkSession, store: String, version: Int): DataFrame = {
    require(Files.exists(Paths.get(store, f"v$version%05d", "_SUCCESS")),
      s"version $version is not committed in $store — " +
        s"committed latest: ${latestVersion(store).getOrElse("none")}")
    StoreRead.parquet(spark, f"$store/v$version%05d")
  }

  /** Merge one micro-batch into the store (the foreachBatch body): per
    * key the greatest `version` tuple wins, the snapshot's row on a tie —
    * [[graft.operators.Upsert.latestWins]]' rule (NULL the smallest
    * version, keys compared null-safely), or
    * [[graft.operators.Upsert.compact]]'s on the first batch.
    *
    * One shuffle, then the write: the snapshot's and the batch's rows are
    * hash-partitioned by key and sorted so that each key's rows are
    * adjacent and its winner comes last, and one pass over each sorted
    * partition keeps the last row of every key — a merge of sorted runs,
    * with no window or join operator and their generated classes.
    */
  def applyBatch(spark: SparkSession, store: String, batch: DataFrame,
                 keys: Seq[String], version: Seq[String]): Unit = {
    val cur = latestVersion(store)
    val updates = batch.withColumn("__snap", lit(false))
    val rows = cur.fold(updates) { v =>
      val snapshot = StoreRead.parquet(spark, f"$store/v$v%05d")
      require(snapshot.columns.sameElements(batch.columns),
        s"schema mismatch: ${snapshot.columns.mkString(",")} vs ${batch.columns.mkString(",")}")
      snapshot.withColumn("__snap", lit(true)).unionByName(updates)
    }
    val sorted = rows.repartition(keys.map(col): _*)
      .sortWithinPartitions(keys.map(col) ++ version.map(col(_).asc_nulls_first) :+ col("__snap"): _*)
    val schema = sorted.schema
    def refs(names: Seq[String]): Seq[Expression] = names.map { n =>
      val i = schema.fieldIndex(n)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    val (keyRefs, outRefs) = (refs(keys), refs(batch.columns.toSeq))
    val winners = sorted.queryExecution.toRdd.mapPartitions { it =>
      val keyOf = InterpretedUnsafeProjection.createProjection(keyRefs)
      val out = InterpretedUnsafeProjection.createProjection(outRefs)
      val in = it.buffered
      new Iterator[InternalRow] {
        def hasNext: Boolean = in.hasNext
        def next(): InternalRow = {
          var row = in.next().copy()
          val key = keyOf(row).copy()
          while (in.hasNext && keyOf(in.head) == key) row = in.next().copy()
          out(row)
        }
      }
    }
    val next = cur.map(_ + 1).getOrElse(0)
    ColumnBridge.dataFrame(spark, winners, StructType(schema.filter(_.name != "__snap")))
      .write.mode("overwrite").parquet(f"$store/v$next%05d")
  }

  /** VACUUM — retention for the versioned store: keep the newest
    * `keepVersions` COMMITTED snapshots, delete every older committed
    * version dir, and delete an uncommitted (no `_SUCCESS`) dir ONLY
    * when its version is at most the newest committed version — such a
    * dir can only be a crashed writer's orphan, because the store is
    * SINGLE-WRITER ([[applyBatch]] runs inside one foreachBatch loop)
    * and the one live writer, if any, is writing `newest_committed + 1`,
    * which has no `_SUCCESS` until its commit. Deleting by version-age
    * instead of by bare commit-marker absence is what makes vacuum safe
    * to race a live writer: the in-flight dir is spared, and a crashed
    * orphan above the committed frontier is collected on the pass after
    * the next successful commit overtakes it. Concurrent readers are
    * safe for the same reason as before — [[readSnapshot]] resolves the
    * latest committed version, which vacuum preserves by construction.
    * Idempotent — a re-run finds nothing older to drop.
    *
    * Returns the deleted directory names (deterministic order) so the
    * caller can audit what a retention pass removed.
    */
  def vacuum(store: String, keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    val root = Paths.get(store)
    if (!Files.isDirectory(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(root).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq
    val committed = dirs
      .flatMap(p => versionOf(p.getFileName.toString).map(_ -> p))
      .filter { case (v, _) => Files.exists(Paths.get(store, f"v$v%05d", "_SUCCESS")) }
      .sortBy(-_._1)
    val newestCommitted = committed.headOption.map(_._1)
    val keep = committed.take(keepVersions).map(_._2.getFileName.toString).toSet
    val doomed = dirs
      .filter(p => !keep.contains(p.getFileName.toString))
      .flatMap(p => versionOf(p.getFileName.toString).map(_ -> p))
      .filter { case (v, p) =>
        // committed outside the keep window → expired; uncommitted →
        // only a crashed-writer orphan if the committed frontier has
        // reached or passed it (the live writer writes newest+1; with
        // no committed version at all, v00000 may be in flight — spare)
        Files.exists(p.resolve("_SUCCESS")) || newestCommitted.exists(v <= _)
      }
      .map(_._2)
      .sortBy(_.getFileName.toString)
    doomed.foreach { d =>
      val all = Files.walk(d)
      try all.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally all.close()
    }
    doomed.map(_.getFileName.toString)
  }
}
