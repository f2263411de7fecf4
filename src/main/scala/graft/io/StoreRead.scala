package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Store opens without Spark jobs. A plain `spark.read.parquet(dir)`
  * launches a one-task schema-inference job before it can plan, and a
  * model-parameter dir the serving path collects on every call pays a
  * second job for rows that change only when the store is rebuilt. The
  * serving paths (IVF-PQ, BM25, near-dup index, upsert snapshots) open
  * their stores through here instead:
  *
  *  - [[parquet]] reads the schema Spark wrote into one data file's
  *    footer on the driver and plans the same scan with it — partition
  *    columns are still discovered from directory names, so pruning is
  *    unchanged;
  *  - [[resident]] keeps the collected rows of a broadcast-class dir in
  *    memory, reused while the dir's data-file listing (path, length,
  *    modification time) is unchanged. Every Spark write names fresh
  *    part files and the store mutations install by rename, so a build,
  *    rebuild or rebalance always changes the listing.
  */
object StoreRead {

  /** The footer key Spark's parquet writer stores its row schema under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)` without the inference job: same schema,
    * same partition columns, same plan. Falls back to the plain read —
    * and so to its results and errors — when the path does not list (a
    * missing dir or a glob), the session merges schemas, the dir has no
    * data file, or the footer carries no Spark schema.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** A model dir's rows, collected once per store version. */
  final case class Resident(schema: StructType, rows: Array[Row]) {
    def toDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The rows of the `cols` of a broadcast-class dir (every column when
    * none are named). One listing per call checks the cached copy; a
    * changed listing collects fresh rows through [[parquet]].
    */
  def resident(spark: SparkSession, path: String, cols: String*): Resident = {
    val (_, fs, root) = fsAndRoot(spark, path)
    val key = (root.toString, cols.toList)
    // a missing dir lists as empty: nothing is cached, and the read below
    // raises Spark's own error
    val listing = (try dataFiles(fs, fs.listStatus(root)).toList
      catch { case _: java.io.FileNotFoundException => Nil })
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
    cache.synchronized(Option(cache.get(key))).collect { case (l, r) if l == listing => r }
      .getOrElse {
        val df = parquet(spark, path)
        val sel = if (cols.isEmpty) df else df.select(cols.map(col): _*)
        val r = Resident(sel.schema, sel.collect())
        if (listing.nonEmpty) cache.synchronized(cache.put(key, (listing, r)))
        r
      }
  }

  /** Bounded LRU: (dir, cols) → (listing, rows). */
  private val cache = new java.util.LinkedHashMap[(String, List[String]),
      (List[(String, Long, Long)], Resident)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, List[String]),
        (List[(String, Long, Long)], Resident)]): Boolean = size() > 64
  }

  private def fsAndRoot(spark: SparkSession, path: String): (Configuration, FileSystem, Path) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    (conf, fs, fs.makeQualified(p))
  }

  /** Spark's listing filter: hidden (`_`/`.`) names other than partition
    * dirs, and in-flight copies.
    */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  /** The data files under a dir listing, in full-path order — the order
    * Spark's schema inference picks its file from — produced lazily, so
    * the first one costs one listing per directory level.
    */
  private def dataFiles(fs: FileSystem, entries: Array[FileStatus]): Iterator[FileStatus] =
    entries.filter(s => visible(s.getPath.getName))
      .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
      .iterator
      .flatMap(s => if (s.isDirectory) dataFiles(fs, fs.listStatus(s.getPath)) else Iterator(s))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else try {
      val (conf, fs, root) = fsAndRoot(spark, path)
      dataFiles(fs, fs.listStatus(root)).nextOption().flatMap(f => sparkSchema(conf, f))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def sparkSchema(conf: Configuration, file: FileStatus): Option[StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson).collect { case s: StructType => s }
    finally reader.close()
  }
}
