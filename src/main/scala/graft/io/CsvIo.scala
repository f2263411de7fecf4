package graft.io

import graft.schema.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** CSV edge IO matching the reference's file contract (S1/S7): headered
  * CSV between declared stage boundaries, list columns as serialized
  * strings (read: python-repr or JSON; write: JSON arrays — the
  * documented upgrade over reprs, SURVEY §7). Intermediates should stay
  * Parquet; these readers/writers exist only at the edges.
  */
object CsvIo {

  /** Read a `posts` CSV (feed-scrape output shape, Preprocessor.py:107):
    * declared schema — no inference job — then decode list columns.
    *
    * The real feed output has multi-line quoted captions and RFC-4180
    * doubled quotes (pandas' to_csv defaults), so multiLine + quote-escape
    * are required for parity. multiLine makes a CSV file non-splittable;
    * acceptable because CSV exists only at declared edges — intermediates
    * are Parquet.
    */
  def readPosts(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(Schemas.postsCsv)
      .csv(path)
      .withColumn("hashtags", Schemas.ReprList.decode(col("hashtags")))
      .withColumn("mentions", Schemas.ReprList.decode(col("mentions")))

  /** Read a `posts_preprocessed` CSV (Preprocessor stage output shape). */
  def readPreprocessed(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(Schemas.postsPreprocessedCsv)
      .csv(path)
      .withColumn("hashtags", Schemas.ReprList.decode(col("hashtags")))
      .withColumn("mentions", Schemas.ReprList.decode(col("mentions")))

  /** Write a headered CSV, JSON-encoding any array columns. `singleFile`
    * mirrors the reference's one-file-per-stage contract (driver-side
    * coalesce — fine for edge outputs, never for intermediates). A local
    * frame written as one file is written from the driver by the CSV
    * source's own row writer, with the same options: the same bytes,
    * without a Spark job or a generated class.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val encoded = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: ArrayType => acc.withColumn(f.name, Schemas.ReprList.encode(col(f.name)))
        case _ => acc
      }
    }
    encoded.queryExecution.optimizedPlan match {
      case local: LocalRelation if singleFile => writeLocal(encoded.sparkSession, local, path)
      case _ =>
        val out = if (singleFile) encoded.coalesce(1) else encoded
        out.write.mode("overwrite").options(writeOptions).csv(path)
    }
  }

  private val writeOptions = Map(
    "header" -> "true",
    // RFC-4180 quote doubling (pandas to_csv convention) — must mirror
    // the readers' escape setting or embedded quotes break the round-trip
    "escape" -> "\"",
    // the SINK owns its timestamp formats, for BOTH flavors: an NTZ
    // column otherwise falls back to the default timestampNTZFormat and
    // silently truncates to millis (the io01/io02 lesson). Space-
    // separated 6-digit form is pandas' to_csv shape and parses back
    // exactly through the readers' lenient default parser.
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The layout a one-partition overwrite leaves: `path/part-00000-…csv`
    * and `_SUCCESS`, each with the filesystem's checksum file.
    */
  private def writeLocal(spark: SparkSession, local: LocalRelation, path: String): Unit = {
    // the types the CSV source refuses fail here as they would there
    DataSourceUtils.verifySchema(new CSVFileFormat, local.schema)
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(writeOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    val part = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.csv")
    val gen = new UnivocityGenerator(local.schema,
      new java.io.OutputStreamWriter(fs.create(part, false), opts.charset), opts)
    try {
      gen.writeHeaders()
      local.data.foreach(gen.write)
    } finally gen.close()
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }
}
