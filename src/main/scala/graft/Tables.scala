package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.FileListingBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Mirrors the reference's "bucket" concept (a project holding resource
  * frames — cf. reference src/helpers.py:109 `allocate_by_deployment`):
  * a directory of parquet tables is one bucket. All loads go through
  * here so filter pushdown + column pruning reach the parquet scan, and
  * every library read of a parquet table goes through [[parquet]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet schema through `mergeSchemasInParallel`, which
    * launches a one-task job even to read a single footer; this reads
    * the footer Spark's non-merging inference would read, on the
    * driver, converts it with Spark's own footer conversion under the
    * session's parquet settings (`nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`, Spark's row-metadata schema), and hands the
    * result to the reader as a supplied schema. Partition columns are
    * still discovered from the directory names.
    *
    * No cache: a rewritten table (a MERGE swap, a new keylog batch) is
    * read fresh on every call. Where inference would read more than one
    * footer — schema merging on — or cannot pick a file — an empty or
    * missing path, an unreadable footer — Spark's own reader runs, so
    * results and errors are Spark's. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      schemaFile(fs, fs.getFileStatus(root)).map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case NonFatal(_) => None }
  }

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  /** The file Spark's non-merging inference reads (ParquetUtils.
    * inferSchema): a `_common_metadata`, else a `_metadata` summary,
    * else the first data file in full-path order, skipping the names
    * Spark's file listing hides. Depth-first over sorted children — a
    * directory sorts as `name/`, so this is full-path order — listing
    * one directory per level until the first data file. */
  private def schemaFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else {
      val children = fs.listStatus(st.getPath).toSeq
        .filterNot(c => FileListingBridge.hidden(c.getPath.getName))
      SummaryFiles.iterator.flatMap(n => children.find(_.getPath.getName == n)).nextOption()
        .orElse(children.filterNot(c => SummaryFiles.contains(c.getPath.getName))
          .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
          .iterator.flatMap(schemaFile(fs, _)).nextOption())
    }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize events.ts to TimestampType regardless of how the
    * generator's parquet writer encoded it. Observed encodings across
    * driver testdata generations: TIMESTAMP(NANOS) (Spark reads it as
    * nanos-long under `nanosAsLong`; the data is µs-precision so the
    * DIV 1000 is lossless) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (Spark reads TIMESTAMP_NTZ; the generator writes naive UTC wall
    * clocks and the session timezone is UTC, so the cast re-labels the
    * same instant). Dispatching on the actual read schema keeps both
    * generations loadable with identical downstream values.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // the int64 branch GUARDS its nanos assumption: a generation
      // writing plain int64 MICROS (no logical type) would otherwise be
      // silently divided by 1000, shifting every timestamp 1000×. Any
      // plausible event time is ≥ 1e17 as nanos (≈ 1973) while micros
      // magnitudes sit ≈ 1e15 — reject, never guess. Row-local codegen
      // comparison; no extra job at load time.
      case LongType => df.withColumn("ts", expr(
        "timestamp_micros(CASE WHEN ts IS NULL OR ts >= 100000000000000000 " +
          "THEN ts DIV 1000 ELSE raise_error(concat('events.ts: int64 value ', " +
          "CAST(ts AS STRING), ' is too small to be nanos-since-epoch — refusing " +
          "to guess the encoding (plain int64 micros must be rejected, not " +
          "divided)')) END)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet encoding $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
