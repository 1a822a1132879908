package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE,
  PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet loaders: the TPC-H-ish testdata layout (FIXTURES.md: one
  * parquet file per table) and every directory the engine writes and reads
  * back.
  *
  * Every parquet read in `src/main` goes through [[parquet]], which hands
  * Spark a schema read from a footer on the driver ([[parquetSchema]]).
  * Left to infer it, `spark.read.parquet` launches a one-task Spark job per
  * read just to open that footer. The scan itself is unchanged: Spark's
  * vectorized reader, predicate pushdown and column pruning, and at scale a
  * partitioned directory reads the same way.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema from [[parquetSchema]], so
    * building the frame starts no Spark job. `path` is a parquet file or a
    * directory of them, `k=v` partition directories included. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path).schema` gives, read on the
    * driver. The footer is chosen as Spark's inference chooses it
    * (`ParquetUtils.inferSchema`): leaf files in path order, other names
    * starting with `_` or `.` skipped; with `mergeSchema` off,
    * `_common_metadata`, else `_metadata`, else the first data file; with it
    * on, every footer.
    * Spark's own code converts them under the session's conf (nanosAsLong,
    * INT96, binary-as-string) and adds the partition columns. Read on every
    * call and never cached, so a rewritten directory is seen anew. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(root).toString))
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None)
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    def named(name: String) = leaves.filter(_.getPath.getName == name)
    val common = named(PARQUET_COMMON_METADATA_FILE)
    val summary = named(PARQUET_METADATA_FILE)
    val data = leaves.diff(common ++ summary)
    val footers =
      if (conf.isParquetSchemaMergingEnabled) data ++ summary ++ common
      else common.headOption.orElse(summary.headOption).orElse(data.headOption).toSeq
    val converter = new ParquetToSparkSchemaConverter(conf)
    val dataSchema = footers.map { f =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
      }
      .reduceOption((a, b) => merge.invoke(a, b, Boolean.box(conf.caseSensitiveAnalysis))
        .asInstanceOf[StructType])
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val nullable = asNullable.invoke(dataSchema).asInstanceOf[StructType]
    PartitioningUtils.mergeDataAndPartitionSchema(nullable, index.partitionSchema,
      conf.caseSensitiveAnalysis)._1
  }

  // Spark's own schema merge and read-side nullability: private[sql] and
  // private[spark] in Scala, public in bytecode, so reflection reaches them
  // as QueryTrace reaches the listener bus.
  private val merge = classOf[StructType].getMethod("merge", classOf[StructType], classOf[Boolean])
  private val asNullable = classOf[StructType].getMethod("asNullable")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.ts` has shipped in three vintages (see FIXTURES.md):
    *   1. TIMESTAMP(NANOS) parquet — Spark 4 can't map nanos to its µs
    *      TimestampType, so sessions set
    *      `spark.sql.legacy.parquet.nanosAsLong=true` and it arrives as
    *      LongType nanos → convert with µs floor division (matching DuckDB's
    *      TIMESTAMP_NS → TIMESTAMP cast, so oracles agree at µs precision);
    *   2. TIMESTAMP_NTZ (µs, no timezone) — cast to TimestampType: sessions
    *      pin UTC, so NTZ → LTZ is instant-preserving and DuckDB (whose
    *      TIMESTAMP is naive) agrees bit-for-bit at µs precision;
    *   3. plain TIMESTAMP — pass through.
    * All event-time queries downstream (`window`, `session_window`,
    * watermarks, `unix_micros`) require TimestampType, so this loader is the
    * single normalization point for every vintage. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(table(spark, sfDir, "events"))

  /** Normalize any `ts` vintage to TimestampType; see [[events]]. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
