package graft.sources

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}

/** Row counts from parquet FOOTERS instead of count() jobs.
  *
  * A `df.count()` over parquet schedules a full scan job — cheap per
  * row, but at 100 TB it is a cluster-wide pass just to learn a number
  * the footers already record exactly. Policy knobs that only need the
  * corpus size (LSH bit widths, sampling rates, partition targets)
  * should read it as metadata: O(files) footer fetches, distributed
  * above the same 64-file threshold the stats index uses, zero data IO.
  *
  * Correctness rule: footer counts equal `count()` ONLY while the plan
  * between scan and root preserves row multiplicity. [[metadataRowCount]]
  * therefore walks the OPTIMIZED plan and answers only for
  * project/alias/sort/repartition chains over parquet relations (unions
  * sum); any filter, join, aggregate, limit, sample, or generator makes
  * it return None — callers fall back to a real count. Estimators never
  * get to be wrong, they only get to be unavailable. */
object ParquetMeta {

  /** The footer of `file`; the reader is opened and closed here. */
  def footer(file: String, conf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getFooter finally r.close()
  }

  /** `f` over every item of a footer sweep (each item names one file):
    * on the driver at ≤64 items, else one Spark job of `min(n, 256)`
    * tasks, each opening its own footers, so wall clock is
    * O(files/parallelism). A FLOAT16 rejection raised inside a task
    * surfaces as the graft error itself, not wrapped in Spark's
    * task-failure exception, so callers see it the same on both paths. */
  def overFooters[T: ClassTag, A: ClassTag](spark: SparkSession, items: Seq[T])(
      f: (T, Configuration) => A): Seq[A] =
    if (items.size <= 64) {
      val conf = spark.sparkContext.hadoopConfiguration
      items.map(f(_, conf))
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      try spark.sparkContext.parallelize(items, math.min(items.size, 256))
        .map(f(_, conf.value)).collect().toSeq
      catch {
        case e: org.apache.spark.SparkException =>
          Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null).take(8)
            .collectFirst { case ia: IllegalArgumentException
              if ia.getMessage != null && ia.getMessage.contains("FLOAT16") => throw ia }
          throw e
      }
    }

  /** Exact row count recorded in the footers of `files`. */
  def footerRowCount(spark: SparkSession, files: Seq[String]): Long =
    overFooters(spark, files)((f, conf) => footer(f, conf).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Each file's data schema as JSON, derived the way Spark's parquet
    * inference derives one file's: `readSchemaFromFooter`, which takes
    * the schema Spark stored under its `row.metadata` key when the writer
    * was Spark, with a converter built from the session's parquet
    * settings. A file storing a FLOAT16 column fails first with graft's
    * error. Fans out through [[overFooters]]. */
  def footerSchemas(spark: SparkSession, files: Seq[String]): Seq[String] = {
    val c = spark.sessionState.conf
    val (binaryAsString, int96AsTimestamp, inferNtz, nanosAsLong, respectUnknown) =
      (c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp, c.parquetInferTimestampNTZEnabled,
        c.legacyParquetNanosAsLong, c.parquetReaderRespectUnknownTypeAnnotation)
    overFooters(spark, files) { (f, conf) =>
      val meta = footer(f, conf)
      rejectFloat16(f, meta.getFileMetaData.getSchema)
      val conv = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = binaryAsString,
        assumeInt96IsTimestamp = int96AsTimestamp,
        inferTimestampNTZ = inferNtz,
        nanosAsLong = nanosAsLong,
        respectUnknownTypeAnnotation = respectUnknown)
      ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(f), meta), conv).json
    }
  }

  /** FLOAT16 pre-flight: Spark 4.1's vectorized parquet reader cannot
    * decode FLOAT16 at all (opaque PARQUET_TYPE_ILLEGAL at scan time,
    * reproduced in SCALE.md §8). Fail at footer time instead, with the
    * file, the columns and the remedy. */
  private def rejectFloat16(file: String, msg: org.apache.parquet.schema.MessageType): Unit = {
    val f16 = msg.getColumns.asScala.filter(c =>
        Option(c.getPrimitiveType.getLogicalTypeAnnotation)
          .exists(_.toString.toUpperCase.contains("FLOAT16")))
      .map(_.getPath.mkString(".")).toSeq
    if (f16.nonEmpty) throw new IllegalArgumentException(
      s"graft: $file stores FLOAT16 column(s) ${f16.mkString(", ")}, which " +
        "Spark's parquet reader cannot decode (SCALE.md §8). Re-encode " +
        "them as FLOAT upstream (e.g. pyarrow cast float16→float32) " +
        "before adopting the files into a graft dataset.")
  }

  /** One footer pass over `files`: apply `f` to every row-group block's
    * metadata. Driver-side by design: callers are evidence probes over a
    * handful of files, not data-path scans. */
  def footerBlocks[A](spark: SparkSession, files: Seq[String])(
      f: org.apache.parquet.hadoop.metadata.BlockMetaData => A): Seq[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap(file => footer(file, conf).getBlocks.asScala.toSeq.map(f))
  }

  /** The column-chunk metadata of `column` in a block (dotted path
    * match), or an error naming the column — the shared lookup under
    * every footer-stats evidence probe. */
  def blockColumn(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      column: String): org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = {
    b.getColumns.asScala.find(_.getPath.toDotString == column).getOrElse(
      throw new IllegalStateException(s"no column chunk '$column' in footer block"))
  }

  /** Exact row count of `df` from parquet metadata alone, or None when
    * the plan can change row multiplicity (then only a real count can
    * answer). Runs zero Spark jobs below 64 files. */
  def metadataRowCount(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession
    def walk(p: LogicalPlan): Option[Long] = p match {
      case Project(_, c) => walk(c)
      case SubqueryAlias(_, c) => walk(c)
      case s: Sort => walk(s.child)
      case r: RepartitionOperation => walk(r.child)
      case u: Union =>
        u.children.map(walk).reduce((a, b) => for { x <- a; y <- b } yield x + y)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          Some(footerRowCount(spark, fs.location.inputFiles.toSeq))
        case _ => None
      }
      case _ => None // filter/join/agg/limit/sample/generate: not row-preserving
    }
    try walk(df.queryExecution.optimizedPlan)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}
