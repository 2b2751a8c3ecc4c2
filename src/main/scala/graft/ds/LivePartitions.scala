package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The live leaf partitions of a hive-partitioned dataset, as the
  * partition-scoped upsert and delete need them: typed values to build
  * partition predicates from, and each leaf's directory to delete when
  * the rewrite empties it.
  *
  * Both come from the file index Spark already built to read the
  * dataset, on the driver: no job, no extra listing. The directory is
  * the index's own `Path`, made relative to the root by walking up its
  * parents, so hive value escaping is never re-implemented and a space
  * in a value or in the root names the directory that is on disk (a
  * path string taken from `input_file_name()` is URL-encoded and names
  * `p=a%20b` for the directory `p=a b`).
  *
  * The partitions come back as a local DataFrame (partition columns at
  * the index's types, plus [[Dir]]). Filtering it with a partition
  * predicate runs on the driver and applies the same type coercion as
  * the same predicate on a scan of the dataset: a batch whose `p` is
  * the string "10" selects the directory `p=10` that reads back as int. */
private[ds] object LivePartitions {
  /** Column of [[of]] holding the leaf directory relative to the root. */
  val Dir = "__dir"

  /** The leaf partitions `existing` reads under `root`, `partCols` deep.
    * A read of several file relations (one per schema group of a
    * unified read) lists the union of their partitions, which must
    * read at one partition schema. */
  def of(spark: SparkSession, fs: FileSystem, root: Path, existing: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val specs = existing.queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .map {
        case s: StatsPrunedFileIndex => s.inner
        case i => i
      }
      .map {
        case i: PartitioningAwareFileIndex => i.partitionSpec()
        case i => throw new IllegalStateException(
          s"cannot list the partitions of $root: ${i.getClass.getName}")
      }
    val schema = specs.map(_.partitionColumns).distinct match {
      case Seq(one) => one
      case many => throw new IllegalStateException(
        s"$root: ${specs.size} file relations read partitions as " +
          many.map(_.simpleString).mkString(" and "))
    }
    require(schema.fieldNames.toSeq.sorted == partCols.sorted,
      s"$root: partition columns ${partCols.mkString(",")} read as ${schema.simpleString}")
    val qualifiedRoot = fs.makeQualified(root)
    def relDir(leaf: Path): String = {
      val names = Iterator.iterate(leaf)(_.getParent).take(partCols.length + 1).toSeq
      require(names.last != null && fs.makeQualified(names.last) == qualifiedRoot,
        s"partition $leaf is not ${partCols.length} levels under $qualifiedRoot")
      names.init.reverse.map(_.getName).mkString("/")
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val pos = partCols.map(schema.fieldIndex)
    val rows = specs.flatMap(_.partitions).distinctBy(_.path).map { pp =>
      val vals = toRow(pp.values).asInstanceOf[Row]
      Row.fromSeq(pos.map(vals.get) :+ relDir(pp.path))
    }
    val outSchema = StructType(pos.map(schema.fields(_)) :+ StructField(Dir, StringType, nullable = false))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, outSchema)
  }

  /** The directories of the partitions [[of]] returned that `partitions` keeps. */
  def dirs(partitions: DataFrame): Set[String] =
    partitions.select(Dir).collect().map(_.getString(0)).toSet

  /** Null-safe OR-of-equalities over `partCols`, one conjunct per row of
    * `vals` (its leading fields, in `partCols` order); false for no rows.
    * On a scan it folds into PartitionFilters. */
  def matching(partCols: Seq[String], vals: Seq[Row]): Column = vals
    .map(r => partCols.indices.map(i => col(partCols(i)) <=> lit(r.get(i))).reduce(_ && _))
    .reduceOption(_ || _).getOrElse(lit(false))
}
