package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowReader, ArrowStreamReader, ArrowStreamWriter, ArrowWriter}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftArrow, SparkSession}

/** Feather v2 (Arrow IPC file) and Arrow IPC stream read/write —
  * reference S3/W2 (`dataset/reader.py:118-138`,
  * `dataset/writer.py:398-409`) and the `to_arrow` edge S10.
  *
  * Every conversion is Spark's own ([[org.apache.spark.sql.GraftArrow]]):
  * executors encode a write's Arrow batches in one Spark job, and every
  * type Spark maps to Arrow round-trips. The IPC bytes sit on the
  * driver, as the reference's in-memory Table does, so feather is
  * driver-memory-bounded tool interop, not the 100 TB data path
  * (parquet). The file format is the same stream, re-framed by Arrow.
  */
object FeatherIO {
  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val in = fs(spark, path).open(new Path(path))
    try in.readAllBytes() finally in.close()
  }

  /** Copy every batch `open`'s reader loads to the writer `to` builds
    * over the reader's root: stream ⇄ file re-framing. */
  private def reframe(open: RootAllocator => ArrowReader,
      to: (VectorSchemaRoot, ArrowReader) => ArrowWriter): Unit = {
    val allocator = new RootAllocator()
    val reader = open(allocator)
    val writer = to(reader.getVectorSchemaRoot, reader)
    try {
      writer.start()
      while (reader.loadNextBatch()) writer.writeBatch()
      writer.end()
    } finally { writer.close(); reader.close(); allocator.close() }
  }

  /** Write a DataFrame to one Arrow IPC (feather v2) file; returns the
    * rows written. */
  def write(df: DataFrame, path: String): Long = {
    val stream = new ByteArrayOutputStream()
    val rows = GraftArrow.writeStream(df, stream)
    val out = fs(df.sparkSession, path).create(new Path(path), true)
    try reframe(new ArrowStreamReader(new ByteArrayInputStream(stream.toByteArray), _),
      (root, dicts) => new ArrowFileWriter(root, dicts, Channels.newChannel(out)))
    finally out.close()
    rows
  }

  /** Write a DataFrame as an Arrow IPC STREAM file (`pyarrow.ipc.open_stream`):
    * the reference's `to_arrow`/`to_pandas`/`to_polars` edge
    * (`utils/table.py:8-92`) for an engine with no shared memory. */
  def writeStream(df: DataFrame, path: String): Long = {
    val out = fs(df.sparkSession, path).create(new Path(path), true)
    try GraftArrow.writeStream(df, out) finally out.close()
  }

  /** A DataFrame as in-memory Arrow IPC stream bytes, the JVM analog of
    * the reference's `to_arrow()`. */
  def collectAsArrow(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    GraftArrow.writeStream(df, out)
    out.toByteArray
  }

  /** Read an Arrow IPC STREAM file back into a DataFrame. */
  def readStream(spark: SparkSession, path: String): DataFrame =
    GraftArrow.readStream(spark, readBytes(spark, path))

  /** Parse in-memory IPC stream bytes (the [[collectAsArrow]] inverse). */
  def readArrowBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    GraftArrow.readStream(spark, bytes)

  /** Read one Arrow IPC (feather v2) file into a DataFrame. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val stream = new ByteArrayOutputStream()
    reframe(new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(readBytes(spark, path)), _),
      (root, dicts) => new ArrowStreamWriter(root, dicts, Channels.newChannel(stream)))
    GraftArrow.readStream(spark, stream.toByteArray)
  }
}
