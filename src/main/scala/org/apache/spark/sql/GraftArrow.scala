package org.apache.spark.sql

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.channels.Channels
import org.apache.arrow.flatbuf.RecordBatch
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.{ArrowBatchStreamWriter, ArrowConverters}

/** DataFrame ⇄ Arrow IPC stream over Spark's package-private Arrow
  * converters, so every Spark↔Arrow type mapping and value copy is
  * Spark's own. Timestamps are labelled `UTC` whatever the session zone
  * (the values are UTC micros either way). */
object GraftArrow {
  /** Write `df` to `out` as one IPC stream; returns the rows written.
    * Executors encode the batches in one SQL execution; the encoded
    * bytes are collected to the driver. */
  def writeStream(df: DataFrame, out: OutputStream): Long = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("collectAsArrow")) {
      val batches = ds.toArrowBatchRdd(ds.queryExecution.executedPlan).collect()
      val writer = new ArrowBatchStreamWriter(df.schema, out, "UTC", true, false)
      writer.writeBatches(batches.iterator)
      writer.end()
      // each batch's row count, from its message header alone
      batches.iterator.map(b => MessageSerializer.readMessage(new ReadChannel(Channels.newChannel(
        new ByteArrayInputStream(b)))).getMessage.header(new RecordBatch).asInstanceOf[RecordBatch].length).sum
    }
  }

  /** One IPC stream's rows as a `LocalRelation` DataFrame. Rows leave
    * their Arrow batch through an `UnsafeProjection`, as Spark Connect's
    * local relations do: a batch row's own `copy` fails on a primitive
    * array holding a null. */
  def readStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val (rows, schema) = ArrowConverters.fromIPCStream(bytes)
    val toUnsafe = UnsafeProjection.create(schema)
    val copied = try rows.map(r => toUnsafe(r).copy()).toVector finally rows.close()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), copied))
  }
}
