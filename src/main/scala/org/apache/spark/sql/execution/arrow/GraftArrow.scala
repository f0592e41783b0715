package org.apache.spark.sql.execution.arrow

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Opens Spark's package-private Arrow code to graft's IPC interchange:
  * the Spark → Arrow schema (timestamps zoned "UTC"), the streaming
  * IPC-stream decoder and the `InternalRow` DataFrame constructor. */
object GraftArrow {
  def arrowSchema(schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, "UTC", true, false)

  /** Rows of one IPC stream, one loaded batch at a time; the reader and
    * its allocator close when drained or at task completion. */
  def rows(ipcStream: Array[Byte]): Iterator[InternalRow] =
    ArrowConverters.fromIPCStreamWithIterator(ipcStream, TaskContext.get())._1

  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rows, schema)
}
