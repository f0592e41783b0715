package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The write half of the DSv2 connector — `to_snowflake`'s architecture
  * (SURVEY §3.2): every partition writes its own staged file in parallel
  * (`write_pandas` per partition, core.py:117-120); names are unique per
  * (task, attempt) so speculative/retried tasks never collide; `abort`
  * deletes the attempt's file. Overwrite maps to truncate-at-commit-time
  * like the reference's `overwrite=True` passthrough (test_core.py:135).
  *
  * `df.write.format("graft").mode(...).save(dir)` stages files that
  * [[BatchSource]] (or any parquet reader) reads back — the two halves
  * of the connector close the loop. Like `write_pandas`, the sink does
  * not encode parquet itself: every file is written by the `OutputWriter`
  * Spark's `ParquetUtils.prepareWrite` returns — the encoder and
  * Spark→parquet type mapping `df.write.parquet` runs — under the pinned
  * [[BatchSink.writeConf]]. The schema must pass
  * [[BatchSource.requireReadable]], checked here on the driver before any
  * task stages a file.
  */
private[sources] class BatchWriteBuilder(
    schema: StructType, dir: String, partitionBy: Seq[String])
    extends WriteBuilder with SupportsTruncate {

  BatchSource.requireReadable(schema)

  partitionBy.foreach { c =>
    require(schema.fieldNames.contains(c),
      s"partition_by column '$c' not in the written schema " +
        s"[${schema.fieldNames.mkString(",")}]")
    // a '.'/'_'-prefixed directory segment is HIDDEN to the reader's
    // listing — such a write would succeed and then be invisible
    require(!c.startsWith(".") && !c.startsWith("_"),
      s"partition_by column '$c' would create hidden '$c=...' directories " +
        "the reader skips")
    // '=' / '/' in the NAME corrupt the path encoding itself (values are
    // URL-encoded, names are not): parseRaw would split at the first '='
    // and reconstruct a phantom column, silently losing this one
    require(!c.contains("=") && !c.contains("/"),
      s"partition_by column name '$c' must not contain '=' or '/'")
    // partition values become PATH segments, so only types with an exact
    // reader-invertible string form are routable. Validate HERE, on the
    // driver at build time — the routing writer's own type switch throwing
    // mid-write surfaced the mistake as an executor task failure after
    // staged files already existed. Readback note: IntegerType values come
    // back as LongType (the path carries only digits and
    // [[Partitions.inferType]] infers the widest integral type) — pinned
    // in ConnectorSpec.
    schema(c).dataType match {
      case IntegerType | LongType | StringType | BooleanType | DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"partition_by column '$c' has unsupported type $other — " +
          "supported: int, long, string, boolean, double")
    }
  }
  require(partitionBy.size < schema.length || partitionBy.isEmpty,
    "partition_by cannot cover every column — data files would be empty")

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    if (!doTruncate) {
      // APPEND must not mix layouts: a partitioned subtree appended with
      // different (or no) partition columns would silently degrade the
      // whole directory's inferred schema (partition keys are only
      // recognized when present in EVERY file's path). Overwrite replaces
      // the layout, so any partitioning is fine there.
      val conf = BatchSource.hadoopConf()
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir))
      val existing = BatchSource.listFiles(opts, conf)
      if (existing.nonEmpty) {
        val layout = Partitions.partitionFields(existing, conf,
          BatchSource.qualifiedDir(opts, conf)).map(_.name)
        require(layout == partitionBy,
          s"append partitioning [${partitionBy.mkString(",")}] does not match " +
            s"the existing layout [${layout.mkString(",")}] at $dir")
      }
    }
    new Write {
      override def toBatch: BatchWrite =
        new BatchSinkWrite(schema, dir, doTruncate, partitionBy)
    }
  }
}

private[sources] class BatchSinkWrite(
    schema: StructType, dir: String, truncate: Boolean, partitionBy: Seq[String])
    extends BatchWrite {

  /** Spark's parquet writer, prepared once on the driver under the pinned
    * [[BatchSink.writeConf]] and shipped with its Hadoop conf to every
    * task. Partition columns are carried by the paths, so the data files'
    * schema excludes them. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val job = Job.getInstance(BatchSource.hadoopConf())
    val sqlConf = BatchSink.writeConf()
    val factory = ParquetUtils.prepareWrite(sqlConf, job,
      StructType(schema.filterNot(f => partitionBy.contains(f.name))),
      new ParquetOptions(Map.empty[String, String], sqlConf))
    new BatchWriterFactory(schema, dir, partitionBy, factory,
      new SerializableConfiguration(job.getConfiguration))
  }

  /** Commit: truncate-then-visible. Staged attempt files are invisible to
    * [[BatchSource]] until renamed to `.parquet` here, so readers never
    * see a half-written result — the same DDL-before-DML sequencing idea
    * as the reference's schema-first write (core.py:110-116). Truncate
    * walks recursively so a partitioned layout's `col=value/` subtrees
    * are emptied too. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = BatchSource.hadoopConf()
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (truncate && fs.exists(path)) {
      // delete exactly what readers see: the same manual walk as
      // BatchSource.listFiles (the located-status iterator stats every
      // file and throws if a concurrent writer's temp file vanishes)
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir))
      BatchSource.listFiles(opts, conf).foreach(f => fs.delete(f.getPath, false))
    }
    messages.foreach { case BatchFileCommit(stagedPaths) =>
      stagedPaths.foreach { staged =>
        val p = new Path(staged)
        fs.rename(p, new Path(p.getParent, p.getName.stripSuffix(".staged") + ".parquet"))
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = BatchSource.hadoopConf()
    messages.foreach { case BatchFileCommit(stagedPaths) =>
      stagedPaths.foreach { staged =>
        val p = new Path(staged)
        p.getFileSystem(conf).delete(p, false)
      }
    }
  }
}

private[sources] case class BatchFileCommit(stagedPaths: Seq[String])
    extends WriterCommitMessage

private[sources] class BatchWriterFactory(
    schema: StructType, dir: String, partitionBy: Seq[String],
    factory: OutputWriterFactory, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (partitionBy.isEmpty)
      new BatchDataWriter(schema, dir, partitionId, taskId, factory, conf)
    else
      new PartitionedBatchDataWriter(schema, dir, partitionId, taskId,
        partitionBy, factory, conf)
}

/** Hive-layout routing writer: each row lands in the file for its
  * partition-value combination (`col=value/part-…`), partition columns are
  * DROPPED from the data files (the path carries them — exactly the
  * layout [[Partitions.partitionFields]] reads back). One open writer per
  * distinct combination per task: writers scale with the task's distinct
  * partition values, so callers should cluster input by the partition key
  * (`df.repartition(col)`) the same way Spark's own file sink expects. */
private[sources] class PartitionedBatchDataWriter(
    schema: StructType, dir: String, partitionId: Int, taskId: Long,
    partitionBy: Seq[String], factory: OutputWriterFactory,
    conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private val partOrds: Array[Int] = partitionBy.map(schema.fieldIndex).toArray
  private val dataFields: Array[Int] =
    schema.fields.indices.filterNot(partOrds.contains(_)).toArray
  private val dataSchema = StructType(dataFields.map(schema.fields))
  // partition columns projected out without a copy; the path carries them
  private val projected = ProjectingInternalRow(dataSchema, dataFields.toIndexedSeq)

  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, BatchDataWriter]

  private def partValue(row: InternalRow, ord: Int, name: String): Any =
    if (row.isNullAt(ord)) null
    else schema.fields(ord).dataType match {
      case IntegerType => row.getInt(ord)
      case LongType => row.getLong(ord)
      case StringType => row.getUTF8String(ord).toString
      case BooleanType => row.getBoolean(ord)
      case DoubleType => row.getDouble(ord)
      case other => throw new IllegalArgumentException(
        s"unsupported partition_by type $other for column '$name'")
    }

  // hot-path cache: after the documented repartition(col) clustering,
  // consecutive rows almost always share a partition key — compare the
  // raw values against the previous row's before rebuilding the
  // URL-encoded directory string
  private var lastVals: Array[Any] = _
  private var lastWriter: BatchDataWriter = _

  override def write(row: InternalRow): Unit = {
    val vals = new Array[Any](partOrds.length)
    var i = 0
    while (i < partOrds.length) {
      vals(i) = partValue(row, partOrds(i), partitionBy(i))
      i += 1
    }
    if (lastVals == null || !java.util.Arrays.equals(
        vals.asInstanceOf[Array[AnyRef]], lastVals.asInstanceOf[Array[AnyRef]])) {
      val key = partitionBy.zip(vals.toIndexedSeq)
        .map { case (n, v) => s"$n=${Partitions.encode(v)}" }.mkString("/")
      lastWriter = open.getOrElseUpdate(key,
        new BatchDataWriter(dataSchema, s"$dir/$key", partitionId, taskId, factory, conf))
      lastVals = vals
    }
    projected.project(row)
    lastWriter.write(projected)
  }

  override def commit(): WriterCommitMessage =
    BatchFileCommit(open.values.toSeq.flatMap(_.commit() match {
      case BatchFileCommit(ps) => ps
    }))

  override def abort(): Unit = open.values.foreach(_.abort())

  override def close(): Unit = open.values.foreach(_.close())
}

/** One staged file, encoded by the `OutputWriter` Spark's own parquet
  * source uses (`ParquetOutputWriter` over `ParquetWriteSupport`):
  * `InternalRow`s go straight through, no per-row conversion. */
private[sources] class BatchDataWriter(
    dataSchema: StructType, dir: String, partitionId: Int, taskId: Long,
    factory: OutputWriterFactory, conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  // unique per (partition, task attempt): retries never collide
  private val staged = new Path(dir,
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.staged")
  // the write support reads its rebase modes from SQLConf.get when it is
  // built, so it is built under the pinned conf, not the session's
  private lazy val writer: OutputWriter =
    SQLConf.withExistingConf(BatchSink.writeConf()) {
      factory.newInstance(staged.toString, dataSchema,
        new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
    }

  override def write(row: InternalRow): Unit = writer.write(row)

  override def commit(): WriterCommitMessage = {
    writer.close()
    BatchFileCommit(Seq(staged.toString))
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    staged.getFileSystem(conf.value).delete(staged, false)
  }

  override def close(): Unit = ()
}

private[sources] object BatchSink {

  /** The settings every staged file is written with, whatever the session
    * says: INT64 µs timestamps (not legacy INT96), snappy, Spark's standard
    * (non-legacy) list, map and decimal layout, and CORRECTED rebase
    * (values stored as given, no calendar shift — the mode
    * [[BatchSource.readerFactory]] decodes with). */
  def writeConf(): SQLConf = {
    val c = new SQLConf
    Seq(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE -> "TIMESTAMP_MICROS",
      SQLConf.PARQUET_COMPRESSION -> "snappy",
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT -> "false",
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE -> "CORRECTED")
      .foreach { case (k, v) => c.setConfString(k.key, v) }
    c
  }
}
