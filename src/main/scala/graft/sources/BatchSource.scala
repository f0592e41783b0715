package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterAggregates, ParquetFilters, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.connector.Partitioner

/** DataSource V2 connector — the literal re-expression of the reference's
  * read architecture (SURVEY §1.2: `ArrowResultBatch` lazy handle ↔
  * `InputPartition`):
  *
  *   - a staged result set is a directory of parquet files (what
  *     `write_pandas` uploads to a Snowflake stage, core.py:32-40);
  *   - the "batches" are parquet ROW GROUPS — lazy handles carrying only
  *     (path, index, rows, byte range) from the footers, no data, exactly like
  *     the reference's batch objects carry stage URLs (core.py:144-146);
  *   - `planInputPartitions` greedy-packs batches into size- or
  *     count-targeted partitions with the SAME [[Partitioner.pack]]
  *     algorithm the reference implements (core.py:149-197);
  *   - each partition is read on the executor by Spark's own
  *     `ParquetPartitionReaderFactory` ([[BatchSource.readerFactory]]):
  *     one byte-range `PartitionedFile` per run of consecutive planned row
  *     groups, hive partition values as its partition values — the
  *     parallel worker↔stage data plane of SURVEY §3.1 stage 10, decoded
  *     columnar or by row as the session decodes `spark.read.parquet`.
  *
  * Options: `partition_size` (default 100 MiB) / `npartitions`, exactly
  * one (core.py:164-167). Column pruning is pushed into the parquet reads
  * via `SupportsPushDownRequiredColumns`. The schema is the first footer
  * through Spark's own `ParquetToSparkSchemaConverter`, under the flags
  * the reader is pinned to ([[BatchSource.readConf]]). Scope, enforced by
  * [[BatchSource.requireReadable]]: flat relational schemas (the shape
  * `write_pandas` stages) plus one nesting level — array<leaf>
  * (embeddings), map<leaf,leaf> and struct<leaf…> (multimodal metadata);
  * deeper nesting is rejected at schema inference.
  *
  * Pruning and pushdown run Spark's and parquet-mr's own code, like the
  * decode: pushed and runtime filters become parquet predicates through
  * Spark's `ParquetFilters`, and a row group is planned iff parquet-mr's
  * `RowGroupFilter` keeps it on its footer statistics
  * ([[BatchSource.prune]]); global COUNT(*)/MIN/MAX come from the footers
  * through Spark's `ParquetUtils.createAggInternalRowFromFooter`, one row
  * per file, merged by Spark's own final aggregate ([[BatchScanBuilder]]).
  *
  * Usage: `spark.read.format("graft").option("npartitions", 8).load(dir)`.
  */
class BatchSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = BatchSource.hadoopConf()
    val files = BatchSource.listFiles(options, conf)
    require(files.nonEmpty, s"no parquet files under '${BatchSource.dir(options)}'")
    // the data columns: the first footer through Spark's own converter,
    // under the flags the reader is pinned to
    val fileSchema = new ParquetToSparkSchemaConverter(BatchSource.readConf(conf))
      .convert(BatchSource.footerSchema(files.head, conf))
    // hive-style `col=value/` segments become trailing partition columns
    // (the layout [[PartitionedBatchDataWriter]] stages)
    StructType(
      BatchSource.requireReadable(fileSchema).fields ++
        Partitions.partitionFields(files, conf,
          BatchSource.qualifiedDir(options, conf)))
  }

  /** Writes arrive with the DataFrame's schema — don't force inference
    * (the target dir may not exist yet). */
  override def supportsExternalMetadata(): Boolean = true

  /** The existing hive layout IS the table's partitioning — declaring it
    * here lets `df.write.format("graft").partitionBy(...)` validate
    * against (and write into) the on-disk layout. */
  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val conf = BatchSource.hadoopConf()
    Partitions.partitionFields(BatchSource.listFiles(options, conf), conf,
        BatchSource.qualifiedDir(options, conf))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.identity(f.name))
      .toArray
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BatchTable(schema, new CaseInsensitiveStringMap(properties), partitioning)
}

/** Insertion-ordered bounded cache: past `max` entries the OLDEST entry
  * is evicted. Backs the per-scan footer-sweep cache — a replan-heavy
  * workload cycling distinct runtime filters must not grow driver memory
  * without bound. */
private[sources] final class BoundedCache[K, V](max: Int) {
  private val m = mutable.LinkedHashMap.empty[K, V]
  def getOrElseUpdate(k: K, v: => V): V = synchronized {
    m.get(k) match {
      case Some(x) => x
      case None =>
        val x = v
        m.put(k, x)
        while (m.size > max) m.remove(m.head._1)
        x
    }
  }
  def size: Int = synchronized(m.size)
  def contains(k: K): Boolean = synchronized(m.contains(k))
}

private[sources] object BatchSource {

  /** Fixed-size digest of a file listing — the cache key holds 65 bytes
    * per entry instead of the full path list (100k paths × several
    * replans held megabytes of strings). Length-prefixed + NUL-separated,
    * so no concatenation of distinct lists collides. */
  private[sources] def pathDigest(paths: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    paths.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    s"${paths.length}:${md.digest().map("%02x".format(_)).mkString}"
  }

  def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "BatchSource requires a path: spark.read.format(\"graft\").load(dir)")
    p
  }

  /** Canonical (fs-qualified) form of the stage dir — the same prefix
    * file statuses report, so root-relative path arithmetic (partition
    * parsing) is exact. */
  def qualifiedDir(options: CaseInsensitiveStringMap, conf: Configuration): String = {
    val p = new Path(dir(options))
    p.getFileSystem(conf).makeQualified(p).toString
  }

  /** The SESSION's hadoop conf — spark.hadoop.* settings (object-store
    * credentials etc.) must reach the connector's filesystem access. */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** All staged `.parquet` files under the directory, RECURSIVE so
    * hive-layout `col=value/` subtrees are discovered; hidden segments
    * (`.`/`_` prefixes, e.g. `_spark_metadata`) are skipped. */
  def listFiles(options: CaseInsensitiveStringMap, conf: Configuration): Seq[FileStatus] = {
    val path = new Path(dir(options))
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      // manual walk with listStatus, not fs.listFiles(recursive=true): the
      // located-status iterator stats every file (a shell exec per file on
      // the local FS) and throws if a concurrent writer's temp file
      // vanishes mid-walk — a live stage directory is exactly that.
      def walk(p: Path): Unit = {
        val entries =
          try fs.listStatus(p)
          catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
        entries.foreach { e =>
          val name = e.getPath.getName
          if (name.startsWith(".") || name.startsWith("_")) ()
          else if (e.isDirectory) walk(e.getPath)
          else if (e.isFile && name.endsWith(".parquet")) out += e
        }
      }
      walk(path)
      out.toIndexedSeq.sortBy(_.getPath.toString)
    }
  }

  def footerSchema(file: FileStatus, conf: Configuration): MessageType = {
    val in = HadoopInputFile.fromStatus(file, conf)
    val reader = ParquetFileReader.open(in)
    try reader.getFooter.getFileMetaData.getSchema
    finally reader.close()
  }

  /** Spark's parquet schema-converter flags, pinned instead of read from
    * the session (`Tables.register` turns nanos-as-long on session-wide):
    * exact names, opaque BINARY, INT96 as a timestamp, NTZ inference, and
    * TIMESTAMP(NANOS) rejected — the vectorized reader cannot decode it.
    * Schema inference and the executor-side reader share this one set. */
  def readConf(hadoopConf: Configuration): Configuration = {
    val c = new Configuration(hadoopConf)
    Seq(SQLConf.CASE_SENSITIVE -> true, SQLConf.PARQUET_BINARY_AS_STRING -> false,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> true,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> true,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> false)
      .foreach { case (k, v) => c.setBoolean(k.key, v) }
    c
  }

  /** The one shape rule of graft stages, for reads and writes alike:
    * atomic leaves (boolean, byte, short, int, long, float, double,
    * string, binary, date, decimal, timestamp, timestamp_ntz) and one
    * nesting level — array, map or non-empty struct of leaves (the
    * `embeddings` and multimodal `meta` shapes). */
  def requireReadable(schema: StructType): StructType = {
    def leaf(dt: DataType): Boolean = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | StringType | BinaryType | DateType |
          TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    schema.fields.foreach { f =>
      val ok = f.dataType match {
        case ArrayType(e, _) => leaf(e)
        case MapType(k, v, _) => leaf(k) && leaf(v)
        case st: StructType => st.nonEmpty && st.fields.forall(s => leaf(s.dataType))
        case dt => leaf(dt)
      }
      if (!ok) throw new IllegalArgumentException(
        s"column '${f.name}' has type ${f.dataType.simpleString}, unsupported " +
          "by graft stages: atomic leaves and one nesting level only " +
          "(array, map or struct of leaves)")
    }
    schema
  }

  /** One lazy batch handle = one row group (path + index + row count);
    * the row group's column chunks occupy bytes [start, start + bytes). */
  case class BatchHandle(path: String, rowGroup: Int, rows: Long, bytes: Long,
      start: Long)

  /** A row group as the footer sweep keeps it on the driver: its handle,
    * the file's schema (one instance per distinct schema) and the row
    * group's column-chunk metadata cut down to the swept columns — the
    * min/max/null counts parquet-mr's `RowGroupFilter` reads. */
  case class RowGroup(handle: BatchHandle, schema: MessageType, chunks: BlockMetaData)

  /** Test hook: each discoverBatches call is one full footer sweep (it
    * opens EVERY staged file's footer) — specs pin how many a query runs. */
  private[sources] val footerSweeps = new java.util.concurrent.atomic.AtomicLong

  /** Every row group of `files`, keeping the chunks of the columns named
    * in `cols` — quoted column paths, as Spark's source filters and
    * `ParquetFilters` name them. */
  def discoverBatches(
      files: Seq[FileStatus], conf: Configuration,
      cols: Set[String] = Set.empty): Seq[RowGroup] = {
    footerSweeps.incrementAndGet()
    val schemas = mutable.HashMap.empty[MessageType, MessageType]
    files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val footer = reader.getFooter
        val fileSchema = footer.getFileMetaData.getSchema
        val schema = schemas.getOrElseUpdate(fileSchema, fileSchema)
        footer.getBlocks.asScala.zipWithIndex.map { case (b, i) =>
          val chunks = new BlockMetaData
          chunks.setRowCount(b.getRowCount)
          if (cols.nonEmpty) b.getColumns.asScala
            .filter(c => cols(QuotingUtils.quoted(c.getPath.toArray)))
            .foreach(chunks.addColumn(_))
          RowGroup(BatchHandle(f.getPath.toString, i, b.getRowCount,
            b.getCompressedSize, b.getStartingPos), schema, chunks)
        }.toIndexedSeq
      } finally reader.close()
    }
  }

  /** `In` lists up to this length prune per value (`ParquetFilters` makes
    * them an OR of equalities); longer ones prune by their value range.
    * parquet-mr walks the OR chain recursively, and 5,000 values overflow
    * a 1 MiB thread stack. */
  private val InThreshold = 1000

  /** The row groups some row of which may satisfy every filter. Spark's
    * `ParquetFilters` converts the filters against each file's schema
    * (a filter it cannot convert prunes nothing), and parquet-mr's
    * `RowGroupFilter` keeps a row group unless its statistics rule the
    * predicate out. */
  def prune(filters: Seq[Filter], groups: Seq[RowGroup]): Seq[RowGroup] = {
    if (filters.isEmpty) return groups
    val kept = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[BlockMetaData, java.lang.Boolean])
    groups.groupBy(_.schema).foreach { case (schema, gs) =>
      val pf = new ParquetFilters(schema, true, true, true, true, InThreshold, true,
        RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
      val blocks = gs.map(_.chunks).asJava
      kept.addAll(filters.flatMap(pf.createFilter).reduceOption(FilterApi.and) match {
        // the schema overload: the other one needs an open file reader,
        // and cached sweeps re-prune without reopening files
        case Some(p) => RowGroupFilter.filterRowGroups(FilterCompat.get(p), blocks, schema)
        case None => blocks
      })
    }
    groups.filter(g => kept.contains(g.chunks))
  }

  /** The partition columns `required` reads, in its order. */
  def partSchema(required: StructType, partCols: Seq[StructField]): StructType =
    StructType(required.fields.filter(f => partCols.exists(_.name == f.name)))

  /** One packed group as an input partition: a `PartitionedFile` per
    * maximal run of consecutive row groups of one file, spanning
    * [first start, last start + bytes). Parquet keeps a row group iff its
    * midpoint falls in the range, so the range selects exactly the run and
    * a pruned row group between two runs stays unread. The file's hive
    * values ride as its partition values. */
  def inputPartition(handles: Seq[BatchHandle], partSchema: StructType,
      rootDir: String): InputPartition =
    BatchInputPartition(runs(handles).map { run =>
      val (first, last) = (run.head, run.last)
      PlannedRun(PartitionedFile(Partitions.row(first.path, rootDir, partSchema),
          SparkPath.fromPathString(first.path),
          first.start, last.start + last.bytes - first.start),
        run.map(_.rowGroup), run.map(_.rows).sum)
    }.toArray)

  /** Handles grouped into maximal runs of consecutive row groups per file,
    * in (path, row group) order. */
  def runs(handles: Seq[BatchHandle]): Seq[Seq[BatchHandle]] =
    handles.sortBy(h => (h.path, h.rowGroup))
      .foldLeft(List.empty[List[BatchHandle]]) {
        case ((prev :: run) :: done, h)
            if prev.path == h.path && prev.rowGroup + 1 == h.rowGroup =>
          (h :: prev :: run) :: done
        case (done, h) => List(h) :: done
      }
      .reverse.map(_.reverse)

  /** The reader of batch scans and micro-batch streams: Spark's own
    * `ParquetPartitionReaderFactory`, built as `ParquetScan` builds it, so
    * the session decides columnar or row decode, batch size and off-heap
    * vectors as it does for `spark.read.parquet`. The conf is
    * [[readConf]] plus the read-support keys, so every file reads as
    * schema inference saw it. No filters and no aggregate: planning has
    * pruned, and the factory's row-group filter could drop a planned
    * group. Rebase modes are CORRECTED: values decode as stored unless a
    * file's own metadata says it was written with the legacy calendar. */
  def readerFactory(required: StructType, partCols: Seq[StructField],
      hadoopConf: Configuration): PartitionReaderFactory = {
    // the reader appends partition columns after the file's columns;
    // inferSchema (and column pruning, which keeps its order) already
    // puts them last
    val parts = partSchema(required, partCols)
    val data = StructType(required.fields.filterNot(parts.contains))
    require(required.fields.sameElements(data.fields ++ parts.fields),
      s"partition columns must trail the data columns: ${required.simpleString}")
    val conf = readConf(hadoopConf)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, data.json)
    val sqlConf = SQLConf.get
    PlannedRunsFactory(ParquetPartitionReaderFactory(sqlConf,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf)),
      data, data, parts, Array.empty, None,
      new ParquetOptions(Map(ParquetOptions.DATETIME_REBASE_MODE -> "CORRECTED",
        ParquetOptions.INT96_REBASE_MODE -> "CORRECTED"), sqlConf)))
  }
}

private[sources] class BatchTable(
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    partitionTransforms: Array[Transform] = Array.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft:${BatchSource.dir(options)}"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = partitionTransforms
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new BatchScanBuilder(tableSchema, options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // `partition_by=colA[,colB]` write option, or the native
    // `df.write.partitionBy(...)` identity transforms — same sink path
    val fromTransforms = partitionTransforms.toSeq.flatMap(t =>
      t.references.headOption.map(_.fieldNames.mkString(".")))
    val partitionBy = Option(info.options.get("partition_by"))
      .orElse(Option(options.get("partition_by")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(fromTransforms)
    new BatchWriteBuilder(info.schema(), BatchSource.dir(options), partitionBy)
  }
}

/** Pushdown into graft scans: column pruning, filters (row-group pruning
  * by Spark's `ParquetFilters` and parquet-mr's `RowGroupFilter`, exact
  * partition pruning by [[Partitions]]), LIMIT on footer row counts, and
  * global COUNT(*)/MIN/MAX from footers through Spark's `ParquetUtils`. */
private[sources] class BatchScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  // validate the partition spec eagerly (core.py:164-167) — every scan
  // path, including the metadata-only aggregate path, must reject
  // contradictory options
  Partitioner.resolveSpec(
    Option(options.get("npartitions")).map(_.toInt),
    Option(options.get("partition_size")))

  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** The directory's hive-layout partition columns (one listing + one
    * footer open; empty for flat stages). */
  private lazy val partCols: Seq[StructField] = {
    val conf = BatchSource.hadoopConf()
    Partitions.partitionFields(BatchSource.listFiles(options, conf), conf,
      BatchSource.qualifiedDir(options, conf))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the file's field order; keep only requested columns — and
    // for struct columns only the requested LEAVES (Spark's nested schema
    // pruning hands us e.g. meta:struct<mime> when the query touches only
    // meta.mime; decoding the other leaves would be pure waste)
    required = StructType(fullSchema.fields.flatMap { f =>
      requiredSchema.fields.find(_.name == f.name).map { rf =>
        (f.dataType, rf.dataType) match {
          case (fs: StructType, rs: StructType) =>
            val kept = fs.fields.filter(sf => rs.fieldNames.contains(sf.name))
            if (kept.isEmpty) f else f.copy(dataType = StructType(kept))
          case _ => f
        }
      }
    })

  /** Accept filters for ROW-GROUP PRUNING via footer min/max stats
    * (`ParquetFilters` + `RowGroupFilter`, [[BatchSource.prune]]) —
    * whole batches whose stats exclude the predicate are never planned,
    * never opened, never read. A filter whose partition-only part is the
    * whole filter ([[Partitions.absorbable]]: every leaf on a partition
    * column, with a literal of that column's type) is absorbed
    * COMPLETELY (file-level evaluation is exact — a partition value is
    * constant across its file), so Spark drops it from the plan and
    * column pruning can drop the partition column itself; all other
    * filters are returned as residual: row-group pruning is a
    * skip-optimization, row-level evaluation stays with Spark (same
    * contract as parquet row-group skipping). */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters.filterNot(Partitions.absorbable(_, partCols))
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // -------- aggregate pushdown: COUNT(*)/MIN/MAX answered from footers --
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}

  private var aggRows: Option[(StructType, Seq[InternalRow])] = None

  /** Global COUNT(*)/MIN/MAX need no data at all: row counts and column
    * min/max live in the parquet footers (the warehouse-connector trick —
    * Snowflake answers these from metadata too). Only attempted by Spark
    * when no residual filters exist, so metadata is authoritative. The
    * pushdown is PARTIAL: the scan yields one row per file and Spark's
    * own final aggregate merges them. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggRows = translateAgg(agg)
    aggRows.isDefined
  }

  /** One row per file: data columns through Spark's
    * `ParquetUtils.createAggInternalRowFromFooter`, partition columns from
    * the file's path (constant per file). None = let Spark scan: a shape
    * other than global COUNT(*)/MIN/MAX of a top-level column, footer
    * min/max that are not exact ([[footerExact]], [[zeroFloatBound]]),
    * or a row group without them. */
  private def translateAgg(agg: Aggregation): Option[(StructType, Seq[InternalRow])] = {
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    def column(e: org.apache.spark.sql.connector.expressions.Expression) = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        fullSchema.find(_.name == r.fieldNames.head)
      case _ => None
    }
    // each aggregate's output field and the column it reads (None: COUNT(*))
    val outs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((StructField("count(*)", LongType, nullable = false), None))
      case m: Min => column(m.column).map(f => (f.copy(s"min(${f.name})", nullable = true), Some(f.name)))
      case m: Max => column(m.column).map(f => (f.copy(s"max(${f.name})", nullable = true), Some(f.name)))
      case _ => None
    }
    if (outs.exists(_.isEmpty)) return None
    val (outFields, cols) = outs.flatten.unzip
    val partNames = partCols.map(_.name).toSet
    // COUNT(*) and data-column MIN/MAX come from the footers
    val fromFooter = cols.map(!_.exists(partNames))
    val dataCols = cols.flatten.toSet -- partNames
    val dataAgg = new Aggregation(
      agg.aggregateExpressions.zip(fromFooter).collect { case (a, true) => a }, Array.empty)
    val dataAggSchema = StructType(outFields.zip(fromFooter).collect { case (f, true) => f })
    val conf = BatchSource.hadoopConf()
    val qroot = BatchSource.qualifiedDir(options, conf)
    val groups = BatchSource.discoverBatches(
      BatchSource.listFiles(options, conf), conf, dataCols.map(QuotingUtils.quoteIfNeeded))
    val rows = groups.groupBy(_.handle.path).toSeq.map { case (path, gs) =>
      // Spark's footer code indexes chunks and schema fields by the data
      // schema's positions: hand it exactly the aggregated columns
      val fields = gs.head.schema.getFields.asScala.filter(f => dataCols(f.getName))
      if (fields.size != dataCols.size || !fields.forall(footerExact) ||
          gs.exists(g => zeroFloatBound(g.chunks))) return None
      val footer = new ParquetMetadata(new FileMetaData(
          new MessageType("agg", fields.asJava), util.Map.of(), null),
        gs.map(_.chunks).asJava)
      val footerRow =
        try GraftFooterAggregates.row(footer, path,
          StructType(fields.map(f => fullSchema(f.getName)).toSeq), dataAgg, dataAggSchema)
        catch { case _: UnsupportedOperationException => return None } // no min/max
      val footerValues = dataAggSchema.fields.indices.iterator
        .map(i => footerRow.get(i, dataAggSchema(i).dataType))
      val parts = Partitions.row(path, qroot, partCols)
      new GenericInternalRow(cols.zip(fromFooter).map[Any] {
        case (_, true) => footerValues.next()
        case (c, false) =>
          val i = partCols.indexWhere(_.name == c.get)
          parts.get(i, partCols(i).dataType)
      }.toArray): InternalRow
    }
    // all files empty: no row would leave COUNT(*) NULL, not 0
    if (rows.isEmpty) None else Some((StructType(outFields), rows))
  }

  /** Footer min/max that Spark's row converter turns into the exact
    * value: BOOLEAN, FLOAT, DOUBLE and signed INT32/INT64 (ints, DATE,
    * DECIMAL up to 18 digits, timestamps). Byte-ordered BINARY and
    * FIXED_LEN_BYTE_ARRAY (strings, binary, wider decimals; parquet may
    * truncate them), INT96 (no statistics) and unsigned ints (unsigned
    * order) decline to a scan. */
  private def footerExact(t: Type): Boolean = t.isPrimitive &&
    Set(BOOLEAN, INT32, INT64, FLOAT, DOUBLE)(t.asPrimitiveType.getPrimitiveTypeName) &&
    (t.getLogicalTypeAnnotation match {
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => true
    })

  /** A FLOAT/DOUBLE chunk whose min or max is zero: parquet-mr widens a
    * zero min to -0.0 and a zero max to +0.0 when it reads statistics
    * (safe for pruning), so the footer no longer says which zero the
    * data holds and `min`/`max` would answer -0.0 where the data says
    * 0.0. Such aggregates scan. */
  private def zeroFloatBound(chunks: BlockMetaData): Boolean =
    chunks.getColumns.asScala.exists { c =>
      val st = c.getStatistics
      Set(FLOAT, DOUBLE)(c.getPrimitiveType.getPrimitiveTypeName) &&
        st != null && st.hasNonNullValue &&
        Seq(st.genericGetMin, st.genericGetMax).exists(_.asInstanceOf[Number].doubleValue == 0.0)
    }

  /** LIMIT pushdown — footer row counts make a filterless LIMIT a
    * metadata question: the scan keeps only a PREFIX of row-group
    * batches whose cumulative count covers n, instead of planning the
    * whole stage. PARTIAL pushdown (the default contract): Spark keeps
    * its exact limit on top, so truncation only ever has to be a
    * superset-prefix — which is exactly what raw footer counts
    * guarantee WHEN NO FILTER is pushed. With filters the qualifying
    * row count per batch is unknowable from metadata, a truncated
    * prefix could under-produce, so the pushdown declines (the same
    * honesty rule as the aggregate pushdown above). */
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean =
    if (pushed.isEmpty && n >= 0) { limit = Some(n); true } else false

  override def build(): Scan = aggRows match {
    case Some((schema, rows)) => new MetadataAggScan(schema, rows, options)
    case None => new BatchScan(required, options, pushed, partCols, limit)
  }
}

/** A scan whose entire result was computed from footer metadata on the
  * driver: one partition holding one aggregate row per file, zero data
  * files opened. */
private[sources] class MetadataAggScan(
    aggSchema: StructType, rows: Seq[InternalRow], options: CaseInsensitiveStringMap)
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema

  override def description(): String =
    s"GraftBatchScan(dir=${BatchSource.dir(options)}, METADATA-ONLY agg=[" +
      aggSchema.fieldNames.mkString(",") + "])"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(MetadataAggPartition(rows))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[MetadataAggPartition].rows.iterator
          private var row: InternalRow = _
          override def next(): Boolean = it.hasNext && { row = it.next(); true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

private[sources] case class MetadataAggPartition(rows: Seq[InternalRow])
    extends InputPartition

private[sources] class BatchScan(
    required: StructType, options: CaseInsensitiveStringMap,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    partCols: Seq[StructField] = Seq.empty,
    limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private val conf = BatchSource.hadoopConf()
  private lazy val allFiles = BatchSource.listFiles(options, conf)
  private lazy val rootDir = BatchSource.qualifiedDir(options, conf)

  /** PARTITION PRUNING — the first and cheapest gate: whole files whose
    * path-encoded partition values contradict a filter are dropped from
    * the listing before any footer is opened (zero IO per excluded file;
    * at 100 TB this is the difference between touching one `lang=en/`
    * subtree and sweeping every footer in the stage). The partition parts
    * of the static and runtime (DPP) filters are one Catalyst predicate,
    * bound once per call ([[Partitions.pruner]]) and evaluated on each
    * file's partition-values row; a file stays iff it is TRUE. So a
    * dim-side join key over a partition column prunes files at replan
    * time. */
  private def files: Seq[FileStatus] =
    Partitions.pruner(allFilters.toSeq, partCols) match {
      case Some(keep) =>
        allFiles.filter(f => keep.eval(Partitions.row(f.getPath.toString, rootDir, partCols)))
      case None => allFiles
    }

  private val partColNames = partCols.map(_.name).toSet

  // runtime (DPP-style) filters arrive AFTER planning starts — e.g. the
  // join-key values produced by a dimension subquery — so batch pruning is
  // (re)computed lazily against static + runtime filters combined
  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(fs: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = fs

  private def allFilters = filters ++ runtimeFilters

  // ONE footer sweep per (stat-column set, partition-pruned file set),
  // shared by description(), estimateStatistics() and
  // planInputPartitions() — at 100k staged files a sweep is 100k footer
  // opens on the driver, so re-running it per consumer was 2-3× pure
  // waste. A runtime (DPP) filter on a NEW column changes the key and
  // invalidates once; new values on already-swept columns re-prune the
  // cached stats for free; a runtime filter on a PARTITION column
  // shrinks the file set and sweeps only the survivors. The file set is
  // keyed by a DIGEST of the path list, not the list itself (100k paths ×
  // a few replans held megabytes of strings per entry), and the cache is
  // capped: a replan-heavy workload cycling through distinct runtime
  // filters evicts oldest-first instead of growing without bound.
  private val discoveryCache =
    new BoundedCache[(Set[String], String), Seq[BatchSource.RowGroup]](max = 8)

  private def pruned: (Seq[BatchSource.BatchHandle], Int) = {
    val fs = allFilters
    val keptFiles = files // partition-pruned listing — before any footer IO
    // partition columns have no footer stats: never sweep for them
    val statCols = fs.flatMap(_.references).toSet -- partColNames
    val discovered = discoveryCache.getOrElseUpdate(
      (statCols, BatchSource.pathDigest(keptFiles.map(_.getPath.toString))),
      BatchSource.discoverBatches(keptFiles, conf, statCols))
    (BatchSource.prune(fs.toSeq, discovered).map(_.handle), discovered.length)
  }

  private lazy val batches = pruned._1 // for stats; re-pruned at plan time

  override def readSchema(): StructType = required

  override def description(): String = {
    val (kept, total) = pruned
    val fileNote =
      if (partCols.isEmpty) ""
      else s", files=${files.length}/${allFiles.length}"
    // a runtime (DPP) filter arriving after push time disables the
    // prefix truncation in planInputPartitions — the explain string
    // must not claim a cut that will not happen
    val limitNote = limit.map { n =>
      if (runtimeFilters.nonEmpty) s", limit=$n(inactive:runtime-filter)"
      else s", limit=$n"
    }.getOrElse("")
    s"GraftBatchScan(dir=${BatchSource.dir(options)}, " +
      s"cols=[${required.fieldNames.mkString(",")}], " +
      s"batches=${kept.length}/$total$fileNote$limitNote)"
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BatchMicroBatchStream(required, options, checkpointLocation, partCols)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(batches.map(_.bytes).sum)
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(batches.map(_.rows).sum)
  }

  /** The reference's partition planning (core.py:149-197), verbatim
    * semantics: count mode → row target total//n; size mode → byte target;
    * greedy first-fit pack preserving batch order. */
  override def planInputPartitions(): Array[InputPartition] = {
    val (keptAll, _) = pruned // fresh: includes any runtime filters by now
    // limit truncation: only when NOTHING filters rows (static filters
    // were required empty at push time; a runtime filter arriving later
    // would make the prefix under-produce, so its presence disables the
    // cut — Spark's own limit on top keeps either path exact)
    val kept = limit match {
      case Some(n) if filters.isEmpty && runtimeFilters.isEmpty =>
        val cum = keptAll.scanLeft(0L)(_ + _.rows).tail
        val need = cum.indexWhere(_ >= n.toLong)
        if (need < 0) keptAll else keptAll.take(need + 1)
      case _ => keptAll
    }
    val np = Option(options.get("npartitions")).map(_.toInt)
    val ps = Option(options.get("partition_size"))
    val (countMode, sizeMode) = Partitioner.resolveSpec(np, ps)
    val groups: Seq[Seq[Int]] = countMode match {
      case Some(n) =>
        val target = Partitioner.rowsPerPartition(kept.map(_.rows).sum, n)
        Partitioner.pack(kept.map(_.rows), target)
      case None =>
        Partitioner.pack(kept.map(_.bytes), sizeMode.get)
    }
    val partSchema = BatchSource.partSchema(required, partCols)
    groups.map(idxs => BatchSource.inputPartition(idxs.map(kept), partSchema, rootDir)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    BatchSource.readerFactory(required, partCols, conf)
}

/** Serialized to executors: byte ranges and planned row counts, never
  * data. */
private[sources] case class BatchInputPartition(runs: Array[PlannedRun])
    extends InputPartition

/** A maximal run of consecutive planned row groups of one file: `file`
  * spans them, and a read of it must yield `rows` rows. */
private[sources] case class PlannedRun(file: PartitionedFile, rowGroups: Seq[Int], rows: Long)

/** Spark's parquet factory over graft's planned runs. A partition reads
  * its runs one after another, and a run that yields other than its
  * planned rows fails the task: its byte range selected row groups that
  * were not planned (the file changed after planning). */
private[sources] case class PlannedRunsFactory(parquet: ParquetPartitionReaderFactory)
    extends PartitionReaderFactory {

  private def runs(p: InputPartition) = p.asInstanceOf[BatchInputPartition].runs.toSeq

  override def supportColumnarReads(p: InputPartition): Boolean =
    parquet.supportColumnarReads(p)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PlannedRunsReader[InternalRow](runs(p), parquet.buildReader, _ => 1L)

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new PlannedRunsReader[ColumnarBatch](runs(p), parquet.buildColumnarReader,
      _.get().numRows.toLong)
}

private[sources] class PlannedRunsReader[T](
    runs: Seq[PlannedRun], open: PartitionedFile => PartitionReader[T],
    rows: PartitionReader[T] => Long)
    extends PartitionReader[T] {

  private val todo = runs.iterator
  private var run: PlannedRun = _
  private var reader: PartitionReader[T] = _
  private var read = 0L

  override def next(): Boolean = {
    while (reader == null || !reader.next()) {
      if (reader != null) {
        close()
        if (read != run.rows)
          throw new IllegalStateException(s"${run.file.toPath}: read $read rows " +
            s"for row groups ${run.rowGroups.mkString(",")}, planned ${run.rows}")
      }
      if (!todo.hasNext) return false
      run = todo.next()
      read = 0L
      reader = open(run.file)
    }
    read += rows(reader)
    true
  }

  override def get(): T = reader.get()

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
