package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.connector.StageCache

/** The file index under a warehouse view: the original file until the
  * first scan, then, where [[Tables.copyFiles]] asks for one, the engine's
  * micro-partitioned copy of it.
  *
  * Spark lists a relation's files only when it plans a scan of it, so
  * every path that reaches the view (`spark.sql`, `spark.table`,
  * `Tables.table`, `Graft.read`, `SqlText.sql`) stages here, on its first
  * scan, and nowhere else. The copy is written once per process through
  * `StageCache`, keyed by the original's path, length and modification
  * time; after `StageCache.clearAll()` the next scan stages it again. The
  * schema and the size statistics stay the original's, so analysis and
  * join planning see the same relation either way.
  *
  * The copy is Spark's own parquet writer in one task: the file's rows in
  * their order, rolled into [[Tables.copyFiles]] files of equal row
  * counts by `maxRecordsPerFile`, each file one row group. It keeps the
  * original's column types, so `Tables.normalizeTs` applies above it
  * unchanged. */
private[warehouse] final class WarehouseIndex(spark: SparkSession, original: FileIndex)
    extends FileIndex {

  private val file: Path = original.rootPaths.head

  /** StageCache input, rows and file count of the copy, or None when scans
    * keep the original. Read from the footer on the first scan. */
  private lazy val layout: Option[(String, Long, Int)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = file.getFileSystem(conf).getFileStatus(file)
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val (groups, rows) =
      try (reader.getRowGroups.size, reader.getRecordCount) finally reader.close()
    val n = Tables.copyFiles(groups, st.getLen, spark.sparkContext.defaultParallelism)
    if (n == 1) None
    else Some((s"${st.getPath}:${st.getLen}:${st.getModificationTime}", rows, n))
  }

  /** The copy's directory and its index, rebuilt when the directory changes. */
  @volatile private var copy: Option[(String, FileIndex)] = None

  private def current: FileIndex = layout match {
    case None => original
    case Some((input, rows, n)) =>
      val dir = StageCache.getOrStage(s"warehouse_${file.getName.stripSuffix(".parquet")}",
          input) { dir =>
        spark.read.parquet(file.toString).coalesce(1).write
          .option("maxRecordsPerFile", (rows + n - 1) / n)
          .mode("overwrite").parquet(dir)
      }
      copy match {
        case Some((d, idx)) if d == dir => idx
        case _ =>
          val idx = new InMemoryFileIndex(spark, Seq(new Path(dir)), Map.empty, None)
          copy = Some((dir, idx))
          idx
      }
  }

  override def rootPaths: Seq[Path] = original.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    current.listFiles(partitionFilters, dataFilters)

  override def inputFiles: Array[String] = current.inputFiles

  override def refresh(): Unit = original.refresh()

  override def sizeInBytes: Long = original.sizeInBytes

  override def partitionSchema: StructType = original.partitionSchema
}
