package graft.connector

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The write side of the connector — the Spark-native re-expression of
  * `to_snowflake(df, name, ...)` (dask_snowflake/core.py:70-124).
  *
  * Reference semantics reproduced:
  *   - table name uppercased (core.py:37)
  *   - schema-first: the table is created from the DataFrame's schema
  *     before any partition writes (`ensure_db_exists`, core.py:43-67,
  *     sequenced at core.py:110-116 to avoid a CREATE race). Spark's commit
  *     protocol already serializes DDL before the parallel task writes, so
  *     `saveAsTable` subsumes this; [[createTableIfNotExists]] exposes the
  *     eager-DDL step separately because the reference runs it even for
  *     deferred writes (core.py:116 — the `compute=False` wart, SURVEY §3.3)
  *   - one parallel writer per partition (core.py:117-120) — Spark's
  *     `FileFormatWriter` tasks
  *   - `overwrite` passthrough (test_core.py:135) → `SaveMode.Overwrite`
  *   - `compute=False` (core.py:121-124) → [[toTableDeferred]] returns the
  *     unexecuted write as a thunk; Spark is lazy until `.save()` anyway
  */
object Write {

  /** Distributed append (or overwrite) into a catalog table. */
  def toTable(df: DataFrame, name: String, overwrite: Boolean = false): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .saveAsTable(name.toUpperCase(Locale.ROOT))

  /** Distributed write to a parquet directory (the stage-file analogue of
    * `write_pandas`'s parquet upload, core.py:32-40). */
  def toParquet(df: DataFrame, path: String, overwrite: Boolean = false): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .parquet(path)

  /** Distributed write through the graft sink with an optional hive-style
    * partition layout: `partitionBy` columns become `col=value/` subtrees
    * that the graft scan prunes at the FILE level (no reference analogue —
    * `to_snowflake` stages flat tables — but the first thing a warehouse
    * user reaches for once read-side pruning exists). */
  def toStage(
      df: DataFrame, path: String, overwrite: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val w = df.write.format("graft")
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
    (if (partitionBy.nonEmpty)
       w.option("partition_by", partitionBy.mkString(","))
     else w).save(path)
  }

  /** `compute=False` analogue: hand back the write as an unexecuted thunk
    * (test_core.py:83-90 asserts the deferred tasks then computes them).
    * Like the reference, the DDL still happens eagerly at call time. */
  def toTableDeferred(df: DataFrame, name: String): () => Unit = {
    createTableIfNotExists(df.sparkSession, name, df.schema)
    () => toTable(df, name)
  }

  /** Eager `CREATE TABLE IF NOT EXISTS` from a schema — `ensure_db_exists`
    * (core.py:43-67) without the sqlalchemy detour: DDL goes through the
    * session catalog; no rows are written. */
  def createTableIfNotExists(
      spark: SparkSession, name: String, schema: StructType): Unit = {
    val upper = name.toUpperCase(Locale.ROOT)
    if (!spark.catalog.tableExists(upper)) {
      spark.catalog.createTable(upper, "parquet", schema, Map.empty[String, String])
      ()
    }
  }
}
