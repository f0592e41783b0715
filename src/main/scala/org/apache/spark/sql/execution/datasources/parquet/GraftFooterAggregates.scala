package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.StructType

/** Opens Spark's package-private footer aggregation to the graft source:
  * COUNT(*)/MIN/MAX of one parquet file from its footer, as the row
  * Spark's own parquet scan builds (values decoded as stored, no calendar
  * rebase). Throws `UnsupportedOperationException` when a row group has
  * no min/max for an aggregated column. */
object GraftFooterAggregates {
  def row(footer: ParquetMetadata, path: String, dataSchema: StructType,
      agg: Aggregation, aggSchema: StructType): InternalRow =
    ParquetUtils.createAggInternalRowFromFooter(footer, path, dataSchema,
      new StructType, agg, aggSchema, InternalRow.empty,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
}
