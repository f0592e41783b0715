package graft.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SqlDialect
import graft.warehouse.Tables

/** The read side of the connector — the Spark-native re-expression of
  * `read_snowflake(query, ...)` (dask_snowflake/core.py:200-302).
  *
  * The reference pushes the SQL string verbatim to the warehouse
  * (core.py:143), receives lazy Arrow batch handles, and re-packs them into
  * right-sized partitions fetched in parallel on the cluster. Here Spark is
  * both the warehouse and the cluster: `spark.sql` plans the query against
  * the parquet views, Catalyst pushes filters/projection into the scan, and
  * executors fetch their own partitions — the reference's "parallel fetch"
  * data plane is Spark's normal scan execution. What remains of the
  * connector is the partition-management surface, reproduced here:
  *
  *   - exactly-one-of `npartitions` / `partitionSize`, default "100 MiB"
  *     (core.py:164-167, 259-260) — validated by [[Partitioner.resolveSpec]]
  *   - parameterized queries (`execute_params`, core.py:143) → Spark's
  *     named-parameter SQL API (injection-safe engine-side binding)
  *   - the query text may call Snowflake's scalar functions that Spark
  *     lacks (IFF, DIV0, TO_VARCHAR, …): [[graft.SqlDialect.register]]
  *     makes them session functions before the query is planned
  *   - count mode → exact partition count; size mode → partition count
  *     derived from the plan's size estimate (the analogue of the
  *     reference's sampled row width, core.py:172-179)
  *
  * Scale note: reducing partition counts uses `coalesce` (no shuffle — at
  * 100 TB a shuffle just to resize partitions would dominate the query);
  * only a genuine increase, or a plan whose count is known only after its
  * shuffles ran, pays `repartition`'s round-robin shuffle — see [[resize]].
  */
object Read {

  /** Execute `query` over the `sfDir` warehouse and size the result
    * partitions. Mirrors `read_snowflake`'s signature semantics.
    *
    * Empty results: the reference degrades to a ZERO-COLUMN DataFrame
    * (`dd.from_pandas(pd.DataFrame(), npartitions=1)`, core.py:277-278,
    * asserted test_core.py:78-80) because its schema is inferred from the
    * first non-empty Arrow batch and an empty result has none. Spark
    * always knows the analyzed schema, so the DELIBERATE default here is
    * schema-preserving: an empty result keeps its columns, and downstream
    * code can union/join it without special-casing. Pass
    * `emptyAsZeroColumns = true` for the reference's exact degrade (costs
    * one isEmpty probe job when enabled). Both pinned in ConnectorSpec. */
  def readTable(
      spark: SparkSession,
      sfDir: String,
      query: String,
      params: Map[String, Any] = Map.empty,
      npartitions: Option[Int] = None,
      partitionSize: Option[String] = None,
      emptyAsZeroColumns: Boolean = false): DataFrame = {
    Tables.register(spark, sfDir)
    SqlDialect.register(spark)
    val (countMode, sizeMode) = Partitioner.resolveSpec(npartitions, partitionSize)
    val df =
      if (params.isEmpty) spark.sql(query)
      else spark.sql(query, params)
    // repartition(1): emptyDataFrame has ZERO partitions, the reference
    // degrades to exactly npartitions=1 (core.py:278)
    if (emptyAsZeroColumns && df.isEmpty) return spark.emptyDataFrame.repartition(1)
    countMode match {
      case Some(n) => resize(df, n)
      case None    => resize(df, partitionsForBytes(df, sizeMode.get))
    }
  }

  /** Target partition count for size mode: the optimized plan's size
    * estimate over the requested partition bytes. Catalyst's estimate plays
    * the role of the reference's `meta.memory_usage()` row-width sample
    * (core.py:178) — both are approximations; the reference's own tests
    * only assert a 2× tolerance (test_core.py:301-302). */
  def partitionsForBytes(df: DataFrame, targetBytes: Long): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (bytes + targetBytes - 1) / targetBytes
    n.max(1).min(Int.MaxValue).toInt
  }

  /** Exactly `n` partitions, without running the query where that can be
    * avoided — reading the partition count of an adaptive plan runs its
    * query stages, and the caller's action, planned anew, runs them again:
    *
    *   - `n == 1`: `coalesce(1)`, one partition whatever the plan, no probe
    *     and no shuffle (size mode's answer for any result under the
    *     target size);
    *   - a shuffle under adaptive execution, in the plan or in a subquery:
    *     AQE sizes its read side at run time, so the probe would run every
    *     shuffle stage; `repartition(n)` unprobed — the round-robin
    *     shuffle of the result is cheaper than running the stages twice;
    *   - otherwise the count is known from planning (a broadcast's stage
    *     still runs, but it is small): probe, shuffle-free `coalesce` to
    *     shrink, `repartition` only to grow.
    *
    * Measured in BASELINE.md ("Sizing exchange-plan reads"). Only the
    * partition layout is guaranteed, not the row order of an `ORDER BY`
    * result: `repartition` deals rows round-robin, and `coalesce` may
    * group partitions out of order. */
  private def resize(df: DataFrame, n: Int): DataFrame =
    if (n == 1) df.coalesce(1)
    else if (probeRunsShuffles(df.queryExecution.executedPlan)) df.repartition(n)
    else {
      val cur = df.rdd.getNumPartitions
      if (n < cur) df.coalesce(n)
      else if (n > cur) df.repartition(n)
      else df
    }

  /** An adaptive plan (or subquery, each wrapped in its own — a leaf to
    * the tree walk) whose unexecuted initial plan holds a shuffle. */
  private def probeRunsShuffles(plan: SparkPlan): Boolean = plan.collectWithSubqueries {
    case a: AdaptiveSparkPlanExec =>
      a.executedPlan.exists(_.isInstanceOf[ShuffleExchangeLike]) ||
        probeRunsShuffles(a.executedPlan)
  }.contains(true)
}
