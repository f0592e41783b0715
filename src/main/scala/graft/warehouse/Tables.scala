package graft.warehouse

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registers the local parquet warehouse (`sfDir`) as temp views, once per
  * (session, dir). This plays the role Snowflake plays in the reference
  * (dask_snowflake/core.py:143 passes SQL verbatim to the warehouse); here
  * the "warehouse" is Spark SQL + Catalyst over these views, so predicate
  * pushdown / column pruning reach the parquet scan natively.
  *
  * Registration writes nothing. It pins two session parquet settings and
  * creates the ten views; `spark.read.parquet` infers each view's schema
  * with one small Spark job over the footers, so the first call costs a
  * few seconds. Repeated calls with the same dir are a cheap hash-map
  * hit — important because every `SparkEntry.queries` fn calls this and
  * Bench times each call. The DSv2 write-then-read fixtures are staged on
  * first use by the query keys that read them, not here.
  */
object Tables {

  /** All warehouse tables (TESTDATA.md / FIXTURES.md §2). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session identity -> sfDir currently registered for it
  private val registered = new ConcurrentHashMap[Int, String]()

  /** Normalize time columns to session-zone `TimestampType`. The testdata
    * has shipped `ts` in two physical forms across regenerations:
    * TIMESTAMP(NANOS) (unreadable by Spark unless nanosAsLong turns it
    * into a raw long) and `timestamp[us]` with isAdjustedToUTC=false
    * (which Spark 4.x reads as TIMESTAMP_NTZ). Both break the downstream
    * contract — `unix_micros`, `withWatermark`, and interval arithmetic
    * all require TIMESTAMP — so every reader funnels through this one
    * shim. The session time zone is pinned UTC everywhere (build.sbt
    * javaOptions, Verify/Bench/SparkSpec builders), so NTZ→TZ is an
    * exact relabeling, bit-identical to DuckDB's reading of the file. */
  def normalizeTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr}
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  def register(spark: SparkSession, sfDir: String): Unit = {
    val k = System.identityHashCode(spark)
    if (registered.get(k) != sfDir) synchronized {
      if (registered.get(k) != sfDir) {
        // keep the nanos escape hatch active for ns-precision testdata
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // Spark's DEFAULT parquet timestamp encoding is legacy INT96;
        // since the testdata regen turned o_orderdate/l_shipdate into
        // timestamps, every staged write-then-read fixture would ship
        // INT96 — which the graft DSv2 footer reader rejects loudly (by
        // design: INT96 is deprecated in parquet-format and no modern
        // writer should emit it). Pin the standard INT64-micros encoding
        // at the seam every fixture write runs behind.
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        all.foreach { t =>
          val p = s"$sfDir/$t.parquet"
          if (Files.exists(Paths.get(p)))
            normalizeTs(spark.read.parquet(p)).createOrReplaceTempView(t)
        }
        registered.put(k, sfDir)
      }
    }
  }

  /** Convenience: register-then-lookup. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    register(spark, sfDir)
    spark.table(name)
  }
}
