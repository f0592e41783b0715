package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local session every main starts (Bench, Verify and the
  * `graft.tools` probes): `local[$SPARK_GRAFT_CPUS]` (default 4) with as
  * many shuffle partitions as cores, the UTC session time zone, no UI.
  * Checkpoint-unpersist emits one "locally checkpointed" WARN per
  * released RDD — hundreds per run, enough to push a main's JSON line
  * out of a captured stdout tail — so the `org.apache.spark.rdd` logger
  * drops to ERROR while everything else logs at `logLevel`. */
object LocalSession {
  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
    spark
  }
}
