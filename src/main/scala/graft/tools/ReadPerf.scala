package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Local perf probe for the DSv2 read path: stages a table through the
  * graft sink as 4 files, then times full-decode scans of that directory
  * through (a) the native parquet source and (b) the graft connector with
  * `npartitions` = the file count, so both sides run the same number of
  * scan tasks. Both decode with Spark's `VectorizedParquetRecordReader`;
  * the difference is the connector's planning. Not part of the driver
  * contract — run by hand while tuning the read path:
  *
  *   sbt "runMain graft.tools.ReadPerf /root/testdata/sf0.1 lineitem"
  */
object ReadPerf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val table = if (args.length > 1) args(1) else "lineitem"
    val spark = graft.LocalSession()

    val out = Files.createTempDirectory("graft_readperf").toString
    graft.warehouse.Tables.table(spark, sfDir, table)
      .repartition(4).write.format("graft").mode("overwrite").save(out)
    val files = Files.walk(Paths.get(out)).filter(_.toString.endsWith(".parquet")).count()

    // hash every column and COLLECT the result, so column pruning cannot
    // drop the decode work (a `.count()` on top would prune it away)
    def fullDecodeCount(df: org.apache.spark.sql.DataFrame): Long =
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)

    val sides = Seq(
      "parquet" -> spark.read.parquet(out),
      "graft" -> spark.read.format("graft").option("npartitions", files).load(out))
    // the sides alternate every iteration, so JIT warm-up and box drift
    // land on both alike; the first two rounds are warm-up
    val ms = (1 to 12).map { i =>
      sides.map { case (label, df) =>
        val t0 = System.nanoTime()
        val n = fullDecodeCount(df)
        val t = (System.nanoTime() - t0) / 1e6
        println(f"$label%-8s iter$i: $t%8.1f ms  (rows=$n)")
        t
      }
    }.drop(2)
    sides.zipWithIndex.foreach { case ((label, df), k) =>
      val s = ms.map(_(k)).sorted
      println(f"$label%-8s partitions=${df.rdd.getNumPartitions} " +
        f"median of 10: ${(s(4) + s(5)) / 2}%.1f ms")
    }

    spark.stop()
  }
}
