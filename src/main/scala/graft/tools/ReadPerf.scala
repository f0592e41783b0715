package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Local perf probe for the DSv2 read and write paths, on one table held
  * in memory as 4 partitions:
  *
  *   - read: stages the table through the graft sink as 4 files, then
  *     times full-decode scans of that directory through (a) the native
  *     parquet source and (b) the graft connector with `npartitions` = the
  *     file count, so both sides run the same number of scan tasks. Both
  *     decode with Spark's `VectorizedParquetRecordReader`; the difference
  *     is the connector's planning.
  *   - write: times `df.write.parquet` against the graft sink writing the
  *     same cached source, 4 tasks and 4 files each. Both encode with
  *     Spark's `ParquetOutputWriter`; the difference is the sink's commit
  *     protocol against Spark's file committer.
  *
  * Sides alternate every round, so JIT warm-up and box drift land on both
  * alike; the first two rounds are warm-up, the median of the next 10 is
  * reported. Not part of the driver contract — run by hand while tuning
  * the connector:
  *
  *   sbt "runMain graft.tools.ReadPerf /root/testdata/sf0.1 lineitem"
  */
object ReadPerf {

  /** Runs every side once per round, 12 rounds; prints each time and the
    * median of rounds 3-12 per side. */
  private def alternate(section: String, sides: Seq[(String, () => String)]): Unit = {
    val ms = (1 to 12).map { i =>
      sides.map { case (label, run) =>
        val t0 = System.nanoTime()
        val note = run()
        val t = (System.nanoTime() - t0) / 1e6
        println(f"$section%-5s $label%-8s iter$i: $t%8.1f ms  ($note)")
        t
      }
    }.drop(2)
    sides.map(_._1).zipWithIndex.foreach { case (label, k) =>
      val s = ms.map(_(k)).sorted
      println(f"$section%-5s $label%-8s median of 10: ${(s(4) + s(5)) / 2}%.1f ms")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val table = if (args.length > 1) args(1) else "lineitem"
    val spark = graft.LocalSession()

    val src = graft.warehouse.Tables.table(spark, sfDir, table).repartition(4).cache()
    val rows = src.count()

    val out = Files.createTempDirectory("graft_readperf").toString
    src.write.format("graft").mode("overwrite").save(out)
    val files = Files.walk(Paths.get(out)).filter(_.toString.endsWith(".parquet")).count()

    // hash every column and COLLECT the result, so column pruning cannot
    // drop the decode work (a `.count()` on top would prune it away)
    def fullDecode(df: org.apache.spark.sql.DataFrame): String =
      "rows=" + df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)
    val readers = Seq(
      "parquet" -> spark.read.parquet(out),
      "graft" -> spark.read.format("graft").option("npartitions", files).load(out))
    readers.foreach { case (label, df) =>
      println(s"read  $label partitions=${df.rdd.getNumPartitions}") }
    alternate("read", readers.map { case (label, df) => label -> (() => fullDecode(df)) })

    val parquetDir = Files.createTempDirectory("graft_writeperf_parquet").toString
    val graftDir = Files.createTempDirectory("graft_writeperf_graft").toString
    alternate("write", Seq(
      "parquet" -> { () =>
        src.write.mode("overwrite").parquet(parquetDir); s"rows=$rows" },
      "graft" -> { () =>
        src.write.format("graft").mode("overwrite").save(graftDir); s"rows=$rows" }))

    spark.stop()
  }
}
