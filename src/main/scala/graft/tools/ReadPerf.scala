package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Local perf probe for the warehouse's file layout and for the DSv2 read
  * and write paths, the latter on one table held in memory as 4
  * partitions:
  *
  *   - layout: times one filtered `lineitem` read over the original
  *     one-row-group file and over the engine's micro-partitioned copy
  *     that the warehouse view reads (`graft.warehouse.WarehouseIndex`),
  *     and reports each side's non-empty scan tasks and decoded rows/s
  *     (the file's rows over the median time), after timing the copy's
  *     staging twice: cold, in the fresh JVM, and warm, once deleted.
  *   - read: stages the table through the graft sink as 4 files, then
  *     times full-decode scans of that directory through (a) the native
  *     parquet source and (b) the graft connector with `npartitions` = the
  *     file count, so both sides run the same number of scan tasks. Both
  *     decode with Spark's parquet readers (the native source through
  *     `ParquetFileFormat`, the connector through
  *     `ParquetPartitionReaderFactory`); the difference is the connector's
  *     planning.
  *   - write: times `df.write.parquet` against the graft sink writing the
  *     same cached source, 4 tasks and 4 files each. Both encode with
  *     Spark's `ParquetOutputWriter`; the difference is the sink's commit
  *     protocol against Spark's file committer.
  *
  * The sections run in this order, so the cold staging is the JVM's first
  * Spark write. Sides alternate every round, so JIT warm-up and box drift
  * land on both alike; the first two rounds are warm-up, the median of
  * the next 10 is reported. Neither `graft.Verify` nor `graft.Bench` runs
  * it — run by hand while tuning the connector:
  *
  *   sbt "runMain graft.tools.ReadPerf /root/testdata/sf0.1 lineitem"
  */
object ReadPerf {

  /** Runs every side once per round, 12 rounds; prints each time and the
    * median of rounds 3-12 per side, and returns the medians. */
  private def alternate(section: String, sides: Seq[(String, () => String)]): Seq[Double] = {
    val ms = (1 to 12).map { i =>
      sides.map { case (label, run) =>
        val t0 = System.nanoTime()
        val note = run()
        val t = (System.nanoTime() - t0) / 1e6
        println(f"$section%-5s $label%-8s iter$i: $t%8.1f ms  ($note)")
        t
      }
    }.drop(2)
    sides.map(_._1).zipWithIndex.map { case (label, k) =>
      val s = ms.map(_(k)).sorted
      val median = (s(4) + s(5)) / 2
      println(f"$section%-5s $label%-8s median of 10: $median%.1f ms")
      median
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val table = if (args.length > 1) args(1) else "lineitem"
    val spark = graft.LocalSession()

    // hash every column and COLLECT the result, so column pruning cannot
    // drop the decode work (a `.count()` on top would prune it away)
    def fullDecode(df: org.apache.spark.sql.DataFrame): String =
      "rows=" + df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)

    val lineitem = s"$sfDir/lineitem.parquet"
    val fileRows = spark.read.parquet(lineitem).count()
    def filtered(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_quantity") > 30)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    // fresh frames every time: a Dataset keeps its planned RDD, whose file
    // list would still name a deleted copy
    val layouts: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "original" -> (() => filtered(spark.read.parquet(lineitem))),
      "copy" -> (() => filtered(graft.warehouse.Tables.table(spark, sfDir, "lineitem"))))
    // planning the view's scan lists its files, which stages the copy:
    // first in a fresh JVM, then again after the copy was deleted
    Seq("cold", "warm").foreach { label =>
      graft.connector.StageCache.clearAll()
      val t0 = System.nanoTime()
      layouts(1)._2().rdd.getNumPartitions
      println(f"layout stage $label: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }
    layouts.foreach { case (label, df) =>
      val rdd = df().rdd
      val tasks = rdd.mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0)).sum()
      println(f"layout $label%-8s scan tasks with rows: $tasks%.0f of ${rdd.getNumPartitions}")
    }
    val medians = alternate("layout", layouts.map { case (label, df) =>
      label -> (() => fullDecode(df())) })
    layouts.map(_._1).zip(medians).foreach { case (label, ms) =>
      println(f"layout $label%-8s decode: ${fileRows / (ms / 1000)}%.0f rows/s") }

    val src = graft.warehouse.Tables.table(spark, sfDir, table).repartition(4).cache()
    val rows = src.count()

    val out = Files.createTempDirectory("graft_readperf").toString
    src.write.format("graft").mode("overwrite").save(out)
    val files = Files.walk(Paths.get(out)).filter(_.toString.endsWith(".parquet")).count()
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
