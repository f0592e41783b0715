package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.warehouse.Tables

/** The DSv2 connector end-to-end: schema inference from footers, greedy
  * row-group packing (count and size modes), column pruning pushdown,
  * exactly-one-of validation — the reference's read architecture as a real
  * Spark source. */
class BatchSourceSpec extends SparkSpec {

  /** stage a table as a multi-file parquet "result set" */
  private def stage(table: String, files: Int): String = {
    val dir = Files.createTempDirectory(s"graft_stage_$table").toString
    Tables.table(spark, sfDir, table)
      .repartition(files).write.mode("overwrite").parquet(dir)
    dir
  }

  test("reads a staged result identically to the native parquet reader") {
    val dir = stage("orders", 3)
    val viaSource = spark.read.format("graft").load(dir)
    val viaParquet = spark.read.parquet(dir)
    assertSameRows(viaSource, viaParquet)
  }

  test("timestamps survive the roundtrip (µs internal normalization)") {
    val dir = stage("orders", 2)
    val src = spark.read.format("graft").load(dir)
      .select("o_orderkey", "o_orderdate").orderBy("o_orderkey")
    val ref = spark.read.parquet(dir)
      .select("o_orderkey", "o_orderdate").orderBy("o_orderkey")
    assertSameRows(src, ref)
  }

  test("DECIMAL and DATE roundtrip through both connector halves, nulls included") {
    val dir = Files.createTempDirectory("graft_stage_dec").toString
    // all three decimal storage widths (int32/int64/byte-backed) + DATE,
    // with nulls in every column
    val staged = Tables.table(spark, sfDir, "customer").limit(200).selectExpr(
      "c_custkey",
      "IF(c_custkey % 7 = 0, NULL, CAST(CAST(c_custkey AS DECIMAL(8,2)) + 0.25 AS DECIMAL(8,2))) AS dec_narrow",
      "IF(c_custkey % 11 = 0, NULL, CAST(CAST(c_custkey AS DECIMAL(16,4)) + 0.1234 AS DECIMAL(16,4))) AS dec_mid",
      "IF(c_custkey % 13 = 0, NULL, CAST(CAST(c_custkey AS DECIMAL(27,10)) + 0.1234567891 AS DECIMAL(38,10))) AS dec_wide",
      "IF(c_custkey % 17 = 0, NULL, DATE_ADD(DATE'1992-01-03', CAST(c_custkey % 2000 AS INT))) AS d")
    staged.write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("dec_narrow").dataType.typeName === "decimal(8,2)")
    assert(back.schema("dec_wide").dataType.typeName === "decimal(38,10)")
    assert(back.schema("d").dataType.typeName === "date")
    assertSameRows(back.orderBy("c_custkey"), staged.orderBy("c_custkey"))
    // and the native reader agrees with ours on the staged files
    assertSameRows(back.orderBy("c_custkey"),
      spark.read.parquet(dir).orderBy("c_custkey"))
  }

  test("footer discovery runs ONE sweep per scan, shared by stats/planning") {
    val dir = stage("customer", 4)
    val df = spark.read.format("graft").load(dir)
      .filter(col("c_custkey") < 100).select("c_custkey", "c_name")
    val before = BatchSource.footerSweeps.get()
    assert(df.collect().nonEmpty)
    val sweeps = BatchSource.footerSweeps.get() - before
    assert(sweeps == 1L,
      s"expected exactly 1 footer sweep for a filtered scan, got $sweeps")
    // re-executing the SAME plan (same Scan instance) adds no sweep
    df.collect()
    assert(BatchSource.footerSweeps.get() - before == sweeps,
      "re-execution must reuse the cached discovery")
  }

  test("npartitions option: partition count within the reference's ±2 (test_core.py:305-310)") {
    val dir = stage("lineitem", 6) // 6 files → ≥6 row-group batches
    val df = spark.read.format("graft").option("npartitions", 3).load(dir)
    assert(math.abs(df.rdd.getNumPartitions - 3) <= 2,
      s"got ${df.rdd.getNumPartitions} partitions")
    assert(df.count() == spark.read.parquet(dir).count())
  }

  test("partition_size option packs small batches together") {
    val dir = stage("lineitem", 6)
    val coarse = spark.read.format("graft")
      .option("partition_size", "1 GiB").load(dir)
    val fine = spark.read.format("graft")
      .option("partition_size", "16 KiB").load(dir)
    assert(coarse.rdd.getNumPartitions == 1,
      s"1 GiB target must pack all batches into one partition, got ${coarse.rdd.getNumPartitions}")
    assert(fine.rdd.getNumPartitions > coarse.rdd.getNumPartitions)
    assert(coarse.count() == fine.count())
  }

  test("exactly-one-of validation applies to the source options") {
    val dir = stage("region", 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("npartitions", 2).option("partition_size", "1 MiB")
        .load(dir).count()
    }
  }

  test("column pruning pushes into the scan (only requested columns decoded)") {
    val dir = stage("orders", 2)
    val df = spark.read.format("graft").load(dir).select("o_orderkey")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[o_orderkey]"),
      s"scan description should show pruned columns:\n$plan")
  }

  test("filter pushdown prunes row groups by footer stats (batches never opened)") {
    // stage orders SORTED by o_orderkey in many small row groups so each
    // group covers a disjoint key range the footer stats describe
    val dir = Files.createTempDirectory("graft_prune").toString
    Tables.table(spark, sfDir, "orders")
      .orderBy("o_orderkey").coalesce(1)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(dir)
    def partsFor(df: org.apache.spark.sql.DataFrame) = df.rdd.getNumPartitions
    val base = spark.read.format("graft")
      .option("partition_size", "16 KiB").load(dir)
    val maxKey = spark.read.parquet(dir)
      .agg(max("o_orderkey")).head.getLong(0)
    val unfiltered = base
    val filtered = base.filter(col("o_orderkey") > maxKey - 5)
    // with stats pruning, almost every row group is excluded from planning
    assert(partsFor(filtered) < partsFor(unfiltered),
      s"pruned scan should plan fewer partitions: " +
        s"${partsFor(filtered)} vs ${partsFor(unfiltered)}")
    // and the rows that survive are exactly the right ones
    val expected = spark.read.parquet(dir)
      .filter(col("o_orderkey") > maxKey - 5)
    assertSameRows(filtered, expected)
    // a provably-false predicate plans zero batches but keeps the schema
    val none = base.filter(col("o_orderkey") < -1)
    assert(none.count() == 0)
  }

  test("V2 write path: stage through the connector, read back through it") {
    val dir = Files.createTempDirectory("graft_v2w").toString
    val src = Tables.table(spark, sfDir, "orders")
    src.repartition(3).write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assertSameRows(src, back)
    // one staged file per partition, all committed to .parquet
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.endsWith(".parquet")) == 3, files.toSeq)
    assert(!files.exists(_.endsWith(".staged")), files.toSeq)
  }

  test("V2 write overwrite truncates prior content at commit") {
    val dir = Files.createTempDirectory("graft_v2o").toString
    val nation = Tables.table(spark, sfDir, "nation")
    nation.write.format("graft").mode("append").save(dir)
    nation.write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 2 * nation.count())
    nation.write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == nation.count())
  }

  test("COUNT/MIN/MAX are answered from footer metadata (no data read)") {
    val dir = stage("orders", 3)
    val df = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
        max("o_totalprice").as("mx"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("METADATA-ONLY"),
      s"aggregate should be answered from footers:\n$plan")
    val ref = spark.read.parquet(dir)
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
        max("o_totalprice").as("mx"))
    assertSameRows(df, ref)
  }

  test("limit pushdown plans a batch prefix; exact rows survive on top") {
    val dir = stage("orders", 6)
    val full = spark.read.format("graft").option("npartitions", "6").load(dir)
    val limited = full.limit(5)
    assert(limited.count() == 5)
    // the scan behind the limit must have truncated to a prefix of
    // batches — visible as fewer planned partitions than the full read
    val fullParts = full.rdd.getNumPartitions
    val limParts = limited.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputRDD.getNumPartitions
    assert(limParts < fullParts,
      s"limit should shrink planned partitions: $limParts vs $fullParts")
    // content identity: limit-over-sorted equals native parquet's
    val got = spark.read.format("graft").load(dir)
      .orderBy("o_orderkey").limit(5).collect()
    val ref = spark.read.parquet(dir).orderBy("o_orderkey").limit(5).collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("limit pushdown declines when a filter is pushed (no truncation)") {
    val dir = stage("orders", 6)
    val df = spark.read.format("graft").option("npartitions", "6").load(dir)
      .filter(col("o_orderkey") % 2 === 1).limit(5)
    // correctness is the assertion that matters: the filtered limit
    // still yields 5 rows (a truncated prefix could under-produce)
    assert(df.count() == 5)
    val desc = df.queryExecution.executedPlan.toString
    assert(!desc.contains("limit="),
      s"filtered scans must not truncate on raw footer counts:\n$desc")
  }

  test("aggregate pushdown declines when a filter is present (falls back to rows)") {
    val dir = stage("orders", 2)
    val df = spark.read.format("graft").load(dir)
      .filter(col("o_orderkey") > 10).agg(count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("METADATA-ONLY"), plan)
    val ref = spark.read.parquet(dir)
      .filter(col("o_orderkey") > 10).agg(count(lit(1)).as("n"))
    assertSameRows(df, ref)
  }

  test("micro-batch streaming: files arriving in the stage become batches") {
    val dir = Files.createTempDirectory("graft_mbs").toString
    val nation = Tables.table(spark, sfDir, "nation")
    // first file present before the stream starts
    nation.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.format("graft")
      .schema(spark.read.parquet(dir).schema).load(dir)
    val q = stream.groupBy().count().writeStream
      .format("memory").queryName("t_graft_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("t_graft_stream").head.getLong(0) == 25)
    // a second file lands mid-stream → next micro-batch picks it up
    nation.coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    assert(spark.table("t_graft_stream").head.getLong(0) == 50)
    q.stop()
  }

  test("max_files_per_trigger flows through readStream (engine-driven admission)") {
    val dir = Files.createTempDirectory("graft_mbs_cap").toString
    val nation = Tables.table(spark, sfDir, "nation")
    (1 to 5).foreach(_ => nation.limit(5).coalesce(1).write.mode("append").parquet(dir))
    val stream = spark.readStream.format("graft")
      .schema(spark.read.parquet(dir).schema)
      .option("max_files_per_trigger", "2").load(dir)
    val q = stream.groupBy().count().writeStream
      .format("memory").queryName("t_graft_cap").outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("t_graft_cap").head.getLong(0) == 25)
    // 5-file backlog, cap 2 → the engine must have run 3 data batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3,
      s"expected the 5-file backlog to drain in 3 capped batches, got $dataBatches")
    q.stop()
  }

  test("stream offsets survive restart and file deletion (checkpoint file log)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_stream_log").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val nation = Tables.table(spark, sfDir, "nation")
    nation.coalesce(1).write.mode("append").parquet(dir)
    val schema = new BatchSource().inferSchema(opts)

    def latest(s: BatchMicroBatchStream, from: Int = 0) =
      s.latestOffset(FileCountOffset(from), s.getDefaultReadLimit)
        .asInstanceOf[FileCountOffset].n

    val s1 = new BatchMicroBatchStream(schema, opts, ckpt)
    val off1 = latest(s1)
    assert(off1 >= 1)
    val firstFiles = s1.planInputPartitions(FileCountOffset(0), FileCountOffset(off1))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet

    // a second file lands; a RESTARTED stream (fresh instance, same
    // checkpoint) must assign it offsets AFTER the logged ones and replay
    // batch [0, off1) as exactly the same files
    nation.coalesce(1).write.mode("append").parquet(dir)
    val s2 = new BatchMicroBatchStream(schema, opts, ckpt)
    val off2 = latest(s2, off1)
    assert(off2 > off1, "new file must extend the log")
    val replay = s2.planInputPartitions(FileCountOffset(0), FileCountOffset(off1))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    assert(replay == firstFiles, "restart must replay the same files for the same offsets")
    val second = s2.planInputPartitions(FileCountOffset(off1), FileCountOffset(off2))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    assert(second.nonEmpty && (second & firstFiles).isEmpty)

    // retention deletes an old file: later offsets must NOT shift — the
    // second batch still maps to the same files, the first degrades to empty
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    firstFiles.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    val s3 = new BatchMicroBatchStream(schema, opts, ckpt)
    latest(s3, off2)
    val secondAfterDelete = s3.planInputPartitions(FileCountOffset(off1), FileCountOffset(off2))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    assert(secondAfterDelete == second,
      "deleting an old staged file must not re-map later offsets")
    assert(s3.planInputPartitions(FileCountOffset(0), FileCountOffset(off1)).isEmpty)
  }

  test("max_files_per_trigger drains a 10-file backlog in 4 capped batches, restart-safe") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_stream_cap").toString
    val ckpt = Files.createTempDirectory("graft_stream_cap_ckpt").toString
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "max_files_per_trigger", "3"))
    val nation = Tables.table(spark, sfDir, "nation")
    (1 to 10).foreach(_ => nation.limit(5).coalesce(1).write.mode("append").parquet(dir))
    val schema = new BatchSource().inferSchema(opts)

    val s = new BatchMicroBatchStream(schema, opts, ckpt)
    def step(from: Int) =
      s.latestOffset(FileCountOffset(from), s.getDefaultReadLimit)
        .asInstanceOf[FileCountOffset].n
    // the backlog is 10 logged files; each trigger admits at most 3 new
    // ones, so the drain is 4 batches (3+3+3+1) and then a no-op trigger
    val ends = Iterator.iterate(0)(step).drop(1).take(5).toSeq
    assert(ends == Seq(3, 6, 9, 10, 10),
      s"cap 3 over a 10-file backlog must drain as 3,3,3,1 then idle — got $ends")
    // the engine's backlog metric sees the true tip regardless of the cap
    assert(s.reportLatestOffset().asInstanceOf[FileCountOffset].n == 10)
    // a restart mid-drain replays the same capped boundaries from the log
    val s2 = new BatchMicroBatchStream(schema, opts, ckpt)
    assert(step(3) == 6 &&
      s2.latestOffset(FileCountOffset(3), s2.getDefaultReadLimit)
        .asInstanceOf[FileCountOffset].n == 6)
    val b2a = s.planInputPartitions(FileCountOffset(3), FileCountOffset(6))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    val b2b = s2.planInputPartitions(FileCountOffset(3), FileCountOffset(6))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    assert(b2a == b2b && b2a.nonEmpty)
  }

  test("nested columns (struct + map) flow through the micro-batch stream") {
    val dir = Files.createTempDirectory("graft_mbs_nested").toString
    val media = graft.ops.Multimodal.withPayload(
        Tables.table(spark, sfDir, "documents"))
      .selectExpr("doc_id", "meta", "map('mime', meta.mime) AS attrs")
    media.limit(20).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.format("graft")
      .schema(spark.read.parquet(dir).schema).load(dir)
    val q = stream
      .selectExpr("doc_id", "meta.n_bytes AS n_bytes",
        "element_at(attrs, 'mime') AS mime")
      .writeStream.format("memory").queryName("t_graft_nested")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("t_graft_nested")
    assert(got.count() == 20)
    assert(got.filter(col("mime") === "application/octet-stream").count() == 20)
    assert(got.filter(col("n_bytes") > 0).count() == 20)
    q.stop()
  }

  test("max_bytes_per_trigger admits a byte-bounded prefix per batch (skew-safe)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_stream_bytes").toString
    val ckpt = Files.createTempDirectory("graft_stream_bytes_ckpt").toString
    val li = Tables.table(spark, sfDir, "lineitem")
    // mixed-size backlog with CONTROLLED log order (the log is name-sorted
    // on one discovery, and parquet part names are uuid-random): big,
    // small, small, big, small
    def writeAs(rows: Int, name: String): Long = {
      val tmp = Files.createTempDirectory("graft_bytes_one").toString
      li.limit(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, name))
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, name))
    }
    writeAs(3000, "f0.parquet")
    val s1 = writeAs(1, "f1.parquet")
    val s2 = writeAs(1, "f2.parquet")
    writeAs(3000, "f3.parquet")
    writeAs(1, "f4.parquet")
    // cap fits the two adjacent small files together but not small+big
    val cap = s1 + s2 + 16
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "max_bytes_per_trigger", cap.toString))
    val schema = new BatchSource().inferSchema(opts)
    val s = new BatchMicroBatchStream(schema, opts, ckpt)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def sizeOf(p: String) = fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen
    def step(from: Int) =
      s.latestOffset(FileCountOffset(from), s.getDefaultReadLimit)
        .asInstanceOf[FileCountOffset].n
    def batchPaths(from: Int, to: Int) =
      s.planInputPartitions(FileCountOffset(from), FileCountOffset(to))
        .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).distinct
    val allPaths = {
      var from = 0
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var guard = 0
      while ({ val to = step(from); val moved = to > from
               if (moved) acc += ((from, to)); from = to; guard += 1
               moved && guard < 10 }) ()
      acc.toSeq
    }
    val largest = allPaths.flatMap { case (f, t) => batchPaths(f, t) }.map(sizeOf).max
    // drains fully, in >1 batch, each batch ≥1 file and ≤ cap + largest file
    assert(allPaths.last._2 == 5, s"backlog must drain fully: $allPaths")
    assert(allPaths.length >= 3,
      s"32 KiB cap over a mixed backlog must take several batches: $allPaths")
    allPaths.foreach { case (f, t) =>
      assert(t > f)
      val bytes = batchPaths(f, t).map(sizeOf).sum
      assert(bytes <= cap + largest,
        s"batch [$f,$t) admitted $bytes bytes > cap+largest (${cap + largest})")
    }
    // a small-files-only stretch packs multiple files under the cap
    assert(allPaths.exists { case (f, t) => t - f > 1 },
      s"adjacent small files should share a batch: $allPaths")
  }

  test("fail_on_missing_logged_file=true turns retention gaps into hard errors") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_stream_strict").toString
    val ckpt = Files.createTempDirectory("graft_stream_strict_ckpt").toString
    val strictOpts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "fail_on_missing_logged_file", "true"))
    val nation = Tables.table(spark, sfDir, "nation")
    nation.coalesce(1).write.mode("append").parquet(dir)
    val schema = new BatchSource().inferSchema(strictOpts)
    val s = new BatchMicroBatchStream(schema, strictOpts, ckpt)
    val off = s.latestOffset(FileCountOffset(0), s.getDefaultReadLimit)
      .asInstanceOf[FileCountOffset].n
    val paths = s.planInputPartitions(FileCountOffset(0), FileCountOffset(off))
      .flatMap(_.asInstanceOf[BatchInputPartition].runs.map(_.file.toPath.toString)).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    paths.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    // default mode (existing spec) skips with a warning; strict mode throws
    val e = intercept[IllegalStateException] {
      s.planInputPartitions(FileCountOffset(0), FileCountOffset(off))
    }
    assert(e.getMessage.contains("fail_on_missing_logged_file"))
  }

  test("a truncated stream-log segment is a HARD restart error, not silent skip") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_stream_trunc").toString
    val ckpt = Files.createTempDirectory("graft_stream_trunc_ckpt").toString
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val nation = Tables.table(spark, sfDir, "nation")
    nation.coalesce(1).write.mode("append").parquet(dir)
    val schema = new BatchSource().inferSchema(opts)
    val s = new BatchMicroBatchStream(schema, opts, ckpt)
    s.latestOffset(FileCountOffset(0), s.getDefaultReadLimit)
    // simulate a crash that truncated the segment: drop its footer line
    val seg = java.nio.file.Paths.get(ckpt, "graft-file-log", "seg-0")
    val lines = java.nio.file.Files.readAllLines(seg)
    java.nio.file.Files.writeString(seg,
      lines.subList(0, lines.size - 1).toArray.mkString("", "\n", "\n"))
    // drop the local FS checksum sidecar so the read reaches OUR footer
    // check rather than failing on the (also-detecting) CRC layer
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "graft-file-log", ".seg-0.crc"))
    val e = intercept[IllegalArgumentException] {
      new BatchMicroBatchStream(schema, opts, ckpt)
    }
    assert(e.getMessage.contains("truncated/corrupt stream-log segment"))
  }

  test("runtime filters re-prune row groups after planning begins (DPP shape)") {
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft_rtf").toString
    Tables.table(spark, sfDir, "orders")
      .orderBy("o_orderkey").coalesce(1)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(dir)
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "partition_size", "16 KiB"))
    val schema = new BatchSource().inferSchema(opts)
    def freshScan() = new BatchScanBuilder(schema, opts).build()
      .asInstanceOf[BatchScan]
    val before = freshScan().planInputPartitions().length
    val scan = freshScan()
    // simulate the dimension-side subquery delivering its join keys
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("o_orderkey", Array(0L, 1L, 2L))))
    val after = scan.planInputPartitions().length
    assert(after < before, s"runtime In-filter should prune: $after vs $before")
    assert(after >= 1)
  }

  test("Spark injects dynamic pruning into the scan for a selective broadcast join") {
    val dir = Files.createTempDirectory("graft_dpp_e2e").toString
    Tables.table(spark, sfDir, "orders").orderBy("o_orderkey").coalesce(1)
      .write.option("parquet.block.size", 64 * 1024).mode("overwrite").parquet(dir)
    val fact = spark.read.format("graft").option("partition_size", "16 KiB").load(dir)
    val dim = Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k")).filter(col("k") < 5)
    val j = fact.join(broadcast(dim), fact("o_orderkey") === dim("k"))
    val rows = j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"expected Spark-injected runtime filters on the graft scan:\n${p.take(2000)}")
    // and the runtime-filtered result matches the native reader's
    val ref = spark.read.parquet(dir)
    val expected = ref.join(broadcast(dim), ref("o_orderkey") === dim("k")).count()
    assert(rows.length.toLong == expected)
  }

  test("ArrayType (embeddings) stages through both connector halves") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val dir = Files.createTempDirectory("graft_arr").toString
    val src = Tables.table(spark, sfDir, "embeddings")
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
    assertSameRows(src, back)
    // the staged files are standard 3-level lists: native reader agrees
    assertSameRows(back, spark.read.parquet(dir))
  }

  test("null arrays, empty arrays and null elements survive the connector") {
    val dir = Files.createTempDirectory("graft_arr_nulls").toString
    val src = Tables.table(spark, sfDir, "embeddings").selectExpr(
      "vec_id",
      """CASE WHEN vec_id % 5 = 0 THEN CAST(NULL AS ARRAY<FLOAT>)
        |     WHEN vec_id % 5 = 1 THEN CAST(array() AS ARRAY<FLOAT>)
        |     WHEN vec_id % 5 = 2 THEN transform(embedding, (x, i) -> IF(i = 0, CAST(NULL AS FLOAT), x))
        |     ELSE embedding END AS e""".stripMargin)
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assertSameRows(src, back)
    assertSameRows(back, spark.read.parquet(dir))
  }

  test("STRUCT (multimodal meta shape) stages through both connector halves") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val dir = Files.createTempDirectory("graft_struct").toString
    val src = graft.ops.Multimodal.withPayload(
        Tables.table(spark, sfDir, "documents"))
      .select("doc_id", "meta")
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    val st = back.schema("meta").dataType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq == Seq("mime", "n_bytes", "source"))
    assert(st("mime").dataType == StringType && st("n_bytes").dataType == LongType)
    assertSameRows(src, back)
    // the staged files are plain parquet groups: native reader agrees
    assertSameRows(back, spark.read.parquet(dir))
  }

  test("null structs, null subfields and typed leaves survive the connector") {
    val dir = Files.createTempDirectory("graft_struct_nulls").toString
    // every definition-level branch (null struct / present struct with a
    // null subfield / full struct) × every leaf family the flat columns
    // support (string, long, int32+int64+binary decimals, date, timestamp)
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      """CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE
        |  named_struct(
        |    'tag', CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END,
        |    'n', c_custkey * 1000000007,
        |    'dec_narrow', CAST(CAST(c_custkey AS DECIMAL(8,2)) + 0.25 AS DECIMAL(8,2)),
        |    'dec_wide', CAST(CAST(c_custkey AS DECIMAL(27,10)) + 0.1234567891 AS DECIMAL(38,10)),
        |    'd', DATE_ADD(DATE'1992-01-03', CAST(c_custkey % 2000 AS INT)),
        |    'ts', TIMESTAMP'1995-06-17 12:34:56.789')
        |END AS meta""".stripMargin)
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("dec_wide").dataType.typeName == "decimal(38,10)")
    assertSameRows(src.orderBy("c_custkey"), back.orderBy("c_custkey"))
    assertSameRows(back, spark.read.parquet(dir))
    // projecting through the struct prunes to the parent column
    val proj = back.selectExpr("meta.n AS n").agg(sum("n"))
    val ref = spark.read.parquet(dir).selectExpr("meta.n AS n").agg(sum("n"))
    assertSameRows(proj, ref)
  }

  test("MAP columns stage through both connector halves (null/empty maps, null values)") {
    val dir = Files.createTempDirectory("graft_map").toString
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      """CASE WHEN c_custkey % 7 = 0 THEN NULL
        |     WHEN c_custkey % 7 = 1 THEN map()
        |     WHEN c_custkey % 7 = 2 THEN map('name', c_name, 'segment', NULL)
        |     ELSE map('name', c_name, 'segment', c_mktsegment)
        |END AS attrs""".stripMargin,
      "map(c_custkey, c_acctbal) AS bal_by_key")
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("attrs").dataType.simpleString == "map<string,string>")
    assert(back.schema("bal_by_key").dataType.simpleString == "map<bigint,double>")
    assertSameRows(src.orderBy("c_custkey"), back.orderBy("c_custkey"))
    // the staged files are standard parquet MAP groups: native reader agrees
    assertSameRows(back, spark.read.parquet(dir))
  }

  test("a read needing no file column decodes through the vectorized reader") {
    // count(*) after a LIMIT prunes every file column: the scan decodes
    // row counts only, through the same reader as every other scan
    // (a plain count() would be answered from footer metadata instead)
    val dir = stage("orders", 3)
    val n = 1234
    val total = spark.read.parquet(dir).count()
    assert(spark.read.format("graft").load(dir).limit(n).count() ==
      spark.read.parquet(dir).limit(n).count())
    assert(spark.read.format("graft").option("npartitions", 2).load(dir)
      .limit(total.toInt + 5).count() == total)
  }

  test("a filter pruning the MIDDLE row group reads only the outer two") {
    // one sorted file of ≥ 3 row groups; a filter whose footer stats drop
    // the middle group leaves two non-adjacent runs in ONE partition —
    // the middle group must not come back in through a byte range
    val dir = Files.createTempDirectory("graft_mid_prune").toString
    Tables.table(spark, sfDir, "orders")
      .orderBy("o_orderkey").coalesce(1)
      .write.option("parquet.block.size", 32 * 1024)
      .mode("overwrite").parquet(dir)
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    val conf = BatchSource.hadoopConf()
    val groups = BatchSource.discoverBatches(
      BatchSource.listFiles(opts, conf), conf, Set("o_orderkey"))
    assert(groups.length >= 3, s"need ≥ 3 row groups, got ${groups.length}")
    val mid = groups.length / 2
    def stat(i: Int, k: Int) = {
      val st = groups(i).chunks.getColumns.get(0).getStatistics
      (if (k == 0) st.genericGetMin else st.genericGetMax).asInstanceOf[Long]
    }
    val (lo, hi) = (stat(mid - 1, 1), stat(mid + 1, 0))
    val pred = col("o_orderkey") <= lo || col("o_orderkey") >= hi
    val df = spark.read.format("graft").option("npartitions", 1).load(dir)
      .filter(pred)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.queryExecution.executedPlan.toString
      .contains(s"batches=${groups.length - 1}/${groups.length}"),
      df.queryExecution.executedPlan.toString)
    assertSameRows(df, spark.read.parquet(dir).filter(pred))
    // the unfiltered single-partition read sees every row group once
    assertSameRows(spark.read.format("graft").option("npartitions", 1).load(dir),
      spark.read.parquet(dir))
  }

  test("a byte range that selects rows it did not plan fails the task") {
    // a DataFrame keeps its planned partitions and footer sweep: rewriting
    // its file under it in another row-group layout makes each planned
    // byte range select other row groups than it planned
    val dir = Files.createTempDirectory("graft_rows_check").toString
    val orders = Tables.table(spark, sfDir, "orders").orderBy("o_orderkey").coalesce(1)
    orders.write.option("parquet.block.size", 32 * 1024).mode("overwrite").parquet(dir)
    val df = spark.read.format("graft").option("partition_size", "16 KiB").load(dir)
    assert(df.rdd.getNumPartitions >= 3, "need one partition per row group")
    assert(df.collect().length == orders.count())
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val tmp = Files.createTempDirectory("graft_rows_check_one").toString
    orders.write.mode("overwrite").parquet(tmp) // one row group
    val one = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(one.toPath, part.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the old checksum no longer matches the bytes
    Files.deleteIfExists(part.toPath.resolveSibling(s".${part.getName}.crc"))
    var rows: Array[org.apache.spark.sql.Row] = null
    val e = intercept[Exception] { rows = df.collect() }
    assert(rows == null)
    assert("read \\d+ rows for row groups [\\d,]+, planned \\d+".r
      .findFirstIn(e.getMessage).isDefined, e.getMessage)
  }

  test("footer pruning and MIN/MAX stay exact for BIGINT beyond 2^53") {
    // 2^53 is where double loses integer resolution: 2^53 and 2^53+1
    // collide at double precision. Warehouse surrogate keys live there —
    // a double-valued comparator prunes row groups that still contain
    // matches and returns the wrong extremum from footer metadata.
    val big = 9007199254740992L // 2^53
    val dir = Files.createTempDirectory("graft_bigkeys").toString
    import spark.implicits._
    Seq(1L, 2L).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    Seq(big).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    Seq(big + 1).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    val base = spark.read.format("graft").load(dir)

    // (a) GreaterThan at the boundary: the batch with max = 2^53+1 must be
    // KEPT (double compare saw max <= v and wrongly excluded it)
    assert(base.filter(col("k") > big).as[Long].collect().toSeq == Seq(big + 1))
    assert(base.filter(col("k") >= big + 1).as[Long].collect().toSeq == Seq(big + 1))
    // a truly-excluding predicate still prunes everything
    assert(base.filter(col("k") > big + 1).count() == 0)

    // (b) pushed-down MIN/MAX from footer stats must be exact among
    // double-equal longs
    val agg = base.agg(min("k").as("mn"), max("k").as("mx"))
    agg.collect()
    assert(agg.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
    val row = agg.head
    assert(row.getLong(0) == 1L)
    assert(row.getLong(1) == big + 1, s"footer MAX must be 2^53+1, got ${row.getLong(1)}")
  }

  test("DATE, DECIMAL and TIMESTAMP filters prune row groups from footer stats") {
    // stats for these types are normalized into the reader's value domain
    // (days / scaled BigDecimal / µs), so time-range and money-range
    // predicates — the dominant warehouse pruning patterns — skip batches
    val dir = Files.createTempDirectory("graft_prune_typed").toString
    Tables.table(spark, sfDir, "orders")
      .selectExpr(
        "o_orderkey",
        "o_orderdate AS ts",
        "CAST(o_orderdate AS DATE) AS d",
        "CAST(o_totalprice AS DECIMAL(14,2)) AS price")
      .orderBy("d").coalesce(1)
      .write.option("parquet.block.size", 8 * 1024)
      .mode("overwrite").parquet(dir)

    def parts(df: org.apache.spark.sql.DataFrame) = df.rdd.getNumPartitions
    val base = spark.read.format("graft").option("partition_size", "8 KiB").load(dir)
    val all = parts(base)
    assert(all > 2, s"need multiple batches to show pruning, got $all")

    val maxD = spark.read.parquet(dir).agg(max("d")).head.getDate(0)
    val dFiltered = base.filter(col("d") >= lit(maxD))
    assert(parts(dFiltered) < all, s"date filter should prune: ${parts(dFiltered)} vs $all")
    assertSameRows(dFiltered, spark.read.parquet(dir).filter(col("d") >= lit(maxD)))

    // type-agnostic: ts surfaces as Timestamp (session-TZ normalized
    // warehouse) or LocalDateTime (raw NTZ parquet) depending on the
    // staging path — lit() accepts both
    val maxTs = spark.read.parquet(dir).agg(max("ts")).head.get(0)
    val tsFiltered = base.filter(col("ts") >= lit(maxTs))
    assert(parts(tsFiltered) < all, s"timestamp filter should prune: ${parts(tsFiltered)} vs $all")
    assertSameRows(tsFiltered, spark.read.parquet(dir).filter(col("ts") >= lit(maxTs)))

    // decimal pruning: provably-false range plans no batches at all
    assert(base.filter(col("price") > lit(new java.math.BigDecimal("99999999.99"))).count() == 0)
    // and MIN/MAX on decimal/date answer from metadata, exactly
    val agg = base.agg(min("price").as("mn"), max("d").as("mx"))
    agg.collect()
    assert(agg.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
    val ref = spark.read.parquet(dir).agg(min("price").as("mn"), max("d").as("mx"))
    assertSameRows(agg, ref)
  }

  /** The `batches=k/n` (and `files=`) notes of every graft scan in the
    * executed plan. */
  private def batchNotes(df: org.apache.spark.sql.DataFrame): Set[String] = {
    df.collect()
    "batches=\\d+/\\d+(, files=\\d+/\\d+)?".r
      .findAllIn(df.queryExecution.executedPlan.toString).toSet
  }

  test("scan descriptions pin the planned batches of runtime, partition and typed filters") {
    Tables.register(spark, sfDir)
    def key(k: String) = batchNotes(graft.SparkEntry.queries(k)(spark, sfDir))
    assert(key("q_dsv2_runtime_prune") == Set("batches=2/2"))
    assert(key("q_dsv2_partition_prune") == Set("batches=1/1, files=1/5"))
    // the staging of "DATE, DECIMAL and TIMESTAMP filters prune row groups"
    val dir = Files.createTempDirectory("graft_prune_pins").toString
    Tables.table(spark, sfDir, "orders")
      .selectExpr("o_orderkey", "o_orderdate AS ts", "CAST(o_orderdate AS DATE) AS d",
        "CAST(o_totalprice AS DECIMAL(14,2)) AS price")
      .orderBy("d").coalesce(1)
      .write.option("parquet.block.size", 8 * 1024).mode("overwrite").parquet(dir)
    val base = spark.read.format("graft").option("partition_size", "8 KiB").load(dir)
    val native = spark.read.parquet(dir)
    val maxD = native.agg(max("d")).head.getDate(0)
    val maxTs = native.agg(max("ts")).head.get(0)
    assert(batchNotes(base.filter(col("d") >= lit(maxD))) == Set("batches=1/6"))
    assert(batchNotes(base.filter(col("ts") >= lit(maxTs))) == Set("batches=1/6"))
    assert(batchNotes(base.filter(
      col("price") > lit(new java.math.BigDecimal("99999999.99")))) == Set("batches=0/6"))
  }

  // U+FF61 and U+1F600: UTF-16 code units order them one way, code points
  // (parquet's unsigned byte order for UTF-8) the other
  private val (halfwidth, emoji) = ("\uFF61", "\uD83D\uDE00")

  test("an equality filter on a non-BMP string keeps its row group") {
    val dir = Files.createTempDirectory("graft_non_bmp").toString
    import spark.implicits._
    Seq(halfwidth, emoji).toDF("s").coalesce(1).write.mode("overwrite").parquet(dir)
    assertSameRows(spark.read.format("graft").load(dir).filter(col("s") === emoji),
      spark.read.parquet(dir).filter(col("s") === emoji))
    assert(spark.read.format("graft").load(dir).filter(col("s") === emoji).count() == 1)
  }

  test("MIN/MAX of a string column across files match the native reader") {
    val dir = Files.createTempDirectory("graft_non_bmp_agg").toString
    import spark.implicits._
    Seq(halfwidth).toDF("s").coalesce(1).write.mode("append").parquet(dir)
    Seq(emoji).toDF("s").coalesce(1).write.mode("append").parquet(dir)
    val got = spark.read.format("graft").load(dir).agg(min("s"), max("s"))
    assertSameRows(got, spark.read.parquet(dir).agg(min("s"), max("s")))
    assert(got.head.getString(0) == halfwidth && got.head.getString(1) == emoji)
    // string footer min/max are byte-ordered and may be truncated: scanned
    assert(!got.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
  }

  test("aggregations and joins work through the source") {
    val dir = stage("orders", 3)
    val n = spark.read.format("graft").load(dir)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .count()
    assert(n >= 2)
  }

  test("nested schema pruning reaches the struct LEAVES (meta.mime decodes one leaf)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_leafprune").toString
    Tables.table(spark, sfDir, "documents").selectExpr(
        "doc_id",
        """named_struct('mime', concat('text/', lang),
                        'n_bytes', CAST(octet_length(text) AS BIGINT),
                        'source', source) AS meta""")
      .repartition(2)
      .write.format("graft").mode("overwrite").save(dir)
    val df = spark.read.format("graft").load(dir)
      .select(col("doc_id"), col("meta.mime").as("mime"))
    // the scan's required schema must carry ONLY the requested leaf —
    // parquet then never materializes pages of n_bytes/source
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scan.isDefined, df.queryExecution.executedPlan.toString)
    val metaType = scan.get.readSchema()("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaType.fieldNames.toSeq == Seq("mime"),
      s"struct must prune to the requested leaf, got $metaType")
    // and the pruned decode returns the right values
    val expected = Tables.table(spark, sfDir, "documents")
      .selectExpr("doc_id", "concat('text/', lang) AS mime")
    assertSameRows(df, expected)
  }

  // ------------------------------------------------------ partitioned sink

  private def stagePartitioned(): String = {
    val dir = Files.createTempDirectory("graft_stage_part").toString
    Tables.table(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
      .repartition(col("lang"))
      .write.format("graft").option("partition_by", "lang")
      .mode("overwrite").save(dir)
    dir
  }

  test("partition_by write stages a hive layout and the values round-trip") {
    val dir = stagePartitioned()
    // layout: lang=xx/ subtrees, no lang column inside the data files
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs.exists(_.startsWith("lang=")), s"expected lang= subtrees, got $subdirs")
    val aFile = new java.io.File(dir).listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(!spark.read.parquet(aFile.toString).columns.contains("lang"),
      "partition column must not be duplicated inside data files")
    // read-back (partition column re-derived from paths) equals the source
    val back = spark.read.format("graft").load(dir)
      .select("doc_id", "lang", "source", "n_chars")
    val orig = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    assertSameRows(back, orig)
  }

  test("a partition filter prunes whole files before any footer IO") {
    val dir = stagePartitioned()
    val total = BatchSource.listFiles(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)),
      BatchSource.hadoopConf()).length
    val df = spark.read.format("graft").load(dir).filter(col("lang") === "en")
    df.collect() // finalize the plan
    val scanDesc = df.queryExecution.executedPlan.toString
    // description reports files=kept/total: only the lang=en subtree survives
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scanDesc)
    assert(m.isDefined, s"scan description should report file pruning:\n$scanDesc")
    assert(m.get.group(2).toInt == total)
    assert(m.get.group(1).toInt < total,
      s"expected pruned files, got ${m.get.group(1)}/$total:\n$scanDesc")
    // the absorbed filter is NOT re-evaluated row-level: no Filter node
    assert(!scanDesc.contains("Filter "),
      s"partition filter should be absorbed, not residual:\n$scanDesc")
    // and the pruned scan's stats shrink accordingly
    val unfiltered = spark.read.format("graft").load(dir)
    val su = unfiltered.queryExecution.optimizedPlan.stats.sizeInBytes
    val sf0 = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sf0 < su, s"pruned scan must report smaller stats: $sf0 vs $su")
  }

  test("numeric partition values infer LongType and range-prune") {
    val dir = Files.createTempDirectory("graft_stage_numpart").toString
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"), (col("doc_id") % 4).as("bucket"))
      .repartition(col("bucket"))
      .write.format("graft").option("partition_by", "bucket")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("bucket").dataType ==
      org.apache.spark.sql.types.LongType)
    val hi = back.filter(col("bucket") >= 2)
    assert(hi.select("bucket").distinct().collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    val desc = { hi.collect(); hi.queryExecution.executedPlan.toString }
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"range filter should prune bucket subtrees:\n$desc")
  }

  test("null partition values stage, read back as NULL, and IsNull-prune") {
    val dir = Files.createTempDirectory("graft_stage_nullpart").toString
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, col("lang")).as("maybe_lang"))
      .write.format("graft").option("partition_by", "maybe_lang")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    val nNull = back.filter(col("maybe_lang").isNull).count()
    val expected = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 3 =!= 0).count()
    assert(nNull == expected, s"expected $expected null-partition rows, got $nNull")
  }

  test("a partition-only filter whose literal has another type stays residual") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = stagePartitioned()
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    val builder = new BatchScanBuilder(spark.read.format("graft").load(dir).schema, opts)
    // no lang value is the LONG 5: the filter cannot be judged per file,
    // so Spark must keep evaluating it on the rows
    val mistyped = EqualTo("lang", 5L)
    assert(builder.pushFilters(Array(EqualTo("lang", "en"), mistyped)).toSeq == Seq(mistyped))
  }

  test("adversarial partition values prune like the same filter over the flat source") {
    // two partition columns: a DOUBLE with NaN, both zeros and NULL, and a
    // STRING with a non-BMP value and the path-hostile '/', '=', '%', ' '
    import spark.implicits._
    val xs = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, 1.5, null)
    val ss = Seq("a/b", "c=d", "e%f", "g h", "\uFF61", "\uD83D\uDE00")
    val rows = for ((x, i) <- xs.zipWithIndex; (s, j) <- ss.zipWithIndex; k <- 0 to 1)
      yield (x, s, (i * ss.size + j) * 2L + k)
    val src = rows.toDF("x", "s", "data_col")
    val flat = Files.createTempDirectory("graft_adv_flat").toString
    src.coalesce(1).write.mode("overwrite").parquet(flat)
    val dir = Files.createTempDirectory("graft_adv_part").toString
    src.coalesce(1).write.format("graft").option("partition_by", "x,s")
      .mode("overwrite").save(dir)
    val n = xs.size * ss.size
    val cases = Seq(
      (col("x") === 0.0, 2 * ss.size),
      (col("x") > 1.0, 2 * ss.size),
      (col("x").isNull, ss.size),
      (!(col("x") === 1.5), 3 * ss.size),
      (col("x").isin(Double.NaN, 1.5), 2 * ss.size),
      (col("s") > "c" && col("s") < "g", 2 * xs.size),
      (col("s") > "\uFF61", xs.size), // code-point order: only the emoji
      (!(col("s") === "a/b" || col("data_col") > 40), (ss.size - 1) * xs.size))
    cases.foreach { case (cond, kept) =>
      val got = spark.read.format("graft").load(dir).filter(cond)
      // Row.toString tells NaN and -0.0 apart, which == on doubles does not
      def rendered(df: org.apache.spark.sql.DataFrame) =
        df.select("x", "s", "data_col").collect().map(_.toString).sorted.toSeq
      val want = rendered(spark.read.parquet(flat).filter(cond))
      assert(want.nonEmpty, s"$cond selects no rows")
      assert(rendered(got) == want, s"$cond")
      assert(batchNotes(got).exists(_.endsWith(s"files=$kept/$n")),
        s"$cond: expected files=$kept/$n, got ${batchNotes(got)}")
    }
  }

  test("partition parsing anchors at the table root — ancestor '=' dirs are not columns") {
    // a stage living UNDER a directory that happens to contain '=' must
    // not sprout phantom partition columns (Spark's basePath rule)
    val ancestor = java.nio.file.Files.createTempDirectory("graft_anchor")
    val dir = ancestor.resolve("run=3").resolve("stage").toString
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "lang")
    docs.repartition(2).write.mode("overwrite").parquet(dir)
    val back = spark.read.format("graft").load(dir)
    assert(!back.columns.contains("run"),
      s"ancestor 'run=3' leaked into the schema: ${back.columns.toSeq}")
    assertSameRows(back, docs)
    // a flat append into the same dir still passes the layout guard
    docs.limit(5).write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == docs.count() + 5)
    // and a genuinely partitioned stage under the same ancestor works
    val pdir = ancestor.resolve("run=3").resolve("pstage").toString
    docs.write.format("graft").option("partition_by", "lang")
      .mode("overwrite").save(pdir)
    val pback = spark.read.format("graft").load(pdir)
    assert(pback.columns.toSeq.sorted == Seq("doc_id", "lang"))
    assertSameRows(pback.select("doc_id", "lang"), docs)
  }

  test("hidden-prefix and separator-bearing partition_by names are rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hiddenpb").toString
    val e = intercept[IllegalArgumentException] {
      Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang").as("_lang"))
        .write.format("graft").option("partition_by", "_lang")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("hidden"), e.getMessage)
    // '=' in the NAME would corrupt the path encoding (parseRaw splits at
    // the first '=' and would reconstruct a phantom column)
    val e2 = intercept[IllegalArgumentException] {
      Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang").as("a=b"))
        .write.format("graft").option("partition_by", "a=b")
        .mode("overwrite").save(dir)
    }
    assert(e2.getMessage.contains("must not contain"), e2.getMessage)
  }

  test("unsupported partition_by types are rejected at write-build time, on the driver") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badpbtype").toString
    // DATE has no reader-invertible path form here — must fail BEFORE any
    // executor task stages a file
    val e = intercept[IllegalArgumentException] {
      Tables.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .write.format("graft").option("partition_by", "o_orderdate")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
    assert(new java.io.File(dir).listFiles() == null ||
      new java.io.File(dir).listFiles().isEmpty,
      "a build-time rejection must leave nothing staged")
  }

  test("IntegerType partition values read back as LongType (path carries digits only)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_intpart").toString
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % 3).cast("int").as("bucket"))
      .write.format("graft").option("partition_by", "bucket")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    // the documented widening: inferType sees digit strings → LongType
    assert(back.schema("bucket").dataType == org.apache.spark.sql.types.LongType)
    val got = back.select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.forall { case (id, b) => b == id % 3 })
  }

  test("a path key repeated along one file's directories is not promoted to a column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dupkey").toString
    // hand-made ambiguous layout: /x=1/x=2/file.parquet — no single
    // constant value for x exists, so promoting it would duplicate the
    // StructField; the key must stay path decoration
    val sub = new java.io.File(s"$dir/x=1/x=2"); sub.mkdirs()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dupkey_src").toString
    spark.range(3).selectExpr("id AS a").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(sub, part.getName).toPath)
    val df = spark.read.format("graft").load(dir)
    assert(!df.columns.contains("x"),
      s"ambiguous repeated key 'x' must not be promoted: ${df.columns.toSeq}")
    assert(df.columns.count(_ == "x") == 0 && df.select("a").count() == 3)
  }

  test("NULL under NOT evaluates with three-valued logic, not a blanket exclude") {
    import org.apache.spark.sql.sources._
    // the pruner's verdict on a file whose LONG partition column p holds
    // vals("p"); d is a data column
    def matches(f: Filter, vals: Map[String, Any]): Boolean =
      Partitions.pruner(Seq(f), Seq(org.apache.spark.sql.types.StructField(
        "p", org.apache.spark.sql.types.LongType)))
        .forall(_.eval(org.apache.spark.sql.catalyst.InternalRow(vals("p"))))
    val nullVal: Map[String, Any] = Map("p" -> null)
    // NOT(p IS NOT NULL) ≡ p IS NULL → TRUE over a null partition value:
    // the file MUST be kept (the old blanket rule excluded it)
    assert(matches(Not(IsNotNull("p")), nullVal))
    assert(!matches(Not(IsNull("p")), nullVal))
    // a comparison under NOT stays three-valued: NOT(p = 1) over NULL is
    // UNKNOWN, constant for the whole file → exclude
    assert(!matches(Not(EqualTo("p", 1L)), nullVal))
    // the never-TRUE refinement: over a NULL p, (p=1 AND d>5) is FALSE or
    // UNKNOWN per row (d varies) but never TRUE — its NEGATION is TRUE
    // for every d<=5 row, so the file must be KEPT (collapsing this into
    // constant-UNKNOWN wrongly pruned rows that satisfy the filter)
    assert(matches(
      Not(And(EqualTo("p", 1L), GreaterThan("d", 5L))), nullVal))
    // whereas an all-constant conjunction over NULL p is UNKNOWN for
    // every row, and so is its negation → still excludable
    assert(!matches(
      Not(And(EqualTo("p", 1L), LessThan("p", 0L))), nullVal))
    // NOT over a mixed conjunction: with p=2, NOT(p=1 AND d>5) is TRUE
    // whatever the per-row data column d holds → keep, exactly
    val p2: Map[String, Any] = Map("p" -> 2L)
    assert(matches(Not(And(EqualTo("p", 1L), GreaterThan("d", 5L))), p2))
    // ...and with p=1 the NOT's value depends on d → per-row → keep
    assert(matches(Not(And(EqualTo("p", 1L), GreaterThan("d", 5L))), p2 + ("p" -> 1L)))
    // OR with an UNKNOWN side can still be satisfied by the other side
    assert(matches(Or(EqualTo("p", null), EqualTo("p", 2L)), p2))
    // empty IN is vacuously false — excludable
    assert(!matches(In("p", Array.empty[Any]), p2))
  }

  test("footer-sweep cache is digest-keyed and bounded (oldest entry evicted)") {
    // digest: fixed-size key, order- and boundary-sensitive
    val d1 = BatchSource.pathDigest(Seq("a/b.parquet", "c/d.parquet"))
    assert(d1 == BatchSource.pathDigest(Seq("a/b.parquet", "c/d.parquet")))
    assert(d1 != BatchSource.pathDigest(Seq("c/d.parquet", "a/b.parquet")))
    assert(BatchSource.pathDigest(Seq("ab")) != BatchSource.pathDigest(Seq("a", "b")))
    assert(d1.length < 80, "key must be fixed-size, not the path list")
    // bounded cache: inserting past the cap evicts the OLDEST key
    val c = new BoundedCache[Int, String](max = 3)
    (1 to 5).foreach(i => c.getOrElseUpdate(i, s"v$i"))
    assert(c.size == 3)
    assert(!c.contains(1) && !c.contains(2) && c.contains(3) && c.contains(5))
    // a hit refreshes nothing but must not recompute
    var computed = 0
    c.getOrElseUpdate(5, { computed += 1; "recomputed" })
    assert(computed == 0, "cache hit must not recompute the footer sweep")
  }

  test("boolean partition values round-trip their type") {
    val dir = java.nio.file.Files.createTempDirectory("graft_boolpart").toString
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("even"))
      .write.format("graft").option("partition_by", "even")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("even").dataType == org.apache.spark.sql.types.BooleanType)
    val evens = back.filter(col("even")).select("doc_id")
      .collect().map(_.getLong(0))
    assert(evens.nonEmpty && evens.forall(_ % 2 == 0))
  }

  test("micro-batch streaming works over a partitioned stage (partition cols from paths)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = stagePartitioned()
    val schema = spark.read.format("graft").load(dir).schema
    val q = spark.readStream.format("graft").schema(schema).load(dir)
      .groupBy("lang").count()
      .writeStream.format("memory").queryName("t_part_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish within 120s")
    val got = spark.table("t_part_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Tables.table(spark, sfDir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"streamed per-lang counts $got must equal batch $expected")
  }

  test("a partition filter on a STREAMING read is enforced (not silently absorbed)") {
    import org.apache.spark.sql.streaming.Trigger
    // Spark's filter pushdown does not run for streaming scans, so the
    // filter must stay a row-level Filter over the stream — this pins
    // that an absorbed-on-batch partition filter is never LOST on the
    // streaming path (it isn't absorbed there at all)
    val dir = stagePartitioned()
    val schema = spark.read.format("graft").load(dir).schema
    val q = spark.readStream.format("graft").schema(schema).load(dir)
      .filter(col("lang") === "en")
      .groupBy("lang").count()
      .writeStream.format("memory").queryName("t_stream_pfilter")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish within 120s")
    val rows = spark.table("t_stream_pfilter").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Tables.table(spark, sfDir, "documents")
      .filter(col("lang") === "en").count()
    assert(rows == Map("en" -> expected), s"streamed $rows, expected en -> $expected")
  }

  test("partition_filter option prunes the STREAM's file listing to matching subtrees") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = stagePartitioned()
    val cp = java.nio.file.Files.createTempDirectory("graft_stream_pf_cp").toString
    val schema = spark.read.format("graft").load(dir).schema
    val q = spark.readStream.format("graft").schema(schema)
      .option("partition_filter", "lang=en").load(dir)
      .groupBy("lang").count()
      .writeStream.format("memory").queryName("t_stream_pf_pruned")
      .option("checkpointLocation", cp)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish within 120s")
    // batch == stream equality: the pruned stream aggregates exactly what
    // the (absorbed) batch partition filter reads
    val rows = spark.table("t_stream_pf_pruned").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Tables.table(spark, sfDir, "documents")
      .filter(col("lang") === "en").count()
    assert(rows == Map("en" -> expected), s"streamed $rows, expected en -> $expected")
    // and the file LOG itself is pruned: only lang=en files were ever
    // logged — fewer than the stage holds (discovery-time, not row-time)
    def segLines(d: java.io.File): Seq[String] =
      if (!d.exists()) Seq.empty
      else d.listFiles().toIndexedSeq.flatMap {
        case f if f.isDirectory => segLines(f)
        case f if f.getName.startsWith("seg-") =>
          val src = scala.io.Source.fromFile(f)
          try src.getLines().toIndexedSeq.filter(l => l.nonEmpty && !l.startsWith("#"))
          finally src.close()
        case _ => Seq.empty
      }
    val loggedPaths = segLines(new java.io.File(cp))
    val total = BatchSource.listFiles(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)), BatchSource.hadoopConf()).length
    assert(loggedPaths.nonEmpty && loggedPaths.forall(_.contains("lang=en")),
      s"log must contain only the lang=en subtree: $loggedPaths")
    assert(loggedPaths.size < total,
      s"pruned log (${loggedPaths.size}) must admit fewer files than the stage ($total)")
  }

  test("partition_filter values use path form: URL-encoded values and the null marker") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_pf_forms").toString
    // three partitions: plain, space-bearing (encodes as 'a+b'), and null
    spark.range(30).selectExpr("id",
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'a b' ELSE NULL END AS v")
      .repartition(col("v"))
      .write.format("graft").option("partition_by", "v")
      .mode("overwrite").save(dir)
    val schema = spark.read.format("graft").load(dir).schema
    def streamCount(filter: String, name: String): Long = {
      val q = spark.readStream.format("graft").schema(schema)
        .option("partition_filter", filter).load(dir)
        .groupBy().count()
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish within 120s")
      spark.table(name).collect().head.getLong(0)
    }
    // the doc says "values as they appear in the path": a space-bearing
    // value is filtered by its ENCODED form and must still admit its
    // subtree (raw-vs-decoded comparison silently admitted zero files)
    assert(streamCount("v=a+b", "t_pf_encoded") == 10)
    // the null partition is addressable via the null marker (an EqualTo
    // against null would be UNKNOWN for every file → zero admitted)
    assert(streamCount("v=__GRAFT_NULL__", "t_pf_nullpart") == 10)
    assert(streamCount("v=en", "t_pf_plain") == 10)
  }

  test("partition_filter pruning survives a stream restart and applies to newly-landed files") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_pf_restart").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_pf_restart_cp").toString
    def stage(ids: Range): Unit =
      spark.range(ids.start, ids.end).selectExpr("id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS v")
        .repartition(col("v"))
        .write.format("graft").option("partition_by", "v")
        .mode("append").save(dir)
    // parquet file sink: supports checkpoint RECOVERY (the memory sink
    // does not) — same pattern as StreamingSpec's restart test
    val outDir = java.nio.file.Files.createTempDirectory("graft_pf_restart_out").toString
    def runOnce(): Set[Long] = {
      val q = spark.readStream.format("graft")
        .schema(spark.read.format("graft").load(dir).schema)
        .option("partition_filter", "v=en").load(dir)
        .select("id")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish within 120s")
      spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    }
    stage(0 until 10)
    val first = runOnce()
    assert(first == (0 until 10 by 2).map(_.toLong).toSet,
      s"first run must stream only v=en rows, got $first")
    // new files land (both partitions) while the stream is DOWN; the
    // restarted query must admit only the matching subtree's new files
    // and re-admit nothing from before
    stage(10 until 20)
    val all = runOnce()
    assert(all == (0 until 20 by 2).map(_.toLong).toSet,
      s"restart must add only NEW v=en rows with no re-admission, got $all")
  }

  test("partition_filter is pinned per checkpoint: a restart with a different filter fails") {
    // the filter prunes at DISCOVERY time, so a checkpoint's logged files
    // embody the filter they were admitted under — restarting with
    // another filter (or none) would mix two semantics in one stream
    val dir = stagePartitioned()
    val conf = BatchSource.hadoopConf()
    def opts(filter: Option[String]) = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      filter match {
        case Some(f) => java.util.Map.of("path", dir, "partition_filter", f)
        case None    => java.util.Map.of("path", dir)
      })
    val partCols = Partitions.partitionFields(
      BatchSource.listFiles(opts(None), conf), conf,
      BatchSource.qualifiedDir(opts(None), conf))
    val schema = spark.read.format("graft").load(dir).schema
    val cp = java.nio.file.Files.createTempDirectory("graft_stream_pf_pin").toString
    new BatchMicroBatchStream(schema, opts(Some("lang=en")), cp, partCols)
    // same filter restarts fine (term order is canonicalized, not literal)
    new BatchMicroBatchStream(schema, opts(Some(" lang=en ")), cp, partCols)
    val changed = intercept[IllegalArgumentException] {
      new BatchMicroBatchStream(schema, opts(Some("lang=de")), cp, partCols)
    }
    assert(changed.getMessage.contains("one filter per checkpoint"),
      changed.getMessage)
    val dropped = intercept[IllegalArgumentException] {
      new BatchMicroBatchStream(schema, opts(None), cp, partCols)
    }
    assert(dropped.getMessage.contains("one filter per checkpoint"),
      dropped.getMessage)
    // and an unfiltered checkpoint refuses to gain a filter later
    val cp2 = java.nio.file.Files.createTempDirectory("graft_stream_pf_pin2").toString
    new BatchMicroBatchStream(schema, opts(None), cp2, partCols)
    val gained = intercept[IllegalArgumentException] {
      new BatchMicroBatchStream(schema, opts(Some("lang=en")), cp2, partCols)
    }
    assert(gained.getMessage.contains("one filter per checkpoint"),
      gained.getMessage)
  }

  test("partition_filter on a non-partition column is rejected at stream construction") {
    val dir = stagePartitioned()
    val conf = BatchSource.hadoopConf()
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "partition_filter", "nope=1"))
    val partCols = Partitions.partitionFields(
      BatchSource.listFiles(opts, conf), conf, BatchSource.qualifiedDir(opts, conf))
    val schema = spark.read.format("graft").load(dir).schema
    val cp = java.nio.file.Files.createTempDirectory("graft_stream_pf_bad").toString
    val e = intercept[IllegalArgumentException] {
      new BatchMicroBatchStream(schema, opts, cp, partCols)
    }
    assert(e.getMessage.contains("not a partition column"), e.getMessage)
  }

  test("native df.write.partitionBy flows through the sink like the partition_by option") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_natpb").toString
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.format("graft").partitionBy("lang").mode("overwrite").save(dir)
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.forall(_.startsWith("lang=")) && subdirs.length == 5, subdirs.toSeq)
    // append into the existing layout: partitioning is inferred and matches
    docs.write.format("graft").partitionBy("lang").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 2 * docs.count())
    // a partitionBy that contradicts the on-disk layout is rejected
    val e = intercept[Exception] {
      docs.write.format("graft").partitionBy("n_chars").mode("append").save(dir)
    }
    assert(e.getMessage.toLowerCase.contains("partitioning") ||
      e.getMessage.toLowerCase.contains("clustering"), e.getMessage)
  }

  test("MIN/MAX over a partition column are answered from paths alone (metadata-only)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_aggpart").toString
    graft.Graft.writeStage(
      Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("n_chars"), (col("doc_id") % 4).as("bucket")),
      dir, overwrite = true, partitionBy = Seq("bucket"))
    val df = spark.read.format("graft").load(dir)
      .agg(min("bucket").as("mn"), max("bucket").as("mx"), count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("METADATA-ONLY"),
      s"partition-column min/max should need no data read:\n$plan")
    val r = df.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 3L)
    assert(r.getLong(2) == Tables.table(spark, sfDir, "documents").count())
    // string partition values answer too, compared as strings
    val langDir = stagePartitioned()
    val ldf = spark.read.format("graft").load(langDir)
      .agg(min("lang").as("mn"), max("lang").as("mx"))
    ldf.collect()
    assert(ldf.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
    assert(ldf.head.getString(0) == "de" && ldf.head.getString(1) == "zh")
  }

  test("one input partition spanning several partition values decodes all groups") {
    val dir = stagePartitioned()
    // npartitions=1 packs every subtree's row groups into ONE InputPartition
    val one = spark.read.format("graft").option("npartitions", "1").load(dir)
    assert(one.rdd.getNumPartitions == 1)
    val langs = one.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "de", "fr", "es", "zh"),
      s"all partition-value groups must decode, got $langs")
    assert(one.count() == Tables.table(spark, sfDir, "documents").count())
  }

  /** Every row as one JSON string, sorted: compares binary, map, array and
    * struct columns by value. */
  private def jsonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  /** One column of each type the sink accepts, nulls in every column. */
  private def everyType(n: Int) = spark.range(0, n).selectExpr(
    "id",
    "IF(id % 7 = 0, NULL, id % 2 = 0) AS b",
    "IF(id % 11 = 0, NULL, CAST(id * 3 AS INT)) AS i",
    "IF(id % 5 = 0, NULL, CAST(id / 4 AS FLOAT)) AS f",
    "IF(id % 3 = 0, NULL, CAST(id AS DOUBLE) / 7) AS d",
    "IF(id % 4 = 0, NULL, concat('s', id)) AS s",
    "IF(id % 7 = 1, NULL, CAST(id * 1.25 AS DECIMAL(9,2))) AS dec9",
    "IF(id % 7 = 2, NULL, CAST(id * -12345.6789 AS DECIMAL(18,4))) AS dec18",
    """IF(id % 7 = 3, NULL, CAST(concat(IF(id % 2 = 0, '-', ''), id,
      |  '1234567890123456789012345.0123456789') AS DECIMAL(38,10))) AS dec38""".stripMargin,
    "IF(id % 8 = 0, NULL, date_add(DATE'1000-01-01', CAST(id * 1777 AS INT))) AS dt",
    "IF(id % 9 = 0, NULL, timestamp_micros(id * 86400000123 - 1000000000000000)) AS ts",
    "IF(id % 9 = 1, NULL, CAST(timestamp_micros(id * 3600000007) AS TIMESTAMP_NTZ)) AS ntz",
    "IF(id % 6 = 0, NULL, CAST(concat('bin', id) AS BINARY)) AS bin",
    "IF(id % 10 = 0, NULL, array(CAST(id AS DOUBLE) / 2, NULL, CAST(id AS DOUBLE))) AS arr_d",
    """IF(id % 10 = 1, NULL, IF(id % 10 = 2, CAST(array() AS ARRAY<STRING>),
      |  array(concat('a', id), NULL))) AS arr_s""".stripMargin,
    "IF(id % 10 = 3, NULL, map('k', id, 'n', IF(id % 3 = 0, NULL, id * 2))) AS m",
    """IF(id % 12 = 0, NULL, named_struct('a', CAST(id AS INT),
      |  'b', IF(id % 5 = 0, NULL, concat('x', id)),
      |  'c', CAST(id AS DECIMAL(38,10)), 'd', date_add(DATE'2000-01-01', CAST(id AS INT)))) AS st""".stripMargin)

  test("every accepted type round-trips through the sink and source, nulls included") {
    val dir = Files.createTempDirectory("graft_every_type").toString
    val src = everyType(240)
    src.repartition(3).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema == src.schema,
      s"schema drifted:\n${src.schema.treeString}\nvs\n${back.schema.treeString}")
    val expected = jsonRows(src)
    assert(jsonRows(back) == expected)
    // and Spark's own parquet source reads the staged files the same way
    assert(jsonRows(spark.read.parquet(dir)) == expected)
    // the session's reader settings choose how a graft scan decodes (row
    // or columnar, codegen or not), never what it returns
    import org.apache.spark.sql.internal.SQLConf
    Seq(SQLConf.PARQUET_VECTORIZED_READER_ENABLED.key -> "false",
      SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      SQLConf.PARQUET_VECTORIZED_READER_NESTED_COLUMN_ENABLED.key -> "false",
      SQLConf.PARQUET_REBASE_MODE_IN_READ.key -> "EXCEPTION").foreach { case (k, v) =>
      val old = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try assert(jsonRows(spark.read.format("graft").load(dir)) == expected, s"$k=$v")
      finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a write nesting past one level is rejected at build time, on the driver") {
    val dir = Files.createTempDirectory("graft_deep_nest").toString
    // array<struct<…>>: checked before any executor task stages a file
    val e = intercept[IllegalArgumentException] {
      spark.range(0, 10)
        .selectExpr("id", "array(named_struct('k', id, 'v', concat('x', id))) AS items")
        .write.format("graft").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("'items'"), e.getMessage)
    assert(new java.io.File(dir).listFiles() == null ||
      new java.io.File(dir).listFiles().isEmpty,
      "a build-time rejection must leave nothing staged")
  }

  test("BYTE and SHORT columns keep their types, and footer MIN/MAX answer them") {
    val dir = Files.createTempDirectory("graft_small_ints").toString
    val src = spark.range(0, 300).selectExpr("id",
      "IF(id % 7 = 0, NULL, CAST(id % 200 - 100 AS TINYINT)) AS b8",
      "IF(id % 5 = 0, NULL, CAST(id * 97 - 15000 AS SMALLINT)) AS b16")
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema == src.schema)
    assertSameRows(back, src)
    val agg = back.agg(min("b8"), max("b8"), min("b16"), max("b16"))
    val got = agg.collect().toSeq
    assert(agg.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
    assert(got == src.agg(min("b8"), max("b8"), min("b16"), max("b16")).collect().toSeq)
    // a footer-stat filter on a byte column prunes like any other int
    assert(back.filter(col("b8") === 42).count() == src.filter(col("b8") === 42).count())
  }

  test("a zero FLOAT/DOUBLE footer bound scans, so MIN/MAX keep the data's signed zero") {
    import spark.implicits._
    def stage(xs: Seq[Double]): String = {
      val dir = Files.createTempDirectory("graft_signed_zero").toString
      xs.toDF("d").selectExpr("d", "CAST(d AS FLOAT) AS f")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val r = df.agg(min("d"), max("d"), min("f"), max("f")).head
      Seq(java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Float.floatToRawIntBits(r.getFloat(2)).toLong,
        java.lang.Float.floatToRawIntBits(r.getFloat(3)).toLong)
    }
    // parquet-mr reads a zero min back as -0.0 and a zero max as +0.0
    for (xs <- Seq(Seq(0.0, 1.0), Seq(-1.0, -0.0))) {
      val dir = stage(xs)
      assert(bits(spark.read.format("graft").load(dir)) == bits(spark.read.parquet(dir)), xs)
    }
    // non-zero bounds still come from the footers
    val dir = stage(Seq(-2.5, 0.5, 1.0))
    val agg = spark.read.format("graft").load(dir).agg(min("d"), max("d"), min("f"), max("f"))
    assert(agg.collect().toSeq.map(_.toSeq) == Seq(Seq(-2.5, 1.0, -2.5f, 1.0f)))
    assert(agg.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
  }

  test("MIN/MAX over a BINARY column are computed from the data, not the footers") {
    val dir = Files.createTempDirectory("graft_bin_minmax").toString
    val src = spark.range(0, 40).selectExpr("id", "CAST(concat('b', id) AS BINARY) AS bin")
    src.repartition(2).write.format("graft").mode("overwrite").save(dir)
    val got = spark.read.format("graft").load(dir).agg(hex(min("bin")), hex(max("bin")))
    assert(got.collect().toSeq == src.agg(hex(min("bin")), hex(max("bin"))).collect().toSeq)
  }

  test("staged files do not depend on the session's parquet writer settings") {
    import org.apache.spark.sql.internal.SQLConf
    val dir = Files.createTempDirectory("graft_pinned_write").toString
    // everything Tables.register does not pin, set the other way
    val s2 = spark.newSession()
    Seq(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> "INT96",
      SQLConf.PARQUET_COMPRESSION.key -> "gzip",
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> "true",
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key -> "LEGACY")
      .foreach { case (k, v) => s2.conf.set(k, v) }
    s2.range(0, 120).selectExpr("id",
        "date_add(DATE'1000-01-01', CAST(id AS INT)) AS dt",
        "timestamp_micros(id * 1000003 - 30000000000000000) AS ts",
        "CAST(id AS DECIMAL(38,10)) AS dec38",
        "array(id, id + 1) AS arr")
      .write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    val want = spark.range(0, 120).selectExpr("id",
      "date_add(DATE'1000-01-01', CAST(id AS INT)) AS dt",
      "timestamp_micros(id * 1000003 - 30000000000000000) AS ts",
      "CAST(id AS DECIMAL(38,10)) AS dec38",
      "array(id, id + 1) AS arr")
    assert(jsonRows(back) == jsonRows(want))
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), new org.apache.hadoop.conf.Configuration()))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      def field(name: String) = schema.getType(schema.getFieldIndex(name))
      val ts = field("ts").asPrimitiveType()
      assert(ts.getPrimitiveTypeName.name == "INT64", ts.toString)
      assert(ts.getLogicalTypeAnnotation.toString.contains("MICROS"), ts.toString)
      assert(footer.getBlocks.get(0).getColumns.get(0).getCodec.name == "SNAPPY")
      assert(!footer.getFileMetaData.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime"))
      // the standard 3-level list, not the legacy 2-level form
      assert(field("arr").asGroupType().getType(0).getName == "list")
    } finally reader.close()
  }

  test("legacy INT96 timestamps read as TIMESTAMP through Spark's converter") {
    val dir = Files.createTempDirectory("graft_int96").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val src = s2.range(0, 50).selectExpr("id",
      "IF(id % 4 = 0, NULL, timestamp_micros(id * 86400000001)) AS ts")
    src.write.mode("overwrite").parquet(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("ts").dataType.typeName == "timestamp")
    val want = spark.range(0, 50).selectExpr("id",
      "IF(id % 4 = 0, NULL, timestamp_micros(id * 86400000001)) AS ts")
    assertSameRows(back, want)
    // INT96 footers carry no usable min/max: MIN/MAX still answer right
    assertSameRows(back.agg(min("ts"), max("ts")), want.agg(min("ts"), max("ts")))
  }

  test("unsigned INT(32) reads widened to BIGINT, and its footer stats never prune") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = Files.createTempDirectory("graft_uint32").toString
    val msg = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(32, false)).named("u"))
      .named("unsigned")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(msg).build()
    try Seq(7, -1294967296).foreach { bits => // 7 and 3,000,000,000 as uint32
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      g.add(0, bits)
      w.write(g)
    } finally w.close()
    val df = spark.read.format("graft").load(dir)
    assert(df.schema("u").dataType.typeName == "long")
    assert(df.filter(col("u") === 3000000000L).count() == 1)
    assert(df.agg(max("u")).head.getLong(0) == 3000000000L)
  }

  test("TIMESTAMP(NANOS) files are rejected at schema inference") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = Files.createTempDirectory("graft_nanos").toString
    val msg = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("t"))
      .named("nanos")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(msg).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      g.add(0, 1000000000123456789L)
      w.write(g)
    } finally w.close()
    // the session's nanosAsLong (Tables.register sets it) does not leak in
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val e = intercept[Exception](spark.read.format("graft").load(dir).schema)
      assert(e.getMessage.contains("NANOS"), e.getMessage)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
