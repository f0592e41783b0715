package graft.connector

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.warehouse.Tables

/** Connector behavior tests mirroring the reference's own suite shape
  * (dask_snowflake/tests/test_core.py): write/read roundtrip with
  * canonical compare, empty results, deferred writes, partition sizing
  * tolerances, parameterized queries. */
class ConnectorSpec extends SparkSpec {

  test("roundtrip: write then read back preserves content (test_core.py:54-65)") {
    val df = Tables.table(spark, sfDir, "customer")
    val out = Files.createTempDirectory("graft_rt").toString
    Write.toParquet(df, out, overwrite = true)
    val back = spark.read.parquet(out)
    assertSameRows(df, back)
  }

  test("overwrite mode replaces prior content (test_core.py:126-146)") {
    val out = Files.createTempDirectory("graft_ow").toString
    val a = Tables.table(spark, sfDir, "nation")
    Write.toParquet(a, out, overwrite = true)
    Write.toParquet(a, out, overwrite = true)
    assert(spark.read.parquet(out).count() == a.count())
    // append mode doubles it
    Write.toParquet(a, out)
    assert(spark.read.parquet(out).count() == 2 * a.count())
  }

  test("empty result keeps its schema (core.py:277-278, test_core.py:68-80)") {
    // DELIBERATE divergence from the reference, pinned: dask-snowflake
    // degrades an empty result to a zero-COLUMN frame because its schema
    // comes from the first non-empty Arrow batch; Spark always knows the
    // analyzed schema, so the default preserves it
    val df = Read.readTable(spark, sfDir,
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey < 0")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("c_custkey", "c_name"))
  }

  test("emptyAsZeroColumns reproduces the reference's zero-column degrade exactly") {
    // the reference shape: len(result.index) == 0 AND len(result.columns)
    // == 0 (test_core.py:78-80), npartitions=1 (core.py:278)
    val df = Read.readTable(spark, sfDir,
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey < 0",
      emptyAsZeroColumns = true)
    assert(df.count() == 0)
    assert(df.schema.isEmpty, s"expected zero columns, got ${df.schema.fieldNames.toSeq}")
    assert(df.rdd.getNumPartitions == 1)
    // and a NON-empty result is untouched by the flag
    val nonEmpty = Read.readTable(spark, sfDir,
      "SELECT c_custkey FROM customer WHERE c_custkey >= 0",
      emptyAsZeroColumns = true)
    assert(nonEmpty.schema.fieldNames.toSeq == Seq("c_custkey"))
    assert(nonEmpty.count() > 0)
  }

  test("npartitions mode hits the requested count ±2 (test_core.py:305-310)") {
    val df = Read.readTable(spark, sfDir,
      "SELECT * FROM lineitem", npartitions = Some(4))
    assert(math.abs(df.rdd.getNumPartitions - 4) <= 2)
    assert(df.count() > 0)
  }

  test("partition_size mode: small target yields more partitions than large") {
    val small = Read.readTable(spark, sfDir,
      "SELECT * FROM lineitem", partitionSize = Some("64 KiB"))
    val large = Read.readTable(spark, sfDir,
      "SELECT * FROM lineitem", partitionSize = Some("1 GiB"))
    assert(small.rdd.getNumPartitions > large.rdd.getNumPartitions)
    assert(large.rdd.getNumPartitions == 1)
    assert(small.count() == large.count())
  }

  test("exactly-one-of raises (test_core.py:312-319)") {
    intercept[IllegalArgumentException] {
      Read.readTable(spark, sfDir, "SELECT 1",
        npartitions = Some(2), partitionSize = Some("1 MiB"))
    }
  }

  test("parameterized query binds engine-side (test_core.py:73-74, 267-272)") {
    val maxBal = Tables.table(spark, sfDir, "customer")
      .agg(max("c_acctbal")).head.getDouble(0)
    val df = Read.readTable(spark, sfDir,
      "SELECT c_custkey FROM customer WHERE c_acctbal = :target",
      params = Map("target" -> maxBal))
    assert(df.count() >= 1)
    val none = Read.readTable(spark, sfDir,
      "SELECT c_custkey FROM customer WHERE c_acctbal > :target",
      params = Map("target" -> maxBal))
    assert(none.count() == 0)
  }

  test("Graft.read resolves Snowflake dialect functions, as do temp views and expr()") {
    val where = "FROM orders WHERE o_orderkey < 600"
    val dialect = graft.Graft.read(spark, sfDir,
      s"""SELECT o_orderkey, IFF(o_totalprice > 100000, 'big', 'small') AS tag,
         |  DIV0(o_totalprice, o_orderkey % 3) AS per, BITAND(o_orderkey, 255) AS low,
         |  TO_VARCHAR(o_orderdate, 'YYYY-MM-DD') AS day $where""".stripMargin)
    val ansi = graft.Graft.read(spark, sfDir,
      s"""SELECT o_orderkey,
         |  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS tag,
         |  CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE o_totalprice / (o_orderkey % 3) END AS per,
         |  o_orderkey & 255 AS low, date_format(o_orderdate, 'yyyy-MM-dd') AS day
         |$where""".stripMargin)
    assert(dialect.count() > 0)
    assertSameRows(dialect, ansi)
    // the read left them in the session: plain spark.sql and expr() resolve them
    spark.sql(s"CREATE OR REPLACE TEMP VIEW cs_dialect AS SELECT o_orderkey, " +
      s"IFF(o_orderkey % 2 = 0, 'even', 'odd') AS parity $where")
    assertSameRows(spark.table("cs_dialect"), spark.sql("SELECT o_orderkey, " +
      s"CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity $where"))
    spark.catalog.dropTempView("cs_dialect")
    val orders = spark.table("orders").filter("o_orderkey < 600")
    assertSameRows(
      orders.select(col("o_orderkey"), expr("DIV0(o_totalprice, o_orderkey % 3)").as("per")),
      ansi.select("o_orderkey", "per"))
  }

  test("deferred write: DDL eager, rows only on compute (core.py:116-124)") {
    val df = Tables.table(spark, sfDir, "region")
    val name = s"t_deferred_${System.nanoTime()}"
    val thunk = Write.toTableDeferred(df, name)
    // table exists (the reference's compute=False wart: DDL ran eagerly)
    assert(spark.catalog.tableExists(name.toUpperCase))
    assert(spark.table(name.toUpperCase).count() == 0)
    thunk()
    assert(spark.table(name.toUpperCase).count() == df.count())
  }

  test("table names are uppercased (core.py:37)") {
    val df = Tables.table(spark, sfDir, "region")
    val name = s"t_case_${System.nanoTime()}"
    Write.toTable(df, name)
    assert(spark.catalog.tableExists(name.toUpperCase))
  }

  test("table names uppercase the same under a Turkish default locale") {
    // Turkish uppercases "i" to a dotted "İ": "line_items" became "LİNE_İTEMS"
    val df = Tables.table(spark, sfDir, "region")
    val suffix = System.nanoTime()
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      Write.createTableIfNotExists(spark, s"line_items_ddl_$suffix", df.schema)
      Write.toTable(df, s"line_items_$suffix")
    } finally java.util.Locale.setDefault(saved)
    assert(spark.catalog.tableExists(s"LINE_ITEMS_DDL_$suffix"))
    assert(spark.table(s"LINE_ITEMS_$suffix").count() == df.count())
  }

  test("q_rename_upper uppercases column names the same under a Turkish default locale") {
    // Turkish uppercases "r_regionkey" to "R_REGİONKEY", a column name the
    // oracle's R_REGIONKEY does not match
    val saved = java.util.Locale.getDefault
    val rows = try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      val df = graft.SparkEntry.queries("q_rename_upper")(spark, sfDir)
      assert(df.columns.toSeq == Seq("R_REGIONKEY", "R_NAME"))
      df.collect()
    } finally java.util.Locale.setDefault(saved)
    assert(rows.length == 5)
  }

  test("compactSmallFiles: file count follows total/target, content survives, no shuffle") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_cmp_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cmp_out").toString
    val df = (0L until 2000L).map(i => (i, s"row_$i")).toDF("id", "s")
    df.repartition(10).write.mode("overwrite").parquet(in)
    // huge target → everything glues into one file
    val (before, after) = graft.Graft.compactSmallFiles(spark, in, out,
      targetBytes = 1L << 30)
    assert(before == 10 && after == 1, s"got ($before, $after)")
    val back = spark.read.parquet(out)
    assertSameRows(back, df)
    // coalesce, not repartition: the compaction read must carry no
    // exchange (the whole point is a linear glue pass)
    val plan = spark.read.parquet(in).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction must not shuffle:\n$plan")
    // tiny target → more output files than one, fewer than input
    val out2 = java.nio.file.Files.createTempDirectory("graft_cmp_out2").toString
    val (_, after2) = graft.Graft.compactSmallFiles(spark, in, out2,
      targetBytes = 8 * 1024)
    assert(after2 > 1 && after2 <= 10, s"got $after2 files")
    intercept[IllegalArgumentException] {
      graft.Graft.compactSmallFiles(spark, in, out, targetBytes = 0)
    }
  }

  private def rowsOf(s: org.apache.spark.sql.SparkSession, key: String) =
    graft.SparkEntry.queries(key)(s, sfDir).collect().map(_.toSeq).toSeq

  test("Tables.register stages no fixture; each key stages its own on first use") {
    StageCache.clearAll()
    // a fresh session has not registered the dir yet, and carries none of
    // the parquet settings register pins
    val fresh = spark.newSession()
    Tables.register(fresh, sfDir)
    assert(StageCache.size == 0, "register must not stage DSv2 fixtures")
    // nor copy a warehouse table: sf0.1 lineitem and orders are copied on
    // their first scan, not here
    Tables.register(spark.newSession(),
      new java.io.File(new java.io.File(sfDir).getParent, "sf0.1").toString)
    assert(StageCache.size == 0, "register must not copy warehouse tables")
    // DATE/DECIMAL stage (written after the pin), nested stage, catalog tables
    val keys = Seq("q_dsv2_decimal", "q_layout_compact", "q_bucket_join")
    val lazily = keys.map(k => k -> rowsOf(fresh, k)).toMap
    assert(StageCache.size > 0)
    StageCache.clearAll()
    ConnectorQueries.prestage(fresh, sfDir)
    keys.foreach { k =>
      val eager = rowsOf(fresh, k)
      assert(eager.nonEmpty, k)
      assert(lazily(k) == eager, s"$k: rows differ between lazy and prestaged fixtures")
    }
  }

  test("q_bucket_join re-creates its tables after StageCache.clearAll()") {
    val first = rowsOf(spark, "q_bucket_join")
    StageCache.clearAll()
    // the catalog still lists the tables; their files are gone
    assert(rowsOf(spark, "q_bucket_join") == first)
    assert(first.nonEmpty)
  }

  /** Spark jobs started while `body` runs: a marker job after `body` is
    * awaited on the listener bus, so every earlier job start is counted. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq.filterNot(_ == marker)
  }

  test("a read with a shuffle or a subquery runs no Spark job before the caller's action") {
    Tables.register(spark, sfDir)
    val grouped = """SELECT l_suppkey, count(*) AS n, sum(l_extendedprice) AS s
                    |FROM lineitem GROUP BY l_suppkey""".stripMargin
    // AQE plans the subquery in its own adaptive plan, a leaf to the outer tree
    val subquery = """SELECT o_orderkey, o_totalprice FROM orders
                     |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin
    // a broadcast-only plan still probes for n > 1 (its stage is small);
    // one partition needs no probe at all
    val joined = """SELECT l_orderkey, l_quantity, o_orderdate FROM lineitem
                   |JOIN orders ON l_orderkey = o_orderkey""".stripMargin
    val cases = Seq(grouped -> Seq(1, 2), subquery -> Seq(1, 2), joined -> Seq(1))
    for ((q, ns) <- cases; n <- ns) {
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { df = graft.Graft.read(spark, sfDir, q, npartitions = Some(n)) }
      assert(jobs.isEmpty, s"Graft.read(npartitions = $n) ran ${jobs.size} job(s) before any action: $q")
      assert(df.rdd.getNumPartitions == n)
      assertSameRows(df, spark.sql(q))
    }
  }
}
