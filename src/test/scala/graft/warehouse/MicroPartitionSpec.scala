package graft.warehouse

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, Graft, SparkSpec}
import graft.connector.StageCache

/** The warehouse's micro-partitioned copies: staged on the first scan of a
  * table whose one row group Spark cannot split, reused afterwards, never
  * for tables too small to gain, and invisible in every result. */
class MicroPartitionSpec extends SparkSpec {

  /** The sf0.1 warehouse, beside the suites' sf0.001 one. */
  private val sf01 = new java.io.File(new java.io.File(sfDir).getParent, "sf0.1").toString

  /** The directories the view's scan reads. */
  private def scanDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).getParent).toSet

  /** A session whose views read the original files, as before the copies. */
  private def originalLayout(dir: String): SparkSession = {
    val s = spark.newSession()
    Tables.register(s, dir)
    Tables.all.foreach { t =>
      Tables.normalizeTs(s.read.parquet(s"$dir/$t.parquet")).createOrReplaceTempView(t)
    }
    s
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("copyFiles: one file per core, none under MinSplitBytes, only past the row groups") {
    val m = Tables.MinSplitBytes
    assert(Tables.copyFiles(1, 10L << 20, 4) == 4)
    assert(Tables.copyFiles(1, 3 * m, 4) == 3)
    assert(Tables.copyFiles(1, 2 * m - 1, 4) == 1)
    assert(Tables.copyFiles(4, 100L << 20, 4) == 1, "already split per core")
    assert(Tables.copyFiles(2, 100L << 20, 4) == 4)
    assert(Tables.copyFiles(1, 100L << 20, 1) == 1, "one core gains nothing")
  }

  test("the first scan of sf0.1 lineitem stages one copy; later scans reuse it") {
    StageCache.clearAll()
    val s = spark.newSession()
    Tables.register(s, sf01)
    assert(StageCache.size == 0, "register must not stage a copy")
    val q = "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 30"
    val first = s.sql(q).count()
    assert(StageCache.size == 1, "the first scan stages one copy")
    val dirs = scanDirs(s.table("lineitem"))
    assert(dirs.size == 1 && dirs.head != sf01, s"the view reads $dirs")
    assert(s.sql(q).count() == first)
    assert(Tables.table(s, sf01, "lineitem").filter(col("l_quantity") > 30).count() == first)
    assert(StageCache.size == 1 && scanDirs(s.table("lineitem")) == dirs,
      "later scans must reuse the copy")
    // a second session of the same process reads the same copy
    val other = spark.newSession()
    assert(Graft.read(other, sf01, q, npartitions = Some(3)).count() == first)
    assert(StageCache.size == 1 && scanDirs(other.table("lineitem")) == dirs)

    val files = s.table("lineitem").inputFiles.length
    val cores = spark.sparkContext.defaultParallelism
    assert(files == cores, s"one file per core: $files files, $cores cores")
    val nonEmpty = s.table("lineitem").select(spark_partition_id().as("p"))
      .distinct().count()
    assert(nonEmpty >= math.min(cores, files), s"$nonEmpty non-empty scan partitions")
  }

  test("small tables keep their original file") {
    val s = spark.newSession()
    Tables.register(s, sf01)
    assert(s.table("region").inputFiles.toSeq.map(new java.io.File(_).getName)
      .forall(_ == "region.parquet"))
    val tiny = spark.newSession()
    Tables.register(tiny, sfDir)
    Tables.all.foreach { t =>
      val fs = tiny.table(t).inputFiles.toSeq.map(new java.io.File(_).getName)
      assert(fs == Seq(s"$t.parquet"), s"$t at sf0.001 read $fs")
    }
  }

  test("scans re-stage after StageCache.clearAll() and survive CacheRegistry.releaseAll()") {
    val s = spark.newSession()
    Tables.register(s, sf01)
    val n = s.table("orders").count()
    val before = scanDirs(s.table("orders"))
    StageCache.clearAll()
    assert(before.forall(d => !Files.exists(Paths.get(d))), "clearAll deletes the copy")
    assert(s.table("orders").count() == n)
    val after = scanDirs(s.table("orders"))
    assert(after != before && after.forall(d => Files.exists(Paths.get(d))))
    CacheRegistry.releaseAll()
    assert(s.table("orders").count() == n)
    assert(scanDirs(s.table("orders")) == after)
  }

  test("keys and Graft.read shapes return identical rows over the original and the copy") {
    val copied = spark.newSession()
    Tables.register(copied, sf01)
    val orig = originalLayout(sf01)
    assert(scanDirs(orig.table("lineitem")) != scanDirs(copied.table("lineitem")))
    for (key <- Seq("q_tpch_q1", "q_graph_kcore")) {
      val fn = graft.SparkEntry.queries(key)
      CacheRegistry.releaseAll()
      val a = rows(fn(orig, sf01))
      CacheRegistry.releaseAll()
      val b = rows(fn(copied, sf01))
      CacheRegistry.releaseAll()
      assert(a.nonEmpty && a == b, s"$key differs between layouts")
    }
    val reads: Seq[SparkSession => DataFrame] = Seq(
      s => Graft.read(s, sf01, """SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
          |FROM lineitem WHERE l_quantity > 30""".stripMargin,
        partitionSize = Some("1 MiB")),
      s => Graft.read(s, sf01, """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |WHERE o_totalprice > 100000""".stripMargin, npartitions = Some(3)),
      s => Graft.read(s, sf01, """SELECT l_orderkey, l_linenumber, l_discount, l_tax
          |FROM lineitem WHERE l_discount >= :d AND l_tax <= :t""".stripMargin,
        params = Map("d" -> 0.05, "t" -> 0.03), npartitions = Some(8)))
    reads.foreach(r => assertSameRows(r(orig), r(copied)))
  }
}
