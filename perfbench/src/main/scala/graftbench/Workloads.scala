package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheRegistry, Graft, SparkEntry}
import graft.connector.Write

/** What one operation did. `timedS` covers the call and the full
  * materialization of its result, never the correctness check that
  * follows it. Connector reads also report how their result was
  * partitioned, writes what they left on disk. */
final case class Outcome(
    timedS: Double,
    ok: Boolean,
    detail: String = "",
    readRows: Long = 0,
    writeRows: Long = 0,
    readPlanS: Double = -1,
    requestedParts: Int = 0,
    targetBytes: Long = 0,
    partBytes: Seq[Long] = Nil,
    files: Int = 0,
    fileBytes: Long = 0)

/** One closed-loop operation: `run` issues it, waits for the full result
  * and checks it. `kind` is query (a collected query key), read or write
  * (connector calls). */
final case class Op(name: String, kind: String)(val run: () => Outcome)

/** Everything an operation needs: the live session, the read-only
  * warehouse, a scratch directory for writes, and the run's seed. */
final class Ctx(val spark: SparkSession, val warehouse: String,
    val work: String, val seed: Long)

trait Workload {
  def name: String
  def ops: IndexedSeq[Op]
  /** Whether the seed permutes the op order of each timed pass. */
  def permuted: Boolean = true
  /** Called before every pass, outside its timing. */
  def beforePass(): Unit = ()
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def failed(e: Throwable): Outcome =
    Outcome(0, ok = false, s"${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").take(300)}")
}

/** A list of `SparkEntry.queries` keys. Each op builds the key's
  * DataFrame, collects its full ordered result, and compares the result's
  * digest with the oracle-checked golden digest for that key. The
  * registry is cleared before every pass. */
final class KeysWorkload(val name: String, ctx: Ctx, keys: Seq[String],
    golden: Map[String, Golden.Entry]) extends Workload {

  private val queries = SparkEntry.queries

  val ops: IndexedSeq[Op] = keys.toIndexedSeq.map { key =>
    val fn = queries.getOrElse(key, sys.error(s"unknown query key $key"))
    Op(key, "query") { () =>
      try {
        val t0 = System.nanoTime()
        val df = fn(ctx.spark, ctx.warehouse)
        val rows = df.collect()
        val dt = Workload.secs(t0)
        val digest = Check.ordered(df.schema.fieldNames.toSeq, rows)
        golden.get(key) match {
          case None => Outcome(dt, ok = false, "no golden result")
          case Some(g) if !g.oracleOk => Outcome(dt, ok = false, s"oracle: ${g.why}")
          case Some(g) if g.rows != rows.length || g.digest != digest =>
            Outcome(dt, ok = false,
              s"result differs from the oracle-checked one: rows ${rows.length} vs ${g.rows}")
          case Some(_) => Outcome(dt, ok = true, readRows = rows.length)
        }
      } catch { case NonFatal(e) => Workload.failed(e) }
    }
  }

  /** Every pass pays the registry artifact builds a fresh user pays. */
  override def beforePass(): Unit = CacheRegistry.releaseAll()

  /** Keys run in list order. An op's time here depends on what ran before
    * it in the pass (`q_graph_kcore` takes 2.3-2.7 s early in a pass and
    * 3.1-4.9 s after the other keys), so a per-seed order turned that
    * into run-to-run spread; the list puts the iterative key last, where
    * the slowdown shows. */
  override def permuted: Boolean = false
}

/** The paper's two capabilities, reads beside writes: `Graft.read` of
  * pushed-down SQL in size mode, count mode and with bound parameters;
  * `spark.read.format("graft")` over the stages this workload writes; and
  * `Graft.write`, `Graft.writeStage` (flat and hive-partitioned) and
  * `Write.toParquet`. The seed picks the read filters' thresholds,
  * parameter values, partition sizes and partition counts. Every read is
  * compared with its source by row count and content hash; every write is
  * read back and compared the same way. */
final class ConnectorWorkload(ctx: Ctx) extends Workload {
  import org.apache.spark.sql.functions.col

  val name = "connector_rw"
  private val spark = ctx.spark
  private val wh = ctx.warehouse
  private val rnd = new scala.util.Random(ctx.seed)

  // Seed-picked parameters. Partition sizes and counts range widely; the
  // filter thresholds only so far that each read moves about the same rows
  // (within 5 %) in every seed, so a rows/s rate measures the engine, not
  // the seed. A `qtyMin` of 30-34 and independent `discMin` and `taxMax`
  // draws moved `read_size` by a fifth and `read_params` from 118k to 185k
  // rows, which put the spread of `read_rows_per_s` over ten seeds at 0.16.
  val qtyMin: Int = 30 + rnd.nextInt(2)
  val sizeKiB: Int = Seq(512, 1024, 2048)(rnd.nextInt(3))
  val ordersParts: Int = 2 + rnd.nextInt(11)
  val priceMin: Int = 100000 + rnd.nextInt(20000)
  /** Pairs that select 144k and 151k lineitem rows at sf0.1. */
  val (discMin: Double, taxMax: Double) =
    Seq((0.05, 0.03), (0.06, 0.04))(rnd.nextInt(2))
  /** Fixed, not seed-picked: this read's time depends on the requested
    * count (about 0.2 s at 2-3 partitions, 0.5 s at 5-8), which a per-seed
    * count turned into run-to-run spread. 8 keeps the slow case in every
    * run. */
  val paramsParts: Int = 8
  val stageKiB: Int = Seq(256, 512, 1024)(rnd.nextInt(3))
  val stageParts: Int = 2 + rnd.nextInt(11)
  /** Fixed, not seed-picked: 6 or 7 wrote 72k or 84k rows, a sixth apart,
    * which split `write_rows_per_s` into two modes 8 % apart. */
  val writeQtyMax: Int = 7

  def params: Map[String, Any] = Map(
    "qtyMin" -> qtyMin, "sizeKiB" -> sizeKiB, "ordersParts" -> ordersParts,
    "priceMin" -> priceMin, "discMin" -> discMin, "taxMax" -> taxMax,
    "paramsParts" -> paramsParts, "stageKiB" -> stageKiB,
    "stageParts" -> stageParts, "writeQtyMax" -> writeQtyMax)

  private val sizeSql =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
       |l_returnflag FROM lineitem WHERE l_quantity > $qtyMin""".stripMargin
  private val countSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
       |FROM orders WHERE o_totalprice > $priceMin""".stripMargin
  private val paramSql =
    """SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem
      |WHERE l_discount >= :discMin AND l_tax <= :taxMax""".stripMargin
  private val paramVals = Map[String, Any]("discMin" -> discMin, "taxMax" -> taxMax)
  private val paramLiteralSql =
    s"""SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem
       |WHERE l_discount >= $discMin AND l_tax <= $taxMax""".stripMargin

  private def lineitem = spark.read.parquet(s"$wh/lineitem.parquet")
  private def orders = spark.read.parquet(s"$wh/orders.parquet")

  /** Write sources, rebuilt from the warehouse on every call. */
  private def stageSrc: DataFrame = lineitem
    .filter(col("l_quantity") <= writeQtyMax)
    .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus")
  private def ordersSrc: DataFrame = orders
    .filter(col("o_orderkey") % 3 === 0)
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")
  private val stageCols = stageSrc.columns.toSeq

  private val flatDir = s"${ctx.work}/stage_flat"
  private val partDir = s"${ctx.work}/stage_part"
  private val pqDir = s"${ctx.work}/orders_parquet"
  private val table = "GRAFT_BENCH_ORDERS"

  /** Expected fingerprints, computed on first use from each source
    * through the native parquet path (outside any op's timing). */
  private val sources: Map[String, () => DataFrame] = Map(
    "size" -> (() => spark.sql(sizeSql)),
    "count" -> (() => spark.sql(countSql)),
    "params" -> (() => spark.sql(paramLiteralSql)),
    "stage" -> (() => stageSrc),
    "orders" -> (() => ordersSrc))
  private val expected = scala.collection.mutable.Map.empty[String, Check.Summary]
  private def expect(key: String): Check.Summary =
    expected.getOrElseUpdate(key, Check.summarize(sources(key)()))

  private def compare(got: Check.Summary, key: String): (Boolean, String) = {
    val want = expect(key)
    if (got.sameContent(want)) (true, "")
    else (false, s"read back $got, source $want")
  }

  private def readOp(name: String, key: String, requested: Int, target: Long)(
      build: () => DataFrame): Op = Op(name, "read") { () =>
    try {
      expect(key)
      val t0 = System.nanoTime()
      val df = build()
      val planS = Workload.secs(t0)
      val s = Check.summarize(df)
      val dt = Workload.secs(t0)
      val (ok, why) = compare(s, key)
      Outcome(dt, ok, why, readRows = s.rows, readPlanS = planS,
        requestedParts = requested, targetBytes = target,
        partBytes = s.partBytes.toSeq)
    } catch { case NonFatal(e) => Workload.failed(e) }
  }

  private def files(dir: String): (Int, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0, 0L)
    else {
      val w = java.nio.file.Files.walk(root)
      try {
        val fs = w.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length, fs.map(p => java.nio.file.Files.size(p)).sum)
      } finally w.close()
    }
  }

  private def writeOp(name: String, key: String, dir: Option[String])(
      write: () => Unit)(readBack: () => DataFrame): Op = Op(name, "write") { () =>
    try {
      expect(key)
      val t0 = System.nanoTime()
      write()
      val dt = Workload.secs(t0)
      val s = Check.summarize(readBack())
      val (ok, why) = compare(s, key)
      val (n, bytes) = dir.map(files).getOrElse((0, 0L))
      Outcome(dt, ok, why, writeRows = s.rows, files = n, fileBytes = bytes)
    } catch { case NonFatal(e) => Workload.failed(e) }
  }

  private val writes: IndexedSeq[Op] = IndexedSeq(
    writeOp("write_stage_flat", "stage", Some(flatDir)) { () =>
      Graft.writeStage(stageSrc, flatDir, overwrite = true)
    } { () => spark.read.parquet(flatDir) },
    writeOp("write_stage_partitioned", "stage", Some(partDir)) { () =>
      Graft.writeStage(stageSrc, partDir, overwrite = true,
        partitionBy = Seq("l_returnflag"))
    } { () => spark.read.parquet(partDir).select(stageCols.map(col): _*) },
    writeOp("write_table", "orders", None) { () =>
      Graft.write(ordersSrc, table, overwrite = true)
    } { () => spark.table(table) },
    writeOp("write_parquet", "orders", Some(pqDir)) { () =>
      Write.toParquet(ordersSrc, pqDir, overwrite = true)
    } { () => spark.read.parquet(pqDir) })

  private val reads: IndexedSeq[Op] = IndexedSeq(
    readOp("read_size", "size", 0, sizeKiB * 1024L) { () =>
      Graft.read(spark, wh, sizeSql, partitionSize = Some(s"$sizeKiB KiB"))
    },
    readOp("read_count", "count", ordersParts, 0) { () =>
      Graft.read(spark, wh, countSql, npartitions = Some(ordersParts))
    },
    readOp("read_params", "params", paramsParts, 0) { () =>
      Graft.read(spark, wh, paramSql, params = paramVals,
        npartitions = Some(paramsParts))
    },
    readOp("read_stage_size", "stage", 0, stageKiB * 1024L) { () =>
      spark.read.format("graft").option("partition_size", s"$stageKiB KiB")
        .load(flatDir)
    },
    readOp("read_stage_partitioned", "stage", stageParts, 0) { () =>
      spark.read.format("graft").option("npartitions", stageParts.toLong)
        .load(partDir).select(stageCols.map(col): _*)
    })

  /** Writes first: in the fixed-order warm-up pass they create the stages
    * the graft-format reads scan. */
  val ops: IndexedSeq[Op] = writes ++ reads
  /** The write a workload without writes of its own measures write
    * speed with (twice after every timed pass). */
  def probeWrites: IndexedSeq[Op] = writes.filter(_.name == "write_stage_flat")
}
