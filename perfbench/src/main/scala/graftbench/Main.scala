package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.CacheRegistry
import graft.warehouse.Tables

/** Benchmark JVM. `perfbench/run.py` builds it, prepares golden digests and
  * turns the raw record this program writes into metrics.
  *
  *   golden  --warehouse W --work D --dump V --verdicts F --out G
  *   run     --workload N --keys k1,k2 --seed S --seconds T --trace 0|1
  *           --warehouse W --work D --golden G --out R
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.drop(1).grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    argv.headOption match {
      case Some("golden") =>
        val spark = Session.start(a("work"))
        val verdicts = Files.readAllLines(Paths.get(a("verdicts"))).asScala
          .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
        Golden.write(a("out"), Golden.build(spark, a("dump"), verdicts))
        spark.stop()
      case Some("run") => new Runner(a).run()
      case _ =>
        System.err.println("usage: Main golden|run --key value ...")
        sys.exit(2)
    }
  }
}

object Session {
  val cores = 4

  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    s
  }
}

/** One op's record in the run's output. */
final case class OpRec(pass: Int, name: String, kind: String, startMs: Double,
    endMs: Double, o: Outcome) {
  def toMap: java.util.Map[String, Any] = Map[String, Any](
    "pass" -> pass, "op" -> name, "kind" -> kind, "wall_s" -> o.timedS,
    "ok" -> o.ok, "detail" -> o.detail, "read_rows" -> o.readRows,
    "write_rows" -> o.writeRows).asJava
}

object Runner {
  /** Timed passes per run at the least, whatever `--seconds` says: every
    * timing is a median over passes, and passes still get faster for two
    * or three passes after the warm-up. */
  val minPasses = 3
}

final class Runner(a: Map[String, String]) {
  private val workloadName = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val warehouse = a("warehouse")
  private val work = a("work")
  private val spans = new Spans
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Session start through `Tables.register`: the views plus the
    * fixture staging every query key and connector call relies on. */
  private def setup(): SparkSession = spans.span("setup") { id =>
    val t0 = System.nanoTime()
    val spark = spans.span("session.start", id)(_ => Session.start(work))
    val t1 = System.nanoTime()
    spans.span("warehouse.register", id)(_ => Tables.register(spark, warehouse))
    val t2 = System.nanoTime()
    out("setup_s") = (t2 - t0) / 1e9
    out("register_s") = (t2 - t1) / 1e9
    spark
  }

  private def runOp(spark: SparkSession, op: Op, pass: Int, passSpan: Int,
      tag: Option[String]): OpRec = {
    tag.foreach(t => spark.sparkContext.setJobDescription(t))
    val s = spans.now()
    val o = try spans.span(op.name, passSpan)(_ => op.run())
    finally spark.sparkContext.setJobDescription(null)
    val e = spans.now()
    attempted += 1
    if (!o.ok) failures += s"${op.name}: ${o.detail}"
    OpRec(pass, op.name, op.kind, s, e, o)
  }

  /** One pass over `ops` in the given order; returns its wall and records. */
  private def pass(spark: SparkSession, wl: Workload, ops: Seq[Op], p: Int,
      tagged: Boolean, clear: Boolean = true): (Double, Seq[OpRec]) = {
    if (clear) wl.beforePass()
    val t0 = System.nanoTime()
    val recs = spans.span(s"pass.$p") { id =>
      ops.map(op => runOp(spark, op, p, id,
        if (tagged) Some(s"$workloadName/${op.name}") else None))
    }
    ((System.nanoTime() - t0) / 1e9, recs)
  }

  /** Pass `p`'s op order: a seed-driven permutation where the workload
    * allows one. */
  private def shuffled(wl: Workload, p: Int): IndexedSeq[Op] =
    if (wl.permuted) new scala.util.Random(seed * 7919 + p).shuffle(wl.ops)
    else wl.ops

  private def passJson(p: Int, wall: Double, recs: Seq[OpRec]) = Map[String, Any](
    "pass" -> p, "wall_s" -> wall, "ops" -> recs.map(_.toMap).asJava).asJava

  def run(): Unit = {
    val spark = setup()
    val ctx = new Ctx(spark, warehouse, work, seed)
    val keys = a.get("keys").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val wl: Workload = workloadName match {
      case "connector_rw" => new ConnectorWorkload(ctx)
      case n => new KeysWorkload(n, ctx, keys, Golden.read(a("golden")))
    }
    // connector ops for a workload that has none of its own, on fixed
    // parameters so every seed writes the same rows
    val probe = wl match {
      case c: ConnectorWorkload =>
        out("params") = c.params.asJava
        None
      case _ => Some(new ConnectorWorkload(new Ctx(spark, warehouse, work, 0)))
    }

    // warm-up: JIT, codegen caches and lazily built fixtures settle first
    val (wu, wuRecs) = pass(spark, wl, wl.ops, -1, tagged = false)
    out("warmup") = passJson(-1, wu, wuRecs)

    if (!traced) {
      val passes = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
      val probes = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
      // the first probe write pays the write path's JIT and is not timed
      probe.foreach(c => pass(spark, c, c.probeWrites, 999, tagged = false))
      val t0 = System.nanoTime()
      var p = 0
      while (p < Runner.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (w, recs) = pass(spark, wl, shuffled(wl, p), p, tagged = false)
        passes += passJson(p, w, recs)
        // two probe writes after every pass rather than all at the end, so
        // a slow spell of the shared host late in the run slows only some
        probe.foreach { c =>
          for (i <- 0 until 2) {
            val (pw, precs) = pass(spark, c, c.probeWrites, 1000 + 2 * p + i, tagged = false)
            probes += passJson(1000 + 2 * p + i, pw, precs)
          }
        }
        p += 1
      }
      out("passes") = passes.asJava
      out("measured_s") = (System.nanoTime() - t0) / 1e9
      if (probe.nonEmpty) out("write_probe") = probes.asJava
      out("heap_retained_mb") = heapAfterGc()
    } else {
      tracedRun(spark, wl, probe)
    }
    BenchBus.drain(spark.sparkContext)
    out("attempted") = attempted
    out("failures") = failures.asJava
    out("spans") = spans.all.map(s => Map[String, Any]("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs).asJava).asJava
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().writeValueAsString(out.asJava))
    spark.stop()
  }

  private def heapAfterGc(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach(_ => System.gc())
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Untraced pass, traced pass, warm-registry pass, then the layer probes;
    * every per-layer metric comes from here. */
  private def tracedRun(spark: SparkSession, wl: Workload,
      probe: Option[ConnectorWorkload]): Unit = {
    val (plain, _) = pass(spark, wl, shuffled(wl, 0), 0, tagged = false)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val (tracedWall, recs) = pass(spark, wl, shuffled(wl, 1), 1, tagged = true)
    BenchBus.drain(spark.sparkContext)
    val entries = CacheRegistry.size
    // connector layers: this workload's own reads and writes, or one pass
    // of the connector workload when it has none
    val connRecs = probe match {
      case None => recs
      case Some(c) => pass(spark, c, c.ops, 2, tagged = true)._2
    }
    val fn = FunctionsProbe.run(spark, warehouse, 3, name => body => {
      spark.sparkContext.setJobDescription(s"$workloadName/functions.$name")
      try body finally spark.sparkContext.setJobDescription(null)
    })
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    // a pass that keeps the registry; the same as `plain` for a workload
    // that never clears it
    val warm = wl match {
      case _: KeysWorkload =>
        pass(spark, wl, shuffled(wl, 3), 3, tagged = false, clear = false)._1
      case _ => plain
    }

    val L = mutable.LinkedHashMap.empty[String, Double]
    def tagOf(r: OpRec) = s"$workloadName/${r.name}"
    val st = recs.flatMap(r => rec.stagesOf(tagOf(r)))
    val taskS = st.map(_.taskMs.sum).sum / 1000.0
    val stageWall = st.map(_.wallMs).sum / 1000.0
    val oneTask = st.filter(_.taskMs.size == 1).map(_.wallMs).sum / 1000.0

    /** Op wall outside every stage the op ran. */
    def driverS(r: OpRec): Double = {
      val iv = rec.stagesOf(tagOf(r)).map(s => (math.max(s.submitted.toDouble, r.startMs),
        math.min(s.completed.toDouble, r.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var curS = -1.0; var curE = -1.0
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, (r.endMs - r.startMs - covered) / 1000.0)
    }
    val perKey = recs.map { r =>
      val ss = rec.stagesOf(tagOf(r))
      Map[String, Any]("op" -> r.name, "wall_s" -> r.o.timedS,
        "jobs" -> rec.jobsOf(tagOf(r)).size, "stages" -> ss.size,
        "tasks" -> ss.map(_.taskMs.size).sum,
        "one_task_stages" -> ss.count(_.taskMs.size == 1),
        "driver_s" -> driverS(r), "ok" -> r.o.ok)
    }
    val jobsPerOp = recs.map(r => rec.jobsOf(tagOf(r)).size.toDouble).sorted

    L("warehouse.register_s") = out("register_s").asInstanceOf[Double]

    val reads = connRecs.filter(_.kind == "read")
    val sinkWrites = connRecs.filter(r => r.name.startsWith("write_stage"))
    L("connector.read_plan_s") = median(reads.map(_.o.readPlanS))
    L("connector.partition_fit") = mean(reads.filter(_.o.requestedParts > 0)
      .map(r => r.o.partBytes.size.toDouble / r.o.requestedParts))
    L("connector.size_fit") = mean(reads.filter(_.o.targetBytes > 0).map { r =>
      r.o.partBytes.sum.toDouble / math.max(1, r.o.partBytes.size) / r.o.targetBytes
    })
    L("connector.resize_shuffle_bytes") =
      reads.flatMap(r => rec.stagesOf(tagOf(r))).map(_.shuffleWrite).sum.toDouble

    val scans = connRecs.flatMap(r => rec.stagesOf(tagOf(r))).filter(_.dsv2Scan)
    val scanS = scans.map(_.taskMs.sum).sum / 1000.0
    L("sources.scan_tasks") = scans.map(_.taskMs.size).sum.toDouble
    L("sources.scan_task_s") = scanS
    L("sources.decode_rows_per_task_s") =
      if (scanS > 0) scans.map(_.recordsRead).sum / scanS else 0.0
    L("sources.scan_straggler_ratio") = {
      val rs = scans.filter(_.taskMs.size >= 2).map { s =>
        val t = s.taskMs.sorted
        t.last.toDouble / math.max(1L, t(t.size / 2))
      }
      if (rs.isEmpty) 1.0 else mean(rs)
    }
    val sinkStages = sinkWrites.flatMap(r => rec.stagesOf(tagOf(r)))
    L("sink.write_task_s") = sinkStages.map(_.taskMs.sum).sum / 1000.0
    L("sink.files_written") = sinkWrites.map(_.o.files).sum.toDouble
    L("sink.bytes_per_row") = sinkWrites.map(_.o.fileBytes).sum.toDouble /
      math.max(1L, sinkWrites.map(_.o.writeRows).sum)

    L("spark.jobs") = recs.map(r => rec.jobsOf(tagOf(r)).size).sum.toDouble
    L("spark.stages") = st.size.toDouble
    L("spark.tasks") = st.map(_.taskMs.size).sum.toDouble
    L("spark.task_s") = taskS
    L("spark.one_task_stage_s") = oneTask
    L("spark.one_task_stage_share") = if (stageWall > 0) oneTask / stageWall else 0.0
    L("spark.core_util") = taskS / (tracedWall * Session.cores)
    L("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum.toDouble
    L("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum.toDouble
    L("spark.spill_bytes") = st.map(_.spill).sum.toDouble
    L("spark.failed_tasks") = st.map(_.failedTasks).sum.toDouble

    val drv = recs.map(driverS).sum
    L("driver.s") = drv
    L("driver.share") = drv / tracedWall
    L("ops.jobs_per_op_p50") = median(jobsPerOp)
    L("ops.jobs_per_op_max") = jobsPerOp.lastOption.getOrElse(0.0)
    L("registry.entries") = entries.toDouble
    L("registry.warm_pass_s") = warm
    FunctionsProbe.names.foreach(n => L(s"functions.${n}_rows_per_s") = fn(n))
    L("trace.overhead_ratio") = tracedWall / plain

    out("layers") = L.asJava
    out("per_key") = perKey.map(_.asJava).asJava
    out("passes") = Seq(passJson(0, plain, Nil), passJson(1, tracedWall, recs)).asJava
    out("stages") = rec.stages.values.filter(_.submitted > 0).map { s =>
      Map[String, Any]("id" -> s.id, "tag" -> s.tag, "tasks" -> s.taskMs.size,
        "submitted_ms" -> s.submitted, "completed_ms" -> s.completed,
        "task_ms" -> s.taskMs.sum, "rdds" -> s.rdds.mkString(","),
        "records_read" -> s.recordsRead, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite).asJava
    }.toSeq.asJava
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
