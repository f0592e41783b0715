package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation main: for each requested query key,
  * write `.explain("formatted")` to `<outDir>/<key>_<tag>.txt` and print a
  * per-job/stage wall breakdown (job count, stage count, task count, total
  * task time) so "where does the cold cost go" is a measurement, not a
  * guess. Usage:
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q_key1,q_key2
  *
  * Reads SPARK_GRAFT_CPUS like the Bench main (default 4).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <tag> q_key1,q_key2")
    val Array(sfDir, outDir, tag, keysCsv) = args
    val keys = keysCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.LocalSession(logLevel = "ERROR")
    graft.warehouse.Tables.register(spark, sfDir)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    Files.createDirectories(Paths.get(outDir))

    // per-key job/stage counters (collected via listener between markers)
    val jobs = mutable.ArrayBuffer.empty[(Int, String, Long)] // id, desc, ms
    val stageRows = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long)]
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    val jobStartTimes = mutable.Map.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStartTimes(js.jobId) = (js.time, desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        jobStartTimes.remove(je.jobId).foreach { case (t0, desc) =>
          jobs += ((je.jobId, desc, je.time - t0))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
        taskMs += sc.stageInfo.taskMetrics.executorRunTime
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        stageRows += ((si.stageId, si.name.takeWhile(_ != '\n').take(110),
          si.numTasks, si.taskMetrics.executorRunTime, wall))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    keys.foreach { key =>
      SparkEntryAccess.query(key) match {
        case None => System.err.println(s"unknown key: $key")
        case Some(fn) =>
          jobs.clear(); stageRows.clear(); stages = 0; tasks = 0L; taskMs = 0L
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val planned = (System.nanoTime() - t0) / 1e9
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${key}_$tag.txt"), plan)
          val t1 = System.nanoTime()
          try df.count() catch { case NonFatal(e) =>
            System.err.println(s"$key failed: $e") }
          val ran = (System.nanoTime() - t1) / 1e9
          Thread.sleep(300) // let the listener bus drain its queue
          println(f"KEY $key%-40s build+plan=$planned%6.2fs run=$ran%6.2fs " +
            f"jobs=${jobs.size}%3d stages=$stages%4d tasks=$tasks%5d " +
            f"taskTime=${taskMs / 1000.0}%7.1fs")
          jobs.sortBy(-_._3).take(8).foreach { case (id, desc, ms) =>
            println(f"    job $id%4d ${ms / 1000.0}%6.2fs  ${desc.take(90)}")
          }
          stageRows.sortBy(-_._5).take(12).foreach {
            case (id, name, nt, rt, wall) =>
              println(f"    stage $id%4d wall=${wall / 1000.0}%6.2fs " +
                f"taskTime=${rt / 1000.0}%6.2fs tasks=$nt%3d  $name")
          }
      }
    }
    spark.stop()
  }
}

/** Bench/Verify expose the query map via SparkEntry; kept in a tiny shim so
  * PlanDump does not need to care where it lives. */
private object SparkEntryAccess {
  def query(key: String): Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
    graft.SparkEntry.queries.get(key)
}
