package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Listener for the traced phase. It keeps every job, stage and task in
  * memory, attributed to the operation through the job description the
  * harness sets around each call (`<workload>/<op>`). Nothing is written
  * until the run ends. */
final class Recorder extends SparkListener {

  final class StageRec(val id: Int, val rdds: Seq[String]) {
    var tag: String = ""
    var submitted = 0L
    var completed = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var recordsRead = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var failedTasks = 0
    def wallMs: Long = math.max(0L, completed - submitted)
    /** A scan of the graft DSv2 source (native parquet scans run as
      * FileScanRDD, DSv2 scans as DataSourceRDD). */
    def dsv2Scan: Boolean = rdds.contains("DataSourceRDD")
  }

  val jobs = mutable.ArrayBuffer.empty[Recorder.JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  private def stage(info: StageInfo): StageRec =
    stages.getOrElseUpdate(info.stageId,
      new StageRec(info.stageId, info.rddInfos.map(_.name)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += Recorder.JobRec(e.jobId, tag)
    e.stageInfos.foreach { si =>
      val s = stage(si)
      if (s.tag.isEmpty) s.tag = tag
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo)
    e.stageInfo.submissionTime.foreach(t => s.submitted = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    e.stageInfo.submissionTime.foreach(t => s.submitted = t)
    e.stageInfo.completionTime.foreach(t => s.completed = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, Nil))
    s.taskMs += e.taskInfo.duration
    if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.recordsRead += m.inputMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Stages run under a tag (submitted ones only: skipped stages never
    * report a submission time). */
  def stagesOf(tag: String): Seq[StageRec] = synchronized {
    stages.values.filter(s => s.tag == tag && s.submitted > 0).toSeq
  }

  def jobsOf(tag: String): Seq[Recorder.JobRec] = synchronized {
    jobs.filter(_.tag == tag).toSeq
  }
}

object Recorder {
  final case class JobRec(id: Int, tag: String)
}

/** A harness span: one call into a layer. Times are epoch milliseconds on
  * the same clock as Spark's stage times. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double)

/** Span log, kept in memory. Spans of one operation share its parent. */
final class Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val all = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String, parent: Int = 0)(body: Int => T): T = {
    val id = synchronized { val i = next; next += 1; i }
    val s = now()
    try body(id)
    finally synchronized { all += Span(id, parent, name, s, now()) }
  }
}
