package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Records one span per Spark job and per stage, in memory. A job's
  * parent is the benchmark span that was current on the submitting
  * thread (the `perfbench.span` local property, which Spark carries to
  * the threads a query fans out to). The job's full call-site stack is
  * kept so the layer table can attribute it; task metrics are summed per
  * stage rather than kept per task.
  *
  * Jobs a SQL query submits from Spark's own threads (adaptive query
  * stages, broadcasts) carry a stack with no caller frame. They take the
  * call site their SQL execution recorded on the calling thread. */
final class Trace extends SparkListener {
  final class Stage(val id: Int, val job: Int) {
    var submitted, completed = 0L
    var failed = false
    var tasks, emptyTasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleRead, shuffleWrite, spill, written = 0L
  }
  final class Job(val id: Int, val span: String, val start: Long,
                  val site: Int, val persisted: Seq[Int]) {
    var end = 0L
  }

  private val sites = mutable.LinkedHashMap.empty[String, Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private val rddCur = mutable.Map.empty[Int, Long]
  private val rddPeak = mutable.Map.empty[Int, Long]
  private val spanBlockPeak = mutable.Map.empty[String, Long]
  private var blockTotal = 0L
  private var currentSpan = ""
  private val sqlSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId) = s.details }
    case _ =>
  }

  private def siteOf(own: String, props: java.util.Properties): String =
    if (own.linesIterator.exists(_.startsWith("graft."))) own
    else Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(k => Option(props).flatMap(p => Option(p.getProperty(k))))
      .flatMap(id => sqlSites.get(id.toLong)).headOption.getOrElse(own)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("")
    val result = e.stageInfos.maxBy(_.stageId)
    val site = sites.getOrElseUpdate(siteOf(result.details, e.properties),
      sites.size)
    val persisted = e.stageInfos.flatMap(_.rddInfos)
      .filter(_.storageLevel.isValid).map(_.id).distinct.sorted
    jobs(e.jobId) = new Job(e.jobId, span, e.time, site, persisted)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    currentSpan = span
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(id, stageJob.getOrElse(id, -1)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(0L)
      s.failed = i.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val info = e.taskInfo
    if (info.failed || info.killed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L))
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.written += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
        s.emptyTasks += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val delta = size - blocks.getOrElse(b.blockId.name, 0L)
      blockTotal += delta
      if (size > 0) blocks(b.blockId.name) = size
      else blocks.remove(b.blockId.name)
      b.blockId match {
        case RDDBlockId(rdd, _) =>
          val total = rddCur.getOrElse(rdd, 0L) + delta
          rddCur(rdd) = total
          rddPeak(rdd) = math.max(rddPeak.getOrElse(rdd, 0L), total)
        case _ =>
      }
      spanBlockPeak(currentSpan) =
        math.max(spanBlockPeak.getOrElse(currentSpan, 0L), blockTotal)
    }

  /** The recorded spans as one JSON object. */
  def json: String = synchronized {
    import Json._
    obj(
      "sites" -> arr(sites.keys.toSeq.map(str)),
      "jobs" -> arr(jobs.values.toSeq.map(j => obj(
        "id" -> j.id.toString, "span" -> str(j.span),
        "start" -> j.start.toString, "end" -> j.end.toString,
        "site" -> j.site.toString,
        "persisted" -> arr(j.persisted.map(_.toString))))),
      "stages" -> arr(stages.values.toSeq.map(s => obj(
        "id" -> s.id.toString, "job" -> s.job.toString,
        "submitted" -> s.submitted.toString,
        "completed" -> s.completed.toString, "failed" -> s.failed.toString,
        "tasks" -> s.tasks.toString, "empty_tasks" -> s.emptyTasks.toString,
        "failed_tasks" -> s.failedTasks.toString,
        "run_ms" -> s.runMs.toString, "cpu_ns" -> s.cpuNs.toString,
        "gc_ms" -> s.gcMs.toString, "sched_ms" -> s.schedMs.toString,
        "shuffle_read" -> s.shuffleRead.toString,
        "shuffle_write" -> s.shuffleWrite.toString,
        "spill" -> s.spill.toString, "written" -> s.written.toString))),
      "rdd_peak_bytes" -> obj(rddPeak.toSeq.sortBy(_._1)
        .map { case (k, v) => k.toString -> v.toString }: _*),
      "span_block_peak_bytes" -> obj(spanBlockPeak.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.toString }: _*))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
