package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark-side half of the traced run: records every job, stage, task and
  * RDD block event in memory while the workload runs, so that after the
  * run each span of the driver can be charged with the work Spark did
  * inside it.
  *
  * Work is attributed by time window and event order, never by Spark's
  * call site: a job belongs to the span whose window holds its submission
  * time, whatever thread submitted it (AQE submits query stages from a
  * pool thread and broadcast builds run under their own job group), and a
  * task or block belongs to the job that owns its stage or that started
  * last before it on the listener bus.
  *
  * All callbacks run on the one listener-bus thread; readers call
  * [[jobsIn]] only after the session has stopped, which drains the bus.
  */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val submitMs: Long, val group: String,
                  val broadcast: Boolean) {
    var endMs: Long = submitMs
    var stages = 0
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var pinnedBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private var lastJob: Option[Job] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val group = prop("spark.jobGroup.id")
    val tags = prop("spark.job.tags")
    val desc = prop("spark.job.description")
    val broadcast = Seq(group, tags, desc).exists(_.toLowerCase.contains("broadcast"))
    val job = new Job(e.jobId, e.time, group, broadcast)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
    lastJob = Some(job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        if (e.taskInfo != null)
          j.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId if info.storageLevel.isValid =>
        lastJob.foreach(_.pinnedBytes += info.memSize + info.diskSize)
      case _ =>
    }
  }

  /** Jobs submitted in `[fromMs, toMs]`. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq
  }
}

/** One timed span of the driver: a name, a kind (the layer boundary it
  * wraps), its window in wall-clock milliseconds, and its parent. */
final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Runs `body` inside a span; the span is kept even if `body` throws. */
  def apply[T](parent: Int, op: Int, kind: String, name: String)(body: Int => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val ms = System.currentTimeMillis(); val ns = System.nanoTime()
    try body(id)
    finally synchronized {
      buf += Span(id, parent, op, kind, name, ms, System.currentTimeMillis(), ns, System.nanoTime())
    }
  }

  def all: Seq[Span] = synchronized(buf.sortBy(_.id).toSeq)
}
