package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark counters of one job, summed over the stages it ran (skipped
  * stages never complete, so they count nowhere). */
final case class JobStats(id: Int, startMs: Long, var endMs: Long = -1L,
    var stages: Long = 0, var tasks: Long = 0, var taskCpuNs: Long = 0,
    var taskRunMs: Long = 0, var shuffleReadBytes: Long = 0,
    var shuffleWriteBytes: Long = 0, var inputBytes: Long = 0)

/** Collects per-job counters from the listener bus. Jobs are tied to
  * spans afterwards by time ([[JobListener.attribute]]): the client is
  * serial, so the span open when a job was submitted is the caller
  * that caused it. */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobStats(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.stages += 1
        j.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          j.taskCpuNs += m.executorCpuTime
          j.taskRunMs += m.executorRunTime
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Jobs seen so far, in id order. */
  def snapshot: Seq[JobStats] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object JobListener {
  /** The innermost span open at each job's submission time: among the
    * spans whose [startMs, endMs] holds it, the latest to start (spans
    * nest, so that is the deepest). Jobs outside every span map to -1. */
  def attribute(jobs: Seq[JobStats], spans: Seq[Span]): Map[Int, Int] = {
    val byStart = spans.sortBy(s => (s.startMs, s.id))
    jobs.map { j =>
      val holder = byStart.reverseIterator
        .find(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      j.id -> holder.map(_.id).getOrElse(-1)
    }.toMap
  }
}
