package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Records every Spark job and stage of a traced run, keyed by the job
  * group the harness sets around each query phase. Jobs started from
  * threads the harness does not own (stream micro-batches) carry their
  * own group; run.py places those by time instead.
  */
class LayerListener extends SparkListener {
  final class Job(val id: Int, val group: String, val callSite: String,
      val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
  }

  final class Stage(val id: Int, val attempt: Int, val group: String,
      val submittedMs: Long) {
    var completedMs = -1L
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var shuffleWriteB = 0L; var shuffleReadB = 0L; var fetchWaitMs = 0L
    var spillB = 0L
    var inputB = 0L; var inputRec = 0L; var outputB = 0L; var outputRec = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  /** Nanoseconds spent in this listener's callbacks: its share of the
    * tracing cost, paid on the listener bus thread. */
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    // the result stage is the job's newest stage; its name is the
    // short call site ("parquet at Tables.scala:18")
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new Job(e.jobId, group(e.properties), site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    timed {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId,
        i.attemptNumber(), group(e.properties),
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.completedMs = i.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillB += m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
        s.inputRec += m.inputMetrics.recordsRead
        s.outputB += m.outputMetrics.bytesWritten
        s.outputRec += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Wait (bounded) until every started job has reported its end, so
    * the listener bus has delivered the run's task events.
    */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(jobs.values.count(_.endMs < 0))
    while (pending > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events follow their job end
  }
}
