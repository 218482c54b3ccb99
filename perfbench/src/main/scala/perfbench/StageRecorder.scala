package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Stage and task metrics of every Spark job started inside one window.
  *
  * A job belongs to the window when its start event falls between `open`
  * and `close`. `close` does not sleep to let the listener bus drain: it
  * runs one tagged sentinel job and waits for that job's end event. The bus
  * delivers events in the order they were posted, so once the sentinel's
  * job-end arrives, every event of the jobs that ran before it has been
  * seen.
  */
final class StageRecorder(sc: SparkContext) extends SparkListener {
  import StageRecorder._

  private val inScopeStages = mutable.HashSet[Int]()
  private val taskTimes = mutable.HashMap[Int, mutable.ArrayBuffer[Double]]()
  private val sentinelJobs = mutable.HashSet[Int]()
  private var t0 = Long.MaxValue
  private var t1 = Long.MaxValue
  private var sentinel: CountDownLatch = _
  private var stats = Totals()

  sc.addSparkListener(this)

  def open(): Unit = synchronized {
    inScopeStages.clear(); taskTimes.clear(); stats = Totals()
    t0 = System.currentTimeMillis(); t1 = Long.MaxValue
  }

  /** Close the window and wait until all of its events have arrived. */
  def close(): Totals = {
    val latch = new CountDownLatch(1)
    synchronized { t1 = System.currentTimeMillis(); sentinel = latch }
    sc.setLocalProperty(SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not deliver the sentinel job-end")
    synchronized {
      val slowest = taskTimes.values.maxByOption(_.sum)
      val skew = slowest.filter(_.nonEmpty).map { ts =>
        val med = Report.median(ts)
        if (med > 0) ts.max / med else 1.0
      }.getOrElse(1.0)
      stats.copy(taskSkew = skew)
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val isSentinel = e.properties != null && e.properties.getProperty(SentinelKey) != null
    if (isSentinel) sentinelJobs += e.jobId
    else if (e.time >= t0 && e.time <= t1) {
      stats = stats.copy(jobs = stats.jobs + 1)
      inScopeStages ++= e.stageIds
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (sentinelJobs.remove(e.jobId) && sentinel != null) sentinel.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (inScopeStages.contains(si.stageId)) {
      val m = si.taskMetrics
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      val written = if (m == null) 0L else m.outputMetrics.bytesWritten
      stats = stats.copy(
        stages = stats.stages + 1,
        writeStageS = stats.writeStageS + (if (written > 0) wall / 1e3 else 0.0))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (inScopeStages.contains(e.stageId) && m != null) {
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime.toDouble
      stats = stats.copy(
        tasks = stats.tasks + 1,
        runS = stats.runS + m.executorRunTime / 1e3,
        cpuS = stats.cpuS + m.executorCpuTime / 1e9,
        gcS = stats.gcS + m.jvmGCTime / 1e3,
        inputMb = stats.inputMb + m.inputMetrics.bytesRead / Mb,
        shuffleWriteMb = stats.shuffleWriteMb + m.shuffleWriteMetrics.bytesWritten / Mb,
        shuffleReadMb = stats.shuffleReadMb + m.shuffleReadMetrics.totalBytesRead / Mb,
        spillMb = stats.spillMb + (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb,
        outputMb = stats.outputMb + m.outputMetrics.bytesWritten / Mb)
    }
  }
}

object StageRecorder {
  private val SentinelKey = "perfbench.sentinel"
  private val Mb = 1024.0 * 1024.0

  final case class Totals(
      jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      runS: Double = 0, cpuS: Double = 0, gcS: Double = 0,
      inputMb: Double = 0, shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
      spillMb: Double = 0, outputMb: Double = 0,
      writeStageS: Double = 0, taskSkew: Double = 1.0)
}
