package graft.stats

import graft.JoinStats
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Measurement harness — the reference's JoinStats/TaskReport capture
  * (JoinStats.java:6-43: per-job wall times, Hadoop Counters,
  * map/reduce TaskReports; aggregated in JoinSimulation.java:24-70)
  * re-expressed from Spark listener events:
  *
  *  - task durations  ← onTaskEnd (≙ TaskReport finish-start)
  *  - record counters ← taskMetrics output/shuffle metrics
  *    (≙ MAP_OUTPUT_RECORDS / REDUCE_OUTPUT_RECORDS lookups,
  *    JoinSimulation.java:161-162)
  *  - wall time       ← nanoTime around the action
  *    (≙ JobUtils.time, JobUtils.java:17-31)
  *  - jobs, stages, shuffle read, executor run and GC time — the cost
  *    split Bench's `[bench-query]` and `graft.Scale` lines report
  */
class StatsListener extends SparkListener {
  private val durations = mutable.ArrayBuffer.empty[Long]
  private var jobs = 0
  private var stages = 0
  private var shuffleRecords = 0L
  private var shuffleBytes = 0L
  private var shuffleReadBytes = 0L
  private var outputRecords = 0L
  private var runMs = 0L
  private var gcMs = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskInfo != null && t.taskMetrics != null) {
      val m = t.taskMetrics
      durations += (t.taskInfo.finishTime - t.taskInfo.launchTime)
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      outputRecords += m.outputMetrics.recordsWritten
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
    }
  }

  def snapshot(wallSec: Double, stageTimes: Seq[Double]): JoinStats = synchronized {
    JoinStats(
      wallClockSec = wallSec,
      stageTimesSec = stageTimes,
      outputRecords = outputRecords,
      shuffleRecordsWritten = shuffleRecords,
      shuffleBytesWritten = shuffleBytes,
      taskDurationsMs = durations.toSeq,
      jobs = jobs,
      stages = stages,
      shuffleBytesRead = shuffleReadBytes,
      taskRunMs = runMs,
      taskGcMs = gcMs)
  }
}

object Measure {

  /** Run `action` under a fresh listener; return its result + stats.
    * Listener registration is per-measurement so concurrent queries
    * don't pollute each other's counters (single-driver harness, like
    * the reference's sequential simulation loop). */
  def measured[A](spark: SparkSession)(action: => A): (A, JoinStats) = {
    val l = new StatsListener
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    try {
      val a = action
      val wall = (System.nanoTime() - t0) / 1e9
      // drain queued listener events before snapshotting
      org.apache.spark.graft.SparkBridge.waitForListenerBus(spark.sparkContext, 30000)
      (a, l.snapshot(wall, Seq.empty))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
