package joinbench

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.joinbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into each engine layer, plus the
  * Spark scheduler counters of the jobs those calls start.
  *
  * A span is (id, parent, name, layer, start, end) in epoch
  * microseconds. While a span is open its id is the `joinbench.span`
  * local property, so every job and stage Spark starts inside it is
  * attributed to it by the listener. A streaming listener records each
  * micro-batch's progress (start and phase durations). With tracing
  * off, [[span]] only runs its body and nothing is registered with
  * Spark.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext

  private val t0Nanos = System.nanoTime()
  private val t0Micros = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000L
  }
  /** Epoch microseconds on the monotonic clock. */
  def nowMicros(): Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  /** (end in epoch µs, bytes scanned) of each finished SQL execution */
  val scans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  // cached RDD block memory, live and its peak since the last reset
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var blockLive = 0L
  @volatile var blockPeak = 0L

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val t = java.time.Instant.parse(p.timestamp)
        progress += ProgressRec(t.getEpochSecond * 1000000L + t.getNano / 1000L,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum)
      }
  }

  if (enabled) {
    sc.addSparkListener(this)
    spark.streams.addListener(Streams)
  }

  /** Attaches a key/value to the innermost open span. */
  def tag(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(id => spans(id).tags(key) = value.toString)

  def span[A](name: String, layer: String, tags: (String, String)*)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val s = Span(id, stack.headOption.getOrElse(-1), name, layer, nowMicros())
      s.tags ++= tags
      spans += s
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = nowMicros()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Exchanges in the final (post-AQE) physical plan of an executed frame. */
  def exchanges(df: DataFrame): Int = countExchanges(df.queryExecution.executedPlan)

  private def countExchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size

  /** Called once every RDD is unpersisted and the bus drained: removal
    * of a whole RDD posts no per-block events, so the live sum restarts. */
  def resetBlocks(): Unit = synchronized {
    blockMem.clear()
    blockLive = 0L
    blockPeak = 0L
  }

  /** Waits until every event posted so far has reached the listener. */
  def drain(): Unit = if (enabled) Internals.drain(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), e.time * 1000L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val r = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId, spanOf(e.properties)))
    r.start = i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      r.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { r =>
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.taskMs += e.taskInfo.duration
      r.inRows += m.inputMetrics.recordsRead
      r.outBytes += m.outputMetrics.bytesWritten
      r.shufWrite += m.shuffleWriteMetrics.bytesWritten
      r.shufRead += m.shuffleReadMetrics.totalBytesRead
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val bytes = Internals.scanBytes(end)
      if (bytes > 0) synchronized { scans += ((end.time * 1000L, bytes)) }
    case _ => ()
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val mem = info.memSize
      blockLive += mem - blockMem.getOrElse(key, 0L)
      if (mem > 0) blockMem(key) = mem else blockMem.remove(key)
      if (blockLive > blockPeak) blockPeak = blockLive
    }
  }
}

object Tracer {
  val SpanKey = "joinbench.span"

  final case class Span(id: Int, parent: Int, name: String, layer: String, start: Long) {
    var end: Long = -1L
    val tags = mutable.LinkedHashMap.empty[String, String]
  }
  /** One micro-batch: its start (epoch µs), phase durations
    * (addBatch, queryPlanning, walCommit, commitOffsets,
    * triggerExecution…) and the state stores' commit time. */
  final case class ProgressRec(start: Long, durations: Map[String, Long], stateCommitMs: Long)
  final case class JobRec(id: Int, span: Int, start: Long) { var end: Long = -1L }
  final case class StageRec(id: Int, span: Int) {
    var start = -1L
    var end = -1L
    var tasks = 0
    var runMs, gcMs, inRows, outBytes, shufWrite, shufRead, fetchWaitMs = 0L
    /** per-task wall ms, for the max ÷ median skew ratio */
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
}
