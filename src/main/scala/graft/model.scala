package graft

/** Core query-descriptor model.
  *
  * Mirrors the reference's query surface (JoinConfig.java:5-16 — input
  * paths, join-column indices, output path, numReducers) re-expressed for
  * Spark: the "numReducers" knob becomes `spark.sql.shuffle.partitions` /
  * an explicit repartition, and the manual algorithm choice
  * (RepartitionJoin / BroadcastJoin / MergeJoin classes) becomes a
  * [[JoinStrategy]] that pins Catalyst's physical join selection via hints.
  */
sealed trait JoinStrategy {
  /** Spark join-strategy hint name used to pin the physical operator. */
  def hint: Option[String]
}
object JoinStrategy {
  /** Reduce-side/shuffle hash join — reference joins/RepartitionJoin.java:21-152.
    * The reducer builds a hash table of left rows and streams right rows
    * (RepartitionJoin.java:68-85); Spark's ShuffledHashJoinExec is the
    * same build/probe shape, so SHUFFLE_HASH is the faithful analog. */
  case object ShuffleHash extends JoinStrategy { val hint = Some("SHUFFLE_HASH") }
  /** Map-side broadcast hash join — reference joins/BroadcastJoin.java:24-132.
    * NOTE: the reference keeps ONE build row per key (map.put,
    * BroadcastJoin.java:84,99), silently dropping duplicate build-side
    * rows. We intentionally do NOT reproduce that bug: Spark's
    * BroadcastHashJoinExec keeps full cross-product semantics, which is
    * what the golden file expected_output.csv demands. */
  case object Broadcast extends JoinStrategy { val hint = Some("BROADCAST") }
  /** Sort-merge join — reference joins/MergeJoin.java:34-263 (5 MR jobs:
    * extract ×2, total-order sort ×2, co-partitioned merge). Spark's
    * default shuffle equi-join is already sort-merge; the 5 jobs collapse
    * into one stage pair. */
  case object SortMerge extends JoinStrategy { val hint = Some("MERGE") }
  /** Let Catalyst/AQE pick — the automation of thesis Fig 6.11's manual
    * decision tree (merge if pre-sorted, broadcast if small, else
    * repartition). */
  case object Auto extends JoinStrategy { val hint = None }

  val all: Seq[JoinStrategy] = Seq(ShuffleHash, Broadcast, SortMerge, Auto)
  def parse(s: String): JoinStrategy = s.toLowerCase match {
    case "shuffle" | "shuffle_hash" | "repartition" | "hash" => ShuffleHash
    case "broadcast" | "map" | "mapside"                     => Broadcast
    case "merge" | "sort_merge" | "sortmerge"                => SortMerge
    case "auto"                                              => Auto
    case other => throw new IllegalArgumentException(s"unknown join strategy: $other")
  }
}

/** Query descriptor — reference JoinConfig.java:5-16.
  *
  * @param left        path of the left (build-side for ShuffleHash /
  *                    broadcast-side for Broadcast) table; CSV file or dir
  * @param right       path of the right (probe/large) table
  * @param leftKeyIdx  positional join-column index into the left CSV row
  *                    (reference "index1", RepartitionJoin.java:108)
  * @param rightKeyIdx positional join-column index into the right CSV row
  * @param output      output directory for the `key TAB l,r` text sink
  * @param partitions  shuffle parallelism (reference numReducers,
  *                    JoinConfig.java:10); None = session default
  * @param numericKey  parse the key as long (reference
  *                    KeyExtractor.java:20-26 merge-join path) instead of
  *                    string (repartition/broadcast path)
  */
final case class JoinConfig(
    left: String,
    right: String,
    leftKeyIdx: Int,
    rightKeyIdx: Int,
    output: Option[String] = None,
    partitions: Option[Int] = None,
    numericKey: Boolean = false,
    strategy: JoinStrategy = JoinStrategy.Auto)

/** Per-join measurement — reference JoinStats.java:6-43 (wall times,
  * Hadoop Counters, map/reduce TaskReports), re-expressed from Spark
  * listener events (see [[graft.stats.StatsListener]]).
  */
final case class JoinStats(
    wallClockSec: Double,
    stageTimesSec: Seq[Double],
    outputRecords: Long,
    shuffleRecordsWritten: Long,
    shuffleBytesWritten: Long,
    taskDurationsMs: Seq[Long],
    jobs: Int,
    stages: Int,
    shuffleBytesRead: Long,
    taskRunMs: Long,
    taskGcMs: Long) {
  def taskTimeMeanMs: Double =
    if (taskDurationsMs.isEmpty) -1.0 else taskDurationsMs.sum.toDouble / taskDurationsMs.size
  def taskTimeMedianMs: Double =
    if (taskDurationsMs.isEmpty) -1.0
    else {
      val s = taskDurationsMs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  def taskTimeMaxMs: Long = if (taskDurationsMs.isEmpty) -1L else taskDurationsMs.max
  /** The counters as flat JSON fields, for one-line records. */
  def countersJson: String =
    f""""jobs":$jobs,"stages":$stages,"tasks":${taskDurationsMs.size},""" +
      f""""shuf_write_mb":${shuffleBytesWritten / 1e6}%.1f,"shuf_read_mb":${shuffleBytesRead / 1e6}%.1f,""" +
      s""""task_run_ms":$taskRunMs,"task_gc_ms":$taskGcMs"""
}
