package graft.cli

import graft.{Graft, JoinConfig, JoinStrategy}
import graft.operators.Joins

/** CLI mirroring the reference's three entry points
  * (RepartitionJoin.main / BroadcastJoin.main / MergeJoin.main,
  * SURVEY §3: argv = input1 index1 input2 index2 output) unified behind
  * a --strategy flag:
  *
  *   runMain graft.cli.JoinCli <left.csv> <leftKeyIdx> <right.csv> \
  *     <rightKeyIdx> <outDir> [--strategy shuffle|broadcast|merge|auto] \
  *     [--numeric-key] [--partitions N]
  *
  * Reads schema-less CSV (file or directory), joins on the positional
  * key columns, writes `key TAB leftRow,rightRow` text — the reference's
  * exact I/O contract.
  */
object JoinCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: JoinCli <left> <leftKeyIdx> <right> <rightKeyIdx> <out> " +
        "[--strategy s] [--numeric-key] [--partitions N]")
    var cfg = JoinConfig(
      left = args(0), right = args(2),
      leftKeyIdx = args(1).toInt, rightKeyIdx = args(3).toInt,
      output = Some(args(4)))
    var rest = args.drop(5).toList
    while (rest.nonEmpty) rest = rest match {
      case "--strategy" :: v :: t   => cfg = cfg.copy(strategy = JoinStrategy.parse(v)); t
      case "--numeric-key" :: t     => cfg = cfg.copy(numericKey = true); t
      case "--partitions" :: v :: t => cfg = cfg.copy(partitions = Some(v.toInt)); t
      case other :: _ => throw new IllegalArgumentException(s"unknown option: $other")
    }
    val spark = Graft.local(conf = cfg.partitions
      .map(p => Map("spark.sql.shuffle.partitions" -> p.toString)).getOrElse(Map.empty))
    val out = Joins.runCsvJoin(spark, cfg)
    println(s"[graft] join complete: ${out.count()} rows -> ${cfg.output.get}")
    spark.stop()
  }
}
