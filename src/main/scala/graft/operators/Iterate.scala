package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Bridge

/** The materialize-and-truncate step shared by the fixed-point operators
  * (connected components, PageRank, BFS). Each round's state vector is
  * localCheckpoint-ed so lineage stays O(1) across rounds, and the RDD
  * handle is returned so the SUPERSEDED round's blocks can be freed
  * explicitly (`DataFrame.localCheckpoint` has no unpersist path — the
  * round-2 block-manager leak).
  *
  * The checkpoint happens at the Tungsten `InternalRow` level
  * (`queryExecution.toRdd`): the public `df.rdd` / `createDataFrame`
  * pair would deserialize InternalRow→Row at materialization AND
  * convert Row→InternalRow again on every round's re-scan — pure
  * overhead, ~2× on iteration-heavy operators. Rows are `.copy()`-ed
  * before caching because Tungsten iterators reuse row buffers (the
  * same rule `Dataset.checkpoint` follows internally).
  */
object Iterate {

  /** Run an iterative operator's body under a PINNED shuffle width
    * (optimization r13, guide §2.4 "two operations keyed the same way
    * can share one exchange"): AQE partition coalescing picks a
    * data-dependent partition count per exchange, so two rounds of the
    * same fixed-point operator land their state at DIFFERENT widths —
    * the checkpointed frame's preserved hash partitioning (see
    * [[ckpt]]) then never matches the next round's requirement and
    * every round re-shuffles the big side (edges) again. Disabling
    * coalescing inside the operator makes every round's exchange land
    * at exactly `spark.sql.shuffle.partitions`, so the edge
    * checkpoint's partitioning satisfies the per-round join
    * requirement and only the (small) state vector moves.
    * Scale-adaptive by construction: the width is the deployment's
    * own shuffle-partition setting, not a constant. Scoped through
    * [[graft.Graft.withConfs]], so the setting is restored on exit. */
  def pinnedRounds[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    graft.Graft.withConfs(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  /** Debug hook (plans/ evidence for the iterative operators, whose
    * RETURNED frame is a checkpoint leaf that hides the per-round
    * physical story): when `spark.graft.debug.roundPlanDir` is set,
    * write `df`'s EXECUTED plan (call after the materializing action,
    * so AQE is final) to `<dir>/<tag>.txt`. No-op otherwise. */
  def dumpRoundPlan(df: DataFrame, tag: String): Unit =
    df.sparkSession.conf.getOption("spark.graft.debug.roundPlanDir").foreach { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"$tag.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))): Unit
    }

  /** Materialize `df` now; return (re-readable frame, freeable RDD
    * handle, materialized row count — convergence checks come free).
    *
    * The returned frame PRESERVES the executed plan's output
    * partitioning/ordering (Bridge.checkpointedDf → LogicalRDD
    * .fromDataset, what `Dataset.checkpoint` itself does): a round
    * body that joins or aggregates on the same key the previous
    * round's state was hashed by plans NO Exchange for the
    * checkpointed side — one shuffle per round removed in the
    * fixed-point operators (optimization r12, guide §2.4; the old
    * internalCreateDataFrame path advertised UnknownPartitioning and
    * re-shuffled already-placed rows every round). */
  def ckpt(df: DataFrame): (DataFrame, RDD[InternalRow], Long) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    val n = rdd.count()
    (Bridge.checkpointedDf(df, rdd), rdd, n)
  }

  /** Mark `df` for local checkpointing WITHOUT materializing it: the
    * FIRST action over the returned frame caches the rows AND
    * truncates the plan to a LogicalRDD leaf, so a caller can fold the
    * materialization into a job it runs anyway (a bounded
    * distinct-collect, say) instead of paying [[ckpt]]'s separate
    * count job — the plan-truncation benefit at zero extra jobs
    * (VERDICT r9 #5: persist() alone caches COMPUTATION but leaves the
    * logical plan growing ~3× per beam round, and driver-side plan
    * walks went superlinear). Partitioning-preserving like [[ckpt]]:
    * `queryExecution.toRdd` has already forced AQE's final plan (the
    * final stage's shuffles ran eagerly during planning), so the
    * captured partitioning is the one the lazily-cached rows will
    * actually have. */
  def ckptLazy(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    (Bridge.checkpointedDf(df, rdd), rdd)
  }
}
