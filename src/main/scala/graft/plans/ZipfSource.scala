package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Native Zipf generator as a full custom-operator stack — the (c)-tier
  * pattern from the build guidance (logical node → planner strategy →
  * physical leaf, registered through SparkSessionExtensions): the
  * reference's DataGenerator inverse-CDF sweep (DataGenerator.java:
  * 125-163, Newton solver :314-336) as a first-class Spark source.
  *
  * Rationale vs the declarative [[graft.datagen.DataGen.zipfTable]]
  * (which remains the oracle-verified form): the declarative pipeline
  * pays a window + explode + shuffle to build the key table; this
  * physical source emits rows directly — each of `numSlices` partitions
  * generates its row-id range with a binary search over the shared
  * cumulative-count array (n+1 longs, broadcast-by-closure). Zero
  * shuffle, zero driver materialization of data, deterministic, and
  * `rid` is the same quantile-sweep order as the reference.
  */
final case class ZipfRelation(
    rows: Long, n: Long, s: Double, numSlices: Int,
    override val output: Seq[Attribute]) extends LeafNode {
  // output attributes live in the constructor: a generated-in-the-body
  // `val output` would mint fresh ExprIds on every TreeNode.makeCopy,
  // orphaning upstream references mid-optimization
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = BigInt(rows) * 16)
}

object ZipfMath {
  /** cumcnt(k) = #rows with key ≤ k under the (i+0.5)/rows quantile
    * sweep — identical arithmetic to DataGen.zipfCumCounts (sequential
    * harmonic sum, same fold order ⇒ same doubles ⇒ same longs). */
  def cumCounts(rows: Long, n: Long, s: Double): Array[Long] = {
    val cum = new Array[Long](n.toInt + 1)
    var h = 0.0
    val weights = new Array[Double](n.toInt)
    var k = 1
    while (k <= n) { h += math.pow(k.toDouble, -s); weights(k - 1) = h; k += 1 }
    val tot = h
    k = 1
    while (k <= n) {
      cum(k) = math.max(0L, math.floor(weights(k - 1) / tot * rows.toDouble - 0.5).toLong + 1)
      k += 1
    }
    cum
  }

  /** key for row id `rid`: smallest k with cumcnt(k) > rid (binary
    * search — O(log n) per row, no per-row Newton iteration). */
  def keyFor(cum: Array[Long], rid: Long): Long = {
    var lo = 1
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) > rid) hi = mid else lo = mid + 1
    }
    lo.toLong
  }

  /** H(n, s) with the same sequential fold order as [[cumCounts]]. */
  def harmonicTotal(n: Long, s: Double): Double = {
    var h = 0.0
    var k = 1L
    while (k <= n) { h += math.pow(k.toDouble, -s); k += 1 }
    h
  }

  /** (rid, key) pairs for rid ∈ [start, end) WITHOUT materializing the
    * cumulative array — the n ≫ 10⁸-keys path: a second sequential
    * harmonic sweep emits each key's rid run as the running cumcnt
    * passes it. O(1) memory, O(n + end − start) time per partition, and
    * bit-identical to the array path because the harmonic folds run in
    * the same order over the same doubles (spec-asserted equal). */
  def emitRange(rows: Long, n: Long, s: Double,
      start: Long, end: Long): Iterator[(Long, Long)] = {
    val tot = harmonicTotal(n, s)
    new Iterator[(Long, Long)] {
      private var h = 0.0
      private var k = 0L
      private var cumK = 0L // cumcnt(k); rids [cum(k-1), cum(k)) get key k
      private var rid = start
      private def advance(): Unit =
        while (rid >= cumK && k < n) {
          k += 1
          h += math.pow(k.toDouble, -s)
          cumK = math.max(0L, math.floor(h / tot * rows.toDouble - 0.5).toLong + 1)
        }
      override def hasNext: Boolean = rid < end
      override def next(): (Long, Long) = {
        advance()
        val out = (rid, k)
        rid += 1
        out
      }
    }
  }
}

final case class ZipfSourceExec(
    rows: Long, n: Long, s: Double, numSlices: Int,
    override val output: Seq[Attribute]) extends LeafExecNode {

  /** Above this key count the shared cumulative array (8(n+1) bytes in
    * every task closure) stops being cheap; partitions switch to the
    * O(1)-memory streaming sweep. 4M keys ≈ 32 MB — comfortably under
    * typical RPC/message limits; beyond it the closure would be the
    * scale bottleneck the array path otherwise creates at n ≫ 10⁸. */
  private val maxMaterializedKeys = 4L << 20

  override protected def doExecute(): RDD[InternalRow] = {
    val totalRows = rows
    val nKeys = n
    val skew = s
    val slices = numSlices
    val cum: Array[Long] =
      if (nKeys <= maxMaterializedKeys) ZipfMath.cumCounts(totalRows, nKeys, skew)
      else null
    sparkContext.parallelize(0 until slices, slices).mapPartitionsWithIndex {
      (slice, _) =>
        val start = slice * totalRows / slices
        val end = (slice + 1) * totalRows / slices
        val proj = UnsafeProjection.create(Array(LongType, LongType): Array[org.apache.spark.sql.types.DataType])
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        val pairs: Iterator[(Long, Long)] =
          if (cum != null)
            Iterator.range(0, (end - start).toInt).map { i =>
              val rid = start + i
              (rid, ZipfMath.keyFor(cum, rid))
            }
          else ZipfMath.emitRange(totalRows, nKeys, skew, start, end)
        pairs.map { case (rid, key) =>
          row.update(0, rid)
          row.update(1, key)
          proj(row)
        }
    }
  }
}

/** Planner strategy: ZipfRelation → ZipfSourceExec. */
object ZipfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case z: ZipfRelation => ZipfSourceExec(z.rows, z.n, z.s, z.numSlices, z.output) :: Nil
    case _ => Nil
  }
}

/** Session extension wiring — a builder's
  * `.withExtensions(new GraftExtensions)` (or the
  * `spark.sql.extensions=graft.plans.GraftExtensions` conf) registers
  * the planner strategy and graft's SQL functions in every session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => ZipfStrategy)
    e.injectOptimizerRule(_ => ArgmaxRewrite)
  }
}

object ZipfSource {
  /** DataFrame over the native source (requires the session to carry
    * [[GraftExtensions]], or the strategy injected via
    * experimental.extraStrategies). */
  def zipf(spark: SparkSession, rows: Long, n: Long, s: Double,
      numSlices: Int = 8): DataFrame = {
    val output = Seq(
      AttributeReference("rid", LongType, nullable = false)(),
      AttributeReference("key", LongType, nullable = false)())
    Bridge.ofRows(spark, ZipfRelation(rows, n, s, numSlices, output))
  }

  /** Late-binding registration for an already-built session (the test /
    * driver sessions are constructed before graft code runs). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(ZipfStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ZipfStrategy
    }
}
