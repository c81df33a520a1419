package graft.operators

import org.apache.spark.sql.SparkSession

/** The one local-or-distributed decision of the tiered operators
  * (optimization r12): below a driver budget an operator runs a scalar
  * twin over collected input, bit-identical to its distributed shape;
  * above it — the 100 TB regime — the distributed shape runs. The same
  * choice as the thesis's Fig. 6.11 tree (broadcast iff the measured
  * input fits a memory budget), made per operator call.
  *
  * One rule for every budget: LOCAL iff `budget > 0 && size <= budget`,
  * so a budget of 0 forces the distributed shape even for empty input.
  * Each decision prints one stderr line
  * `[graft-tier] {"op":…,"size":…,"budget":…,"choice":"local"|"distributed"}`
  * (`size` is null for a store the sizer cannot see). */
object Tier {

  /** A budget: its session key, its default, and — for a byte budget
    * over a stored index — the sub-directories whose bytes count. */
  final case class Budget(key: String, default: Long, stores: Seq[String] = Nil)

  /** Fixed-point graph operators, edges (~tens of MB on the driver —
    * the broadcast class). */
  val GraphEdges = Budget("spark.graft.graph.localEdges", 4000000L)
  /** Connected components' union-find, canonical edges (≈ 32 MB). */
  val CcEdges = Budget("spark.graft.cc.localEdges", 2000000L)
  /** Graph-ANN walk and prune, on-disk bytes of adjacency + vectors
    * (parquet double arrays are near-incompressible, so the resident
    * copy is ~1-2× this). */
  val AnnWalkBytes =
    Budget("spark.graft.ann.localWalkIndexBytes", 64L << 20, Seq("adj", "vectors"))
  /** Stored dedup gate, on-disk bytes of bands + shingles. */
  val DedupGateBytes =
    Budget("spark.graft.dedup.localGateBytes", 64L << 20, Seq("bands", "shingles"))

  /** Whether `op` over an input of `size` units runs its local tier. */
  def local(spark: SparkSession, op: String, budget: Budget, size: Long): Boolean =
    decide(spark, op, budget, Some(size))

  /** Whether `op` over the stored index at `path` runs its local tier,
    * sized by [[storeBytes]] over the budget's stores. */
  def localStore(spark: SparkSession, op: String, budget: Budget, path: String): Boolean =
    decide(spark, op, budget, storeBytes(path, budget.stores))

  /** On-disk bytes of `stores` under `path`, or None unless every one is
    * a readable local directory. Fails CLOSED: a store it cannot size
    * (hdfs://, s3://, missing) must take the distributed shape, never be
    * collected to the driver on a 0-byte misread (VERDICT r12 #2). */
  def storeBytes(path: String, stores: Seq[String]): Option[Long] = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).fold(0L)(_.map(bytes).sum)
    val dirs = stores.map(s => new java.io.File(s"$path/$s"))
    if (dirs.forall(d => d.isDirectory && d.canRead)) Some(dirs.map(bytes).sum)
    else None
  }

  private def decide(spark: SparkSession, op: String, budget: Budget,
      size: Option[Long]): Boolean = {
    val b = spark.conf.getOption(budget.key).map(_.toLong).getOrElse(budget.default)
    val isLocal = size.exists(n => b > 0 && n <= b)
    System.err.println(s"""[graft-tier] {"op":"$op","size":${size.getOrElse("null")},""" +
      s""""budget":$b,"choice":"${if (isLocal) "local" else "distributed"}"}""")
    isLocal
  }
}
