package joinbench

import graft.datagen.DataGen
import graft.operators.{Graph, Joins}
import graft.plans.ZipfSource
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** One timed query: returns a few exact longs the workload checks. */
final case class Query(name: String, run: () => Vector[Long])

/** A fixed set of inputs and the queries run over them. */
trait Workload {
  /** Generates the inputs under `dir`. */
  def generate(dir: String): Unit
  /** Makes the inputs generated under `dir` the ones the queries read,
    * and computes the expected results from them. */
  def use(dir: String): Unit
  /** The queries of one pass, in the order they run. */
  def queries: Seq[Query]
  /** Checks one pass's results; returns the failed queries with why. */
  def check(values: Map[String, Vector[Long]]): Map[String, String]
  /** Input facts worth recording (rows generated, edges vs budget...). */
  def facts: Seq[(String, Double)]
  /** Called after each execution, outside the timed region. */
  def keep(query: String, pass: Int): Unit = ()
  /** Anything else `run.py` needs from the run. */
  def info: Map[String, Any] = Map.empty
}

/** What every workload shares: the session, the tracer, the seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val files: Int) {
  /** Forces the physical plan under a `plan` span, then runs the action
    * under an `exec` span: the two layers every query crosses last. */
  def collectRows(df: DataFrame): (StructType, Array[Row]) = {
    tracer.span("plan.executedPlan", "plan") { df.queryExecution.executedPlan }
    val rows = tracer.span("exec.collect", "exec") { df.collect() }
    if (tracer.enabled) tracer.tag("exchanges", tracer.exchanges(df))
    (df.schema, rows)
  }

  def collectLongs(df: DataFrame): Vector[Long] = {
    val row = collectRows(df)._2.head
    Vector.tabulate(row.length)(i => if (row.isNullAt(i)) Long.MinValue else row.getLong(i))
  }

  def write(df: DataFrame, path: String): Unit =
    tracer.span("io.write", "io") { df.coalesce(files).write.parquet(path) }

  /** Writes `df` as the single parquet file `path`. */
  def writeFile(df: DataFrame, path: String): Unit =
    tracer.span("io.write", "io") {
      val tmp = s"$path.parts"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
      Main.deleteTree(java.nio.file.Paths.get(tmp))
    }

  /** Opens a generated parquet input; traced, the span carries the
    * files' size, for scans that run outside any SQL execution. */
  def read(path: String): DataFrame =
    tracer.span("sources.scan", "sources") {
      if (tracer.enabled) {
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        try tracer.tag("bytes", files.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size(_)).sum)
        finally files.close()
      }
      spark.read.parquet(path)
    }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "join_skew" => new JoinSkew(ctx, probeRows = 1000000L)
    case "registry_mix" =>
      new Mixed(ctx.seed, Seq(new RegistryMix(ctx, sf = 0.005), new IterGraph(ctx, budget = 100000L)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** (a, b) of the key bijection k ↦ (a·k + b) mod n, drawn from the
    * seed: a different seed relabels keys but keeps every key's
    * multiplicity, so the inputs keep their shape. */
  def bijection(seed: Long, n: Long): (Long, Long) = {
    val rnd = new scala.util.Random(seed)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val a = Iterator.continually(1L + (rnd.nextLong() & Long.MaxValue) % (n - 1))
      .find(gcd(_, n) == 1).get
    (a, (rnd.nextLong() & Long.MaxValue) % n)
  }
}

/** The paper's experiment: one build side of n = N/10 unique keys
  * joined with an N-row probe side, uniform or Zipf(1.0), by each of
  * the three pinned algorithms. */
final class JoinSkew(ctx: Ctx, probeRows: Long) extends Workload {
  import ctx.{spark, tracer}
  val n: Long = probeRows / 10
  val algs = Seq("shuffle_hash", "broadcast", "sort_merge")
  val skews = Seq("uniform", "zipf1")
  private var dir = ""
  private var expectedRows = Map.empty[String, Long]
  private var genRows = 0L

  def generate(out: String): Unit = {
    val (a, b) = Workloads.bijection(ctx.seed, n)
    def relabel(k: Column): Column = pmod(k * lit(a) + lit(b), lit(n))
    ZipfSource.install(spark)
    // the generators are lazy: their work runs inside the writes
    ctx.write(DataGen.uniqueShuffled(spark, n)
      .select(col("rid"), relabel(col("key")).as("key"), col("attr2")), s"$out/build")
    ctx.write(DataGen.uniform(spark, probeRows, n)
      .select(col("rid"), relabel(col("key")).as("key"), col("attr1")), s"$out/uniform")
    ctx.write(ZipfSource.zipf(spark, probeRows, n, 1.0, numSlices = ctx.files)
      .select(col("rid"), relabel(col("key") - 1).as("key"),
        DataGen.poolAttr(col("rid") % 100, 20).as("attr1")), s"$out/zipf1")
  }

  def use(out: String): Unit = {
    dir = out
    // independent of any join: every build key is unique and in [0, n),
    // so each probe key in [0, n) matches exactly one build row
    val b = ctx.read(s"$dir/build").agg(count(lit(1)), countDistinct(col("key")),
      min(col("key")), max(col("key"))).head()
    require(b.getLong(0) == n && b.getLong(1) == n && b.getLong(2) == 0 && b.getLong(3) == n - 1,
      s"build side is not $n unique keys in [0, $n): $b")
    expectedRows = skews.map { s =>
      s -> ctx.read(s"$dir/$s").filter(col("key").between(0, n - 1)).count()
    }.toMap
    genRows = n + 2 * probeRows
  }

  def queries: Seq[Query] =
    for (s <- skews; alg <- algs) yield Query(s"$s.$alg", () => {
      val build = ctx.read(s"$dir/build")
      val probe = ctx.read(s"$dir/$s")
      val joined = tracer.span(s"joins.$alg", "joins", "arm" -> s"$s.$alg") {
        alg match {
          case "shuffle_hash" => Joins.repartitionJoin(build, probe, build("key"), probe("key"))
          case "broadcast" => Joins.broadcastJoin(build, probe, build("key"), probe("key"))
          case "sort_merge" => Joins.mergeJoin(build, probe, build("key"), probe("key"))
        }
      }
      ctx.collectLongs(joined.agg(count(lit(1)),
        sum(hash(build("rid"), build("attr2"), probe("rid"), probe("attr1")).cast("long"))))
    })

  /** Per skew, the three arms must agree on (rows, checksum), and rows
    * must be the count computed from the inputs alone. An arm outvoted
    * by the other two fails; with no majority, all three do. */
  def check(values: Map[String, Vector[Long]]): Map[String, String] =
    skews.flatMap { s =>
      val arms = algs.map(a => s"$s.$a").filter(values.contains)
      val votes = arms.groupBy(values).toSeq.sortBy(-_._2.size)
      val majority = votes.headOption.filter(_._2.size * 2 > algs.size).map(_._1)
      arms.flatMap { q =>
        val v = values(q)
        if (!majority.contains(v)) Some(q -> s"arms disagree: $q=$v, majority=$majority")
        else if (v(0) != expectedRows(s)) Some(q -> s"rows ${v(0)} != ${expectedRows(s)}")
        else None
      }
    }.toMap

  def facts: Seq[(String, Double)] = Seq("datagen.rows" -> genRows.toDouble)
}

/** Iterative work: PageRank over generated multigraphs below and above
  * the engine's local-tier edge budget. */
final class IterGraph(ctx: Ctx, budget: Long) extends Workload {
  import ctx.{spark, tracer}
  val iters = 6
  /** raw edge counts: 0.8 × the budget (local tier), 1.6 × the budget
    * (distributed) */
  val graphs = Seq("local" -> budget * 8 / 10, "dist" -> budget * 16 / 10)
  private val scale = 1000000L
  private val damping = 850000L
  private var dir = ""
  private var expected = Map.empty[String, Vector[Long]]
  private var distinctEdges = Map.empty[String, Long]

  spark.conf.set("spark.graft.graph.localEdges", budget.toString)

  def generate(out: String): Unit =
    for ((g, e) <- graphs) {
      val nodes = e / 10
      // src sweeps every node (out-degree e / nodes); dst is a seeded
      // xxhash64 scatter, so the seed changes the edges but not their count
      ctx.write(spark.range(0, e, 1, ctx.files).select(
        (col("id") % nodes).as("src"),
        pmod(xxhash64(col("id"), lit(ctx.seed)), lit(nodes)).as("dst")), s"$out/$g")
    }

  def use(out: String): Unit = {
    dir = out
    val res = for ((g, e) <- graphs) yield {
      val rows = ctx.read(s"$dir/$g").distinct().collect()
      val src = rows.map(_.getLong(0))
      val dst = rows.map(_.getLong(1))
      (g -> reference(src, dst, (e / 10).toInt), g -> src.length.toLong)
    }
    expected = res.map(_._1).toMap
    distinctEdges = res.map(_._2).toMap
  }

  /** The engine's PageRank recurrence, restated over primitive arrays:
    * rank₀ = scale over the nodes that are sources; each round every
    * source u sends rank(u) div outdeg(u) along its distinct edges.
    * Returns (nodes, Σ rank, Σ rank·(node mod 997 + 1)). */
  private def reference(src: Array[Long], dst: Array[Long], nodes: Int): Vector[Long] = {
    val od = new Array[Long](nodes)
    src.foreach(u => od(u.toInt) += 1)
    var rank = Array.tabulate(nodes)(u => if (od(u) > 0) scale else 0L)
    for (_ <- 1 to iters) {
      val sums = new Array[Long](nodes)
      var i = 0
      while (i < src.length) {
        val u = src(i).toInt
        if (rank(u) > 0) sums(dst(i).toInt) += rank(u) / od(u)
        i += 1
      }
      rank = Array.tabulate(nodes) { v =>
        if (od(v) == 0) 0L
        else {
          val s = sums(v)
          (scale - damping) + damping * (s / scale) + (damping * (s % scale)) / scale
        }
      }
    }
    val live = (0 until nodes).filter(od(_) > 0)
    Vector(live.size.toLong, live.map(rank(_)).sum, live.map(v => rank(v) * (v % 997 + 1)).sum)
  }

  def queries: Seq[Query] = graphs.map { case (g, _) =>
    Query(s"pagerank_$g", () => {
      val edges = ctx.read(s"$dir/$g")
      val ranks = tracer.span("graph.pageRank", "graph", "graph" -> g) {
        Graph.pageRank(edges, iters = iters)
      }
      ctx.collectLongs(ranks.agg(count(lit(1)), sum(col("rank")),
        sum(col("rank") * (pmod(col("node"), lit(997L)) + 1))))
    })
  }

  def check(values: Map[String, Vector[Long]]): Map[String, String] =
    values.collect { case (q, v) if v != expected(q.stripPrefix("pagerank_")) =>
      q -> s"pagerank $v != reference ${expected(q.stripPrefix("pagerank_"))}"
    }

  def facts: Seq[(String, Double)] =
    Seq("datagen.rows" -> graphs.map(_._2).sum.toDouble,
      "graph.budget_edges" -> budget.toDouble) ++
      distinctEdges.toSeq.map { case (g, e) => s"graph.$g.edges" -> e.toDouble }
}

/** Several workloads run as one: each part generates, checks and keeps
  * its own inputs and queries, and the seed shuffles the joint query
  * order of a pass. */
final class Mixed(seed: Long, parts: Seq[Workload]) extends Workload {
  private val owner: Map[String, Workload] =
    parts.flatMap(p => p.queries.map(_.name -> p)).toMap
  val queries: Seq[Query] = new scala.util.Random(seed).shuffle(parts.flatMap(_.queries))
  def generate(dir: String): Unit = parts.foreach(_.generate(dir))
  def use(dir: String): Unit = parts.foreach(_.use(dir))
  def check(values: Map[String, Vector[Long]]): Map[String, String] =
    parts.flatMap(p => p.check(values.filter { case (q, _) => owner(q) eq p })).toMap
  def facts: Seq[(String, Double)] =
    parts.flatMap(_.facts).groupMapReduce(_._1)(_._2)(_ + _).toSeq
  override def keep(query: String, pass: Int): Unit = owner(query).keep(query, pass)
  override def info: Map[String, Any] = parts.map(_.info).reduce(_ ++ _)
}
