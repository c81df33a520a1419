package graft

import graft.functions.GraftFunctions
import graft.plans.ZipfSource
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — the single import a user of the reference needs
  * to switch engines:
  *
  * {{{
  * val spark = Graft.session()                  // tuned local session
  * Graft.registerViews(spark, "/data/sf0.1")    // tables as SQL views
  * spark.sql("SELECT ... FROM lineitem ...")    // plain SQL surface
  * Graft.query("dedup_minhash_lsh")(spark, dir) // named operators
  * }}}
  *
  * It is also the one place a session is built: every main and the test
  * suites take theirs from [[local]], so the oracle pass, the bench and
  * the scale probes all run under one configuration.
  */
object Graft {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Parse `k=v;k=v` (the `SPARK_GRAFT_CONF` spelling). Values may hold
    * `=`; an entry without one is rejected by name. */
  def parseConf(spec: String): Map[String, String] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }.toMap

  /** The settings [[local]] builds with: the defaults below, then the
    * caller's `conf`, then `SPARK_GRAFT_CONF` (so a run can override
    * anything, context-level keys included). */
  def settings(cpus: Int, conf: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.app.name" -> "graft",
      // shuffle parallelism = cores: the reference fixed numReducers=100
      // for a 17-node cluster; on local[N] that only adds scheduling
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // Even with the UI off, the app-status listener retains per-
      // execution metadata incl. FULL plan strings (some of ours are
      // hundreds of KB); across 300+ queries the defaults (1000
      // executions / 1000 jobs) pin hundreds of MB of driver heap and
      // the resulting GC pressure contaminates late-alphabet queries
      // (join_broadcast measured 0.28 s isolated vs 5.0 s mid-run).
      "spark.sql.ui.retainedExecutions" -> "16",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      // one-shot stream drains never replay old batches; the default
      // keeps 100 state-map versions resident per store, and ~30
      // streaming queries' final states would otherwise stay loaded
      "spark.sql.streaming.minBatchesToRetain" -> "2"
    ) ++ conf ++ sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Map.empty)

  /** The local session every main and test suite runs under. */
  def local(cpus: Int = cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = settings(cpus, conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `confs` set on `spark`, then put every key back:
    * a key that had a value gets it again, a key that had none is
    * unset — on a normal return and when `body` throws. The one
    * save/set/restore in the engine: library code that needs a setting
    * for the length of one operator takes it from here.
    *
    * Contract: a session conf is SESSION-WIDE. While `body` runs, every
    * thread using the same session sees the override (and a second
    * scoped override of the same key on another thread would restore
    * over it), so drive one session from one thread while a scoped
    * override is active; concurrent drivers each take their own
    * session (`spark.newSession()`). */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    // the explicitly set keys: `conf.getOption` would report a built-in
    // default for an unset key, and restoring that would pin it
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, vo) =>
      vo.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** [[local]] with graft's SQL functions and planner strategies installed. */
  def session(): SparkSession = configure(local())

  /** Install graft's functions and planner strategy into an existing
    * session (idempotent). */
  def configure(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    ZipfSource.install(spark)
    plans.ArgmaxRewrite.install(spark)
    spark
  }

  /** `SPARK_GRAFT_ONLY="a,b"`: the local-debug query subset of
    * Bench, Verify and Explain. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Registry queries by name, narrowed to [[only]] when it is set. */
  def selected: Seq[QueryDef] =
    SparkEntry.registry.sortBy(_.name).filter(q => only.forall(_.contains(q.name)))

  /** Register every testdata table as a temp view so `spark.sql` works
    * with the same names the DuckDB oracle uses. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** Named operator lookup (SparkEntry registry). */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)
}
