package joinbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, a cold pass over the
  * workload's queries, then warm passes. Queries run one at a time,
  * back to back (a closed loop with one client). Writes every
  * execution, the set-up timestamps and, when traced, the spans and Spark
  * counters to `<run-dir>/result.json`; `run.py` turns that file into
  * the metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * run-dir, cores, launch-us (epoch µs at process launch), min-warm,
  * and inject-wrong `<query>@<pass>` (adds 1 to that execution's checksum,
  * to show that a wrong result is caught).
  */
object Main {
  final case class Exec(pass: Int, query: String, wallS: Double, ok: Boolean,
      error: String, span: Int, blockPeakMb: Double)

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val runDir = opt("run-dir")
    val cores = opt.getOrElse("cores", "4").toInt
    val launchUs = opt("launch-us").toLong
    val minWarm = opt.getOrElse("min-warm", "3").toInt
    val inject = opt.get("inject-wrong").map { s =>
      val Array(q, p) = s.split("@"); (q, p.toInt)
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"joinbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(s"$runDir/checkpoint")
    val tracer = new Tracer(spark, traced)

    val ctx = new Ctx(spark, tracer, seed, files = cores)
    val w = Workloads(workload, ctx)
    // set-up: generate the inputs and fixtures, derive the expected results
    val dataDir = s"$runDir/data"
    System.err.println(s"[joinbench] session ${(tracer.nowMicros() - launchUs) / 1e6} s")
    tracer.span("setup", "setup") {
      tracer.span("datagen.generate", "datagen") { w.generate(dataDir) }
      tracer.span("setup.expected", "setup") { w.use(dataDir) }
    }
    scrub(spark)
    tracer.drain()
    tracer.resetBlocks()
    System.gc()

    System.err.println(s"[joinbench] set-up ${(tracer.nowMicros() - launchUs) / 1e6} s")
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passGcS = mutable.ArrayBuffer.empty[Double]
    val firstQueryUs = tracer.nowMicros()
    val window0 = System.nanoTime()
    def runPass(pass: Int): Unit = {
      val gc0 = gcMillis()
      val values = mutable.LinkedHashMap.empty[String, Vector[Long]]
      val done = for (q <- w.queries) yield {
        var span = -1
        val t0 = System.nanoTime()
        val res =
          try Right(tracer.span(s"query.${q.name}", "queries", "pass" -> pass.toString) {
            span = tracer.spans.size - 1
            q.run()
          })
          catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[joinbench] pass $pass ${q.name} $wall%.3f s")
        res.foreach { v =>
          values(q.name) =
            if (inject.contains((q.name, pass))) v.updated(v.size - 1, v.last + 1) else v
        }
        val peakMb = { tracer.drain(); tracer.blockPeak / 1048576.0 }
        w.keep(q.name, pass)
        scrub(spark)
        tracer.drain()
        tracer.resetBlocks()
        (q.name, wall, res.left.toOption, if (traced) span else -1, peakMb)
      }
      val mismatch = w.check(values.toMap)
      passGcS += (gcMillis() - gc0) / 1000.0
      for ((q, wall, err, span, peak) <- done) {
        val why = err.orElse(mismatch.get(q))
        why.foreach(e => System.err.println(s"[joinbench] pass $pass $q failed: $e"))
        execs += Exec(pass, q, wall, why.isEmpty, why.orNull, span, peak)
      }
      System.gc()
    }
    runPass(0)
    var warm = 0
    while ((warm < minWarm || (System.nanoTime() - window0) / 1e9 < seconds) && warm < 100) {
      warm += 1
      runPass(warm)
    }

    tracer.drain()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "launch_us" -> launchUs, "first_query_us" -> firstQueryUs,
      "warm_passes" -> warm, "pass_gc_s" -> passGcS.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "facts" -> w.facts.toMap, "info" -> w.info,
      "execs" -> execs.toSeq.map(e => Map("pass" -> e.pass, "query" -> e.query,
        "wall_s" -> e.wallS, "ok" -> e.ok, "error" -> e.error, "span" -> e.span,
        "block_peak_mb" -> e.blockPeakMb)))
    if (traced) {
      out("spans") = tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
        "tags" -> s.tags.toMap))
      out("jobs") = tracer.jobs.values.toSeq.map(j =>
        Map("id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end))
      out("stages") = tracer.stages.values.toSeq.map(s => Map("id" -> s.id, "span" -> s.span,
        "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "in_rows" -> s.inRows,
        "out_bytes" -> s.outBytes, "shuffle_write" -> s.shufWrite,
        "shuffle_read" -> s.shufRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "task_ms" -> s.taskMs.toSeq))
      out("scans") = tracer.scans.toSeq.map { case (t, b) => Map("end" -> t, "bytes" -> b) }
      out("progress") = tracer.progress.toSeq.map(p => Map("start" -> p.start,
        "durations" -> p.durations, "state_commit_ms" -> p.stateCommitMs))
    }
    System.err.println(s"[joinbench] done ${(tracer.nowMicros() - launchUs) / 1e6} s")
    spark.stop()
    Files.writeString(Paths.get(runDir, "result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
  }

  /** Between queries, outside the timed region: what `graft.Bench`
    * clears, so no query measures the residue of the one before. */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** VmHWM: the peak resident set of this process. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }
}
