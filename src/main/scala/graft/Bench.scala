package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.stats.Measure
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Driver-run benchmark: times every registry query at the configured
  * scale factor and prints ONE JSON line. The session is [[Graft.local]]
  * (AQE on, shuffle partitions = cores), the one Verify checks.
  *
  * Methodology: each query runs twice back-to-back and the FASTER run is
  * reported (JMH-style best-of-N with N=2). Round 1 showed first-run
  * times inflated up to 4× by JIT/codegen compilation and GC pressure
  * from the 78 preceding queries — steady-state is what a long-running
  * cluster job sees, and best-of-2 makes round-over-round deltas
  * trustworthy. The DATA cache is cleared between the two runs (round-4
  * ADVICE): what best-of-2 keeps warm is JIT/codegen/session state, not
  * run 1's cached indexes — both runs rebuild their own caches, so
  * caching queries report honest cold-index times. Times are printed with ms precision to keep the JSON
  * line short enough for the driver's output-tail capture (the round-1
  * line was truncated mid-JSON and failed to parse); the full-precision
  * per-run data lands in bench_local.json.
  *
  * A query that throws is still timed, but it is named in the flat
  * `failed` field of the record, so it cannot pass as a fast one. Each
  * query's best run also goes to stderr as one `[bench-query]` line with
  * its task counters (jobs, stages, shuffle, executor run and GC time). */
object Bench {
  /** One timed run of one query. */
  final case class Run(sec: Double, gcMs: Long, failed: Boolean, stats: JoinStats)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.local()

    // JVM/session warmup outside the timed region: one tiny action so the
    // first measured query doesn't pay SparkSession + codegen bootstrap
    spark.range(10).count()

    // Optional local-debug filter: SPARK_GRAFT_ONLY="a,b" times a subset.
    val subset = Graft.only.isDefined
    // Environment diagnostics (stderr, so stdout stays pure JSON): when a
    // driver-context run disagrees with the committed record, these make
    // the gap ATTRIBUTABLE (GC vs load vs memory) instead of a mystery —
    // round-4's 274.7 s driver run vs 152 s same-commit clean record.
    import java.lang.management.ManagementFactory
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def diag(tag: String): Unit = {
      val os = ManagementFactory.getOperatingSystemMXBean
      val rt = Runtime.getRuntime
      System.err.println(f"""[bench-diag] {"tag":"$tag","load1m":${os.getSystemLoadAverage}%.2f,"procs":${os.getAvailableProcessors},"heap_used_mb":${(rt.totalMemory - rt.freeMemory) / 1048576},"heap_max_mb":${rt.maxMemory / 1048576},"gc_ms_total":${gcMillis()}}""")
    }
    diag("start")
    def load1m(): Double =
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // committed per-query floors (the bench_local.json in the checkout,
    // i.e. the last committed record) read BEFORE this run overwrites
    // it — the baseline for the regime self-adjudication below
    val committed: Map[String, Double] =
      try {
        new ObjectMapper().readTree(new java.io.File("bench_local.json"))
          .get("runs").properties().asScala
          .map(e => e.getKey -> math.min(e.getValue.get(0).asDouble, e.getValue.get(1).asDouble))
          .toMap
      } catch { case NonFatal(_) => Map.empty }
    def run(q: QueryDef): Run = {
      val g0 = gcMillis()
      val (failed, st) = Measure.measured(spark) {
        try { q.fn(spark, sfDir).count(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); true }
      }
      Run(st.wallClockSec, gcMillis() - g0, failed, st)
    }
    // Between-query hygiene, OUTSIDE the timed region: a query's leaked
    // cache blocks and memory-sink temp views are its own bug when they
    // slow IT down, but letting them pile up across 212 queries turns
    // the tail of the alphabet into a measurement of the head's garbage
    // (measured up to 15× inflation). JIT/codegen warmup — the part of
    // session state a steady-state cluster job legitimately keeps — is
    // unaffected.
    var sinceGc = 0
    def scrub(): Unit = {
      spark.catalog.clearCache()
      // also free every still-registered RDD (cache() AND
      // localCheckpoint blocks): a query whose RESULT is a local
      // checkpoint (e.g. media_binary_ingest pinning rows so its
      // scratch files can be deleted) legitimately leaves its blocks
      // pinned while the count consumes them — but after the count
      // they are residue the next 300 queries would carry in the
      // block manager (VERDICT r11 #1's unattributed-regression
      // direction: in-run floors measuring the head's garbage)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      sinceGc += 1
      if (sinceGc % 25 == 0) System.gc() // keep full GCs out of timed runs
    }
    def f3(v: Double): String = f"$v%.3f"
    type RunRes = Seq[(String, Run, Run)]
    def measurePass(): RunRes = Graft.selected
      .map { q =>
        val a = run(q)
        // drop run 1's cache blocks before run 2: CacheManager matches
        // the identical logical plan, so without this every caching
        // query's second run probes run 1's in-memory index and
        // best-of-2 silently reports a warm-data-cache time (ADVICE r4)
        spark.catalog.clearCache()
        val b = run(q)
        scrub()
        val best = if (a.sec <= b.sec) a else b
        System.err.println(s"""[bench-query] {"q":"${q.name}","sec":${f3(best.sec)},""" +
          s""""failed":${a.failed || b.failed},${best.stats.countersJson}}""")
        (q.name, a, b)
      }
    // regime self-adjudication (VERDICT r9 #7): the per-query ratio
    // distribution vs the COMMITTED floors, encoded into the record so
    // the contaminated-run call the round write-ups made in prose is
    // mechanical — a uniformly elevated median is a machine REGIME
    // (reject the record, rerun quiet), isolated large spikes over a
    // clean median are scheduler STALLs, anything else is clean.
    // Queries under 0.5 s on both sides are noise-dominated, excluded
    // (the floor gate's MIN_SEC rule), and so are failed ones.
    def verdict(results: RunRes): (Double, Double, String) = {
      val ratios = results.flatMap { case (k, a, b) =>
        val best = math.min(a.sec, b.sec)
        committed.get(k).filter(_ => !a.failed && !b.failed).collect {
          case base if base >= 0.5 || best >= 0.5 => best / math.max(base, 1e-9)
        }
      }.sorted
      val medianRatio =
        if (ratios.isEmpty) -1.0
        else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
      val maxRatio = if (ratios.isEmpty) -1.0 else ratios.last
      val regime =
        if (ratios.isEmpty) "no-baseline"
        else if (medianRatio > 1.25) "regime"
        else if (maxRatio > 3.0) "stall"
        else "clean"
      (medianRatio, maxRatio, regime)
    }
    // bounded AUTO-RETRY on a contaminated run (VERDICT r10 #4): the
    // gate already adjudicated runs mechanically, but the driver's
    // per-round artifact captured whatever single run it got — r10's
    // was a stall run even though a clean same-commit record existed.
    // When this run's own verdict says stall/regime, settle briefly
    // and re-measure, at most twice; the artifact then carries either
    // a clean run or the honest final verdict after bounded retries.
    var attempt = 1
    var loadStart = load1m()
    var results = measurePass()
    var (medianRatio, maxRatio, regime) = verdict(results)
    // per-attempt audit trail (ADVICE r11): retries discard earlier
    // attempts' MEASUREMENTS by design, but the record keeps each
    // attempt's environment verdict so a tripled wall time stays
    // attributable from the JSON alone
    val attemptLog = scala.collection.mutable.ArrayBuffer(
      (loadStart, medianRatio, maxRatio, regime))
    val maxAttempts = if (subset) 1 else 3
    while ((regime == "stall" || regime == "regime") && attempt < maxAttempts) {
      System.err.println(s"[bench] attempt $attempt verdict=$regime " +
        f"(median=$medianRatio%.3f max=$maxRatio%.3f) — settling 45 s, re-running")
      Thread.sleep(45000L)
      System.gc()
      attempt += 1
      loadStart = load1m()
      results = measurePass()
      val v = verdict(results)
      medianRatio = v._1; maxRatio = v._2; regime = v._3
      attemptLog += ((loadStart, medianRatio, maxRatio, regime))
    }
    val qs = results.map { case (k, a, b) => s""""$k":${f3(math.min(a.sec, b.sec))}""" }
      .mkString("{", ",", "}")
    val total = results.map { case (_, a, b) => math.min(a.sec, b.sec) }.sum
    val failed = results.collect { case (k, a, b) if a.failed || b.failed => k }
    val loadEnd = load1m()
    // attempts history stays FLAT (the driver scrape chokes on nested
    // braces — see the comment at the print below): one compact string
    // field, `load/median/max/regime` per attempt, ';'-separated
    val attemptsStr = attemptLog.map { case (l, md, mx, rg) =>
      f"$l%.2f/${f3(md)}/${f3(mx)}/$rg" }.mkString(";")
    val envFields = f""""load1m_start":$loadStart%.2f,"load1m_end":$loadEnd%.2f,""" +
      s""""median_ratio":${f3(medianRatio)},"max_ratio":${f3(maxRatio)},""" +
      s""""regime":"$regime","attempt":$attempt,"attempts":"$attemptsStr",""" +
      s""""failed":"${failed.mkString(",")}""""
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",$envFields}"""
    // full-precision record of both runs (+ per-run GC wall-ms deltas,
    // for attributing environment-contaminated runs), for round-over-
    // round analysis — written ONLY on full-registry runs: a
    // SPARK_GRAFT_ONLY debug subset would otherwise clobber the
    // committed record
    if (!subset) {
      val both = results.map { case (k, a, b) => s""""$k":[${a.sec},${b.sec}]""" }.mkString("{", ",", "}")
      val gcs = results.map { case (k, a, b) => s""""$k":[${a.gcMs},${b.gcMs}]""" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_local.json"),
        s"""{"best_of_2":$line,"runs":$both,"gc_ms":$gcs}""" + "\n"): Unit
      // the machine-readable record of this run AS A FILE (VERDICT r11
      // #5): every round's driver artifact carried `"parsed": null`
      // because the stdout line — however flat — reaches the driver
      // wrapped in sbt's `[info]` prefix and tail-truncation; a bare
      // one-line file sidesteps the scrape entirely
      java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_record.json"),
        line + "\n"): Unit
    }
    diag("end")
    // The driver regex-scrapes the tail of the sbt output and its parse
    // has failed every round the line was either truncated (r02/r03:
    // full line cut mid-JSON) or contained a NESTED object (r04: a
    // compact line with a `queries:{...}` map was intact inside the
    // tail yet still `parsed: null` — consistent with a non-greedy
    // `\{.*?\}` scrape stopping at the first inner `}`). So the line of
    // record is now FLAT — no nested braces at all — and printed LAST,
    // after spark.stop(), so only sbt's `[success]` epilogue follows.
    // The full per-query map still goes out first for the archive and
    // lands in bench_local.json.
    println(line)
    Console.out.flush()
    spark.stop()
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"queries":"bench_local.json","sf":"$sfDir",$envFields}""")
    Console.out.flush()
  }
}
