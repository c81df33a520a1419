package graft.sim

import graft.Graft
import graft.datagen.DataGen
import graft.operators.Joins
import graft.sources.Tables
import graft.stats.Measure
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark simulation harness — the reference's JoinSimulation driver
  * (H4/H5/H6, JoinSimulation.java:87-317): per step, generate a
  * unique-key left table and a (Zipf-)skewed right table, run the three
  * join algorithms over them, and append a results-CSV row using the
  * reference's column schema (header ≙ data/results_skew.csv, so the
  * repo's R analysis scripts remain usable).
  *
  * Differences by design (documented divergences):
  *  - rt_* (reduce-task) stats are -1: Spark has no map/reduce split;
  *    the reference emits the same sentinel under its local runner
  *    (JoinSimulation.java:66-70).
  *  - no merge-join maxSplits capacity cap: AQE skew-join replaces the
  *    TotalOrderPartitioner failure mode (thesis §6.4) — the harness
  *    exposes AQE as an axis instead.
  */
object Simulation {

  final case class Args(
      rows: Long = 100000,
      steps: Int = 1,
      increment: Long = 0,
      uniqueValues: Long = 0, // 0 → rows / 10, the thesis's default ratio
      reducers: Int = 32,
      zipfSkew: Option[Double] = None,
      doubleSkew: Boolean = false,
      noBroadcastJoin: Boolean = false,
      noHeader: Boolean = false,
      aqe: Boolean = true,
      threads: Option[Int] = None, // datagen write parallelism (--threads)
      nativeGen: Boolean = false, // Zipf via the native ZipfSource plan
      advise: Boolean = false, // print Joins.adviseStrategy per step
      adviseBudgetMb: Long = 512, // broadcast budget the advisor assumes
      executeAdvice: Boolean = false, // add the advised arm to multiway sweeps
      multiwayDims: Int = 0, // > 0 → multi-way star sweep instead of binary
      topology: String = "star", // --multiway shape: star | chain
      out: String = "results.csv",
      workDir: String = s"${sys.props("java.io.tmpdir")}/graft_sim")

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case "--rows" :: v :: t            => loop(a.copy(rows = v.toLong), t)
      case "--steps" :: v :: t           => loop(a.copy(steps = v.toInt), t)
      case "--increment" :: v :: t       => loop(a.copy(increment = v.toLong), t)
      case "--unique-values" :: v :: t   => loop(a.copy(uniqueValues = v.toLong), t)
      case "--reducers" :: v :: t        => loop(a.copy(reducers = v.toInt), t)
      case "--zipf-skew" :: v :: t       => loop(a.copy(zipfSkew = Some(v.toDouble)), t)
      case "--double-skew" :: t          => loop(a.copy(doubleSkew = true), t)
      case "--no-broadcast-join" :: t    => loop(a.copy(noBroadcastJoin = true), t)
      case "--no-header" :: t            => loop(a.copy(noHeader = true), t)
      case "--no-aqe" :: t               => loop(a.copy(aqe = false), t)
      case "--threads" :: v :: t         => loop(a.copy(threads = Some(v.toInt)), t)
      case "--native-gen" :: t           => loop(a.copy(nativeGen = true), t)
      case "--advise" :: t               => loop(a.copy(advise = true), t)
      case "--advise-budget-mb" :: v :: t => loop(a.copy(adviseBudgetMb = v.toLong), t)
      case "--execute-advice" :: t       => loop(a.copy(executeAdvice = true), t)
      case "--multiway" :: v :: t        => loop(a.copy(multiwayDims = v.toInt), t)
      case "--topology" :: v :: t        => loop(a.copy(topology = v), t)
      case "--out" :: v :: t             => loop(a.copy(out = v), t)
      case "--work-dir" :: v :: t        => loop(a.copy(workDir = v), t)
      case Nil                           => a
      case other :: _ => throw new IllegalArgumentException(s"unknown option: $other")
    }
    loop(Args(), argv.toList)
  }

  /** Column schema — character-equal to JoinSimulation.java:312-317.
    * (The thesis's published data/*.csv files carry an OLDER 32-column
    * variant without `file_size`/`t_merge_3` and with a trailing
    * `t_sort_merge`; the code schema is the later superset — R scripts
    * select columns by name, so the superset stays usable.) mt_*/rt_*
    * are semicolon-joined per-task ms lists like the reference emits;
    * rt_* carry the -1 sentinel (Spark has no map/reduce split — the
    * reference's local runner emits the same sentinel,
    * JoinSimulation.java:66-70). t_merge = t_merge_1_1 + t_merge_1_2 +
    * t_merge_2_1 + t_merge_2_2 + t_merge_3, as in the reference. */
  val header: String =
    "rows,unique_values,reducers,skew,file_size," +
      "map_records_1,reduce_records_1,mt_1,mt_med_1,mt_mu_1,mt_max_1,rt_1,rt_med_1,rt_mu_1,rt_max_1,t_repartition," +
      "map_records_2,mt_2,mt_med_2,mt_mu_2,mt_max_2,t_broadcast," +
      "map_records_3,mt_3,mt_med_3,mt_mu_3,mt_max_3,t_merge_1_1,t_merge_1_2,t_merge_2_1,t_merge_2_2,t_merge_3,t_merge"

  /** One sweep step: generate → run J1/J2/J3 → CSV row. */
  def step(spark: SparkSession, a: Args, rows: Long): String = {
    val unique = if (a.uniqueValues > 0) a.uniqueValues else math.max(1L, rows / 10)
    val wd = s"${a.workDir}/r$rows"

    // generate + materialize like the reference (inputs live on storage,
    // joins re-read them; parquet replaces the 40-part CSV dirs).
    // --native-gen swaps the declarative Zipf pipeline (window + explode
    // + shuffle over the key table) for the ZipfSource physical plan —
    // zero-shuffle partition-local generation, O(1) memory past 4M keys;
    // ZipfSourceSpec pins the two bit-equal, so results are unchanged.
    def zipfGen(nRows: Long, s: Double): DataFrame =
      if (a.nativeGen) {
        graft.plans.ZipfSource.install(spark)
        val slices = a.threads.getOrElse(a.reducers)
        DataGen.withAttrs(
          graft.plans.ZipfSource.zipf(spark, nRows, unique, s, slices), col("rid"))
      } else DataGen.zipfTable(spark, nRows, unique, s)
    val left = if (a.doubleSkew && a.zipfSkew.isDefined)
      zipfGen(unique, a.zipfSkew.get)
    else DataGen.uniqueShuffled(spark, unique)
    val right = a.zipfSkew match {
      case Some(s) => zipfGen(rows, s)
      case None    => DataGen.uniform(spark, rows, unique)
    }
    // --threads ≙ JoinSimulation's datagen thread count: the write
    // parallelism of the generated inputs (part-file count)
    def gen(df: DataFrame): DataFrame = a.threads.fold(df)(df.repartition(_))
    val l = Tables.writeStage(gen(left), s"$wd/left")
    val r = Tables.writeStage(gen(right), s"$wd/right")
    // file_size: MB of the right (t2) input, JoinSimulation.java:130-132
    val fileBytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(s"$wd/right"))
    }
    val fileSize = fileBytes / 1000000

    // --advise: run the thesis-Fig-6.11 decision tree over the
    // generated pair with the MEASURED on-disk row width, so the sweep
    // prints its own strategy recommendation next to the timings it is
    // about to take
    if (a.advise) {
      val adv = Joins.adviseStrategy(s"sim_r$rows", l, r, r("key"),
        rowBytes = math.max(1L, fileBytes / rows),
        broadcastBudgetBytes = a.adviseBudgetMb * 1000000L,
        reducers = a.reducers).head()
      println(s"[advise] rows=$rows unique=${adv.getLong(1)} " +
        s"max_repeats=${adv.getLong(3)} dim_bytes=${adv.getLong(4)} " +
        s"merge_feasible=${adv.getInt(5)} advice=${adv.getString(6)}")
    }

    spark.conf.set("spark.sql.shuffle.partitions", a.reducers.toString)
    spark.conf.set("spark.sql.adaptive.enabled", a.aqe.toString)

    // all times in ms like the reference; mt_* = ;-joined per-task list
    def fmt(d: Double): String = f"$d%.3f"
    def taskStats(s: graft.JoinStats): String =
      s"${s.taskDurationsMs.mkString(";")},${fmt(s.taskTimeMedianMs)},${fmt(s.taskTimeMeanMs)},${s.taskTimeMaxMs}"

    // J1 repartition (shuffle-hash) join
    val (c1, s1) = Measure.measured(spark) {
      Joins.repartitionJoin(l, r, l("key"), r("key")).count()
    }
    val j1 = s"${s1.shuffleRecordsWritten},$c1,${taskStats(s1)},-1,-1,-1,-1,${fmt(s1.wallClockSec * 1000)}"

    // J2 broadcast join (skipped like --no-broadcast-join when the small
    // side wouldn't fit, JoinSimulation.java:176)
    val j2 = if (a.noBroadcastJoin) "-1,-1,-1,-1,-1,-1" else {
      val (c2, s2) = Measure.measured(spark) {
        Joins.broadcastJoin(l, r, l("key"), r("key")).count()
      }
      s"${s2.shuffleRecordsWritten},${taskStats(s2)},${fmt(s2.wallClockSec * 1000)}"
    }

    // J3 decomposed sort-merge pipeline with per-stage times;
    // t_merge = sum of the five stage slots (JoinSimulation.java:216-220)
    val (res3, s3) = Measure.measured(spark) {
      val (joined, times) = Joins.mergeJoinDecomposed(
        spark, l, r, l("key"), r("key"), a.reducers, s"$wd/mj")
      (joined.count(), times)
    }
    val timesMs = res3._2.map(_ * 1000)
    val j3 = s"${s3.shuffleRecordsWritten},${taskStats(s3)}," +
      s"${timesMs.map(fmt).mkString(",")},${fmt(timesMs.sum)}"

    Tables.deleteRecursive(wd)
    s"$rows,$unique,${a.reducers},${a.zipfSkew.getOrElse(0.0)},$fileSize,$j1,$j2,$j3"
  }

  private val bcastKey = "spark.sql.autoBroadcastJoinThreshold"

  /** A forced-shuffle arm: auto-broadcast and AQE off for `body` only,
    * so the measured plan is the hand-built cascade, not Catalyst's. */
  private def noBroadcast[A](spark: SparkSession)(body: => A): A =
    Graft.withConfs(spark, bcastKey -> "-1", "spark.sql.adaptive.enabled" -> "false")(body)

  /** Multi-way star sweep (--multiway N, VERDICT r7 #4 / thesis
    * §5.4+§7 future work): one fact of `rows` rows carrying N foreign
    * keys against N dims of sizes unique, unique/10, unique/100, … —
    * the three cascade strategies the advisor chooses between, each
    * measured end-to-end:
    *
    *  - broadcast-cascade: every dim broadcast-hinted — one fact scan,
    *    zero exchanges;
    *  - shuffle-cascade: broadcast disabled + AQE off — each join
    *    exchanges the surviving fact on its key;
    *  - aqe-auto: planner defaults — what Spark picks unassisted.
    *
    * CSV: rows,dims,topology,skew,strategy,wall_ms,shuffle_records.
    * The advisor's
    * recommendation for the same star prints as an [advise-multiway]
    * line so the sweep carries its own decision next to the timings. */
  def multiwayStep(spark: SparkSession, a: Args, rows: Long): Seq[String] = {
    val unique = if (a.uniqueValues > 0) a.uniqueValues else math.max(1L, rows / 10)
    val nd = a.multiwayDims
    val wd = s"${a.workDir}/mw$rows"
    val skew = a.zipfSkew.getOrElse(0.0)
    val dimSizes = (0 until nd).map(i =>
      math.max(1L, unique / math.round(math.pow(10d, i.toDouble))))
    // fact: rid + one uniform key per dim (xxhash64-scattered), a ~200 B
    // attr payload like the binary harness's rows. With --zipf-skew the
    // FIRST key draws from the Zipf generator instead (pmod-folded into
    // dim0's domain) — the skewed-fact arm of the sweep (VERDICT r8 #4)
    val fact0 =
      if (a.zipfSkew.isDefined)
        DataGen.zipfTable(spark, rows, dimSizes(0), skew).select(
          (col("rid").as("id") +:
            pmod(col("key"), lit(dimSizes(0))).as("k0") +:
            dimSizes.zipWithIndex.drop(1).map { case (sz, i) =>
              pmod(xxhash64(col("rid") * 31 + i), lit(sz)).as(s"k$i")
            }) :+ DataGen.poolAttr(col("rid"), 100).as("attr"): _*)
      else spark.range(rows).select(
        (col("id") +: dimSizes.zipWithIndex.map { case (sz, i) =>
          pmod(xxhash64(col("id") * 31 + i), lit(sz)).as(s"k$i")
        }) :+ DataGen.poolAttr(col("id"), 100).as("attr"): _*)
    val fact = Tables.writeStage(fact0, s"$wd/fact")
    val dims = dimSizes.zipWithIndex.map { case (sz, i) =>
      val d0 = spark.range(sz).select(col("id").as(s"dk$i"),
        DataGen.poolAttr(col("id") + i, 100).as(s"dattr$i"))
      (s"dim$i", Tables.writeStage(d0, s"$wd/dim$i"))
    }

    // pin the session's AQE mode to the sweep's --aqe flag BEFORE the
    // advice pass: the advisor's skew branch is AQE-aware (VERDICT r10
    // #2), so a --no-aqe sweep must advise salting and a default sweep
    // plain shuffle — and the measured arms must run under the same
    // mode the advisor saw
    spark.conf.set("spark.sql.adaptive.enabled", a.aqe.toString)
    val fileBytes = graft.operators.Layout.dataBytes(s"$wd/fact")
    // skew-aware advice: per-dim hot-key probe + AQE-aware skew branch
    val adv = Joins.adviseMultiwaySkew(s"mw_r$rows", fact,
      dims.zipWithIndex.map { case ((dn, d), i) => (dn, d, col(s"k$i")) },
      rowBytes = math.max(1L, fileBytes / rows),
      broadcastBudgetBytes = a.adviseBudgetMb * 1000000L,
      reducers = a.reducers)
      .collect()
    adv.foreach(r => println(s"[advise-multiway] rows=$rows dim=${r.getString(1)} " +
      s"dim_bytes=${r.getLong(3)} max_repeats=${r.getLong(5)} " +
      s"broadcast=${r.getInt(6)} skewed=${r.getInt(7)} " +
      s"dim_advice=${r.getString(8)} advice=${r.getString(9)}"))

    def cascade(hint: String => DataFrame => DataFrame): Long = {
      dims.zipWithIndex.foldLeft(fact) { case (acc, ((dn, d), i)) =>
        acc.join(hint(dn)(d), col(s"k$i") === col(s"dk$i"))
      }.count()
    }
    // the ADVISED arm (--execute-advice, VERDICT r9 #4): build exactly
    // the cascade the skew-aware advisor prescribes — explicit
    // broadcast hints in admission order, autoSaltedJoin on flagged
    // dims — with auto-broadcast OFF so the measured plan is the
    // advisor's decisions, not Catalyst quietly making the same call.
    // The ADVICE pass is priced separately ([advise-cost] line): it is
    // a handful of bounded aggregates a planner amortizes across every
    // query over the same star, while the arm's wall measures what the
    // prescribed cascade itself costs against the forced arms.
    // the advice pass runs ONCE, outside any measured arm (it is the
    // planner step, amortized across every query over the same star;
    // an early cut left it inside the measured body and the advised
    // arm read 2.4× the forced broadcast arm — all of it advice cost)
    lazy val advMap = {
      val t0 = System.nanoTime()
      val m = Joins.collectMultiwayAdvice(fact,
        dims.zipWithIndex.map { case ((dn, d), i) => (dn, d, col(s"k$i")) },
        rowBytes = math.max(1L, fileBytes / rows),
        broadcastBudgetBytes = a.adviseBudgetMb * 1000000L,
        reducers = a.reducers)
      println(f"[advise-cost] rows=$rows topology=star advice_ms=${(System.nanoTime() - t0) / 1e6}%.0f")
      m
    }
    def advised(): Long = {
      // auto-broadcast is disabled only when some dim is advised to
      // SHUFFLE (otherwise Catalyst would quietly broadcast it and the
      // arm would measure Catalyst's call, not the advisor's);
      // broadcast-advised dims are pinned by explicit hints either way
      val anyShuffle = advMap.values.exists(_._3 != "broadcast")
      Graft.withConfs(spark, (if (anyShuffle) Seq(bcastKey -> "-1") else Nil): _*) {
        Joins.executeMultiwayAdvice(fact,
          dims.zipWithIndex.map { case ((dn, d), i) =>
            (dn, d, col(s"k$i"), col(s"dk$i")) },
          advMap, reducers = a.reducers).count()
      }
    }
    // force the lazy advice pass HERE, before any Measure.measured body
    // runs (ADVICE r10: lazy-val forcing inside the first advised() call
    // put the advisor aggregates back inside the measured wall that the
    // comment above promises they are outside of; best-of-2 usually
    // masked it, a GC-slowed second run didn't)
    if (a.executeAdvice) { advMap: Unit }
    val strategies = Seq[(String, () => Long)](
      "broadcast-cascade" -> (() => cascade(_ => d => broadcast(d))),
      "shuffle-cascade" -> (() => noBroadcast(spark)(cascade(_ => identity))),
      "aqe-auto" -> (() => cascade(_ => identity))) ++
      (if (a.executeAdvice) Seq("advised" -> (() => advised())) else Seq.empty)
    // best-of-2 per arm (the Bench methodology): single-shot arms were
    // dominated by cold-scan/GC ordering between arms at this scale —
    // the first arm measured up to 2× its settled wall
    val lines = strategies.map { case (name, body) =>
      val (n, st1) = Measure.measured(spark)(body())
      val (_, st2) = Measure.measured(spark)(body())
      val st = if (st1.wallClockSec <= st2.wallClockSec) st1 else st2
      val ms = st.wallClockSec * 1000
      println(f"[multiway] rows=$rows dims=$nd topology=star skew=$skew " +
        f"strategy=$name wall_ms=$ms%.0f joined=$n")
      f"$rows,$nd,star,$skew,$name,$ms%.0f,${st.shuffleRecordsWritten}"
    }
    Tables.deleteRecursive(wd)
    lines
  }

  /** Chain-topology multiway sweep (--topology chain, VERDICT r8 #5):
    * fact(k0) → A(dk0, ak) → B(dk1), where B joins A's OUTPUT key —
    * unlike the star, join ORDER matters here: fact-first joins the
    * full fact twice, dims-first pre-joins A⋈B into one enriched dim
    * so the fact is probed once. Five measured arms: both orders ×
    * {broadcast, shuffle} plus Catalyst's unassisted pick (aqe-auto,
    * fact-first order as written — what the optimizer does with the
    * plan a naive user declares). */
  def chainStep(spark: SparkSession, a: Args, rows: Long): Seq[String] = {
    val unique = if (a.uniqueValues > 0) a.uniqueValues else math.max(1L, rows / 10)
    val wd = s"${a.workDir}/mwc$rows"
    val skew = a.zipfSkew.getOrElse(0.0)
    val sizeA = unique
    val sizeB = math.max(1L, unique / 10L)
    val fact0 =
      if (a.zipfSkew.isDefined)
        DataGen.zipfTable(spark, rows, sizeA, skew).select(
          col("rid").as("id"), pmod(col("key"), lit(sizeA)).as("k0"),
          DataGen.poolAttr(col("rid"), 100).as("attr"))
      else spark.range(rows).select(col("id"),
        pmod(xxhash64(col("id") * 31), lit(sizeA)).as("k0"),
        DataGen.poolAttr(col("id"), 100).as("attr"))
    val fact = Tables.writeStage(fact0, s"$wd/fact")
    // A carries the chain's second hop: ak is A's foreign key into B
    val dimA = Tables.writeStage(spark.range(sizeA).select(col("id").as("dk0"),
      pmod(xxhash64(col("id") * 17), lit(sizeB)).as("ak"),
      DataGen.poolAttr(col("id"), 100).as("dattr_a")), s"$wd/dima")
    val dimB = Tables.writeStage(spark.range(sizeB).select(col("id").as("dk1"),
      DataGen.poolAttr(col("id") + 1, 100).as("dattr_b")), s"$wd/dimb")

    // order advice next to the timings it predicts (AQE mode pinned
    // first — see multiwayStep)
    spark.conf.set("spark.sql.adaptive.enabled", a.aqe.toString)
    val fileBytes = graft.operators.Layout.dataBytes(s"$wd/fact")
    val adv = Joins.adviseChain(s"mwc_r$rows", fact, dimA, dimB,
      rowBytes = math.max(1L, fileBytes / rows),
      broadcastBudgetBytes = a.adviseBudgetMb * 1000000L).head()
    println(s"[advise-chain] rows=$rows a_bytes=${adv.getLong(4)} " +
      s"b_bytes=${adv.getLong(5)} advice=${adv.getString(6)}")

    def chain(bcast: Boolean, dimsFirst: Boolean): Long = {
      def h(df: DataFrame) = if (bcast) broadcast(df) else df
      val joined =
        if (dimsFirst)
          fact.join(h(dimA.join(h(dimB), col("ak") === col("dk1"))),
            col("k0") === col("dk0"))
        else
          fact.join(h(dimA), col("k0") === col("dk0"))
            .join(h(dimB), col("ak") === col("dk1"))
      joined.count()
    }
    // the ADVISED arm (--execute-advice): the chain order/broadcast
    // shape adviseChain prescribes, auto-broadcast off so the measured
    // plan is the advisor's own; advice priced separately (see
    // multiwayStep.advised)
    lazy val advBand = {
      val t0 = System.nanoTime()
      val band = Joins.collectChainAdvice(fact, dimA, dimB,
        rowBytes = math.max(1L, fileBytes / rows),
        broadcastBudgetBytes = a.adviseBudgetMb * 1000000L)
      println(f"[advise-cost] rows=$rows topology=chain band=$band advice_ms=${(System.nanoTime() - t0) / 1e6}%.0f")
      band
    }
    def advised(): Long = Graft.withConfs(spark, bcastKey -> "-1") {
      Joins.executeChainAdvice(fact, dimA, dimB,
        col("k0"), col("dk0"), col("ak"), col("dk1"), advBand).count()
    }
    // force the advice pass before the measured arms — see multiwayStep
    if (a.executeAdvice) { advBand: Unit }
    val strategies = Seq[(String, () => Long)](
      "fact-first-bc" -> (() => chain(bcast = true, dimsFirst = false)),
      "dims-first-bc" -> (() => chain(bcast = true, dimsFirst = true)),
      "fact-first-shuffle" -> (() => noBroadcast(spark)(chain(bcast = false, dimsFirst = false))),
      "dims-first-shuffle" -> (() => noBroadcast(spark)(chain(bcast = false, dimsFirst = true))),
      "aqe-auto" -> (() => chain(bcast = false, dimsFirst = false))) ++
      (if (a.executeAdvice) Seq("advised" -> (() => advised())) else Seq.empty)
    // best-of-2 per arm — see multiwayStep
    val lines = strategies.map { case (name, body) =>
      val (n, st1) = Measure.measured(spark)(body())
      val (_, st2) = Measure.measured(spark)(body())
      val st = if (st1.wallClockSec <= st2.wallClockSec) st1 else st2
      val ms = st.wallClockSec * 1000
      println(f"[multiway] rows=$rows dims=2 topology=chain skew=$skew " +
        f"strategy=$name wall_ms=$ms%.0f joined=$n")
      f"$rows,2,chain,$skew,$name,$ms%.0f,${st.shuffleRecordsWritten}"
    }
    Tables.deleteRecursive(wd)
    lines
  }

  def run(spark: SparkSession, a: Args): Seq[String] = {
    val rowsSeq = (0 until a.steps).map(i => a.rows + i * a.increment)
    if (a.multiwayDims > 0 || a.topology == "chain") {
      val lines = rowsSeq.flatMap(r =>
        if (a.topology == "chain") chainStep(spark, a, r)
        else multiwayStep(spark, a, r))
      val out = new java.io.PrintWriter(new java.io.FileOutputStream(a.out))
      try {
        if (!a.noHeader)
          out.println("rows,dims,topology,skew,strategy,wall_ms,shuffle_records")
        lines.foreach(out.println)
      } finally out.close()
      return lines
    }
    val lines = rowsSeq.map(r => step(spark, a, r))
    val out = new java.io.PrintWriter(new java.io.FileOutputStream(a.out))
    try {
      if (!a.noHeader) out.println(header)
      lines.foreach(out.println)
    } finally out.close()
    lines
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Graft.local(
      conf = Map("spark.sql.shuffle.partitions" -> a.reducers.toString))
    run(spark, a)
    spark.stop()
  }
}
