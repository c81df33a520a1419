package graft

import graft.operators.Joins
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

class JoinsSpec extends SparkSpec {

  private def res(p: String) = getClass.getResource(p).getPath

  /** Brute-force expected inner join of two (key, line) lists — the
    * semantics the golden expected_output.csv encodes (FIXTURES.md:
    * regenerate goldens from semantics; the shipped files are stale). */
  private def expectedJoin(
      left: Seq[(String, String)], right: Seq[(String, String)]): Set[(String, String, String)] =
    (for {
      (lk, lv) <- left
      (rk, rv) <- right
      if lk == rk
    } yield (lk, lv, rv)).toSet

  private def loadCsvLines(path: String): Seq[(String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty)
      .map(l => (l.split(",")(0), l)).toSeq

  private def runStrategy(strategy: JoinStrategy): Set[(String, String, String)] = {
    val cfg = JoinConfig(
      left = res("/simple_tables/t1_nonunique.csv"),
      right = res("/simple_tables/t2.csv"),
      leftKeyIdx = 0, rightKeyIdx = 0, strategy = strategy)
    Joins.runCsvJoin(spark, cfg).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  private lazy val golden = expectedJoin(
    loadCsvLines(res("/simple_tables/t1_nonunique.csv")),
    loadCsvLines(res("/simple_tables/t2.csv")))

  test("all three strategies produce identical cross-product inner-join output") {
    for (st <- Seq(JoinStrategy.ShuffleHash, JoinStrategy.Broadcast, JoinStrategy.SortMerge, JoinStrategy.Auto)) {
      assert(runStrategy(st) == golden, s"strategy $st diverged from golden semantics")
    }
    // duplicate-key cross product: key 7 appears 3× left, 5× right → 15 rows
    assert(golden.count(_._1 == "7") == 15)
  }

  test("strategy hints pin the intended physical join operator") {
    val o = Tables.table(spark, sf, "orders")
    val c = Tables.table(spark, sf, "customer")
    def planOf(st: JoinStrategy) = {
      val df = Joins.equiJoin(o, c, o("o_custkey"), c("c_custkey"), st)
      df.count() // force AQE final plan
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case _: ShuffledHashJoinExec => "shuffle_hash"
        case _: BroadcastHashJoinExec => "broadcast"
        case _: SortMergeJoinExec => "sort_merge"
      }
    }
    assert(planOf(JoinStrategy.ShuffleHash) == Seq("shuffle_hash"))
    assert(planOf(JoinStrategy.Broadcast) == Seq("broadcast"))
    assert(planOf(JoinStrategy.SortMerge) == Seq("sort_merge"))
  }

  test("broadcast join broadcasts the small side and keeps dup-key rows (no reference J2 quirk)") {
    import spark.implicits._
    val small = Seq((1, "a"), (1, "b")).toDF("k", "v")   // duplicate build keys
    val big = Seq((1, "x"), (2, "y")).toDF("k2", "w")
    val j = Joins.broadcastJoin(small, big, col("k"), col("k2"))
    assert(j.count() == 2) // both build rows survive — unlike BroadcastJoin.java:84
    val plan = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collectFirst { case b: BroadcastHashJoinExec => b }.isDefined)
  }

  test("merge-join KV fixtures: join key is the KV key, not a value re-parse") {
    val t1 = Tables.keyValueText(spark, res("/merge_join_tables/t1.txt"))
    val t2 = Tables.keyValueText(spark, res("/merge_join_tables/t2.txt"))
    val joined = Joins.mergeJoin(t1, t2, t1("key").cast("long"), t2("key").cast("long"))
      .select(t1("key"), t1("value").as("l"), t2("value").as("r"))
    val rows = joined.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // key 7: 1 left × 5 right
    assert(rows.count(_._1 == "7") == 5)
    // unicode values survive
    assert(rows.exists(_._3 == "8,üü"))
    // keys 90-92 exist only in t2 → dropped (and value "10,cc" never
    // joins as if its first field were the key)
    assert(!rows.exists(_._1 == "90"))
  }

  test("merge join over multi-part fixture dirs equals the single-file result") {
    // the reference's 3-part directories (simulation/merge_join_tables/
    // t1/part-r-000[0-2], one part EMPTY) exercise the directory-scan +
    // co-partitioned path; concat(parts) == the single .txt fixtures
    val t1d = Tables.keyValueText(spark, res("/merge_join_tables/t1"))
    val t2d = Tables.keyValueText(spark, res("/merge_join_tables/t2"))
    val t1f = Tables.keyValueText(spark, res("/merge_join_tables/t1.txt"))
    val t2f = Tables.keyValueText(spark, res("/merge_join_tables/t2.txt"))
    def rows(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      Joins.mergeJoin(l, r, l("key").cast("long"), r("key").cast("long"))
        .select(l("key"), l("value").as("lv"), r("value").as("rv"))
        .collect().map(_.toSeq).toSet
    val viaDirs = rows(t1d, t2d)
    assert(viaDirs == rows(t1f, t2f))
    assert(viaDirs.nonEmpty)
  }

  test("decomposed merge join equals single-stage join and reports 5 stage times") {
    val o = Tables.table(spark, sf, "orders")
    val c = Tables.table(spark, sf, "customer")
    val tmp = java.nio.file.Files.createTempDirectory("graft_mj").toString
    val (joined, times) = Joins.mergeJoinDecomposed(
      spark, o, c, o("o_custkey"), c("c_custkey"), 4, tmp)
    assert(times.size == 5 && times.forall(_ >= 0))
    assert(joined.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    Tables.deleteRecursive(tmp)
  }

  test("key extraction projection matches reference KeyExtractor semantics") {
    val df = Tables.csvPositional(spark, res("/simple_tables/t2.csv"))
    val s = Tables.extractKey(df, 0, numeric = false).collect().map(r => r.getString(0)).toSet
    assert(s.contains("93") && s.contains("0"))
    val n = Tables.extractKey(df, 0, numeric = true)
    assert(n.schema("key").dataType.typeName == "long")
  }

  test("adviseStrategy follows the thesis decision tree branch by branch") {
    import spark.implicits._
    val dim = (1L to 10L).toDF("k")                    // 10 rows × 100 B = 1000 B
    val fact = (1L to 100L).map(i => i % 10).toDF("f") // uniform: max_repeats 10
    val skewed = Seq.fill(90)(1L).++(1L to 10L).toDF("f") // hot key: 91 of 100
    def advise(d: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame,
        budget: Long, presorted: Boolean = false) =
      Joins.adviseStrategy("t", d, f, col("f"), rowBytes = 100L,
        broadcastBudgetBytes = budget, reducers = 4, presorted = presorted).head()
    // presorted wins over everything (first branch)
    assert(advise(dim, fact, budget = 1L, presorted = true).getString(6) == "merge")
    // dim fits the budget → broadcast
    assert(advise(dim, fact, budget = 1000L).getString(6) == "broadcast")
    // dim over budget → repartition
    assert(advise(dim, fact, budget = 999L).getString(6) == "repartition")
    // merge feasibility: uniform fact passes the 0.9·rows/reducers cap
    // (10·4·10 ≤ 100·9), the 91-hot-key fact fails (91·4·10 > 100·9)
    assert(advise(dim, fact, budget = 1L).getInt(5) == 1)
    assert(advise(dim, skewed, budget = 1L).getInt(5) == 0)
    // statistics are exact
    val r = advise(dim, skewed, budget = 1L)
    assert(r.getLong(1) == 10L && r.getLong(2) == 100L && r.getLong(3) == 91L &&
      r.getLong(4) == 1000L)
  }

  test("adviseStrategy at the 200M sweep's shape: merge feasible, repartition under the reference's budget, broadcast under Spark's") {
    // the reference's largest published config scaled down with its
    // RATIOS intact (rows : unique = 10 : 1, Zipf 0.5, reducers 32 —
    // data/results_200m_s0_5_advise.csv is the full-size run): Zipf 0.5
    // hot-key mass shrinks as 1/(2√n), so the §6.4 capacity test
    // passes at EVERY size of this shape — the capacity branch the
    // 200 M CSV exercises (VERDICT r11 #6)
    val fact = graft.datagen.DataGen.zipfTable(spark, rows = 200000L,
      n = 20000L, s = 0.5).select(col("key").as("f"))
    val dim = graft.datagen.DataGen.uniqueShuffled(spark, 20000L)
      .select(col("key").as("k"))
    def advise(budgetBytes: Long) = graft.operators.Joins.adviseStrategy(
      "sweep200m", dim, fact, col("f"), rowBytes = 5L,
      broadcastBudgetBytes = budgetBytes, reducers = 32).head()
    // dim_bytes = 20 k × 5 B = 100 kB ≙ the full run's 20 M × 5 B =
    // 100 MB; the reference refuses broadcast (distributed-cache-class
    // memory — sub-dim_bytes budget) → repartition, the measured best
    // arm; Spark's actual budget class admits it → broadcast
    val ref = advise(budgetBytes = 64000L)
    assert(ref.getString(6) == "repartition",
      s"reference-budget advice must be repartition: ${ref.getString(6)}")
    assert(ref.getInt(5) == 1,
      "Zipf-0.5 hot key must pass the §6.4 merge-capacity test at this shape")
    assert(advise(budgetBytes = 512000L).getString(6) == "broadcast")
    // the capacity margin is wide, not marginal: hottest key ≤ 1% of
    // the fact vs the 0.9/reducers ≈ 2.8% cap (≈ 1/(2√20000) ≈ 0.35%
    // analytically)
    assert(ref.getLong(3) * 100 < ref.getLong(2),
      s"hot key ${ref.getLong(3)} must stay under 1% of ${ref.getLong(2)}")
  }

  test("adviseMultiwaySkew admits dims greedily against the cumulative budget") {
    import spark.implicits._
    val fact = (1L to 100L).toDF("f")
    val d1 = (1L to 2L).toDF("k")  // 200 B at 100 B/row
    val d2 = (1L to 5L).toDF("k")  // 500 B
    val d3 = (1L to 30L).toDF("k") // 3000 B
    def advise(budget: Long): Map[String, (Int, String)] =
      Joins.adviseMultiwaySkew("t", fact,
          Seq(("d1", d1, col("f")), ("d2", d2, col("f")), ("d3", d3, col("f"))),
          rowBytes = 100L, broadcastBudgetBytes = budget, reducers = 4)
        .collect()
        .map(r => r.getAs[String]("dim_name") ->
          ((r.getAs[Int]("dim_broadcast"), r.getAs[String]("advice")))).toMap
    // all three fit the running total (200+500+3000 ≤ 3700)
    val all = advise(3700L)
    assert(all.values.forall(_._2 == "broadcast-cascade"))
    assert(all.values.forall(_._1 == 1))
    // nothing fits (budget below the smallest dim)
    val none = advise(199L)
    assert(none.values.forall(_._2 == "shuffle-cascade"))
    assert(none.values.forall(_._1 == 0))
    // mixed: d1 (cum 200) and d2 (cum 700) admit, d3 (cum 3700) shuffles
    val mixed = advise(700L)
    assert(mixed.values.forall(_._2 == "mixed-cascade"))
    assert(mixed("d1")._1 == 1 && mixed("d2")._1 == 1 && mixed("d3")._1 == 0)
    // the budget is CUMULATIVE: d2 alone would fit 500, but after d1's
    // 200 the running total 700 exceeds a 600 budget — d2 must shuffle
    val cum = advise(600L)
    assert(cum("d1")._1 == 1 && cum("d2")._1 == 0 && cum("d3")._1 == 0)
  }

  test("adviseMultiwaySkew: skew advice is AQE-aware — salting only when AQE skew splitting is off") {
    import spark.implicits._
    // a Zipf-hot fact: key 1 carries half the rows (50 of 100) — at
    // reducers = 8, 50·8·10 > 100·9 fails the §6.4 test; the uniform
    // key never repeats, so it passes at any reducer count
    val fact = (1L to 50L).map(i => (1L, i))
      .++((51L to 100L).map(i => (i, i)))
      .toDF("hot_k", "uni_k")
    val dHot = (1L to 60L).toDF("k")  // 6000 B at 100 B/row
    val dUni = (1L to 70L).toDF("k")  // 7000 B
    def advise(budget: Long): Map[String, (Int, Int, String)] =
      Joins.adviseMultiwaySkew("t", fact,
          Seq(("dhot", dHot, col("hot_k")), ("duni", dUni, col("uni_k"))),
          rowBytes = 100L, broadcastBudgetBytes = budget, reducers = 8)
        .collect()
        .map(r => r.getString(1) ->
          ((r.getInt(6), r.getInt(7), r.getString(8)))).toMap
    // AQE skew splitting ON (the Spark 4 session default): the skewed
    // shuffled dim joins PLAIN — AQE splits the oversized partition at
    // runtime, and the measured salted arm loses to it (VERDICT r10
    // #2). The skew flag itself stays informational.
    val aqe = advise(0L)
    assert(aqe("dhot") == ((0, 1, "plain-shuffle (AQE handles skew)")),
      s"got ${aqe("dhot")}")
    assert(aqe("duni") == ((0, 0, "shuffle")), s"got ${aqe("duni")}")
    Graft.withConfs(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      // AQE off, hot share 50% — §6.4-skewed but BELOW the measured
      // salting break-even (~3/4 of the fact: the runtime probe +
      // replication re-execute the input, a measured regression up to
      // 61% share, a measured win at 83% — docs/EXPERIMENTS.md r20)
      val none = advise(0L)
      assert(none("dhot") == ((0, 1, "plain-shuffle (skew below salting break-even)")),
        s"got ${none("dhot")}")
      assert(none("duni") == ((0, 0, "shuffle")), s"got ${none("duni")}")
      // AQE off, hot share 80% (> 3/4) → the one regime where salting
      // measured faster than the plain shuffle: salt
      val factHot = (1L to 80L).map(i => (1L, i))
        .++((81L to 100L).map(i => (i, i)))
        .toDF("hot_k", "uni_k")
      val dominant = Joins.adviseMultiwaySkew("t", factHot,
          Seq(("dhot", dHot, col("hot_k"))),
          rowBytes = 100L, broadcastBudgetBytes = 0L, reducers = 8)
        .collect()
        .map(r => r.getString(1) ->
          ((r.getInt(6), r.getInt(7), r.getString(8)))).toMap
      assert(dominant("dhot") == ((0, 1, "salted-shuffle")),
        s"got ${dominant("dhot")}")
    }
    // both admitted: broadcast never partitions by the key, so the
    // skew flag stays informational and the advice is broadcast
    val all = advise(13000L)
    assert(all("dhot") == ((1, 1, "broadcast")), s"got ${all("dhot")}")
    assert(all("duni") == ((1, 0, "broadcast")), s"got ${all("duni")}")
    // max_repeats is the hottest key's count, exact
    val reps = Joins.adviseMultiwaySkew("t", fact,
        Seq(("dhot", dHot, col("hot_k"))), 100L, 0L, 8)
      .head().getAs[Long]("key_max_repeats")
    assert(reps == 50L)
  }

  test("adviseChain picks the measured order rule per budget band") {
    import spark.implicits._
    val fact = (1L to 100L).toDF("f")
    val a = (1L to 30L).toDF("k")  // 3000 B at 100 B/row
    val b = (1L to 10L).toDF("k")  // 1000 B
    def advice(budget: Long): String =
      Joins.adviseChain("t", fact, a, b, rowBytes = 100L,
        broadcastBudgetBytes = budget).head().getAs[String]("advice")
    assert(advice(4000L) == "pipelined-bhj")      // both fit cumulatively
    assert(advice(3500L) == "dims-first-enrich")  // only B's 1000 fits... cum 4000 > 3500
    assert(advice(1000L) == "dims-first-enrich")  // B fits alone
    assert(advice(999L) == "dims-first-shuffle")  // neither fits
    // A fits but B does not: broadcast A in declared order
    val bBig = (1L to 50L).toDF("k") // 5000 B
    assert(Joins.adviseChain("t", fact, a, bBig, 100L, 3000L)
      .head().getAs[String]("advice") == "mixed-chain")
  }

  test("executeAdvisedMultiway executes the prescribed cascade per band: BHJs when admitted, salting when flagged, result parity") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    // k0: DOMINANT-hot (key 1 holds 80 of 100 rows — fails §6.4 at
    // reducers=8 AND clears the 3/4 salting break-even, so the
    // AQE-off advice is salted-shuffle); k1: uniform over 10 values
    // (passes §6.4: 10·8·10 ≤ 900)
    val fact = ((1L to 80L).map(i => (1L, i % 10L)) ++
      (81L to 100L).map(i => (i % 30L, i % 10L))).toDF("k0", "k1")
    val dHot = (0L to 29L).toDF("dk0")  // 3000 B at 100 B/row
    val dUni = (0L to 9L).toDF("dk1")   // 1000 B
    val dims = Seq(("dhot", dHot.toDF(), col("k0"), col("dk0")),
      ("duni", dUni.toDF(), col("k1"), col("dk1")))
    val plain = fact.join(dHot, col("k0") === col("dk0"))
      .join(dUni, col("k1") === col("dk1"))
      .select("k0", "k1", "dk0", "dk1").collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    def rows(df: DataFrame) = df.select("k0", "k1", "dk0", "dk1")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    Graft.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // band 1: both dims inside the cumulative budget → two pinned
      // BHJs (ours — auto-broadcast is off), no salting machinery
      val bc = Joins.executeAdvisedMultiway(fact, dims, rowBytes = 100L,
        broadcastBudgetBytes = 4000L, reducers = 8)
      assert(rows(bc) == plain, "broadcast-band cascade diverged from the plain join")
      val bcPlan = unwrap(bc.queryExecution.executedPlan)
      assert(bcPlan.collect { case b: BroadcastHashJoinExec => b }.size == 2,
        s"advised broadcast band must plan 2 BHJs:\n${bcPlan.toString.take(1500)}")
      assert(!bcPlan.toString.contains("__salt"),
        "broadcast-admitted dims must not pay the salt machinery")
      // band 2a: budget 0 with AQE skew splitting OFF → both dims
      // shuffle; the skew-flagged k0 dim goes through autoSaltedJoin
      // (salt columns in the plan), the uniform one joins plain
      Graft.withConfs(spark,
        "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        val sh = Joins.executeAdvisedMultiway(fact, dims, rowBytes = 100L,
          broadcastBudgetBytes = 0L, reducers = 8)
        assert(rows(sh) == plain, "shuffle-band cascade diverged from the plain join")
        val shPlan = unwrap(sh.queryExecution.executedPlan)
        assert(shPlan.toString.contains("__salt"),
          "the skew-flagged dim must execute through the salted join")
        val shuffled = shPlan.collect {
          case s: SortMergeJoinExec => s: SparkPlan
          case s: ShuffledHashJoinExec => s: SparkPlan
        }
        assert(shuffled.size >= 2,
          s"both dim joins must stay shuffled under a zero budget:\n${shPlan.toString.take(1500)}")
      }
      // band 2b: same zero budget with AQE skew splitting ON (session
      // default) → the advice is plain-shuffle and NO salt machinery
      // appears — AQE owns the runtime split (VERDICT r10 #2)
      val aq = Joins.executeAdvisedMultiway(fact, dims, rowBytes = 100L,
        broadcastBudgetBytes = 0L, reducers = 8)
      assert(rows(aq) == plain, "AQE-band cascade diverged from the plain join")
      assert(!unwrap(aq.queryExecution.executedPlan).toString.contains("__salt"),
        "under AQE skew splitting the advised cascade must not salt")
    }
  }

  test("executeAdvisedChain builds each advice band's plan shape with result parity") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    val fact = (1L to 100L).map(i => (i, i % 30L)).toDF("f", "k0")
    val dimA = (0L to 29L).map(i => (i, i % 10L)).toDF("dk0", "ak") // 3000 B
    val dimB = (0L to 9L).toDF("dk1")                               // 1000 B
    val plain = fact.join(dimA, col("k0") === col("dk0"))
      .join(dimB, col("ak") === col("dk1"))
      .select("f", "k0", "dk0", "ak", "dk1").collect().map(_.toSeq).sortBy(_.toString)
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    def run(budget: Long, b: DataFrame = dimB): (Seq[Seq[Any]], Int) = {
      val df = Joins.executeAdvisedChain(fact, dimA, b,
        col("k0"), col("dk0"), col("ak"), col("dk1"),
        rowBytes = 100L, broadcastBudgetBytes = budget)
      val out = df.select("f", "k0", "dk0", "ak", "dk1")
        .collect().map(_.toSeq).sortBy(_.toString)
      (out, unwrap(df.queryExecution.executedPlan)
        .collect { case x: BroadcastHashJoinExec => x }.size)
    }
    Graft.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (r1, b1) = run(4000L) // pipelined-bhj: both broadcast
      assert(r1.sameElements(plain) && b1 == 2, s"pipelined-bhj: got $b1 BHJs")
      val (r2, b2) = run(1000L) // dims-first-enrich: only B broadcasts
      assert(r2.sameElements(plain) && b2 == 1, s"dims-first-enrich: got $b2 BHJs")
      val (r3, b3) = run(999L) // dims-first-shuffle: nothing broadcasts
      assert(r3.sameElements(plain) && b3 == 0, s"dims-first-shuffle: got $b3 BHJs")
      // mixed-chain: A (3000 B) fits, B (5000 B) does not
      val bBig = (0L to 49L).map(i => i % 10L).toDF("dk1")
      val plainBig = fact.join(dimA, col("k0") === col("dk0"))
        .join(bBig, col("ak") === col("dk1"))
        .select("f", "k0", "dk0", "ak", "dk1").collect().map(_.toSeq).sortBy(_.toString)
      val (r4, b4) = run(3000L, bBig)
      assert(r4.sameElements(plainBig) && b4 == 1, s"mixed-chain: got $b4 BHJs")
    }
  }

  test("bloomSemiJoin equals the plain semi join and prunes at the fact scan") {
    val fact = Tables.table(spark, sf, "lineitem")
    val dim = Tables.table(spark, sf, "orders")
      .filter(col("o_totalprice") > 450000).select(col("o_orderkey"))
    val viaBloom = Joins.bloomSemiJoin(fact, dim, col("l_orderkey"), col("o_orderkey"),
      expectedItems = 10000L)
    // exactness: FPs pass the probe but die in the exact semi join —
    // the sketch changes the plan, never the answer (no false negatives
    // is the other half of the same equality)
    val plain = fact.join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(viaBloom.count() == plain.count())
    assert(viaBloom.select(col("l_orderkey"), col("l_linenumber")).except(
      plain.select(col("l_orderkey"), col("l_linenumber"))).isEmpty)
    // the probe filter sits in the plan (below the join, at the scan
    // side) and actually prunes: with a ~10% dim selectivity the
    // surviving row count must be far under the full fact table
    val planStr = viaBloom.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_bloom_might_contain"), planStr.take(2000))
    val bf = dim.stat.bloomFilter(col("o_orderkey").cast("long"), 10000L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val survivors = fact.filter(
      graft.functions.BloomProbe.mightContain(bc, col("l_orderkey").cast("long"))).count()
    val total = fact.count()
    assert(survivors < total / 2, s"bloom pruned nothing: $survivors of $total")
    assert(survivors >= plain.count(), "bloom dropped a true match (false negative)")
    // the expression is real codegen, not CodegenFallback — the probe
    // must stay inside the scan's WholeStageCodegen at fact scale
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = graft.functions.BloomMightContain(
      org.apache.spark.sql.graft.Bridge.expression(col("x").cast("long")), bc)
    assert(!e.isInstanceOf[CodegenFallback])
  }
}
