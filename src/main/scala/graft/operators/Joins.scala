package graft.operators

import graft.{JoinConfig, JoinStrategy}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's core capability (SURVEY §2.3): binary inner equi-join
  * with a manually pinned physical algorithm, plus the join types the
  * reference lists as future work (thesis §5.4/§7) that Spark gives for
  * free — exposed here as first-class extensions.
  *
  * All strategies share ONE logical builder ([[equiJoin]]) so their
  * semantics are provably identical: full M×N cross-product per duplicate
  * key (golden simulation/simple_tables/expected_output.csv: key 7 → 3×3
  * = 9 rows), unmatched keys dropped on both sides. The reference's
  * broadcast-join dup-key loss (BroadcastJoin.java:84,99 `map.put` keeps
  * one row per key) is deliberately NOT reproduced.
  *
  * Scale notes (100 TB design):
  *  - strategy hints only pin the *algorithm*; partitioning, AQE skew
  *    splitting and runtime broadcast conversion stay available.
  *  - the key-TAB output projection happens AFTER the join so Catalyst
  *    can prune both scans down to the joined columns actually used.
  *  - for repeated co-located joins, [[presort]] materializes
  *    range-partitioned sorted runs (the reference's 5-job MergeJoin
  *    decomposition, MergeJoin.java:146-215) — on a real cluster prefer
  *    `bucketBy().sortBy()` tables, which this mirrors.
  */
object Joins {

  /** Shared logical builder: inner (or other-typed) equi-join with the
    * physical strategy pinned via a join hint on the left side.
    * Hints, not custom strategies: Catalyst's JoinSelection already
    * implements the thesis's Figure-6.11 decision tree; hints are the
    * idiomatic way to force one branch (SURVEY §4). */
  def equiJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      strategy: JoinStrategy = JoinStrategy.Auto,
      joinType: String = "inner"): DataFrame = {
    val hinted = strategy.hint.fold(left)(h => left.hint(h))
    hinted.join(right, leftKey === rightKey, joinType)
  }

  /** J1 RepartitionJoin (reduce-side hash join) — RepartitionJoin.java:21-152. */
  def repartitionJoin(left: DataFrame, right: DataFrame, lk: Column, rk: Column): DataFrame =
    equiJoin(left, right, lk, rk, JoinStrategy.ShuffleHash)

  /** J2 BroadcastJoin (map-side hash join) — BroadcastJoin.java:24-132.
    * `broadcast()` on the left/small side is the declarative form of the
    * reference's distributed-cache + per-mapper HashMap build
    * (BroadcastJoin.java:40,61-106); zero shuffle, unlike the reference's
    * accidental identity-reduce (setNumReduceTasks override quirk,
    * BroadcastJoin.java:46,54). */
  def broadcastJoin(small: DataFrame, big: DataFrame, smallKey: Column, bigKey: Column): DataFrame =
    broadcast(small).join(big, smallKey === bigKey, "inner")

  /** J3 MergeJoin (sort-merge join) — MergeJoin.java:34-263. Spark's
    * default shuffle equi-join IS sort-merge; the hint pins it even when
    * AQE would rather broadcast. */
  def mergeJoin(left: DataFrame, right: DataFrame, lk: Column, rk: Column): DataFrame =
    equiJoin(left, right, lk, rk, JoinStrategy.SortMerge)

  /** The reference's sort stages (MergeJoin.java:146-215): total-order
    * range partitioning (TotalOrderPartitioner + InputSampler ≙ Spark's
    * RangePartitioning, which samples internally) + within-partition
    * sort. Materialize with [[Tables.writeStage]] to reproduce the
    * "merge-only on pre-sorted inputs" experiment (thesis Fig 6.4). */
  def presort(df: DataFrame, key: Column, partitions: Int): DataFrame =
    df.repartitionByRange(partitions, key).sortWithinPartitions(key)

  /** Decomposed 5-stage merge-join pipeline with per-stage wall times —
    * extract ×2, sort(+persist) ×2, merge — mirroring the reference's
    * 6-slot stage-time array (MergeJoin.java:97,142-143,213-214,251).
    * Returns (joined, stageTimesSec). Driver-orchestrated materialization
    * is intentional here: it is the experiment, not the recommended plan
    * (the recommended plan is the single-stage [[mergeJoin]]). */
  def mergeJoinDecomposed(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      lk: Column,
      rk: Column,
      partitions: Int,
      tmpDir: String): (DataFrame, Seq[Double]) = {
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // stage 1+2: key extraction (KeyExtractor.java:20-26) — here a pure
    // projection; Catalyst fuses it into the scan.
    val (lx, t1) = timed(left.select(lk.as("k"), struct(left.columns.map(col).toIndexedSeq: _*).as("row")))
    val (rx, t2) = timed(right.select(rk.as("k"), struct(right.columns.map(col).toIndexedSeq: _*).as("row")))
    // stage 3+4: total-order sort + persist (MergeJoin.java:146-215)
    val (_, t3) = timed(Tables.writeStage(presort(lx, col("k"), partitions), s"$tmpDir/sorted_left"))
    val (_, t4) = timed(Tables.writeStage(presort(rx, col("k"), partitions), s"$tmpDir/sorted_right"))
    // stage 5: merge of pre-sorted runs (CompositeInputFormat.compose
    // "inner", MergeJoin.java:217-251)
    val sl = Tables.readStage(spark, s"$tmpDir/sorted_left")
    val sr = Tables.readStage(spark, s"$tmpDir/sorted_right")
    val (joined, t5) = timed(
      sl.hint("MERGE").join(sr, sl("k") === sr("k"), "inner")
        .select(sl("k").as("k"), sl("row").as("left_row"), sr("row").as("right_row")))
    (joined, Seq(t1, t2, t3, t4, t5))
  }

  /** Salted equi-join for skewed keys — the manual counterpart of AQE's
    * skew-join splitting (the reference's skew failure mode, thesis
    * §6.4, was a partition overflowing with one hot key). The skewed
    * side gets a deterministic salt in [0, factor); the other side is
    * replicated across all salts. Result is provably equal to the plain
    * join (spec-tested); cost: `factor`× replication of the small side
    * against `factor`-way splitting of every hot key's partition. */
  def saltedEquiJoin(
      skewed: DataFrame,
      other: DataFrame,
      skewedKey: Column,
      otherKey: Column,
      factor: Int): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(skewed.columns.map(skewed(_)).toIndexedSeq: _*), lit(factor)))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(factor.toLong - 1))))
    salted.join(replicated,
        skewedKey === otherKey && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Profile-driven PARTIAL salting — [[saltedEquiJoin]] upgraded with
    * the measurement step: one frequency pass over the skewed side finds
    * the keys hotter than `hotThreshold` (the skew [[Curation.skewProfile]]
    * quantifies), and ONLY those keys pay the salt machinery. Cold keys
    * join exactly as before (salt 0, no replication), so the build side
    * is replicated `factor`× for the hot-key ROWS only — at Zipf s≈1
    * (where the reference's merge join died, thesis §6.4) the hot set is
    * a handful of keys, and full-table replication would waste
    * factor×|build| rows to fix them. The hot set is broadcast twice
    * (it is tiny by construction: at most n_rows/hotThreshold keys).
    * Result is provably equal to the plain join (spec-tested). */
  def autoSaltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      skewedKey: Column,
      otherKey: Column,
      hotThreshold: Long,
      factor: Int): DataFrame = {
    val hot = skewed.groupBy(skewedKey.as("__hk"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > hotThreshold)
      .select(col("__hk"))
    val salted = skewed
      .join(broadcast(hot), skewedKey === col("__hk"), "left")
      .withColumn("__salt",
        when(col("__hk").isNotNull,
          pmod(xxhash64(skewed.columns.map(skewed(_)).toIndexedSeq: _*), lit(factor.toLong)))
          .otherwise(lit(0L)))
      .drop("__hk")
    val replicated = other
      .join(broadcast(hot), otherKey === col("__hk"), "left")
      .withColumn("__salt",
        explode(
          when(col("__hk").isNotNull, sequence(lit(0L), lit(factor.toLong - 1)))
            .otherwise(array(lit(0L)))))
      .drop("__hk")
    salted.join(replicated,
        skewedKey === otherKey && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Bucketed co-located join — the persistent-table equivalent of the
    * reference's CompositeInputFormat merge (MergeJoin.java:221-243:
    * pre-sorted co-partitioned files joined with zero shuffle). Both
    * tables are written `bucketBy(n, key).sortBy(key)`; Catalyst then
    * plans a SortMergeJoin with NO Exchange on either side. This is the
    * 100 TB shape for repeatedly-joined fact tables. */
  /** Process-suffixed table name for harness-created bucketed tables:
    * the default catalog is in-memory but the warehouse directory is
    * shared, so concurrent harness processes must not overwrite each
    * other's table locations mid-read. */
  def processTable(base: String): String = s"${base}_p${ProcessHandle.current().pid()}"

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent ACROSS sessions: the default catalog is in-memory but
    // the managed-table directory is durable, so a fresh session sees
    // LOCATION_ALREADY_EXISTS from a previous run's files unless both
    // the (possibly unknown) table and its leftover location go first
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Tables.deleteRecursive(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$table")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Confs that let Catalyst's InjectRuntimeFilter fire at test scale:
    * the rule is on by default but gated on a ≥10 GB application-side
    * scan, which local testdata never reaches. At real scale only the
    * `enabled` flag matters. Broadcast is disabled because a broadcast
    * hash join already prunes build-side misses at the probe — the
    * bloom filter is precisely the technique for the case where the
    * dimension does NOT broadcast but its filtered key set is small. */
  def bloomFilterConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Runtime bloom-filter pruned fact⋈dim join: Catalyst builds a bloom
    * filter over the (selectively filtered) dim join keys in a first
    * subquery pass and injects `might_contain(fact.key)` into the fact
    * scan — at 100 TB this drops the shuffled fact volume to roughly
    * the join's selectivity BEFORE the exchange, which a plain
    * shuffle join only achieves after moving every row. Caller must run
    * this (plan + execute) inside [[graft.Graft.withConfs]]([[bloomFilterConfs]]). */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, fk: Column, dk: Column): DataFrame =
    fact.join(dim, fk === dk, "inner")

  /** The thesis's Figure-6.11 decision tree as a declarative operator:
    * given a dim/fact pair, compute the statistics the tree branches on
    * (dim size against a broadcast budget; the fact side's hottest-key
    * multiplicity against the reference's merge-join partition-capacity
    * cap, maxSplits ≈ 0.9·rows/maxRepeats, JoinSimulation.java:203-206)
    * and emit the recommended strategy. This is the "human planner" of
    * the reference (SURVEY §4: algorithm choice was manual) turned into
    * a query — the same statistics Catalyst's JoinSelection/AQE read
    * from stats and runtime metrics, surfaced for capacity planning.
    *
    * All arithmetic is integer (rows × bytes, cross-multiplied
    * comparisons — never a float ratio), so any engine computes the
    * identical advice. Scale shape: two single-row aggregates (dim
    * count; fact groupBy-key max-multiplicity, which partial-aggregates
    * map-side) crossed by a scalar broadcast — no data moves beyond the
    * key-frequency exchange. `presorted` mirrors the tree's first
    * branch: co-located sorted runs (bucketed tables) make merge free. */
  def adviseStrategy(name: String, dim: DataFrame,
      fact: DataFrame, factKey: Column, rowBytes: Long,
      broadcastBudgetBytes: Long, reducers: Int,
      presorted: Boolean = false): DataFrame = {
    val dimStats = dim.agg(count(lit(1)).as("dim_rows"))
    val factStats = fact.select(factKey.as("__k"))
      .groupBy("__k").agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("fact_rows"), max(col("__c")).as("max_repeats"))
    dimStats.join(broadcast(factStats), lit(true))
      .select(
        lit(name).as("join_name"),
        col("dim_rows"), col("fact_rows"), col("max_repeats"),
        (col("dim_rows") * rowBytes).as("dim_bytes"),
        // merge feasible iff maxRepeats ≤ 0.9 · factRows / reducers
        // (thesis §6.4 failure mode), cross-multiplied exact
        (col("max_repeats") * reducers * 10 <= col("fact_rows") * 9)
          .cast("int").as("merge_feasible"),
        when(lit(presorted), "merge")
          .when(col("dim_rows") * rowBytes <= broadcastBudgetBytes, "broadcast")
          .otherwise("repartition").as("advice"))
  }

  /** [[adviseStrategy]] extended to a MULTI-WAY star (thesis §5.4/§7
    * future work: the reference only ever measures binary joins): one
    * fact joined to n dimension tables. The cascade decision is a
    * GREEDY KNAPSACK over the shared executor-memory budget — dims
    * admitted to broadcast (`dim_broadcast`) in (bytes ASC, name) order
    * while the RUNNING TOTAL fits (broadcasts are resident
    * simultaneously in a cascade, so the budget is cumulative, not
    * per-relation the way `autoBroadcastJoinThreshold` meters it). The
    * overall `advice` is `broadcast-cascade` when every dim is
    * admitted, `shuffle-cascade` when none is, `mixed-cascade`
    * otherwise (broadcast the admitted dims first, then shuffle the
    * rest).
    *
    * Plus a per-join-key SKEW probe (VERDICT r8 #4 — the multiway
    * analogue of [[adviseStrategy]]'s thesis-§6.4 merge-feasibility
    * check): each dim carries its fact-side join key, and one
    * map-side-combinable aggregate per key measures the hottest key's
    * repeat count. A cascade stage whose key fails the §6.4 test
    * (max_repeats · reducers · 10 > fact_rows · 9, cross-multiplied
    * exact) would hand one reducer ≳ its fair share of the whole
    * fact, so the per-dim advice becomes:
    *
    *  - `broadcast` when the knapsack admits the dim — broadcast
    *    joins never partition by the key, so skew is moot (exactly
    *    why low-cardinality dims, where skew lives, should spend
    *    broadcast budget first);
    *  - `plain-shuffle (AQE handles skew)` when shuffled AND skewed
    *    AND the session runs AQE with skew-join splitting
    *    (`spark.sql.adaptive.enabled` + `…adaptive.skewJoin.enabled`,
    *    both default-on in Spark 4): the capacity-cliff model the salt
    *    prescription comes from predates AQE, and under AQE the
    *    measured best arm is the PLAIN shuffle — the salted arm paid
    *    5.1 s vs 2.4 s at 2 M rows (docs/EXPERIMENTS.md round 19;
    *    VERDICT r10 #2: wrong advice is a correctness bug in an
    *    advisor). AQE splits the oversized partition at runtime from
    *    the actual map output sizes — strictly better information
    *    than the advisor's pre-shuffle probe — while salting pays its
    *    key-explode overhead unconditionally;
    *  - with AQE skew splitting OFF, `salted-shuffle` ONLY past the
    *    measured break-even — the hottest key above 3/4 of the fact
    *    (key_max_repeats·4 > fact_rows·3): [[autoSaltedJoin]]'s
    *    runtime probe + replication re-execute the fact-side input,
    *    so salting a merely-§6.4-skewed key is a measured REGRESSION
    *    (61% hot share: salted 5.75 s vs plain 2.70 s at 2 M, 46.4 s
    *    vs 10.8 s at 20 M) while a truly-dominant key pays (83%
    *    share: salted 17.6 s vs plain 22.1 s at 20 M —
    *    docs/EXPERIMENTS.md round 20). Below break-even a skewed
    *    shuffled dim gets `plain-shuffle (skew below salting
    *    break-even)`;
    *  - `shuffle` otherwise.
    *
    * The overall cascade advice is unchanged (broadcast feasibility
    * is orthogonal to skew). All arithmetic integer, and the AQE
    * branch is a config read — any engine given the same session
    * flags computes identical advice; `join_multiway_advice` pins the
    * AQE-on form against the SQL replay and JoinsSpec pins both
    * branches. */
  def adviseMultiwaySkew(name: String, fact: DataFrame,
      dims: Seq[(String, DataFrame, Column)], rowBytes: Long,
      broadcastBudgetBytes: Long, reducers: Int): DataFrame = {
    require(dims.nonEmpty, "adviseMultiwaySkew needs at least one dim")
    val conf = fact.sparkSession.conf
    val aqeSkew = conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      conf.get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean
    val factRows = fact.agg(count(lit(1)).as("fact_rows"))
    // hottest fact key per dim: ONE two-level aggregate per key column,
    // partials map-side — the fact is scanned, never shuffled wide
    val keyStats = dims.map { case (dn, _, k) =>
      fact.select(k.as("__k")).groupBy("__k").agg(count(lit(1)).as("__c"))
        .agg(lit(dn).as("dim_name"),
          coalesce(max(col("__c")), lit(0L)).as("key_max_repeats"))
    }.reduce(_ unionByName _)
    val dimCounts = dims.map { case (dn, df, _) =>
      df.agg(lit(dn).as("dim_name"), count(lit(1)).as("dim_rows"))
    }.reduce(_ unionByName _)
    // n-row relation: the global window is over the dim COUNT, never data
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("dim_bytes"), col("dim_name"))
    val flagged = dimCounts
      .withColumn("dim_bytes", col("dim_rows") * rowBytes)
      .withColumn("cum", sum(col("dim_bytes")).over(w))
      .withColumn("dim_broadcast",
        (col("cum") <= broadcastBudgetBytes).cast("int"))
    val overall = flagged.agg(
      min(col("dim_broadcast")).as("__all"), max(col("dim_broadcast")).as("__any"))
    flagged
      .join(broadcast(keyStats), Seq("dim_name"))
      .join(broadcast(factRows), lit(true))
      .join(broadcast(overall), lit(true))
      .withColumn("dim_skewed",
        (col("key_max_repeats") * reducers * 10 > col("fact_rows") * 9).cast("int"))
      .select(
        lit(name).as("join_name"),
        col("dim_name"), col("dim_rows"), col("dim_bytes"),
        col("fact_rows"), col("key_max_repeats"),
        col("dim_broadcast"), col("dim_skewed"),
        when(col("dim_broadcast") === 1, "broadcast")
          .when(col("dim_skewed") === 1 && lit(aqeSkew),
            "plain-shuffle (AQE handles skew)")
          .when(col("dim_skewed") === 1 &&
              col("key_max_repeats") * 4 > col("fact_rows") * 3,
            "salted-shuffle")
          .when(col("dim_skewed") === 1,
            "plain-shuffle (skew below salting break-even)")
          .otherwise("shuffle").as("dim_advice"),
        when(col("__all") === 1, "broadcast-cascade")
          .when(col("__any") === 0, "shuffle-cascade")
          .otherwise("mixed-cascade").as("advice"))
  }

  /** Join-ORDER advice for a CHAIN topology (fact → A on a fact key,
    * then B on A's OUTPUT key) — the planning rule distilled from the
    * measured `--topology chain` sweep (docs/EXPERIMENTS.md round 18),
    * where order is a real degree of freedom the star advisor never
    * faces:
    *
    *  - both dims fit the CUMULATIVE budget → `pipelined-bhj`: join in
    *    declared order with both broadcast — Catalyst pipelines two
    *    BroadcastHashJoins inside one whole-stage-codegen'd fact scan,
    *    measured faster than EITHER forced materialization order;
    *  - else B fits → `dims-first-enrich`: broadcast B into A (the
    *    A-sized pre-join), so the fact is exchanged ONCE against the
    *    enriched dim — the measured 1.5–1.7× over fact-first;
    *  - else A fits → `mixed-chain`: broadcast A in declared order,
    *    shuffle the fact once for B;
    *  - neither fits → `dims-first-shuffle`: still pre-join A⋈B — the
    *    dim-side exchange is |A|+|B| rows while each fact-side
    *    exchange is |fact|, so joining dims first exchanges the fact
    *    once instead of twice.
    *
    * When both fit individually but not cumulatively, B wins the
    * broadcast slot (deterministic: enriching through the deeper hop
    * removes a whole join from the fact's path). Integer row×bytes
    * arithmetic throughout — any engine replays identical advice
    * (`join_chain_advice`). */
  def adviseChain(name: String, fact: DataFrame, dimA: DataFrame,
      dimB: DataFrame, rowBytes: Long,
      broadcastBudgetBytes: Long): DataFrame = {
    val f = fact.agg(count(lit(1)).as("fact_rows"))
    val a = dimA.agg(count(lit(1)).as("a_rows"))
    val b = dimB.agg(count(lit(1)).as("b_rows"))
    f.join(broadcast(a), lit(true)).join(broadcast(b), lit(true))
      .withColumn("a_bytes", col("a_rows") * rowBytes)
      .withColumn("b_bytes", col("b_rows") * rowBytes)
      .select(
        lit(name).as("join_name"),
        col("fact_rows"), col("a_rows"), col("b_rows"),
        col("a_bytes"), col("b_bytes"),
        when(col("a_bytes") + col("b_bytes") <= broadcastBudgetBytes,
            "pipelined-bhj")
          .when(col("b_bytes") <= broadcastBudgetBytes, "dims-first-enrich")
          .when(col("a_bytes") <= broadcastBudgetBytes, "mixed-chain")
          .otherwise("dims-first-shuffle").as("advice"))
  }

  /** EXECUTE the cascade [[adviseMultiwaySkew]] prescribes (VERDICT r9
    * #4 — closing the advise→execute loop: the thesis's decision tree
    * was a PLANNER; this is the runner that consumes its advice): one
    * advisor pass over (fact, dims) yields per-dim
    * broadcast/salted-shuffle/shuffle verdicts plus the knapsack
    * admission order, and the cascade is built exactly as prescribed —
    *
    *  - broadcast-admitted dims join FIRST, in admission (bytes ASC,
    *    name) order: each is free fact-side reduction before any
    *    exchange, and Catalyst pipelines consecutive
    *    BroadcastHashJoins into one fact scan;
    *  - shuffled dims follow (bytes ASC, name); a dim whose key failed
    *    the thesis-§6.4 skew test runs through [[autoSaltedJoin]] with
    *    the SAME bound as the hot threshold (keys hotter than
    *    0.9·factRows/reducers are exactly the ones one reducer cannot
    *    absorb) — but ONLY when the advisor prescribed salting, i.e.
    *    AQE skew splitting was off at advice time; under AQE the
    *    advice is `plain-shuffle (AQE handles skew)` and the dim joins
    *    plain, leaving the runtime split to AQE (the measured winner).
    *    Unflagged dims join plain.
    *
    * The advice collect is n-dims rows — bounded by the query shape,
    * never data. Result provably equals the plain cascade in any order
    * (inner equi-joins commute; salting is result-identical by
    * JoinPropertySpec) — JoinsSpec pins the per-band PLAN shape (BHJ
    * count, salting presence) and result parity. */
  def executeAdvisedMultiway(fact: DataFrame,
      dims: Seq[(String, DataFrame, Column, Column)], rowBytes: Long,
      broadcastBudgetBytes: Long, reducers: Int,
      saltFactor: Int = 8): DataFrame =
    executeMultiwayAdvice(fact, dims,
      collectMultiwayAdvice(fact, dims.map { case (dn, d, fk, _) => (dn, d, fk) },
        rowBytes, broadcastBudgetBytes, reducers),
      reducers, saltFactor)

  /** The advisor pass of [[executeAdvisedMultiway]], separated so a
    * caller can price PLANNING apart from EXECUTION (the sweep's
    * advised arm; advice is a handful of bounded aggregates amortized
    * across every query that reuses the star) and so one advice map
    * can drive many cascades. Keyed by dim name →
    * (dim_bytes, fact_rows, dim_advice). */
  def collectMultiwayAdvice(fact: DataFrame,
      dims: Seq[(String, DataFrame, Column)], rowBytes: Long,
      broadcastBudgetBytes: Long, reducers: Int): Map[String, (Long, Long, String)] =
    adviseMultiwaySkew("exec", fact, dims, rowBytes, broadcastBudgetBytes,
        reducers)
      .select(col("dim_name"), col("dim_bytes"), col("fact_rows"),
        col("dim_advice"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  /** Build the cascade a [[collectMultiwayAdvice]] map prescribes. */
  def executeMultiwayAdvice(fact: DataFrame,
      dims: Seq[(String, DataFrame, Column, Column)],
      advice: Map[String, (Long, Long, String)], reducers: Int,
      saltFactor: Int = 8): DataFrame = {
    require(dims.nonEmpty, "executeMultiwayAdvice needs at least one dim")
    val ordered = dims.sortBy { case (dn, _, _, _) =>
      val (bytes, _, adv) = advice(dn)
      (if (adv == "broadcast") 0 else 1, bytes, dn)
    }
    ordered.foldLeft(fact) { case (acc, (dn, d, fk, dk)) =>
      val (_, factRows, adv) = advice(dn)
      adv match {
        case "broadcast" => acc.join(broadcast(d), fk === dk)
        case "salted-shuffle" =>
          autoSaltedJoin(acc, d, fk, dk,
            hotThreshold = math.max(1L, factRows * 9L / (10L * reducers)),
            factor = saltFactor)
        case _ => acc.join(d, fk === dk)
      }
    }
  }

  /** EXECUTE the order [[adviseChain]] prescribes for the
    * fact → A → B chain (VERDICT r9 #4): read the one advice row and
    * build that band's plan —
    *
    *  - `pipelined-bhj`: declared order, both dims broadcast (Catalyst
    *    pipelines the two BHJs into one fact scan — the measured
    *    winner whenever both fit);
    *  - `dims-first-enrich`: A ⋈ broadcast(B) first (the A-sized
    *    pre-join), fact exchanged ONCE against the enriched dim;
    *  - `mixed-chain`: broadcast A in declared order, one fact
    *    exchange for B;
    *  - `dims-first-shuffle`: pre-join A ⋈ B with shuffles (|A|+|B|
    *    rows) so the fact is exchanged once, not twice. */
  def executeAdvisedChain(fact: DataFrame, dimA: DataFrame, dimB: DataFrame,
      factKey: Column, aKey: Column, aOutKey: Column, bKey: Column,
      rowBytes: Long, broadcastBudgetBytes: Long): DataFrame =
    executeChainAdvice(fact, dimA, dimB, factKey, aKey, aOutKey, bKey,
      collectChainAdvice(fact, dimA, dimB, rowBytes, broadcastBudgetBytes))

  /** The advisor pass of [[executeAdvisedChain]], separated so a
    * caller can price planning apart from execution (three 1-row count
    * aggregates). */
  def collectChainAdvice(fact: DataFrame, dimA: DataFrame, dimB: DataFrame,
      rowBytes: Long, broadcastBudgetBytes: Long): String =
    adviseChain("exec", fact, dimA, dimB, rowBytes,
      broadcastBudgetBytes).select(col("advice")).head().getString(0)

  /** Build the chain plan a [[collectChainAdvice]] band prescribes. */
  def executeChainAdvice(fact: DataFrame, dimA: DataFrame, dimB: DataFrame,
      factKey: Column, aKey: Column, aOutKey: Column, bKey: Column,
      adv: String): DataFrame = {
    adv match {
      case "pipelined-bhj" =>
        fact.join(broadcast(dimA), factKey === aKey)
          .join(broadcast(dimB), aOutKey === bKey)
      case "dims-first-enrich" =>
        fact.join(dimA.join(broadcast(dimB), aOutKey === bKey),
          factKey === aKey)
      case "mixed-chain" =>
        fact.join(broadcast(dimA), factKey === aKey)
          .join(dimB, aOutKey === bKey)
      case _ => // dims-first-shuffle
        fact.join(dimA.join(dimB, aOutKey === bKey), factKey === aKey)
    }
  }

  /** Reference output shape: `key, "l1,l2,..", "r1,r2,.."` — the text
    * sink then renders `key TAB l,r` (RepartitionJoin.java:80). Columns
    * are stringified with comma separators exactly like the reference's
    * row text. */
  def keyTabProjection(
      joined: DataFrame,
      key: Column,
      leftCols: Seq[Column],
      rightCols: Seq[Column]): DataFrame =
    joined.select(
      key.as("key"),
      concat_ws(",", leftCols: _*).as("left_row"),
      concat_ws(",", rightCols: _*).as("right_row"))

  /** Nearest-in-time as-of join (either direction): for each probe row,
    * the event with the same key minimizing |Δt|; ties prefer the
    * backward (at-or-before) side, then the smallest event id — the
    * market-data "nearest quote" convention. TWO window passes over ONE
    * union-merge stream (the exchange by key is shared, only the sort
    * differs), so there is never a (probe × event) pair set — the same
    * rewrite that fixed the quadratic round-1 as-of.
    *
    * Output: (probe_id, nearest_id, dt) with dt = event time − probe
    * time (≤ 0 ⇔ backward pick). Probe rows whose key has no events
    * are dropped (inner semantics). Ids must be long; times share one
    * integral unit. */
  def asofNearest(probe: DataFrame, probeId: Column, probeKey: Column, probeTime: Column,
      events: DataFrame, eventId: Column, eventKey: Column, eventTime: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = events.select(eventKey.as("uid"), eventTime.as("t"),
        lit(0).as("isOrder"), eventId.as("ekey"),
        lit(null).cast("long").as("okey"))
      .unionByName(probe.select(probeKey.as("uid"), probeTime.as("t"),
        lit(1).as("isOrder"), lit(null).cast("long").as("ekey"),
        probeId.as("okey")))
    val ev = when(col("isOrder") === 0, struct(col("ekey"), col("t")))
    // backward pass: inclusive (same-instant events sort BEFORE the
    // probe), ekey DESC so last() carries the smallest event id
    val wPrev = Window.partitionBy(col("uid"))
      .orderBy(col("t").asc, col("isOrder").asc, col("ekey").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward pass: strict (same-instant events sort AFTER the probe in
    // the DESC traversal, so they belong to the backward side only);
    // ekey DESC again ⇒ last() = smallest event id
    val wNext = Window.partitionBy(col("uid"))
      .orderBy(col("t").desc, col("isOrder").desc, col("ekey").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stream
      .withColumn("prev", last(ev, ignoreNulls = true).over(wPrev))
      .withColumn("nxt", last(ev, ignoreNulls = true).over(wNext))
      .filter(col("isOrder") === 1)
      .withColumn("best",
        when(col("nxt").isNull, col("prev"))
          .when(col("prev").isNull, col("nxt"))
          .when(col("t") - col("prev.t") <= col("nxt.t") - col("t"), col("prev"))
          .otherwise(col("nxt")))
      .filter(col("best").isNotNull)
      .select(col("okey").as("probe_id"),
        col("best.ekey").as("nearest_id"),
        (col("best.t") - col("t")).as("dt"))
  }

  /** Full reference lifecycle for CSV inputs (entry points
    * RepartitionJoin.main / BroadcastJoin.main / MergeJoin.main):
    * positional CSV scan → key extraction by index → pinned-strategy
    * inner join → `key TAB l,r` rows. */
  def runCsvJoin(spark: SparkSession, cfg: JoinConfig): DataFrame = {
    val left = Tables.csvPositional(spark, cfg.left)
    val right = Tables.csvPositional(spark, cfg.right)
    // qualify via the owning DataFrame — both sides share `_c0.._cN`
    val cast = (df: DataFrame, i: Int) => {
      val c = df(df.columns(i))
      if (cfg.numericKey) c.cast("long") else c
    }
    cfg.partitions.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    val lk = cast(left, cfg.leftKeyIdx)
    val rk = cast(right, cfg.rightKeyIdx)
    val joined = equiJoin(left, right, lk, rk, cfg.strategy)
    val out = keyTabProjection(
      joined,
      lk,
      left.columns.map(left(_)).toIndexedSeq,
      right.columns.map(right(_)).toIndexedSeq)
    cfg.output.foreach(o => Tables.writeKeyTab(out.select(col("key"), concat_ws(",", col("left_row"), col("right_row"))), o))
    out
  }

  /** Bloom-pruned semi join: fact rows whose `factKey` appears in
    * `dim`'s `dimKey` set, with the fact side PRE-FILTERED by a
    * broadcast Bloom sketch of the dim keys before the join exchange.
    *
    * The 100 TB shape this buys: when the dim side is selective, the
    * plain semi join still shuffles EVERY fact row to the join — the
    * dominant cost at fact scale. The Bloom build is one distributed
    * aggregate over the dim keys (sketch size is bits-per-key ·
    * expectedItems, independent of fact size), the probe is a
    * codegen'd per-row bit test at the fact SCAN ([[graft.functions
    * .BloomMightContain]]), and only the ≤ (match + fpp·nonmatch)
    * survivors enter the exchange. The exact semi join on the
    * survivors removes the false positives, so the result is exactly
    * the plain semi join — the sketch changes the plan, never the
    * answer. (Spark's `runtime.bloomFilter` optimization makes the
    * same transform automatically inside one query when thresholds
    * align; the explicit operator works at any size and lets a
    * pipeline reuse one sketch across many queries.) */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: Column, dimKey: Column,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey.cast("long"), expectedItems, fpp)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    val keys = dim.select(dimKey.cast("long").as("__bloom_k")).distinct()
    fact.filter(graft.functions.BloomProbe.mightContain(bc, factKey.cast("long")))
      .join(keys, factKey.cast("long") === col("__bloom_k"), "left_semi")
  }
}
