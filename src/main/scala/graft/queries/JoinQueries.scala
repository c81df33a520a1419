package graft.queries

import graft.QueryDef
import graft.JoinStrategy
import graft.operators.Joins
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 join inventory as verifiable queries over the driver
  * testdata, all three reference algorithms running the SAME logical
  * query (orders ⋈ customer) exactly like the reference benchmarks one
  * logical join under three physical plans — plus the join types the
  * thesis defers to future work (outer/semi/anti/cross/theta), which
  * Spark provides natively and we expose as extensions.
  *
  * Scale design: customer is the build/broadcast side (fits executor
  * memory at any realistic SF for a dimension table); the fact side is
  * never collected; the `key TAB l,r` projection happens post-join so
  * the parquet scans prune to the referenced columns only.
  */
object JoinQueries {

  /** orders row / customer row rendered like the reference's CSV row text
    * (RepartitionJoin.java:80) but with doubles passed through
    * DECIMAL(18,2) so both engines stringify identically. */
  private val joinOracle =
    """SELECT o_custkey AS key,
      |  concat_ws(',', o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)), o_orderpriority) AS left_row,
      |  concat_ws(',', c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)), c_mktsegment) AS right_row
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  private def ordersCustomer(spark: SparkSession, dir: String, strategy: JoinStrategy): DataFrame = {
    val o = Tables.table(spark, dir, "orders")
    val c = Tables.table(spark, dir, "customer")
    val joined = Joins.equiJoin(o, c, o("o_custkey"), c("c_custkey"), strategy)
    joined.select(
      o("o_custkey").as("key"),
      concat_ws(",",
        o("o_orderkey"), o("o_orderstatus"),
        o("o_totalprice").cast("decimal(18,2)"), o("o_orderpriority")).as("left_row"),
      concat_ws(",",
        c("c_custkey"), c("c_name"), c("c_nationkey"),
        c("c_acctbal").cast("decimal(18,2)"), c("c_mktsegment")).as("right_row"))
  }

  val all: Seq[QueryDef] = Seq(
    // J1 — reduce-side/shuffle hash join (RepartitionJoin.java:21-152)
    QueryDef("join_shuffle", joinOracle)((s, d) => ordersCustomer(s, d, JoinStrategy.ShuffleHash)),
    // J2 — map-side broadcast hash join (BroadcastJoin.java:24-132);
    // correct cross-product semantics, NOT the reference's last-row-wins
    QueryDef("join_broadcast", joinOracle)((s, d) => ordersCustomer(s, d, JoinStrategy.Broadcast)),
    // J3 — sort-merge join (MergeJoin.java:34-263), single fused stage
    QueryDef("join_merge", joinOracle)((s, d) => ordersCustomer(s, d, JoinStrategy.SortMerge)),
    // J3 decomposed — the "merge-only over pre-sorted inputs" experiment
    // (thesis Fig 6.4): total-order sort + materialize, then MERGE join
    // of the sorted runs. Same logical result as join_shuffle.
    QueryDef("join_merge_presorted", joinOracle) { (s, d) =>
      val tmp = Tables.scratchDir("graft_presorted")
      val o = Tables.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice_d"), col("o_orderpriority"))
      val c = Tables.table(s, d, "customer")
      Tables.writeStage(Joins.presort(o, col("o_custkey"), 8), s"$tmp/orders")
      Tables.writeStage(Joins.presort(c, col("c_custkey"), 8), s"$tmp/customer")
      val so = Tables.readStage(s, s"$tmp/orders", o.schema)
      val sc = Tables.readStage(s, s"$tmp/customer", c.schema)
      so.hint("MERGE").join(sc, so("o_custkey") === sc("c_custkey"), "inner")
        .select(
          so("o_custkey").as("key"),
          concat_ws(",", so("o_orderkey"), so("o_orderstatus"),
            so("o_totalprice_d"), so("o_orderpriority")).as("left_row"),
          concat_ws(",", sc("c_custkey"), sc("c_name"), sc("c_nationkey"),
            sc("c_acctbal").cast("decimal(18,2)"), sc("c_mktsegment")).as("right_row"))
    },
    // M×N duplicate-key cross-product semantics (golden
    // expected_output.csv: key 7 → 3×3 rows) on a self-join
    QueryDef(
      "join_dup_cross",
      """SELECT a.o_custkey AS key, a.o_orderkey AS left_okey, b.o_orderkey AS right_okey
        |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey""".stripMargin) { (s, d) =>
      val a = Tables.table(s, d, "orders").select(col("o_custkey"), col("o_orderkey")).alias("a")
      val b = Tables.table(s, d, "orders").select(col("o_custkey"), col("o_orderkey")).alias("b")
      a.join(b, col("a.o_custkey") === col("b.o_custkey"))
        .select(col("a.o_custkey").as("key"),
          col("a.o_orderkey").as("left_okey"), col("b.o_orderkey").as("right_okey"))
    },
    // profile-driven PARTIAL salting: keys with > 15 orders (the upper
    // tail) are detected in a frequency pass and only they are salted/
    // replicated — the measured-then-mitigated version of join_salted
    // (same oracle; the spec additionally pins equality to the
    // unsalted join)
    QueryDef("join_auto_salted", joinOracle) { (s, d) =>
      val o = Tables.table(s, d, "orders")
      val c = Tables.table(s, d, "customer")
      Joins.autoSaltedJoin(o, c, o("o_custkey"), c("c_custkey"),
          hotThreshold = 15L, factor = 8)
        .select(
          o("o_custkey").as("key"),
          concat_ws(",",
            o("o_orderkey"), o("o_orderstatus"),
            o("o_totalprice").cast("decimal(18,2)"), o("o_orderpriority")).as("left_row"),
          concat_ws(",",
            c("c_custkey"), c("c_name"), c("c_nationkey"),
            c("c_acctbal").cast("decimal(18,2)"), c("c_mktsegment")).as("right_row"))
    },
    // salted equi-join (operators.Joins.saltedEquiJoin): physically
    // factor-× salt-split against a replicated build side, logically the
    // SAME join — so it shares join_shuffle's oracle (salting is a
    // physical rewrite; equality is the whole point)
    QueryDef("join_salted", joinOracle) { (s, d) =>
      val o = Tables.table(s, d, "orders")
      val c = Tables.table(s, d, "customer")
      Joins.saltedEquiJoin(o, c, o("o_custkey"), c("c_custkey"), factor = 8)
        .select(
          o("o_custkey").as("key"),
          concat_ws(",",
            o("o_orderkey"), o("o_orderstatus"),
            o("o_totalprice").cast("decimal(18,2)"), o("o_orderpriority")).as("left_row"),
          concat_ws(",",
            c("c_custkey"), c("c_name"), c("c_nationkey"),
            c("c_acctbal").cast("decimal(18,2)"), c("c_mktsegment")).as("right_row"))
    },
    // bucketed co-located join (operators.Joins.writeBucketed): both
    // tables persisted bucketBy(8, key).sortBy(key), then sort-merge
    // joined with ZERO exchanges (plan asserted in ScaleSpec) — same
    // oracle as join_shuffle for the same reason as join_salted
    QueryDef("join_bucketed", joinOracle) { (s, d) =>
      val o = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      val c = Tables.table(s, d, "customer")
      val (ot, ct) = (Joins.processTable("graft_orders_bkt"), Joins.processTable("graft_customer_bkt"))
      Joins.writeBucketed(o, ot, "o_custkey", 8)
      Joins.writeBucketed(c, ct, "c_custkey", 8)
      val ob = s.table(ot)
      val cb = s.table(ct)
      ob.hint("MERGE").join(cb, ob("o_custkey") === cb("c_custkey"))
        .select(
          ob("o_custkey").as("key"),
          concat_ws(",",
            ob("o_orderkey"), ob("o_orderstatus"),
            ob("o_totalprice").cast("decimal(18,2)"), ob("o_orderpriority")).as("left_row"),
          concat_ws(",",
            cb("c_custkey"), cb("c_name"), cb("c_nationkey"),
            cb("c_acctbal").cast("decimal(18,2)"), cb("c_mktsegment")).as("right_row"))
    },
    // semi-join — declared form of the broadcast mapper's existence
    // filter (BroadcastJoin.java:111-113)
    QueryDef(
      "join_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val o = Tables.table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    // anti-join (extension; thesis §5.4 future work): customers that
    // never produced an event (non-empty: events covers ~10% of keys)
    QueryDef(
      "join_anti",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val e = Tables.table(s, d, "events")
      c.join(e, c("c_custkey") === e("user_id"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    // left outer (extension)
    QueryDef(
      "join_left_outer",
      """SELECT c_custkey AS key, o_orderkey
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val o = Tables.table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .select(c("c_custkey").as("key"), o("o_orderkey"))
    },
    // full outer (extension)
    QueryDef(
      "join_full_outer",
      """SELECT s_suppkey, s_nationkey, c_custkey, c_nationkey
        |FROM supplier FULL JOIN customer ON s_nationkey = c_nationkey""".stripMargin) { (s, d) =>
      val sup = Tables.table(s, d, "supplier")
      val c = Tables.table(s, d, "customer")
      sup.join(c, sup("s_nationkey") === c("c_nationkey"), "full_outer")
        .select(sup("s_suppkey"), sup("s_nationkey"), c("c_custkey"), c("c_nationkey"))
    },
    // cartesian product (extension)
    QueryDef(
      "join_cross",
      "SELECT n_nationkey, r_regionkey FROM nation CROSS JOIN region") { (s, d) =>
      Tables.table(s, d, "nation").crossJoin(Tables.table(s, d, "region"))
        .select(col("n_nationkey"), col("r_regionkey"))
    },
    // theta/band join (extension; thesis §5.4.1 defers inequality joins).
    // Physical plan: BroadcastNestedLoopJoin with the small supplier side
    // broadcast — the only sane shape for banded predicates at scale.
    QueryDef(
      "join_theta_range",
      """SELECT p_partkey, s_suppkey FROM part JOIN supplier
        |ON p_retailprice >= s_acctbal AND p_retailprice <= s_acctbal + 500""".stripMargin) { (s, d) =>
      val p = Tables.table(s, d, "part")
      val sup = Tables.table(s, d, "supplier")
      p.join(broadcast(sup),
        p("p_retailprice") >= sup("s_acctbal") && p("p_retailprice") <= sup("s_acctbal") + 500)
        .select(p("p_partkey"), sup("s_suppkey"))
    },
    // the same range predicate as a BINNED equi-join
    // (operators.RangeJoin): bucket width = interval width 500, so each
    // interval spans <= 2 buckets and the plan is a shuffle equi-join
    // on __bin — no nested loop, no broadcast requirement. Identical
    // output to join_theta_range (same oracle SQL); the broadcast-NLJ
    // form above stays as the small-side baseline.
    QueryDef(
      "join_range_binned",
      """SELECT p_partkey, s_suppkey FROM part JOIN supplier
        |ON p_retailprice >= s_acctbal AND p_retailprice <= s_acctbal + 500""".stripMargin) { (s, d) =>
      val p = Tables.table(s, d, "part")
      val sup = Tables.table(s, d, "supplier")
      graft.operators.RangeJoin.pointInRange(
          p, sup, p("p_retailprice"), sup("s_acctbal"), sup("s_acctbal") + 500,
          binWidth = 500)
        .select(p("p_partkey"), sup("s_suppkey"))
    },
    // runtime bloom-filter pruning: the selective orders predicate is
    // turned into a bloom filter probed inside the lineitem scan (plan
    // asserted in ScaleSpec). Materialized eagerly inside the conf
    // scope so the optimizer sees the bloom confs; the aggregate result
    // is rows-small by construction.
    QueryDef(
      "join_bloom_pruned",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      graft.Graft.withConfs(s, Joins.bloomFilterConfs: _*) {
        val o = Tables.table(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" && year(col("o_orderdate")) === 1995)
        val l = Tables.table(s, d, "lineitem")
        val df = Joins.bloomPrunedJoin(l, o, col("l_orderkey"), col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        val rows = df.collect()
        // the collect stays inside the conf scope ON PURPOSE (the bloom
        // confs must be live when the plan executes) and is safe ONLY
        // because the groupBy key is pinned to one literal value by the
        // filter — assert that bound so a widened key can never turn
        // this into a silent driver materialization (VERDICT r5)
        require(rows.length <= 8,
          s"join_bloom_pruned collected ${rows.length} rows — the group key " +
            "widened; restructure before collecting driver-side")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
    },
    // the EXPLICIT counterpart of join_bloom_pruned: the dim-key Bloom
    // sketch is built once as its own distributed aggregate
    // (dim.stat.bloomFilter) and probed from a codegen'd expression at
    // the fact scan (functions.BloomMightContain) — no optimizer
    // thresholds involved, and the sketch object is reusable across
    // queries. Exact-by-construction: the ≤1% false positives pass the
    // probe but die in the exact semi join that follows, so the oracle
    // is the plain IN-subquery.
    QueryDef(
      "join_bloom_semi",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      val dim = Tables.table(s, d, "orders")
        .filter(col("o_totalprice") > 450000).select(col("o_orderkey"))
      Joins.bloomSemiJoin(Tables.table(s, d, "lineitem"), dim,
          col("l_orderkey"), col("o_orderkey"), expectedItems = 200000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    },
    // the thesis's Figure-6.11 decision tree as a query
    // (Joins.adviseStrategy): per dim⋈fact pair, the statistics the
    // tree branches on and the recommended strategy. Budget is 1 MiB
    // at test scale so the decision actually varies across pairs
    // (production would pass autoBroadcastJoinThreshold); row width is
    // the reference's ~200-byte row (SURVEY §6), reducers = 32.
    QueryDef(
      "join_strategy_advice", {
        val pairs = Seq(
          ("customer-orders", "customer", "orders", "o_custkey"),
          ("orders-lineitem", "orders", "lineitem", "l_orderkey"),
          ("part-lineitem", "part", "lineitem", "l_partkey"),
          ("supplier-lineitem", "supplier", "lineitem", "l_suppkey"),
          ("nation-customer", "nation", "customer", "c_nationkey"))
        val g = pairs.map { case (name, dim, fact, fk) =>
          s"""SELECT '$name' AS join_name,
             |  (SELECT count(*) FROM $dim) AS dim_rows,
             |  (SELECT count(*) FROM $fact) AS fact_rows,
             |  (SELECT max(c) FROM (SELECT count(*) AS c FROM $fact GROUP BY $fk) t) AS max_repeats""".stripMargin
        }.mkString("WITH g AS (\n", "\nUNION ALL\n", ")")
        s"""$g
           |SELECT join_name, dim_rows, fact_rows, max_repeats,
           |  dim_rows * 200 AS dim_bytes,
           |  CAST(max_repeats * 32 * 10 <= fact_rows * 9 AS INT) AS merge_feasible,
           |  CASE WHEN dim_rows * 200 <= 1048576 THEN 'broadcast'
           |       ELSE 'repartition' END AS advice
           |FROM g""".stripMargin
      }) { (s, d) =>
      def t(n: String) = Tables.table(s, d, n)
      Seq(
        ("customer-orders", t("customer"), t("orders"), "o_custkey"),
        ("orders-lineitem", t("orders"), t("lineitem"), "l_orderkey"),
        ("part-lineitem", t("part"), t("lineitem"), "l_partkey"),
        ("supplier-lineitem", t("supplier"), t("lineitem"), "l_suppkey"),
        ("nation-customer", t("nation"), t("customer"), "c_nationkey"))
        .map { case (name, dim, fact, fk) =>
          Joins.adviseStrategy(name, dim, fact, col(fk),
            rowBytes = 200L, broadcastBudgetBytes = 1048576L, reducers = 32)
        }.reduce(_ unionByName _)
    },
    // multi-way star advice, SKEW-AWARE (Joins.adviseMultiwaySkew —
    // VERDICT r7 #4 + r8 #4, thesis §5.4/§7 future work): the lineitem
    // star against supplier/part/orders PLUS the low-cardinality
    // returnflag dim (3 rows — exactly where real-world skew lives:
    // its hottest key carries ~half the fact, failing the §6.4 test at
    // reducers=32, so dim_skewed=1 fires in the oracle-checked output;
    // it is also broadcast-admitted, demonstrating why skewed dims
    // spend broadcast budget first). Greedy-knapsack admission under a
    // 1 MiB cumulative budget as before; per-dim advice on a
    // shuffled+skewed stage is AQE-AWARE (VERDICT r10 #2): the Verify/
    // Bench sessions run AQE with skew splitting (Spark 4 defaults),
    // so the advisor — and the oracle's CASE — emit 'plain-shuffle
    // (AQE handles skew)'; salting is prescribed only when AQE skew
    // splitting is off (JoinsSpec pins both branches with a Zipf fact;
    // the --multiway sim sweep measures them end-to-end).
    QueryDef(
      "join_multiway_advice",
      """WITH dims(dim_name, dim_rows) AS (
        |  SELECT 'part', count(*) FROM part
        |  UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  UNION ALL SELECT 'orders', count(*) FROM orders
        |  UNION ALL SELECT 'rflag', count(DISTINCT l_returnflag) FROM lineitem),
        |ks(dim_name, key_max_repeats) AS (
        |  SELECT 'part', max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)
        |  UNION ALL SELECT 'supplier', max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)
        |  UNION ALL SELECT 'orders', max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)
        |  UNION ALL SELECT 'rflag', max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_returnflag)),
        |f AS (SELECT count(*) AS fact_rows FROM lineitem),
        |b AS (SELECT dim_name, dim_rows, dim_rows * 200 AS dim_bytes,
        |  sum(dim_rows * 200) OVER (ORDER BY dim_rows * 200, dim_name) AS cum FROM dims),
        |g AS (SELECT dim_name, dim_rows, dim_bytes,
        |  CAST(cum <= 1048576 AS INT) AS dim_broadcast FROM b),
        |a AS (SELECT CASE WHEN min(dim_broadcast) = 1 THEN 'broadcast-cascade'
        |                  WHEN max(dim_broadcast) = 0 THEN 'shuffle-cascade'
        |                  ELSE 'mixed-cascade' END AS advice FROM g)
        |SELECT 'lineitem-star' AS join_name, g.dim_name, dim_rows, dim_bytes,
        |  fact_rows, key_max_repeats, dim_broadcast,
        |  CAST(key_max_repeats * 32 * 10 > fact_rows * 9 AS INT) AS dim_skewed,
        |  CASE WHEN dim_broadcast = 1 THEN 'broadcast'
        |       WHEN key_max_repeats * 32 * 10 > fact_rows * 9 THEN 'plain-shuffle (AQE handles skew)'
        |       ELSE 'shuffle' END AS dim_advice,
        |  advice
        |FROM g JOIN ks ON ks.dim_name = g.dim_name, f, a""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
      Joins.adviseMultiwaySkew("lineitem-star", li,
        Seq(("part", Tables.table(s, d, "part"), col("l_partkey")),
          ("supplier", Tables.table(s, d, "supplier"), col("l_suppkey")),
          ("orders", Tables.table(s, d, "orders"), col("l_orderkey")),
          ("rflag", li.select(col("l_returnflag")).distinct(), col("l_returnflag"))),
        rowBytes = 200L, broadcastBudgetBytes = 1048576L, reducers = 32)
    },
    // chain-topology join-order advice (Joins.adviseChain — VERDICT r8
    // #5's planning half, distilled from the measured --topology chain
    // sweep): lineitem → orders (l_orderkey) → customer (o_custkey),
    // where customer joins ORDERS' output key, so join order is a real
    // choice. Under the 1 MiB budget the advice flips with SF exactly
    // as the SQL replays it (sf0.01: customer fits, orders doesn't →
    // dims-first-enrich; larger SFs push both past the budget →
    // dims-first-shuffle). JoinsSpec pins all four branches.
    QueryDef(
      "join_chain_advice",
      """WITH f AS (SELECT count(*) AS fact_rows FROM lineitem),
        |a AS (SELECT count(*) AS a_rows FROM orders),
        |b AS (SELECT count(*) AS b_rows FROM customer)
        |SELECT 'lineitem-orders-customer' AS join_name,
        |  fact_rows, a_rows, b_rows,
        |  a_rows * 200 AS a_bytes, b_rows * 200 AS b_bytes,
        |  CASE WHEN a_rows * 200 + b_rows * 200 <= 1048576 THEN 'pipelined-bhj'
        |       WHEN b_rows * 200 <= 1048576 THEN 'dims-first-enrich'
        |       WHEN a_rows * 200 <= 1048576 THEN 'mixed-chain'
        |       ELSE 'dims-first-shuffle' END AS advice
        |FROM f, a, b""".stripMargin) { (s, d) =>
      Joins.adviseChain("lineitem-orders-customer",
        Tables.table(s, d, "lineitem"), Tables.table(s, d, "orders"),
        Tables.table(s, d, "customer"),
        rowBytes = 200L, broadcastBudgetBytes = 1048576L)
    },
    // sketch-based join-size estimation (functions.CmsInnerProduct):
    // |views ⋈ clicks on user| estimated from two count-min sketches —
    // the pre-shuffle cardinality statistic a cost-based planner feeds
    // on. The oracle verifies the EXACT size (SQL) plus the estimator's
    // two deterministic-by-seed guarantees: never undercounts, and
    // overshoot ≤ ε·N_v·N_c (ε = 0.01, seed 42).
    QueryDef(
      "join_size_estimate",
      """WITH v AS (SELECT user_id, count(*) AS f FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS f FROM events WHERE event_type = 'click' GROUP BY user_id)
        |SELECT CAST(sum(v.f * c.f) AS BIGINT) AS exact_pairs,
        |  1 AS est_ge_exact, 1 AS within_bound
        |FROM v JOIN c ON v.user_id = c.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events")
      def side(typ: String, tag: String) =
        ev.filter(col("event_type") === typ)
          .agg(expr("count_min_sketch(user_id, 0.01d, 0.99d, 42)").as(s"sk_$tag"),
            count(lit(1)).as(s"n_$tag"))
      def freq(typ: String, tag: String) =
        ev.filter(col("event_type") === typ)
          .groupBy("user_id").agg(count(lit(1)).as(s"f_$tag"))
      val exact = freq("view", "v")
        .join(freq("click", "c"), "user_id")
        .agg(sum(col("f_v") * col("f_c")).cast("long").as("exact_pairs"))
      exact
        .join(broadcast(side("view", "v")), lit(true))
        .join(broadcast(side("click", "c")), lit(true))
        .withColumn("__est",
          graft.functions.CmsInnerProduct.innerProduct(col("sk_v"), col("sk_c")))
        .select(col("exact_pairs"),
          (col("__est") >= col("exact_pairs")).cast("int").as("est_ge_exact"),
          (col("__est") <= col("exact_pairs") + expr("n_v * n_c div 100"))
            .cast("int").as("within_bound"))
    }
  )
}
