package graft

import graft.operators.Joins
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Scale-pattern assertions: the plans that must hold at 100 TB. */
class ScaleSpec extends SparkSpec {

  /** TreeNode.collect stops at AQE query-stage boundaries (QueryStageExec
    * wraps its stage plan as a field, not a child) — flatten through them
    * so plan pins see the whole executed tree. */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val through = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: through.flatMap(flattenPlan)
  }

  test("salted join equals plain join under synthetic skew") {
    import spark.implicits._
    // hot key 1 with 5k rows + uniform tail
    val skewed = ((1 to 5000).map(i => (1L, s"h$i")) ++ (1 to 1000).map(i => (i.toLong % 50 + 2, s"t$i")))
      .toDF("k", "v")
    val dim = (1L to 60L).map(i => (i, s"d$i")).toDF("k2", "w")
    val plain = skewed.join(dim, col("k") === col("k2")).count()
    val salted = Joins.saltedEquiJoin(skewed, dim, col("k"), col("k2"), 8).count()
    assert(plain == salted)
  }

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val o = Tables.table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.table(spark, sf, "customer").select("c_custkey", "c_name")
    Joins.writeBucketed(o, "orders_b", "o_custkey", 8)
    Joins.writeBucketed(c, "customer_b", "c_custkey", 8)
    val ob = spark.table("orders_b")
    val cb = spark.table("customer_b")
    // pin sort-merge so AQE doesn't broadcast the small test table — the
    // assertion is about Exchange-free co-location
    val j = ob.hint("MERGE").join(cb, ob("o_custkey") === cb("c_custkey"))
    j.count()
    val plan = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = flattenPlan(plan).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, s"expected shuffle-free bucketed join, found ${exchanges.size} exchanges")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
  }

  test("broadcast dimension join keeps the fact side shuffle-free") {
    val df = SparkEntry.queries("agg_join_revenue")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = plan.toString()
    assert(s.contains("BroadcastHashJoin"), "dim joins must broadcast")
    // only the final aggregation may shuffle — never the joins
    val exchanges = flattenPlan(plan).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 1, s"fact-side join shuffled: ${exchanges.size} exchanges")
  }

  test("partitioned layout prunes to the predicate's partitions") {
    val df = SparkEntry.queries("partitioned_roundtrip")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    // the year predicate must land in PartitionFilters (directory
    // pruning), not in the data filters
    assert(scan.metadata("PartitionFilters").contains("o_year"),
      s"no partition filter: ${scan.metadata("PartitionFilters")}")
    // and the scan must read only the 1997 directory's files
    val readFiles = scan.inputRDDs().head.partitions.length
    assert(readFiles >= 1)
    val prunedRows = scan.metrics.get("numOutputRows").map(_.value)
    assert(prunedRows.exists(_ < 15000), s"scan read too many rows: $prunedRows")
  }

  test("runtime bloom-filter pruning injects on selective fact-dim joins") {
    // conf-scoped via Graft.withConfs — the earlier form of this test
    // restored only creationSideThreshold and leaked the 0-byte
    // application-side threshold into every later suite in the JVM
    Graft.withConfs(spark,
      Joins.bloomFilterConfs :+
        ("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB"): _*) {
      val li = Tables.table(spark, sf, "lineitem")
      val p = Tables.table(spark, sf, "part").filter(col("p_size") === 1)
      val j = li.join(p, li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("p_partkey"))
      val optimized = j.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$optimized")
    }
  }

  test("AQE splits skewed partitions at runtime (the reference's §6.4 failure mode)") {
    import spark.implicits._
    // one hot key carrying most rows — the shape that overflowed the
    // reference's TotalOrderPartitioner; thresholds forced down to
    // testdata scale so the optimization triggers
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = ((1 to 60000).map(i => (1L, s"hot$i")) ++
        (1 to 2000).map(i => (i.toLong % 100 + 2, s"t$i"))).toDF("k", "v")
      val dim = (1L to 101L).map(i => (i, s"d$i")).toDF("k2", "w")
      val j = skewed.hint("MERGE").join(dim, col("k") === col("k2"))
      j.collect() // execute THIS QueryExecution so the adaptive plan is final
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // query stages hide their subtree from TreeNode children, so
      // match the rendered plan: AQE marks the join and the shuffle read
      val rendered = plan.toString
      assert(rendered.contains("skew=true") && rendered.contains("skewed"),
        s"AQE did not mark the join skew-optimized:\n$rendered")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IVF centroid assignment partial-aggregates (max_by), never windows corpus×k") {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.table(spark, sf, "embeddings")
    val e = Dedup.withNorm(emb, col("embedding"), col("vec_id"))
    val cents = Similarity.firstNCentroids(emb, col("embedding"), col("vec_id"), 8)
    val assigned = Similarity.assignNearest(e, cents, Seq("v", "nrm"))
    assigned.count()
    val plan = assigned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the argmin must be a HashAggregate (map-side partials → shuffle of
    // corpus rows), NOT a Window over the k-amplified scored relation
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      s"assignment planned a Window:\n$plan")
    assert(plan.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
    }.nonEmpty, s"no aggregate in assignment plan:\n$plan")
    // and it must compute the identical assignment as the window twin
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("ccos").desc, col("cid"))
    val twin = e.join(broadcast(cents), lit(true))
      .withColumn("ccos", Dedup.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crn", row_number().over(w)).filter(col("crn") === 1)
      .select(col("vid"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = assigned.select(col("vid"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == twin)
  }

  test("join_bucketed registry query plans with zero shuffle exchanges") {
    val df = SparkEntry.queries("join_bucketed")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = flattenPlan(plan).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"bucketed registry join must be exchange-free, found ${exchanges.size}")
    spark.sql(s"DROP TABLE IF EXISTS ${Joins.processTable("graft_orders_bkt")}")
    spark.sql(s"DROP TABLE IF EXISTS ${Joins.processTable("graft_customer_bkt")}")
  }

  test("unigram logprob tokenizes the corpus once (frequency Exchange reused)") {
    val df = SparkEntry.queries("text_unigram_logprob")(spark, sf)
    // execute THIS QueryExecution (count() would plan a separate one and
    // leave df's plan un-adapted, hiding AQE's runtime exchange reuse)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // tokenize instances actually executed: the per-doc probe side plus
    // ONE frequency aggregation — the corpus-total subtree must reuse
    // the frequency Exchange (a third Generate = the round-2 shape that
    // ran the corpus tokenize+agg twice)
    val generates = flattenPlan(plan)
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.nonEmpty && generates.size <= 2,
      s"corpus tokenize ran ${generates.size}× (expected 1-2):\n$plan")
  }

  test("BPE pair explosion runs over the aggregated vocabulary, not the corpus") {
    val df = SparkEntry.queries("text_bpe_merge")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val generates = flattenPlan(plan)
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    // exactly two rows-out stages: corpus tokenize + vocab pair-explode
    assert(generates.size == 2, s"expected 2 GenerateExec, got ${generates.size}:\n$plan")
    // the pair-explode Generate must consume the word-frequency AGGREGATE
    // (vocabulary-sized) — a pair explosion directly over the corpus
    // tokenizer would be per-occurrence, k× the volume for no benefit
    val overVocab = generates.exists(g => flattenPlan(g.child).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]))
    assert(overVocab, s"no GenerateExec consumes an aggregate (vocab) input:\n$plan")
  }

  test("runtime bloom filter prunes the fact scan of a selective dim join") {
    Graft.withConfs(spark, Joins.bloomFilterConfs: _*) {
      val o = Tables.table(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && year(col("o_orderdate")) === 1995)
      val l = Tables.table(spark, sf, "lineitem")
      val j = Joins.bloomPrunedJoin(l, o, col("l_orderkey"), col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val s = plan.toString()
      assert(s.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$s")
    }
    // conf scope restored — later tests must see the defaults again
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold") != "0")
  }

  test("dynamic partition pruning injects a runtime partition filter") {
    val df = SparkEntry.queries("join_dpp")(spark, sf)
    df.collect()
    val plan = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString()
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$plan")
  }

  test("dedup pipelines shuffle by content keys, not all-pairs (plan sanity)") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
    // no CartesianProduct / BroadcastNestedLoop anywhere in the LSH path
    val s = df.queryExecution.executedPlan.toString()
    assert(!s.contains("CartesianProduct"), "LSH dedup must not plan a cartesian product")
  }

  test("q9 profit rollup broadcasts the filtered dims; fact chain shuffle-joins once") {
    val df = SparkEntry.queries("q9_product_profit")(spark, sf)
    df.collect(): Unit // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString()
    // part/supplier/nation ride broadcast; only the lineitem⋈orders
    // fact join may shuffle — at 100 TB that is the whole ballgame
    assert(plan.contains("BroadcastHashJoin"), "filtered dims must broadcast")
    val shuffleJoins = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size
    assert(shuffleJoins <= 1, s"fact chain should shuffle-join at most once, saw $shuffleJoins")
  }

  test("embedding gramian plans generators + aggregation, never a self-join") {
    val df = SparkEntry.queries("embedding_gram")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    // the d(d+1)/2 pair products come from chained Generate nodes in a
    // single pipelined scan; a join would shuffle the corpus twice
    assert(plan.contains("Generate"), "pair products must come from generators")
    assert(!plan.contains("Join"), s"gramian must not self-join")
    assert(plan.contains("HashAggregate"), "partial aggregation expected")
  }

  test("substring-span dedup: hash-agg dup set, semi join back, no pair product") {
    val df = SparkEntry.queries("dedup_substring_spans")(spark, sf)
    df.collect(): Unit // finalize the adaptive plan
    val nodes = flattenPlan(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
    val s = nodes.map(_.nodeName).mkString(",")
    // the duplicated-shingle set is ONE ordinary aggregate (min!=max),
    // not a distinct rewrite — a second Expand/aggregate pass over the
    // full shingle stream would double the wide shuffle at 100 TB
    assert(!s.contains("Expand"), "dup-set must not use the count-distinct Expand rewrite")
    assert(s.contains("HashAggregate"), "dup-set must partial-aggregate map-side")
    // positions return via a semi join on the md5 key; never a pair join
    assert(nodes.exists(n => n.toString.contains("LeftSemi")),
      "hits must come back through a semi join")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "no all-pairs shapes anywhere in the span path")
  }

  test("incremental LSH gate: corpus index is scanned, never shuffled (delta broadcast)") {
    import spark.implicits._
    // synthetic corpus + delta with a planted near-dup: big enough that a
    // stats mispick COULD shuffle it, small enough for a spec
    val words = (0 until 40).map(i => s"w$i").mkString(" ")
    val base = (0L until 200L).map(i => (i * 2 + 1, s"doc ${i} $words")).toDF("doc_id", "text")
    val delta = Seq((1000L, s"doc 7 $words"), (1002L, "wholly unrelated text body")).toDF("doc_id", "text")
    val (shBase, baseBands) = graft.operators.Dedup.incrementalIndex(base, col("text"), col("doc_id"))
    shBase.cache(); baseBands.cache()
    try {
      shBase.count(); baseBands.count()
      val out = graft.operators.Dedup.incrementalDedupWith(
        shBase, baseBands, delta, col("text"), col("doc_id"))
      assert(out.collect().nonEmpty) // planted near-dup found
      val nodes = flattenPlan(out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
      // the ingest contract: every join broadcasts the delta side -> no
      // sort-merge join anywhere, and a corpus-index scan may only feed
      // a shuffle AFTER a broadcast join has pruned it to candidate
      // scale (raw base rows are probed in place, never repartitioned)
      assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
        "delta<<base joins must be broadcast, not sort-merge")
      val rawBaseShuffles = nodes.collect {
        case e: ShuffleExchangeExec =>
          val sub = flattenPlan(e)
          (e, sub.exists(_.nodeName.contains("InMemoryTableScan")),
            sub.exists(_.nodeName.contains("BroadcastHashJoin")))
      }.collect { case (e, true, false) => e }
      assert(rawBaseShuffles.isEmpty,
        s"corpus-side scan shuffled before any broadcast prune: ${rawBaseShuffles.map(_.nodeName)}")
    } finally { shBase.unpersist(); baseBands.unpersist() }
  }

  test("stored incremental index: serve equals cached form and partition-prunes the probe") {
    import spark.implicits._
    import graft.operators.Dedup
    val words = (0 until 40).map(i => s"w$i").mkString(" ")
    val base = (0L until 200L).map(i => (i * 2 + 1, s"doc ${i} $words")).toDF("doc_id", "text")
    val delta = Seq((1000L, s"doc 7 $words"), (1002L, "wholly unrelated text body"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_idx").toString
    // small bucket counts so a 200-doc corpus still leaves most
    // partitions untouched by a 2-doc delta
    Dedup.writeIncrementalIndex(base, col("text"), col("doc_id"), idx,
      bandBuckets0 = 16, docBuckets0 = 8)
    val stored = Dedup.incrementalDedupStored(idx, delta, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cached = Dedup.incrementalDedup(base, delta, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored == cached && stored.nonEmpty,
      s"stored-index serve diverged: stored=$stored cached=$cached")
    // pruning pin: the delta's (band, h-bucket) key list must land in
    // PartitionFilters and cut the files read, exactly as the serve
    // path constructs it
    val bandBuckets = 16
    val shDelta = Dedup.shingles(delta, col("text"), col("doc_id"))
    val touched = Dedup.bandedBuckets(Dedup.minhashSignatures(shDelta, 64), 64, 4)
      .select((col("band").cast("long") * bandBuckets +
        pmod(col("h"), lit(bandBuckets.toLong))).as("bk"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val allFiles = spark.read.parquet(s"$idx/bands").inputFiles.length
    val pruned = spark.read.parquet(s"$idx/bands")
      .filter((col("band").cast("long") * bandBuckets + col("hb").cast("long"))
        .isin(touched: _*))
    pruned.count()
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").nonEmpty &&
      scan.metadata("PartitionFilters").contains("band"),
      s"probe must partition-prune: ${scan.metadata("PartitionFilters")}")
    val filesRead = scan.inputRDDs().head.partitions.length
    assert(filesRead < allFiles,
      s"no pruning: read $filesRead of $allFiles band-index files")
    graft.sources.Tables.deleteRecursive(idx)
  }

  test("stored incremental index: append folds a delta in, later gates see it") {
    import spark.implicits._
    import graft.operators.Dedup
    // per-doc UNIQUE word streams — docs must only match their planted
    // duplicate, not each other through a shared filler vocabulary
    def body(tag: String) = (0 until 40).map(j => s"${tag}_$j").mkString(" ")
    val base = (0L until 100L).map(i => (i * 3 + 2, body(s"b$i"))).toDF("doc_id", "text")
    // delta1 doc 5000 duplicates base doc 7's text; delta2 doc 6000
    // duplicates DELTA1's unique text — only visible after the append
    val delta1 = Seq((5000L, body("b7")), (5001L, body("d1u")))
      .toDF("doc_id", "text")
    val delta2 = Seq((6000L, body("d1u"))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_app").toString
    Dedup.writeIncrementalIndex(base, col("text"), col("doc_id"), idx,
      bandBuckets0 = 16, docBuckets0 = 8)
    // before the append: delta2 matches nothing in the stored corpus
    val pre = Dedup.incrementalDedupStored(idx, delta2, col("text"), col("doc_id"))
    assert(pre.count() == 0, "delta2 must not match the pre-append corpus")
    Dedup.appendToIncrementalIndex(idx, delta1, col("text"), col("doc_id"))
    // after: delta2's dup of the APPENDED 5001 is found, and the result
    // equals the cached-form gate against base ∪ delta1
    val post = Dedup.incrementalDedupStored(idx, delta2, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = Dedup.incrementalDedup(base.unionByName(delta1), delta2,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(post == expect && post.exists(_._2 == 5001L),
      s"appended index not served: post=$post expect=$expect")
    graft.sources.Tables.deleteRecursive(idx)
  }

  test("graft-kv DSv2 source pushes filters and prunes columns into the reader") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_kv_v2").toString + "/data"
    graft.sources.Tables.writeKeyTab(
      Seq(("a", "1"), ("b", "2"), ("a", "3")).toDF("k", "v"), tmp)
    val df = spark.read.format("graft-kv").load(tmp)
      .filter(col("key") === "a").select("key")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a", "a"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    // the filter reached the reader (it is gone from the post-scan
    // Filter because pushFilters returned it as fully handled)...
    assert(scan.scan.description().contains("EqualTo(key,a)"),
      s"filter not pushed: ${scan.scan.description()}")
    // ...and only the projected column survives into the read schema
    assert(scan.scan.readSchema().fieldNames.sameElements(Array("key")),
      s"columns not pruned: ${scan.scan.readSchema()}")
    // V2 route ≡ CSV route on the same files, no filter
    val v2 = spark.read.format("graft-kv").load(tmp)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val csv = graft.sources.Tables.keyValueText(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(v2 == csv && v2.size == 3)
    // reported statistics make the tiny kv table broadcastable: without
    // SupportsReportStatistics a V2 relation defaults to "assume huge"
    // and this join would sort-merge
    val big = spark.range(1000).selectExpr("CAST(id % 3 AS STRING) AS j")
    val joined = big.join(spark.read.format("graft-kv").load(tmp),
      col("j") === col("key"))
    joined.count()
    val bhj = joined.queryExecution.executedPlan.toString()
    assert(bhj.contains("BroadcastHashJoin"),
      s"kv side not broadcast despite file-size stats:\n$bhj")
    graft.sources.Tables.deleteRecursive(
      new java.io.File(tmp).getParent)
  }

  test("stored IVF index: serve equals the in-memory form and partition-prunes the scan") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val cents = Similarity.firstNCentroids(emb, col("embedding"), col("vec_id"), 8)
    Similarity.writeIvfIndex(emb, col("embedding"), col("vec_id"), cents, idx)
    // probe with a query subset whose nprobe lists touch FEW centroids,
    // so pruning is observable (nprobe=1 → ≤ |queries| distinct cids)
    val queries = emb.filter(col("vec_id").isin(11L, 12L))
    val stored = Similarity.topKIvfStored(idx, queries,
      col("embedding"), col("vec_id"), k = 3, nProbe = 1)
    val rows = stored.collect().map(_.toSeq).toSet
    // in-memory twin restricted to the same queries: identical output.
    // (topKIvfWith draws queries from the corpus by predicate — same
    // corpus, same centroids, so per-query results must agree.)
    val mem = Similarity.topKIvfWith(emb, col("embedding"), col("vec_id"),
        col("vec_id").isin(11L, 12L), k = 3, nProbe = 1, cents)
      .collect().map(_.toSeq).toSet
    assert(rows == mem && rows.nonEmpty, s"stored IVF diverged: $rows vs $mem")
    // pruning pin: the vector scan reads only the probed cid
    // partitions. AQE wraps finalized scans inside query stages where
    // collectFirst can't see them, so the pin runs with AQE off — the
    // partition-pruning decision is planning-time and AQE-independent.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pinned = Similarity.topKIvfStored(idx, queries,
        col("embedding"), col("vec_id"), k = 3, nProbe = 1)
      pinned.count()
      val scan = pinned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("vectors")) => f
      }.get
      assert(scan.metadata("PartitionFilters").contains("cid"),
        s"no partition filter: ${scan.metadata("PartitionFilters")}")
      val allFiles = spark.read.parquet(s"$idx/vectors").inputFiles.length
      val filesRead = scan.inputRDDs().head.partitions.length
      assert(filesRead < allFiles,
        s"no pruning: read $filesRead of $allFiles vector files")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.sources.Tables.deleteRecursive(idx)
    }
  }

  test("stored IVF index: append folds a delta in, queries see the grown corpus") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val cents = Similarity.firstNCentroids(emb, col("embedding"), col("vec_id"), 8)
    // index holds only vec_id % 3 <> 1; the delta is the missing third
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 1),
      col("embedding"), col("vec_id"), cents, idx)
    val queries = emb.filter(col("vec_id").isin(11L, 12L))
    val pre = Similarity.topKIvfStored(idx, queries,
        col("embedding"), col("vec_id"), k = 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    Similarity.appendToIvfIndex(idx, emb.filter(col("vec_id") % 3 === 1),
      col("embedding"), col("vec_id"))
    val post = Similarity.topKIvfStored(idx, queries,
        col("embedding"), col("vec_id"), k = 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    // the appended index serves exactly what a full-corpus build serves
    val full = Similarity.topKIvfWith(emb, col("embedding"), col("vec_id"),
        col("vec_id").isin(11L, 12L), k = 3, nProbe = 2, cents)
      .collect().map(_.toSeq).toSet
    assert(post == full && post.nonEmpty, s"appended IVF diverged: $post vs $full")
    // and the append genuinely changed what the index serves (the delta
    // third contains nearer neighbors for at least one of the queries)
    assert(pre != post, "append was a no-op: delta vectors never surfaced")
    graft.sources.Tables.deleteRecursive(idx)
  }

  test("stored IVFPQ index: pruned scan, exact re-ranked cosines, recall floor") {
    import graft.operators.{Dedup, Similarity}
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(emb, col("embedding"), col("vec_id"),
      Similarity.firstNCentroids(emb, col("embedding"), col("vec_id"), 8), idx)
    val queries = emb.filter(col("vec_id").isin(11L, 12L))
    val got = Similarity.topKIvfPqStored(idx, queries,
      col("embedding"), col("vec_id"), k = 3, nProbe = 1, shortlist = 10)
    val rows = got.collect()
    assert(rows.nonEmpty && rows.length <= 6)
    // the cos column is the EXACT cosine (re-rank tier), not the ADC
    // approximation: recompute from raw vectors for every returned pair
    val raw = emb.select(col("vec_id"), Dedup.asDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    rows.foreach { r =>
      val exact = cosine(raw(r.getLong(0)), raw(r.getLong(1)))
      assert(math.abs(r.getDouble(3) - exact) < 1e-6,
        s"cos not exact for ${r.getLong(0)}->${r.getLong(1)}")
    }
    // recall floor vs EXACT ranking within the same probed lists
    // (topKIvfWith: identical probe restriction, full-dim cosines): at
    // least one true-in-regime top-3 neighbor per query survives the
    // code-level shortlist. Comparing against global brute force would
    // conflate IVF probe loss (expected at nProbe=1) with ADC loss.
    val exact3 = Similarity.topKIvfWith(emb, col("embedding"), col("vec_id"),
        col("vec_id").isin(11L, 12L), k = 3, nProbe = 1,
        Similarity.firstNCentroids(emb, col("embedding"), col("vec_id"), 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val gotBy = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    gotBy.foreach { case (qid, pairs) =>
      assert(exact3(qid).map(_._2).toSet.intersect(pairs.map(_._2).toSet).nonEmpty,
        s"query $qid: no true top-3 neighbor survived IVFPQ")
    }
    // pruning pin: nProbe=1 with 2 queries reads at most 2 of the 8
    // cid partitions
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pinned = Similarity.topKIvfPqStored(idx, queries,
        col("embedding"), col("vec_id"), k = 3, nProbe = 1, shortlist = 10)
      pinned.count()
      val scan = pinned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("vectors")) => f
      }.get
      assert(scan.metadata("PartitionFilters").contains("cid"),
        s"no partition filter: ${scan.metadata("PartitionFilters")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.sources.Tables.deleteRecursive(idx)
    }
  }

  test("tfidf prefix filter: candidates well under the Σ df² bound, output unchanged") {
    import spark.implicits._
    import graft.operators.Similarity
    // stopword-heavy corpus: every doc shares the hot terms 'the'/'of'
    // (df = n — the regime where an unfiltered posting join is n²),
    // while rare terms make docs pairwise dissimilar except one planted
    // near-identical pair
    val n = 60
    val terms = (0 until n).flatMap { d =>
      val rare =
        if (d == 1) Seq(s"r0_a", s"r0_b", s"r0_c") // doc 1 copies doc 0's rare terms
        else Seq(s"r${d}_a", s"r${d}_b", s"r${d}_c")
      (Seq("the", "of") ++ rare).map(t => (d.toLong, t))
    }.toDF("doc_id", "t")
    // keep the full vocabulary (ppm cap off): the PREFIX filter alone
    // must control the candidate join
    val cand = Similarity.tfidfCosineCandidates(terms, threshold = 0.5, maxDfPpm = 1000000L)
      .count()
    val sumDf2 = (2L * n * n + 3L * n * 4) / 2 // Σ df²/2: two df=n terms + 3n df≈1..2 rare terms
    assert(cand < sumDf2 / 10,
      s"prefix filter ineffective: $cand candidates vs Σdf²/2 ≈ $sumDf2")
    // force the prefix strategy: auto's Σ df² stats pick would route
    // this small fixture to the direct join and leave the prefix
    // verify path untested
    val out = Similarity.tfidfCosinePairs(terms, threshold = 0.5,
        maxDfPpm = 1000000L, strategy = "prefix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the unfiltered all-pairs formulation (the pre-round-5 plan and the
    // oracle's SQL shape) must agree exactly — prefix filtering is a
    // candidate-generation optimization, never a semantics change
    val tok = terms.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val nn = tok.select(col("doc_id")).distinct().agg(count(lit(1)).as("n"))
    val idf = tok.groupBy("t").agg(count(lit(1)).as("df"))
      .join(broadcast(nn), lit(true))
      .select(col("t"), round(log10(col("n").cast("double") / col("df")), 6).as("idf"))
    val w = tok.join(idf, Seq("t"))
      .select(col("doc_id"), col("t"), round(col("tf") * col("idf"), 6).as("w"))
    val nrm = w.groupBy("doc_id")
      .agg(sqrt(sum(expr("CAST(round(w * w, 6) AS DECIMAL(28,12))")).cast("double")).as("nrm"))
    val u = w.join(nrm, Seq("doc_id"))
      .select(col("doc_id"), col("t"), round(col("w") / col("nrm"), 6).as("u"))
    val exp = u.alias("a").join(u.alias("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(round(a.u * b.u, 6) AS DECIMAL(28,12))").as("p"))
      .groupBy("doc_a", "doc_b")
      .agg(round(sum(col("p")).cast("double"), 6).as("cos"))
      .filter(col("cos") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == exp && out.exists { case (a, b, _) => a == 0L && b == 1L },
      s"prefix-filtered output diverged: filtered=$out allpairs=$exp")
    // auto must route THROUGH the prefix path when Σ df² exceeds the
    // budget, and still produce the identical result
    val auto = Similarity.tfidfCosinePairs(terms, threshold = 0.5,
        maxDfPpm = 1000000L, strategy = "auto", directRowBudget = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == exp, s"auto(budget=100) diverged: $auto vs $exp")
  }

  test("kaplanMeier: hand-computed curve; no global window over the duration domain") {
    import spark.implicits._
    import graft.operators.Stats
    // 5 subjects: deaths at t=1,2,4, censored at t=1,3. S(1)=4/5,
    // S(2)=4/5·2/3, t=4 kills everyone remaining → survival 0
    val subj = Seq((1L, false), (1L, true), (2L, false), (3L, true), (4L, false))
      .toDF("dur", "cen")
    val km = Stats.kaplanMeier(subj, col("dur"), col("cen"))
    val rows = km.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set((1L, 5L, 1L, 0.8), (2L, 3L, 1L, 0.533333),
      (4L, 1L, 1L, 0.0)), s"KM curve wrong: $rows")
    // scale pin (VERDICT r5): the running sums must be bucketed — any
    // WindowExec with EMPTY partitioning may only run over the
    // per-bucket offset table (subtree aggregates by __part; ≤
    // numShufflePartitions rows by construction), never the raw domain.
    // AQE wraps finalized subtrees inside query stages where collect
    // can't see them — the pin runs with AQE off (plan shape is
    // planning-time and AQE-independent, the stored-IVF precedent).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pinned = Stats.kaplanMeier(subj, col("dur"), col("cen"))
      val unpartitioned = pinned.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.nonEmpty, "expected bounded offset windows in plan")
      unpartitioned.foreach { w =>
        assert(w.child.toString().contains("__part"),
          s"global window over non-bucketed input:\n$w")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // empty input: schema-stable empty result, no job failure
    assert(Stats.kaplanMeier(subj.filter(lit(false)), col("dur"), col("cen"))
      .collect().isEmpty)
  }

  test("stored tfidf index: serve equals the in-memory prefix form") {
    import graft.operators.Similarity
    val terms = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.ShingleGenerator.shingles(col("text"), 3).as("t"))
    val idx = java.nio.file.Files.createTempDirectory("graft_tfidf").toString
    Similarity.writeTfidfIndex(terms, idx)
    // BOTH stored strategies must equal the in-memory prefix form:
    // stored serving (and the direct/prefix pick) is a serving-layer
    // change, never a semantics change
    val storedDirect = Similarity.tfidfCosinePairsStored(spark, idx,
        threshold = 0.3, strategy = "direct")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val storedPrefix = Similarity.tfidfCosinePairsStored(spark, idx,
        threshold = 0.3, strategy = "prefix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = Similarity.tfidfCosinePairs(terms, threshold = 0.3,
        strategy = "prefix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(storedDirect == mem && storedPrefix == mem && mem.nonEmpty,
      s"stored tfidf diverged: direct=${storedDirect.size} prefix=${storedPrefix.size} mem=${mem.size}")
    // the stored postings carry rem (build-time suffix mass): serving
    // must not re-run the per-doc windows — no WindowExec in either plan
    Seq("direct", "prefix").foreach { st =>
      val plan = Similarity.tfidfCosinePairsStored(spark, idx,
          threshold = 0.3, strategy = st)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"),
        s"stored tfidf serve ($st) re-computes windows:\n$plan")
    }
    graft.sources.Tables.deleteRecursive(idx)
  }

  test("PQ-ADC plan: codebook and LUT broadcast, corpus never sort-merge joins") {
    val df = graft.operators.Similarity.topKPqAdc(
      Tables.table(spark, sf, "embeddings"), col("embedding"), col("vec_id"),
      col("vec_id") % 50 === 0, m = 8, subDim = 8, nCodes = 8, k = 5)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = flattenPlan(plan).map(_.nodeName)
    // encode join (sub × codebook) and probe join (codes × LUT) must
    // both broadcast the small side — at corpus scale the vector table
    // is the big side and must never enter a sort-merge exchange
    assert(nodes.count(_.startsWith("BroadcastHashJoin")) >= 2, nodes.mkString(","))
    assert(!nodes.exists(_.startsWith("SortMergeJoin")), nodes.mkString(","))
  }

  test("segment dedup plan: distinct-doc counting partial-aggregates map-side") {
    val df = graft.operators.CorpusOps.segmentDedup(
      Tables.table(spark, sf, "documents"), col("text"), col("doc_id"), 5, 3)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val flat = flattenPlan(plan)
    // the (seg, doc) distinct + count pipeline must be hash aggregates
    // with partial modes, and the seg-count join back must be an
    // equi-join — never a nested loop over the segment space
    assert(flat.map(_.nodeName).count(_.contains("HashAggregate")) >= 3)
    assert(!flat.map(_.nodeName).exists(n =>
      n.startsWith("CartesianProduct") || n.startsWith("BroadcastNestedLoopJoin")))
  }

  test("dbscan radius join plan: grid-cell equi-join, never a point cross product") {
    import graft.operators.Spatial
    import spark.implicits._
    // 400 deterministic points in [0,1)² — enough for real cell packing
    val pts = (0L until 400L).map { i =>
      (i, (i * 2654435761L % 4294967296L).toDouble / 4294967296L,
        ((i + 7) * 2654435761L % 4294967296L).toDouble / 4294967296L)
    }.toDF("pid", "x", "y")
    val pairs = Spatial.radiusSelfJoin(pts, col("pid"), col("x"), col("y"), 0.05)
    pairs.count()
    val plan = pairs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = flattenPlan(plan).map(_.nodeName)
    // the 3×3 cell probe must land as an EQUI hash/merge join on the
    // cell key — a cartesian or nested-loop pair product here is the
    // all-pairs blowup the grid exists to prevent
    assert(!nodes.exists(n =>
      n.startsWith("CartesianProduct") || n.startsWith("BroadcastNestedLoopJoin")),
      nodes.mkString(","))
    assert(nodes.exists(n => n.contains("HashJoin") || n.startsWith("SortMergeJoin")),
      nodes.mkString(","))
  }

  test("winnowing overlap join plan: df-capped fp equi-join, no window, no cross") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, sf, "documents")
    val df = Dedup.winnowingOverlapJoin(docs, col("text"), col("doc_id"),
      maxFpDf = Some(50))
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = flattenPlan(plan).map(_.nodeName)
    // fingerprint selection is an aggregate pipeline (min-hash window
    // selection is positional arithmetic, not a WindowExec), the hot-fp
    // cut an anti equi-join, the pair join an fp equi-join: nothing in
    // the tree may window-sort the corpus or cross-product the pairs
    assert(!nodes.exists(_.startsWith("Window")), nodes.mkString(","))
    assert(!nodes.exists(n =>
      n.startsWith("CartesianProduct") || n.startsWith("BroadcastNestedLoopJoin")),
      nodes.mkString(","))
    // the df cut itself runs inside the operator's fingerprint
    // checkpoint (its plan is a LogicalRDD leaf in the final tree), so
    // assert the LeftAnti equi-join on the capped STAGE's own plan
    val staged = Dedup.winnowingCappedFingerprints(
      graft.operators.CorpusOps.winnowingFingerprints(
        docs, col("text"), col("doc_id"), 3, 4)
        .select(col("doc_id"), col("fp")).distinct(),
      Some(50))
    staged.count()
    val stagePlan = staged.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val antis = flattenPlan(stagePlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antis.nonEmpty, s"expected the maxFpDf anti-join:\n$stagePlan")
    assert(!flattenPlan(stagePlan).map(_.nodeName).exists(n =>
      n.startsWith("CartesianProduct") || n.startsWith("BroadcastNestedLoopJoin")),
      "df-cut stage must stay an equi anti-join")
  }
}
