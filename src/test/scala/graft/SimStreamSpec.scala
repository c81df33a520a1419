package graft

import graft.datagen.DataGen
import graft.sim.Simulation
import graft.sources.Tables
import graft.stats.Measure
import org.apache.spark.sql.functions._

class SimStreamSpec extends SparkSpec {

  test("datagen: zipf histogram is monotone-decreasing and sums to rows") {
    val hist = DataGen.zipfCounts(spark, 10000, 100, 0.9)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.map(_._2).sum == 10000)
    // counts non-increasing in key (Zipf) modulo the ±1 quantile-
    // bucketing rounding wiggle (the reference's per-row inverse-CDF
    // sweep rounds identically)
    assert(hist.map(_._2).sliding(2).forall(p => p.head >= p.last - 1))
    // hottest key multiplicity ≈ closed-form predictor (G6)
    val predicted = DataGen.maxZipfRepeats(100, 0.9, 10000)
    assert(math.abs(hist.head._2 - predicted) / predicted < 0.01)
  }

  test("datagen: uniqueShuffled is a permutation of 0..n-1") {
    val keys = DataGen.uniqueShuffled(spark, 101).select("key")
      .collect().map(_.getLong(0)).toSet
    assert(keys == (0L until 101L).toSet)
  }

  test("datagen: uniqueShuffled stays a permutation when n is a multiple of the stride") {
    // n = the first stride prime itself: id*1000003 % n would collapse
    // to all-zero keys; the guard must fall through to the next prime
    val n = 1000003L
    val distinct = DataGen.uniqueShuffled(spark, n)
      .agg(countDistinct(col("key")).as("d"), min(col("key")), max(col("key")))
      .head()
    assert(distinct.getLong(0) == n && distinct.getLong(1) == 0L
      && distinct.getLong(2) == n - 1)
  }

  test("datagen: G5 writes the requested number of part files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_g5").toString
    DataGen.writeCsvParts(DataGen.uniform(spark, 1000, 10), s"$tmp/t", 4)
    val parts = new java.io.File(s"$tmp/t").listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 4)
    Tables.deleteRecursive(tmp)
  }

  test("Misra-Gries heavy hitters: exact result, order-independent, superset guarantee") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    // skewed stream: key 0 x 600, key 1 x 250, keys 2..101 x 3 each
    val rows = Seq.fill(600)(0L) ++ Seq.fill(250)(1L) ++
      (2L to 101L).flatMap(k => Seq.fill(3)(k))
    val n = rows.size
    val k = 8 // threshold n/8 = 143.75 -> exactly {0, 1}
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * k > n).toMap
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("key").repartition(parts)
      val got = HeavyHitters.heavyHitters(df, col("key"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exact, s"parts=$parts: $got != $exact")
      // candidate superset holds even though 102 keys fold into 8 counters
      val cands = HeavyHitters.candidates(df, col("key"), k)
        .collect().map(_.getLong(0)).toSet
      assert(exact.keySet.subsetOf(cands))
      assert(cands.size <= k)
    }
  }

  test("stats listener captures task durations and shuffle records") {
    val li = Tables.table(spark, sf, "lineitem")
    val (cnt, stats) = Measure.measured(spark) {
      li.groupBy("l_returnflag").count().count()
    }
    assert(cnt == 3)
    assert(stats.taskDurationsMs.nonEmpty)
    assert(stats.shuffleRecordsWritten > 0) // partial agg rows shuffled
    assert(stats.wallClockSec > 0)
    assert(stats.taskTimeMaxMs >= stats.taskTimeMedianMs)
  }

  test("simulation step emits a schema-conformant CSV row") {
    val args = Simulation.Args(rows = 5000, zipfSkew = Some(0.7),
      workDir = java.nio.file.Files.createTempDirectory("graft_sim_t").toString)
    val row = Simulation.step(spark, args, 5000)
    val header = Simulation.header.split(",")
    val cells = row.split(",")
    assert(cells.length == header.length, s"${cells.length} != ${header.length}")
    assert(cells(0) == "5000" && cells(1) == "500")
    // wall-clock columns are positive
    val tRep = cells(header.indexOf("t_repartition")).toDouble
    val tSm = cells(header.indexOf("t_merge")).toDouble
    assert(tRep > 0 && tSm > 0)
    // t_merge is the sum of the five stage slots (reference semantics)
    val slots = Seq("t_merge_1_1", "t_merge_1_2", "t_merge_2_1", "t_merge_2_2", "t_merge_3")
      .map(c => cells(header.indexOf(c)).toDouble)
    assert(math.abs(slots.sum - tSm) < 0.01)
    assert(header.length == 33)
  }

  test("simulation run end-to-end: CLI args -> results CSV on disk") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sim_cli")
    val out = s"$tmp/results.csv"
    val lines = Simulation.run(spark, Simulation.parse(Array(
      "--rows", "2000", "--steps", "2", "--increment", "1000",
      "--unique-values", "200", "--reducers", "4", "--zipf-skew", "0.5",
      "--threads", "2", "--out", out, "--work-dir", s"$tmp/work")))
    assert(lines.size == 2)
    val csv = scala.io.Source.fromFile(out).getLines().toSeq
    assert(csv.head == Simulation.header)
    assert(csv.size == 3)
    // rows column advances by the increment; every row parses to the
    // full 33-cell schema
    val r = csv.tail.map(_.split(",", -1))
    assert(r.forall(_.length == Simulation.header.split(",").length))
    assert(r.map(_.head) == Seq("2000", "3000"))
    Tables.deleteRecursive(tmp.toString)
  }

  test("streaming aggregation equals its batch twin") {
    val streamed = graft.streaming.Streaming.dedupState(spark, sf)
      .orderBy("user_id", "event_type").collect().map(_.toSeq)
    val batch = Tables.table(spark, sf, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n"))
      .orderBy("user_id", "event_type").collect().map(_.toSeq)
    assert(streamed.sameElements(batch))
  }

  test("append mode + watermark: emits finalized windows, evicts state") {
    val (df, progress) =
      graft.streaming.Streaming.windowedAggAppendWithProgress(spark, sf)
    val appended = df.collect().map(_.toSeq).toSet
    // batch twin restricted to windows finalized by the final watermark
    val ev = Tables.table(spark, sf, "events").withColumn("tus", expr("ts div 1000"))
    val wm = ev.agg(max(col("tus"))).head().getLong(0) - 1800L * 1000 * 1000
    val batch = ev
      .groupBy((col("tus") / 3600000000L).cast("long").as("wh"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select((col("wh") * 3600000000L).as("window_start_us"), col("event_type"),
        col("n"), col("total"))
      .filter(col("window_start_us") + 3600000000L <= wm)
      .collect().map(_.toSeq).toSet
    assert(appended == batch)
    // the watermark held back the trailing (unfinalized) windows
    val all = ev.select((col("tus") / 3600000000L).cast("long"), col("event_type"))
      .distinct().count()
    assert(appended.size < all, "no window was held back — watermark inert")
    // state eviction really happened: the state store shrank during the
    // run (rows removed) and never accumulated every window
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.map(_.numRowsRemoved).sum > 0, "no state rows evicted")
    assert(stateOps.map(_.numRowsTotal).max < all,
      "state accumulated all windows — not bounded")
  }

  test("dropDuplicatesWithinWatermark: exact passthrough on unique keys, bounded state") {
    val (df, progress) =
      graft.streaming.Streaming.dedupWithinWatermarkWithProgress(spark, sf)
    val total = Tables.table(spark, sf, "events").count()
    assert(df.count() == total) // event_id unique -> every row emitted once
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.map(_.numRowsRemoved).sum > 0, "no dedup state evicted")
    assert(stateOps.map(_.numRowsTotal).max < total,
      "dedup state accumulated every key — watermark inert")
  }

  test("stream-stream interval join: equals batch join, evicts both-side state") {
    val (df, progress) =
      graft.streaming.Streaming.streamStreamIntervalJoinWithProgress(spark, sf)
    val got = df.collect().map(_.toSeq).toSet
    val ev = Tables.table(spark, sf, "events").withColumn("tus", expr("ts div 1000"))
    val l = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_event"), col("tus").as("lt"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("ru"), col("event_id").as("click_event"), col("tus").as("rt"))
    val batch = l.join(r, col("user_id") === col("ru") &&
        col("rt") >= col("lt") && col("rt") <= col("lt") + 86400000000L)
      .select(col("user_id"), col("view_event"), col("click_event"),
        (col("rt") - col("lt")).as("delta_us"))
      .collect().map(_.toSeq).toSet
    assert(got == batch && got.nonEmpty)
    // the event-time bound + both-side watermarks must evict buffered
    // rows — without eviction, stream-stream join state grows forever
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.map(_.numRowsRemoved).sum > 0, "no join state evicted")
    val buffered = ev.filter(col("event_type").isin("view", "click")).count()
    assert(stateOps.map(_.numRowsTotal).max < buffered,
      "join state accumulated every row — watermark inert")
  }

  test("late data is dropped by the watermark, not merged into closed windows") {
    val (df, progress) =
      graft.streaming.Streaming.windowedAggLateDropWithProgress(spark, sf)
    // the replayed earliest event (id -9) must NOT appear in any window:
    // result equals the append aggregation over the real events alone
    val clean = graft.streaming.Streaming.windowedAggAppend(spark, sf)
      .collect().map(_.toSeq).toSet
    val got = df.collect().map(_.toSeq).toSet
    assert(got == clean && got.nonEmpty)
    // and the drop is observable: the stateful operator counted it
    val dropped = progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1, "late row was not dropped by the watermark")
  }

  test("RocksDB state store produces identical append-mode output") {
    // the 100 TB state backend: HDFS-backed stores keep state on the
    // JVM heap (bounded by executor memory); RocksDB spills to local
    // disk and is the production choice once keyed state outgrows
    // memory. Same query, same emitted set — only the provider differs.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = graft.streaming.Streaming.windowedAggAppend(spark, sf)
        .collect().map(_.toSeq).toSet
      spark.conf.unset(key) // default HDFS-backed provider
      val default = graft.streaming.Streaming.windowedAggAppend(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(rocks == default && rocks.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful user counter equals batch per-user counts") {
    val streamed = graft.streaming.Streaming.statefulUserCounter(spark, sf)
      .orderBy("user_id").collect().map(_.toSeq)
    val batch = Tables.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect().map(_.toSeq)
    assert(streamed.sameElements(batch))
  }

  test("timer-based TWS sessionizer emits exactly the fMGWS sessionizer's rows") {
    // two different stateful engines (flatMapGroupsWithState event-time
    // timeout vs transformWithState explicit timers) implementing one
    // emission contract — row-for-row equality, including the stale-
    // timer deletion path (sessions extended across batches must NOT
    // be closed early by a timer armed before the extension)
    val tws = graft.streaming.Streaming.transformWithStateSessions(spark, sf)
      .collect().map(_.toSeq).toSet
    val fmgws = graft.streaming.Streaming.sessionizeCustomState(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(tws == fmgws && tws.nonEmpty,
      s"engines diverged: only-tws=${(tws -- fmgws).take(3)} only-fmgws=${(fmgws -- tws).take(3)}")
  }

  test("streamed KMV sketch converges to the batch sketch under slicing") {
    import graft.functions.KmvAgg.kmv
    // min-wise state is lossless: after all 3 slices the per-type
    // estimate must EQUAL the batch KmvAgg estimate; and because U₍ₖ₎
    // only shrinks, the per-type max over emitted rows is the final one
    val streamed = graft.streaming.Streaming.streamKmvDistinct(spark, sf, arrivalSlices = 3)
    val last = streamed.groupBy("event_type")
      .agg(max(struct(col("sketch_size"), col("est_distinct"))).as("s"))
      .select(col("event_type"), col("s.est_distinct"), col("s.sketch_size"))
      .orderBy("event_type").collect().map(_.toSeq)
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10).cast("long")
    val batch = Tables.table(spark, sf, "events")
      .select(col("event_type"), h.as("h"))
      .groupBy("event_type").agg(kmv(col("h"), 64).as("mins"))
      .select(col("event_type"),
        when(size(col("mins")) < 64, size(col("mins")).cast("long"))
          .otherwise(expr("17732923532771328 div element_at(mins, 64)")).as("est_distinct"),
        size(col("mins")).cast("long").as("sketch_size"))
      .orderBy("event_type").collect().map(_.toSeq)
    assert(last.sameElements(batch))
  }

  test("transformWithState accumulates across micro-batches to the batch truth") {
    // 3-slice arrival: users whose events span slices emit one Update
    // row per active batch; the accumulators are monotone, so the
    // max-n_events row per user is the final state — must equal the
    // batch aggregate exactly (integer cents, so no float drift)
    val streamed = graft.streaming.Streaming
      .transformWithStateStats(spark, sf, arrivalSlices = 3)
    val last = streamed.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_cents"), col("max_event_id"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.sum_cents"), col("s.max_event_id"))
      .orderBy("user_id").collect().map(_.toSeq)
    val batch = Tables.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
        max(col("event_id")).as("max_event_id"))
      .orderBy("user_id").collect().map(_.toSeq)
    assert(last.sameElements(batch))
    // multi-batch coverage: at least one user must have emitted from
    // more than one micro-batch (else the fixture degenerated)
    assert(streamed.groupBy("user_id").count().filter(col("count") > 1).count() > 0)
  }

  test("incremental agg maintenance is slicing-invariant and exact") {
    // the maintained aggregate must be BIT-equal however the changelog
    // is sliced into batches (1 batch = degenerate full recompute;
    // 6 batches = six retract/apply rounds over decimal state)
    val one = graft.streaming.Streaming.streamIncrementalAgg(spark, sf, nFiles = 1)
      .orderBy("attr").collect().map(_.toSeq)
    val six = graft.streaming.Streaming.streamIncrementalAgg(spark, sf, nFiles = 6)
      .orderBy("attr").collect().map(_.toSeq)
    assert(one.sameElements(six))
    assert(one.nonEmpty)
  }

  test("chained window rollup: two state stores, slicing-invariant emitted set") {
    // SPARK-40925 multi-stateful: hourly agg feeds a 4-hour agg in ONE
    // query — the progress must show BOTH stateful operators
    val (df, progress) = graft.streaming.Streaming
      .chainedWindowAggWithProgress(spark, sf, nFiles = 4)
    val four = df.orderBy("window_start_us", "event_type").collect().map(_.toSeq)
    assert(four.nonEmpty)
    assert(progress.exists(_.stateOperators.length == 2),
      "expected two stateful operators in one streaming query")
    // the emitted 4-hour set is a pure function of the data, not of how
    // the arrival slices into micro-batches
    val two = graft.streaming.Streaming
      .chainedWindowAggWithProgress(spark, sf, nFiles = 2)._1
      .orderBy("window_start_us", "event_type").collect().map(_.toSeq)
    assert(four.sameElements(two))
    // internal consistency: a 4h window aggregates 1..4 hourly rows
    assert(df.filter(col("n_hours") < 1 || col("n_hours") > 4).count() == 0)
  }

  /** Run `body` and require it to leave ZERO new persistent RDDs: a
    * long-lived ingest stream must not grow the block manager per
    * micro-batch (VERDICT r11 #3) — walk rounds are freed by the walk,
    * per-batch results by the gate once the sink consumed them. */
  private def noNewPersistentRdds[A](body: => A): A = {
    val residentBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- residentBefore
    assert(leaked.isEmpty,
      s"ingest drain leaked ${leaked.size} persistent RDDs into the block manager")
    out
  }

  test("streaming LSH ingest gate equals the batch incremental dedup, any slicing") {
    import org.apache.spark.sql.functions._
    def gate() = noNewPersistentRdds(graft.streaming.Streaming.streamLshIngest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val got = gate()
    // the distributed gate tier local-checkpoints its verdicts per batch
    val distributed = Graft.withConfs(spark,
      graft.operators.Tier.DedupGateBytes.key -> "0")(gate())
    assert(distributed == got)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expect = graft.operators.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    // arrival dir really is multi-slice → the drain ran multiple batches
    val dir = new java.io.File(
      graft.streaming.Streaming.documentsArrivalDir(spark, sf))
    assert(dir.listFiles().count(_.getName.startsWith("slice_")) == 4)
  }

  test("streaming graph-ANN ingest gate equals the batch beam walk, any slicing") {
    import org.apache.spark.sql.functions._
    val got = noNewPersistentRdds(graft.streaming.Streaming.streamAnnGraphIngest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet)
    // the batch twin: the SAME stored base graph served over all delta
    // vectors at once — integer-micros walk decisions make the streamed
    // sink independent of batch slicing and arrival order
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = graft.streaming.Streaming.annGraphIngestIndex(spark, sf)
    val expect = graft.operators.Similarity.beamSearchKnnStored(idx,
        emb.filter(col("vec_id") % 3 === 1), col("embedding"), col("vec_id"),
        k = 3, nProbe = 4, beamWidth = 16, rounds = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == expect)
    // arrival dir really is multi-slice → the drain ran multiple batches
    val dir = new java.io.File(
      graft.streaming.Streaming.embeddingsArrivalDir(spark, sf))
    assert(dir.listFiles().count(_.getName.startsWith("slice_")) == 2)
  }

  test("streaming IVF ingest gate answers every delta vector and frees each batch") {
    val got = noNewPersistentRdds(
      graft.streaming.Streaming.streamAnnIngest(spark, sf).collect())
    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 3 === 1).count()
    assert(got.map(_.getLong(0)).toSet.size == delta)
  }

  test("stampedFixture: one build per source version; failed or self-marked builds never serve") {
    import java.io.File
    val sfDir = java.nio.file.Files.createTempDirectory("graft_fixture_src").toFile
    val src = new File(sfDir, "t.parquet")
    java.nio.file.Files.write(src.toPath, Array[Byte](1, 2, 3))
    val tag = s"graft_fixture_spec_${System.nanoTime()}_"
    var builds = 0
    val ok: File => Unit = { d =>
      assert(!d.exists(), "a build must start from an absent dir")
      builds += 1
      assert(d.mkdirs() && new File(d, "part").createNewFile())
    }
    def fixture(build: File => Unit): String =
      Tables.stampedFixture(sfDir.getPath, "t", key => s"$tag$key")(build)
    try {
      val a = fixture(ok)
      assert(fixture(ok) == a && builds == 1)
      assert(new File(a).getName.matches(s"$tag[0-9a-f]{12}"))
      // a working copy carries the data but not the ready marker
      val copy = Tables.scratchCopy(s"${tag}copy", a)
      assert(new File(copy, "part").exists() && new File(copy).list().toSeq == Seq("part"))
      // a new mtime, then a new length at the old mtime, each key a new dir
      val mtime = src.lastModified()
      assert(src.setLastModified(mtime - 60000L))
      val b = fixture(ok)
      assert(b != a && builds == 2)
      java.nio.file.Files.write(src.toPath, Array[Byte](1, 2, 3, 4))
      assert(src.setLastModified(mtime))
      val c = fixture(ok)
      assert(c != a && c != b && builds == 3)
      // a throwing build leaves no marker and no dir: the next call rebuilds
      assert(src.setLastModified(mtime + 60000L))
      var seen: File = null
      val boom = intercept[RuntimeException](fixture { d =>
        seen = d; assert(d.mkdirs() && new File(d, "half").createNewFile()); sys.error("boom")
      })
      assert(boom.getMessage == "boom" && !seen.exists())
      val d = fixture(ok)
      assert(d == seen.getPath && builds == 4)
      // a build that brings its own marker is rejected, and not served next time
      assert(src.setLastModified(mtime + 120000L))
      val marked = intercept[IllegalArgumentException](fixture { d =>
        assert(d.mkdirs() && new File(d, "_GRAFT_READY").createNewFile())
      })
      assert(marked.getMessage.contains("left its own"))
      fixture(ok)
      assert(builds == 5)
      // a missing source fails fast and names its path
      val missing = intercept[IllegalArgumentException](
        Tables.stampedFixture(sfDir.getPath, "absent", key => s"$tag$key")(ok))
      assert(missing.getMessage.contains(s"${sfDir.getPath}/absent.parquet"))
      assert(builds == 5)
    } finally {
      Tables.deleteRecursive(sfDir.getPath)
      Option(new File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(tag)).foreach(f => Tables.deleteRecursive(f.getPath))
    }
  }

  test("state recovery renames the numerically newest state_v<N>; swap replaces the state") {
    import java.io.File
    import graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("graft_state_swap").toFile
    try {
      for (v <- Seq(2, 10)) {
        val dir = new File(root, s"state_v$v")
        assert(dir.mkdirs() && new File(dir, s"from_v$v").createNewFile())
      }
      // "state_v2" > "state_v10" by name: only a numeric choice recovers v10
      Streaming.recoverState(root.getPath, 11L)
      assert(new File(root, "state/from_v10").exists())
      assert(new File(root, "state_v2").exists() && !new File(root, "state_v10").exists())
      // a live state is left in place
      Streaming.recoverState(root.getPath, 11L)
      assert(new File(root, "state/from_v10").exists() && new File(root, "state_v2").exists())
      Streaming.swapState(root.getPath, 11L) { next =>
        assert(new File(next).mkdirs() && new File(next, "from_v11").createNewFile())
      }
      assert(new File(root, "state").list().toSeq == Seq("from_v11"))
      assert(!new File(root, "state_v11").exists())
    } finally Tables.deleteRecursive(root.getPath)
  }

  test("AvailableNow run 2 processes ONLY the delta slice, total is exact") {
    val (agg, run1, run2) =
      graft.streaming.Streaming.streamAvailableNowWithStats(spark, sf)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val total = ev.count()
    val delta = ev.filter(org.apache.spark.sql.functions.col("event_id") % 3 === 2).count()
    assert(run1 == total - delta, s"run1=$run1 expected ${total - delta}")
    assert(run2 == delta, s"run2=$run2 expected $delta")
    // exactly-once across the checkpoint restart: sink total == input total
    assert(agg.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == total)
  }
}
