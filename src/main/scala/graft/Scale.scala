package graft

import graft.operators.{CorpusOps, Dedup, Graph, Iterate, Similarity}
import graft.sources.Tables
import graft.stats.Measure
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heavy-arm scale probes (docs/EXPERIMENTS.md). Each family generates a
  * deterministic synthetic input entirely inside the engine
  * (`spark.range` + xxhash64 — no data files, no driver-side
  * materialization), materializes it outside the timed region, then
  * times its operators. Every timed op prints one JSON line
  * `{"op", <family sizes>, "sec", "rows", <task counters>}`; planted
  * inputs with a known answer add `{"op":"<x>_check", …, "ok"}` lines.
  *
  * Usage (cores from `SPARK_GRAFT_CPUS`, session overrides from
  * `SPARK_GRAFT_CONF`, as for every main):
  * {{{
  * runMain graft.Scale graph <nEdges=1000000> [nNodesDivisor=10] [zipfSkew=0] [ops=all|pagerank,bfs,cc,inccc,lpa,kcore,sssp]
  * runMain graft.Scale dedup <nDocs=1000000> [tokensPerDoc=60] [plantEvery=20] [mode=spans|lsh|ingest|stored|segments|winnow|winnowhot]
  *   (`ingest` leaves its stored index in java.io.tmpdir for ONE later `stored` run at the same sizes, which deletes it)
  * runMain graft.Scale tfidf <nDocs=200000> [tokensPerDoc=60]
  * runMain graft.Scale ann <nVecs=200000> [dims=64] [nQueries=100] [nClusters=256] [ops=all|brute,hamming,ivf,graph,filtered,mmr] [refineRounds=1] [bridge=6] [refineMode=rng|rng:<alpha>|topk] [entriesPerRegion=1] [appendShift=0]
  * }}}
  */
object Scale {

  /** Positional arguments after the family name, with their defaults. */
  final case class Args(a: Seq[String]) {
    def str(i: Int, d: String): String = a.lift(i).getOrElse(d)
    def long(i: Int, d: Long): Long = a.lift(i).map(_.toLong).getOrElse(d)
    def int(i: Int, d: Int): Int = a.lift(i).map(_.toInt).getOrElse(d)
    def double(i: Int, d: Double): Double = a.lift(i).map(_.toDouble).getOrElse(d)
    /** The op filter at position i: "all" or a comma list. */
    def ops(i: Int): String => Boolean = {
      val o = str(i, "all")
      op => o == "all" || o.split(",").contains(op)
    }
  }

  /** Times one op under a fresh [[graft.stats.StatsListener]] and prints
    * its line; `sizes` are the family's input-size JSON fields. */
  final class Timer(spark: SparkSession, sizes: String) {
    def apply(op: String)(body: => Long): Long = {
      val (rows, st) = Measure.measured(spark)(body)
      emit(f""""op":"$op",$sizes,"sec":${st.wallClockSec}%.2f,"rows":$rows,${st.countersJson}""")
      rows
    }
  }

  /** Print one JSON line from its comma-joined fields. */
  def emit(fields: String): Unit = {
    println(s"{$fields}")
    Console.out.flush()
  }

  /** A planted-answer self-check line. With `nonZero`, an expected 0
    * fails too: a count whose plant did not take would compare 0 with 0. */
  def check(op: String, expected: Long, got: Long, nonZero: Boolean = false): Unit =
    emit(s""""op":"$op","expected":$expected,"got":$got,""" +
      s""""ok":${expected == got && (!nonZero || expected > 0)}""")

  def main(args: Array[String]): Unit = {
    val family: (SparkSession, Args) => Unit = args.headOption match {
      case Some("graph") => graph
      case Some("dedup") => dedup
      case Some("tfidf") => tfidf
      case Some("ann") => ann
      case other => throw new IllegalArgumentException(
        s"unknown family ${other.getOrElse("(none)")}: usage graft.Scale graph|dedup|tfidf|ann args…")
    }
    val spark = Graft.local()
    try family(spark, Args(args.toSeq.drop(1))) finally spark.stop()
  }

  /** Iterative graph operators — PageRank, BFS, connected components
    * (full and incremental), label propagation, k-core and weighted SSSP
    * — over a synthetic directed multigraph. With zipfSkew > 0 the
    * destination degrees follow Zipf(s) (the G3 quantile sweep): node 0
    * is a hub receiving ~1/H(n,s) of ALL edges. */
  def graph(spark: SparkSession, a: Args): Unit = {
    val nEdges = a.long(0, 1000000L)
    val nNodes = math.max(2L, nEdges / a.long(1, 10L))
    val skew = a.double(2, 0.0)
    val want = a.ops(3)
    // src is a block sweep (every node appears as a source, out-degree
    // nEdges/nNodes), dst an xxhash64 scatter. A plain multiplicative
    // hash mod nNodes would NOT work: for src = id % nNodes the lifts
    // id + j·nNodes all map to the same dst ((K·nNodes) mod nNodes = 0)
    // and the graph degenerates into a permutation — xxhash64 doesn't
    // factor through id mod nNodes
    val edgePlan =
      if (skew > 0)
        // Zipf in-degrees: dst = G3 quantile-sweep key (hub = node 0),
        // src = hash scatter of the row id (decorrelated from the
        // key-sorted rid order)
        graft.datagen.DataGen.zipfTable(spark, nEdges, nNodes, skew)
          .select(pmod(xxhash64(col("rid")), lit(nNodes)).as("src"),
            (col("key") - 1).as("dst"))
      else spark.range(nEdges).select(
        (col("id") % nNodes).as("src"),
        pmod(xxhash64(col("id")), lit(nNodes)).as("dst"))
    // the Zipf sweep's window-cumsum + explode is generator cost, not
    // graph cost: materialize before timing
    val (edges, _, _) = Iterate.ckpt(edgePlan)
    val timed = new Timer(spark, s""""edges":$nEdges,"nodes":$nNodes""")

    if (want("pagerank")) timed("pagerank_6") {
      Graph.pageRank(edges, iters = 6, edgesDistinct = false).count()
    }
    if (want("bfs")) timed("bfs_6") {
      val seeds = spark.range(5).select(col("id").as("node"))
      Graph.bfs(edges.union(edges.select(col("dst").as("src"), col("src").as("dst"))),
        seeds, maxHops = 6).count()
    }
    if (want("cc")) timed("connected_components") {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(
        edges.select(col("src").as("a"), col("dst").as("b")))
      val n = labels.count()
      emit(s""""op":"cc_rounds","rounds":$rounds""")
      n
    }
    // incremental CC maintenance: full labels over the corpus-sized
    // graph once (untimed prior state), then a FIXED 2000-edge delta
    // folded in — the contraction rounds see only the contracted delta
    // graph, the standing table pays two hash joins, so across nEdges
    // sweeps the per-delta cost must stay flat-ish while full recompute
    // grows with rounds × edges. Self-check: incremental == full
    // recompute on the union.
    if (want("inccc")) {
      val ccEdges = edges.select(col("src").as("a"), col("dst").as("b"))
      val (labels, _, _) = Iterate.ckpt(Dedup.connectedComponents(ccEdges))
      // delta: fresh nodes past the id range bridging random existing
      // nodes — every edge merges or extends an existing component
      val (delta, _, _) = Iterate.ckpt(
        spark.range(2000L).select(
          (col("id") + nNodes).as("a"),
          pmod(xxhash64(col("id") + 7L), lit(nNodes)).as("b")))
      var inc: DataFrame = null
      timed("cc_incremental_delta2k") {
        inc = Dedup.incrementalConnectedComponents(labels, delta)
          .localCheckpoint(true)
        inc.count()
      }
      var full: DataFrame = null
      timed("cc_full_recompute") {
        full = Dedup.connectedComponents(ccEdges.union(delta))
          .localCheckpoint(true)
        full.count()
      }
      check("inccc_check", 0L,
        inc.except(full).limit(1).count() + full.except(inc).limit(1).count())
    }
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    if (want("lpa")) timed("label_prop_4") {
      Graph.labelPropagation(sym, iters = 4).count()
    }
    // k at HALF the mean symmetrized degree: the uniform multigraph has
    // no dense community, so a mean-degree core peels to EMPTY (a valid
    // fixed point, measured) — half-mean leaves a substantial core
    // while still cascading
    val coreK = math.max(2L, nEdges / nNodes).toInt
    if (want("kcore")) timed(s"kcore_$coreK") {
      Graph.kCore(sym, coreK, iters = 4).count()
    }
    // weighted SSSP: hash-derived weights in [1,100], 5 seed nodes —
    // the frontier-restricted relaxation's settling behavior (round
    // joins shrink as distances stabilize) at edge scale
    if (want("sssp")) timed("sssp_6") {
      val wEdges = sym.withColumn("w",
        pmod(xxhash64(col("src"), col("dst")), lit(100L)) + 1L)
      val seeds = spark.range(5).select(col("id").as("node"))
      Graph.sssp(wEdges, seeds, rounds = 6).count()
    }
  }

  /** Substring-span, exact, near-dup and incremental-ingest dedup over a
    * synthetic corpus with PLANTED duplication whose exact count is known
    * in advance, so each mode both times and self-checks.
    *
    * Corpus: nDocs documents of tokensPerDoc tokens drawn from a 10 k
    * vocabulary by xxhash64(docId · tokensPerDoc + j) — an 8-gram of
    * independent picks has ~10^32 possible values, so cross-doc 8-gram
    * collisions among the random tokens are (for the default sizes)
    * absent and every detected span is a planted one. Every
    * plantEvery-th document is prefixed with one of 50 fixed 16-token
    * boilerplate templates — the licence-header pattern ExactSubstr
    * targets (`spans`: exactly nDocs/plantEvery spans).
    *
    * `lsh`/`winnow`/`winnowhot` plant near-duplicate PAIRS instead (every
    * 2001st document copies its predecessor with the last token
    * replaced — 3-shingle Jaccard 57/59 ≈ 0.966, over the 0.8
    * threshold, while any cross pair shares nothing); `winnowhot` also
    * prefixes EVERY doc with one shared boilerplate, the df² hot key the
    * maxFpDf cut must neutralize. `ingest` builds the MinHash band index
    * once, then pushes a FIXED 2 000-doc delta (every 10th a near-copy)
    * through the cached and the stored gate, and leaves its stored index
    * in java.io.tmpdir for one `stored` run, which re-probes it in a
    * fresh JVM and then deletes it. `segments` runs C4 segment dedup
    * over the `spans` corpus. */
  def dedup(spark: SparkSession, a: Args): Unit = {
    val nDocs = a.long(0, 1000000L)
    val tpd = a.int(1, 60)
    val plantEvery = a.int(2, 20)
    val mode = a.str(3, "spans")
    val timed = new Timer(spark, s""""docs":$nDocs""")
    val idxDir = s"${sys.props("java.io.tmpdir")}/graft_dedup_scale_idx"
    // the fixed 2 000-doc ingest delta: every 10th doc near-copies an
    // ODD-id base doc (odd ids never carry the plantEvery boilerplate
    // prefix — a prefixed source would dilute Jaccard to
    // (tpd−3)/(tpd+15) ≈ 0.76, under the 0.8 gate; last token replaced,
    // so J = (tpd−3)/(tpd−1) ≈ 0.966 at k=3); the rest are fresh bodies
    // seeded past the base id range. Shared by `ingest` and `stored` so
    // fresh-JVM probes hit the identical delta.
    val nDelta = 2000L
    val plantD = 10L
    def deltaPlan: DataFrame = {
      val srcSql =
        s"transform(sequence(0, $tpd - 1), " +
          s"j -> concat('w', pmod(xxhash64((2 * ((id * 97) % ${nDocs / 2}) + 1) * $tpd + j), 10000)))"
      val freshSql =
        s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
          s"j -> concat('w', pmod(xxhash64((id + $nDocs) * $tpd + j), 10000))))"
      spark.range(nDelta).select((col("id") + nDocs).as("doc_id"),
        expr(s"CASE WHEN id % $plantD = 0 " +
          s"THEN concat(concat_ws(' ', slice($srcSql, 1, $tpd - 1)), ' zz9') " +
          s"ELSE $freshSql END").as("text"))
    }

    // `stored`: probe-only passes against an EXISTING stored index from
    // a prior `ingest` run at the same nDocs — the steady-state
    // per-ingest number, uncontaminated by the build's GC/page-cache
    // residue (the build JVM's own post-write pass read 86.6 s where a
    // fresh JVM settles at ~14 s on the same 1 M-doc index). The corpus
    // is never generated here; only the fixed delta is. The index is
    // deleted after the last pass: a corpus-sized index must not outlive
    // the probe it was kept for.
    if (mode == "stored") {
      require(new java.io.File(idxDir).isDirectory,
        s"no stored index at $idxDir: run `graft.Scale dedup $nDocs $tpd $plantEvery ingest` first")
      try {
        val (delta, _, _) = Iterate.ckpt(deltaPlan)
        for (pass <- 1 to 3) {
          val dups = timed(s"ingest_stored_fresh$pass") {
            Dedup.incrementalDedupStored(idxDir, delta, col("text"), col("doc_id")).count()
          }
          check(s"ingest_stored_fresh${pass}_check", nDelta / plantD, dups)
        }
      } finally Tables.deleteRecursive(idxDir)
      return
    }

    // body: tokensPerDoc picks from a 10k vocabulary, seeded by doc id
    val body = expr(
      s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64(id * $tpd + j), 10000))))")
    // 50 boilerplate templates of 16 tokens each, disjoint from the
    // body vocabulary ('bp<t>_<k>' vs 'w<n>') so planted spans never
    // extend into the random tail
    val tmpl = expr(
      s"concat_ws(' ', transform(sequence(0, 15), " +
        s"k -> concat('bp', pmod(id div $plantEvery, 50), '_', k)))")
    val pairEvery = 2001L
    // #{m >= 0 : 2001m + 1 < nDocs} — every complete planted pair
    val expPairs = if (nDocs < 2) 0L else (nDocs - 2) / pairEvery + 1
    val docsPlan =
      if (mode == "lsh" || mode == "winnow" || mode == "winnowhot") {
        // 'zz9' is outside the 'w<n>' vocabulary
        val srcSql =
          s"transform(sequence(0, $tpd - 1), " +
            s"j -> concat('w', pmod(xxhash64((CASE WHEN id % $pairEvery = 1 " +
            s"THEN id - 1 ELSE id END) * $tpd + j), 10000)))"
        val bodySql = s"CASE WHEN id % $pairEvery = 1 " +
          s"THEN concat(concat_ws(' ', slice($srcSql, 1, $tpd - 1)), ' zz9') " +
          s"ELSE concat_ws(' ', $srcSql) END"
        val withPrefix = if (mode == "winnowhot")
          s"concat(concat_ws(' ', transform(sequence(0, 15), k -> concat('hot_', k))), ' ', $bodySql)"
        else bodySql
        spark.range(nDocs).select(col("id").as("doc_id"), expr(withPrefix).as("text"))
      } else spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % plantEvery === 0, concat_ws(" ", tmpl, body))
          .otherwise(body).as("text"))
    // generator cost is not dedup cost; ~60 M tokens at the default sizes
    val (docs, _, _) = Iterate.ckpt(docsPlan)

    mode match {
      case "ingest" =>
        // an odd plantEvery would put the 16-token prefix on some
        // delta sources, diluting Jaccard to ~0.76 (< 0.8 gate) and
        // falsely failing the self-check
        require(plantEvery % 2 == 0,
          s"ingest mode requires an even plantEvery (got $plantEvery)")
        val (delta, _, _) = Iterate.ckpt(deltaPlan)
        val (shBase, baseBands) = Dedup.incrementalIndex(docs, col("text"), col("doc_id"))
        timed("index_build") {
          shBase.cache(); baseBands.cache()
          shBase.count() + baseBands.count()
        }
        val expDups = (nDelta + plantD - 1) / plantD
        for (pass <- Seq("ingest_delta_cold", "ingest_delta_warm")) {
          val dups = timed(pass) {
            Dedup.incrementalDedupWith(shBase, baseBands, delta,
              col("text"), col("doc_id")).count()
          }
          check(s"${pass}_check", expDups, dups)
        }
        shBase.unpersist(); baseBands.unpersist()
        // the STORED-index serve path (the scale fix for the cached-index
        // memory boundary above 1 M docs): write the partitioned layout
        // once, then probe it per ingest — no resident state, so warm
        // can never invert over cold on cache thrash
        timed("index_write_stored") {
          Dedup.writeIncrementalIndex(docs, col("text"), col("doc_id"), idxDir)
          0L
        }
        for (pass <- Seq("ingest_stored_cold", "ingest_stored_warm")) {
          val dups = timed(pass) {
            Dedup.incrementalDedupStored(idxDir, delta, col("text"), col("doc_id")).count()
          }
          check(s"${pass}_check", expDups, dups)
        }
      case "lsh" =>
        val pairs = timed("minhash_lsh") {
          Dedup.minhashLsh(docs, col("text"), col("doc_id")).count()
        }
        check("lsh_check", expPairs, pairs)
        // same corpus through the exact-substring lens: each pair member
        // carries exactly one maximal duplicated span
        val spans = timed("substring_spans_k8") {
          Dedup.substringSpans(docs, col("text"), col("doc_id"), k = 8).count()
        }
        check("spans_check", 2 * expPairs, spans)
      case "winnow" =>
        // each planted near-copy shares its whole 59-token prefix run
        // with its source (>> w+k-1, so the detection guarantee
        // applies); the fingerprint-index size against the shingle count
        // is the ~2/(w+1) density claim
        val nFps = timed("winnowing_fingerprints") {
          CorpusOps.winnowingFingerprints(docs, col("text"), col("doc_id")).count()
        }
        val nShingles = nDocs * (tpd - 2)
        emit(s""""op":"winnow_density","fps":$nFps,"shingles":$nShingles,"ratio":${nFps.toDouble / nShingles}""")
        val pairs = timed("winnowing_overlap_join") {
          Dedup.winnowingOverlapJoin(docs, col("text"), col("doc_id")).count()
        }
        check("winnow_check", expPairs, pairs)
      case "winnowhot" =>
        // every doc's pure-prefix fingerprints have df = nDocs — an
        // uncapped self-join on them enumerates nDocs² pairs. With
        // maxFpDf = 50 the hot keys drop BEFORE the join and the planted
        // pairs are still found exactly
        val pairs = timed("winnowing_overlap_join_hot_capped") {
          Dedup.winnowingOverlapJoin(docs, col("text"), col("doc_id"),
            maxFpDf = Some(50)).count()
        }
        check("winnowhot_check", expPairs, pairs)
      case "segments" =>
        // the 16-token boilerplate prefix tiles into exactly 4 pure
        // 4-token segments, each shared by nDocs/plantEvery/50 docs (>= 3
        // above 150·plantEvery docs, so all 4 drop); a TRIPLE collision
        // of random 4-gram tiles — what maxDocs = 3 would need — is
        // vanishingly unlikely, so the planted drop count stays exact
        val expDropped = 4L * (nDocs / plantEvery + (if (nDocs % plantEvery == 0) 0 else 1))
        var dropped = 0L
        timed("segment_dedup_s4") {
          val agg = CorpusOps.segmentDedup(docs, col("text"), col("doc_id"),
              segTokens = 4, maxDocs = 3)
            .agg(sum(col("n_dropped")), count(lit(1))).head()
          dropped = agg.getLong(0)
          agg.getLong(1)
        }
        check("segments_check", expDropped, dropped)
      case _ =>
        val spans = timed("substring_spans_k8") {
          Dedup.substringSpans(docs, col("text"), col("doc_id"), k = 8).count()
        }
        check("spans_check", (nDocs + plantEvery - 1) / plantEvery, spans)
        timed("exact_dedup") {
          Dedup.exact(docs, col("text"), col("doc_id")).count()
        }
    }
  }

  /** Stored tf-idf index lifecycle: `index_build` (O(corpus)),
    * `append_delta` — a FIXED 2 000-doc delta that must stay ~flat
    * across corpus sizes (it tokenizes, joins the stored vocabulary-sized
    * idf table and appends; no corpus shuffle) — then `refresh_stats`
    * (fresh n/df/idf from stored raw tf, no re-tokenize) against
    * `rebuild_full`, the amortized-maintenance gap. */
  def tfidf(spark: SparkSession, a: Args): Unit = {
    val nDocs = a.long(0, 200000L)
    val tpd = a.int(1, 60)
    val timed = new Timer(spark, s""""docs":$nDocs""")
    // the SAME term stream the serving queries index (word 3-shingles):
    // the refresh-vs-rebuild gap IS the corpus tokenize, so a toy
    // split() here would understate exactly the number under test
    def termsOf(docs: DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.ShingleGenerator.shingles(col("text"), 3).as("t"))
    def text(seed: String) = expr(
      s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64(($seed) * $tpd + j), 10000))))")
    val (docs, _, _) = Iterate.ckpt(
      spark.range(nDocs).select(col("id").as("doc_id"), text("id").as("text")))
    // even delta docs repeat a corpus text, so their shingles are in the
    // stored vocabulary and the frozen append has postings to write
    val nDelta = 2000L
    val (delta, _, _) = Iterate.ckpt(
      spark.range(nDelta).select((col("id") + nDocs).as("doc_id"),
        text(s"if(id % 2 = 0, id % $nDocs, id + $nDocs)").as("text")))

    val idx = Tables.scratchDir("graft_tfidf_scale")
    timed("index_build") {
      Similarity.writeTfidfIndex(termsOf(docs), idx)
      spark.catalog.clearCache(); 0L
    }
    var stale: graft.operators.TfidfStaleness = null
    timed("append_delta") {
      stale = Similarity.appendToTfidfIndex(idx, termsOf(delta))
      spark.catalog.clearCache(); 0L
    }
    // the drift counters the refresh trigger budgets on — O(#batches)
    // to read, never recounted from the corpus
    emit(s""""op":"staleness","appended_docs":${stale.appendedDocs},""" +
      s""""stat_n":${stale.statN},"growth_ppm":${stale.growthPpm},""" +
      s""""oov_mass_ppm":${stale.oovMassPpm}""")
    // the frozen contract indexes exactly the delta's IN-VOCABULARY
    // terms (novel shingles wait for the refresh) — the odd delta docs'
    // random-text 3-shingles are mostly novel, so the expectation is the
    // vocabulary join, not the raw delta term count
    check("append_check",
      termsOf(delta).select("doc_id", "t").distinct()
        .join(spark.read.parquet(s"$idx/idf").select("t"), "t").count(),
      spark.read.parquet(s"$idx/postings").filter(col("doc_id") >= nDocs).count(),
      nonZero = true)
    timed("refresh_stats") {
      Similarity.refreshTfidfIndex(spark, idx)
      spark.catalog.clearCache(); 0L
    }
    check("refresh_check", nDocs + nDelta, spark.read.parquet(s"$idx/vectors").count())
    val idx2 = Tables.scratchDir("graft_tfidf_scale_rb")
    timed("rebuild_full") {
      Similarity.writeTfidfIndex(termsOf(docs.unionByName(delta)), idx2)
      spark.catalog.clearCache(); 0L
    }
    Tables.deleteRecursive(idx)
    Tables.deleteRecursive(idx2)
  }

  /** ANN tiers — exact brute force vs sign-bit Hamming shortlist +
    * re-rank vs IVF, the stored graph-index lifecycle, filtered serving
    * and MMR — over clustered synthetic vectors: cluster c = id mod
    * nClusters, component j = centroid(c,j) + 0.15·noise(id,j), both
    * hash-uniform in [-1,1]. Clustered, not uniform: nearest neighbors of
    * a uniform random point in 64-d are statistical ties, so recall would
    * measure noise; planted clusters give every query an unambiguous
    * neighborhood. Each approximate tier prints its recall@k against
    * brute force. */
  def ann(spark: SparkSession, a: Args): Unit = {
    val nVecs = a.long(0, 200000L)
    val dims = a.int(1, 64)
    val nQueries = a.int(2, 100)
    val nClusters = a.int(3, 256)
    val want = a.ops(4)
    val refineRounds = a.int(5, 1)
    val bridge = a.int(6, 6)
    // refine keep rule: "rng" = diversified (Vamana α-relaxed neighbor
    // selection, default α = 1.2; "rng:1.0" forces the strict HNSW
    // rule — moves SERVE recall), "topk" = pure best-k (EDGE recall)
    val refineMode0 = a.str(7, "rng")
    val usage = "usage: rng | rng:<alpha> | topk"
    val (refineMode, alpha) = refineMode0.split(":", -1) match {
      case Array(m) => (m, 1.2)
      case Array(m, al) =>
        val alphaV = try al.toDouble catch { case _: NumberFormatException =>
          sys.error(s"refineMode '$refineMode0': alpha '$al' is not a number ($usage)") }
        (m, alphaV)
      case _ => sys.error(s"refineMode '$refineMode0' has too many ':' segments ($usage)")
    }
    require(refineMode == "rng" || refineMode == "topk",
      s"refineMode must be rng or topk, got '$refineMode' ($usage)")
    val entriesPerRegion = a.int(8, 1)
    // appendShift=1: the streamed-in 30% (id % 10 ∈ {7,8,9}) draws from
    // nClusters NEW cluster centers the base never saw — the
    // distribution-shift ingest regime where the entry tier's staleness
    // actually bites
    val appendShift = a.int(9, 0) == 1
    val k = 10
    val timed = new Timer(spark, s""""n":$nVecs,"dims":$dims,"q":$nQueries""")

    val plan = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), j => {
        val c0 = pmod(col("id"), lit(nClusters.toLong))
        val c = if (appendShift)
          when(col("id") % 10 >= 7, c0 + nClusters).otherwise(c0)
        else c0
        val cent = (pmod(xxhash64(c, j), lit(2001L)) - 1000L).cast("double") / 1000.0
        val noise = (pmod(xxhash64(col("id"), j, lit(7L)), lit(2001L)) - 1000L)
          .cast("double") / 1000.0
        cent + noise * 0.15
      }).as("embedding"))
    // generator cost is not search cost
    val (emb, _, _) = Iterate.ckpt(plan)
    val stride = math.max(1L, nVecs / nQueries)
    val isQ = col("vec_id") % stride === 0

    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    /** Time a top-k op and return its (query, neighbor) pairs. */
    def timedPairs(op: String)(df: => DataFrame): Set[(Long, Long)] = {
      var got: Set[(Long, Long)] = Set.empty
      timed(op) { got = pairs(df); got.size.toLong }
      got
    }
    var truth: Set[(Long, Long)] = Set.empty
    def recall(name: String, got: Set[(Long, Long)]): Unit =
      if (truth.nonEmpty)
        emit(f""""op":"${name}_recall","recall":${got.intersect(truth).size.toDouble / truth.size}%.4f""")

    if (want("brute")) truth = timedPairs("ann_brute") {
      Similarity.topKBruteForce(emb, col("embedding"), col("vec_id"), isQ, k)
    }
    if (want("hamming")) recall("ann_hamming_rerank", timedPairs("ann_hamming_rerank") {
      Similarity.topKHammingRerank(emb, col("embedding"), col("vec_id"),
        isQ, k, shortlist = 10 * k, dims = dims)
    })
    if (want("ivf")) recall("ann_ivf", timedPairs(s"ann_ivf_c${nClusters}_p8") {
      Similarity.topKIvf(emb, col("embedding"), col("vec_id"),
        isQ, k, nCentroids = nClusters, nProbe = 8)
    })
    def serve(idx: String, q: org.apache.spark.sql.Column, beamWidth: Int = 32,
        rounds: Int = 3): DataFrame =
      Similarity.beamSearchKnnStored(idx, emb.filter(q), col("embedding"),
        col("vec_id"), k = k, nProbe = 8, beamWidth = beamWidth, rounds = rounds)
    // graph-ANN at corpus scale: knnGraphBlocked over IVF-quantizer
    // blocks feeds writeKnnGraphIndex — the SCALABLE construction path
    // (Σ_b |b|² pair work instead of n²; exact within blocks), then the
    // full stored lifecycle: 3 insert batches (degree drift printed
    // after each), degree-bound prune, beam serve, recall vs brute. On
    // clustered vectors the block key is meaningful, so this measures
    // the production posture the sf-testdata demo (structureless random
    // vectors — graph ANN's published worst case) cannot.
    if (want("graph")) {
      val idx = s"${sys.props("java.io.tmpdir")}/graft_annscale_graph"
      Tables.deleteRecursive(idx)
      val base = emb.filter(col("vec_id") % 10 < 7)
      timed("graph_build_blocked") {
        val asg = Similarity.ivfAssignments(base, col("embedding"),
          col("vec_id"), nClusters)
        val blocked = base.join(asg, base("vec_id") === asg("vid"))
          .select(col("vec_id"), col("embedding"), col("cid"))
        val adjacency = Similarity.knnGraphBlocked(blocked, col("embedding"),
          col("vec_id"), col("cid"), 8)
        Similarity.writeKnnGraphIndex(adjacency, base, col("embedding"),
          col("vec_id"),
          Similarity.regionEntryPoints(asg, entriesPerRegion), idx,
          centroids = Similarity.firstNCentroids(base, col("embedding"),
            col("vec_id"), nClusters))
        spark.read.parquet(s"$idx/adj").count()
      }
      def degree(tag: String): Unit = {
        val r = spark.read.parquet(s"$idx/adj")
          .groupBy("src").agg(count(lit(1)).as("d"))
          .agg(max(col("d")), avg(col("d"))).head()
        emit(f""""op":"graph_degree","at":"$tag","max":${r.getLong(0)},"avg":${r.getDouble(1)}%.2f""")
      }
      degree("built")
      for (b <- 7 to 9) {
        timed(s"graph_insert_b$b") {
          Similarity.appendToKnnGraphIndex(idx,
            emb.filter(col("vec_id") % 10 === b), col("embedding"),
            col("vec_id"), kGraph = 8, nProbe = 8, beamWidth = 32, rounds = 3)
        }
        degree(s"insert_b$b")
      }
      timed("graph_prune") {
        Similarity.pruneKnnGraphIndex(spark, idx, degreeCap = 8)
      }
      degree("pruned")
      // serve recall BEFORE refinement (blocked build + inserts +
      // prune), then per NN-Descent round: refinement cost + the recall
      // it buys. The final w32/w64 serves measure the refined graph.
      recall("graph_beam_preref_w32_r3",
        timedPairs("graph_beam_preref_w32_r3")(serve(idx, isQ)))
      for (ri <- 1 to refineRounds) {
        timed(s"graph_refine_${refineMode0}_$ri") {
          Similarity.refineKnnGraphIndex(spark, idx, kGraph = 8,
            rounds = 1, bridge = bridge, diversify = refineMode == "rng",
            alpha = alpha)
          spark.read.parquet(s"$idx/adj").count()
        }
        recall(s"graph_beam_postref${ri}_w32_r3",
          timedPairs(s"graph_beam_postref${ri}_w32_r3")(serve(idx, isQ)))
      }
      for ((bw, rounds) <- Seq((32, 3), (64, 5)))
        recall(s"graph_beam_w${bw}_r$rounds",
          timedPairs(s"graph_beam_serve_w${bw}_r$rounds")(serve(idx, isQ, bw, rounds)))
      // ENTRY-TIER refresh: the entry tier was sampled from the 70%
      // base, so the three appended batches (30% of the corpus) can
      // never seed a walk from one of their own. Serve recall FOR
      // QUERIES DRAWN FROM THE APPENDED VECTORS before/after
      // refreshKnnGraphEntries over the grown corpus, plus the original
      // query set after (no-regression arm).
      val q2 = col("vec_id") % math.max(10L, nVecs / math.max(1L, nQueries.toLong) / 10L * 10L) === 7
      val truth2 = pairs(Similarity.topKBruteForce(
        emb, col("embedding"), col("vec_id"), q2, k))
      def appendedServe(tag: String): Unit = {
        val g = timedPairs(s"entry_${tag}_appended_serve_w32_r3")(serve(idx, q2))
        if (truth2.nonEmpty)
          emit(f""""op":"entry_${tag}_appended_recall","recall":${g.intersect(truth2).size.toDouble / truth2.size}%.4f,"q":${truth2.size / k}""")
      }
      val (_, _, entPpm) = Similarity.knnGraphEntryStaleness(spark, idx)
      emit(s""""op":"entry_staleness_ppm","ppm":$entPpm""")
      appendedServe("stale")
      timed("entry_refresh") {
        Similarity.refreshKnnGraphEntries(spark, idx, entriesPerRegion)
      }
      appendedServe("fresh")
      recall("graph_beam_postrefresh_w32_r3",
        timedPairs("graph_beam_postrefresh_w32_r3")(serve(idx, isQ)))
      // COARSE ENTRY-GRAPH tier: walk a k=8 graph over the entry tier
      // (4 roots) instead of scoring all regions × E entries per query,
      // per-100-query serve and a BULK 10 k-query batch, where queries ×
      // entries seed scoring is the dominant term. The walk budget
      // (roots 4, width 32, 8 rounds) ≈ 2.6 k scored entries per query,
      // 4× under the flat tier's ~11.5 k at 1 M.
      timed("entry_graph_build_k8") {
        Similarity.buildKnnEntryGraph(spark, idx, kEntry = 8)
      }
      def serveHier(q: org.apache.spark.sql.Column): DataFrame =
        Similarity.beamSearchKnnStoredHier(idx, emb.filter(q),
          col("embedding"), col("vec_id"), k = k, nProbe = 8,
          beamWidth = 32, rounds = 3, nRoots = 4, entryBeam = 32, entryRounds = 8)
      recall("graph_beam_hier_eb32_er8_w32_r3",
        timedPairs("graph_beam_hier_eb32_er8_w32_r3")(serveHier(isQ)))
      val isBulk = col("vec_id") % 100 === 1
      timed("graph_beam_bulk10k_flat_w32_r3")(serve(idx, isBulk).count())
      timed("graph_beam_bulk10k_hier_w32_r3")(serveHier(isBulk).count())
      Tables.deleteRecursive(idx)
    }
    // FILTERED-serving selectivity sweep: over a blocked+refined index on
    // the FULL corpus, filtered-walk recall at 50%/10%/2% predicate
    // selectivity, fixed width vs ACORN-style adaptive widening (cap 4).
    // Ground truth per selectivity = brute force over the matching
    // corpus (the query stride divides every mod, so queries match their
    // own filter). Rows per query is the shortfall signal a starved
    // fixed-width walk shows first.
    if (want("filtered")) {
      val idx = s"${sys.props("java.io.tmpdir")}/graft_annscale_fgraph"
      Tables.deleteRecursive(idx)
      timed("fgraph_build_refined") {
        // multi-probe-2 blocked build: the overlapping cells carry the
        // cross-block seed edges the refinement round spreads (NoN is
        // closed over disjoint blocks)
        Similarity.writeKnnGraphIndex(
          Similarity.knnGraphBlockedMulti(emb, col("embedding"),
            col("vec_id"),
            Similarity.ivfAssignmentsMulti(emb, col("embedding"),
              col("vec_id"), nClusters, nProbe = 2), 8),
          emb, col("embedding"), col("vec_id"),
          Similarity.regionEntryPoints(
            Similarity.ivfAssignments(emb, col("embedding"), col("vec_id"),
              nClusters), entriesPerRegion), idx)
        Similarity.refineKnnGraphIndex(spark, idx, kGraph = 8,
          rounds = 1, bridge = bridge)
        spark.read.parquet(s"$idx/adj").count()
      }
      for (mod <- Seq(2L, 10L, 50L)) {
        require(stride % mod == 0,
          s"mod $mod must divide query stride $stride (queries must match their own filter)")
        val ftruth = pairs(Similarity.topKBruteForce(
          emb.filter(col("vec_id") % mod === 0), col("embedding"),
          col("vec_id"), isQ, k))
        for (cap <- Seq(1, 4)) {
          val got = timedPairs(s"fgraph_serve_mod${mod}_cap$cap") {
            Similarity.beamSearchKnnStoredFiltered(idx,
              emb.filter(isQ), col("embedding"), col("vec_id"),
              keep = col("vid") % mod === 0, k = k, nProbe = 8, beamWidth = 32,
              rounds = 3, widenCap = cap)
          }
          val fr = got.intersect(ftruth).size.toDouble / ftruth.size
          emit(f""""op":"fgraph_recall","mod":$mod,"cap":$cap,"recall":$fr%.4f,"rows_per_q":${got.size.toDouble / nQueries}%.2f""")
        }
      }
      Tables.deleteRecursive(idx)
    }
    // MMR greedy diversification: the corpus-sized cost is the relevance
    // shortlist scan (the ann_brute shape); the k greedy stages are
    // shortlist-bounded per query. Self-check: pick 1 is the
    // pure-relevance argmax, so it must be brute force's rank 1.
    if (want("mmr")) {
      var got: Map[Long, Long] = Map.empty
      timed(s"mmr_k${k}_sl${4 * k}") {
        val rows = Similarity.mmrSelect(emb, col("embedding"), col("vec_id"),
          isQ, k, shortlist = 4 * k, lambdaPpm = 700000L).collect()
        got = rows.filter(_.getInt(1) == 1)
          .map(x => x.getLong(0) -> x.getLong(2)).toMap
        rows.length.toLong
      }
      if (truth.nonEmpty) {
        // compare at MMR's precision: mmrSelect ranks by micros-rounded
        // simq (ties to vid asc) while topKBruteForce ranks the raw
        // double cosine — two near-top candidates within 5e-7 round to
        // the same micros. Accept a pick iff ITS OWN micros score ties
        // the query's global max micros (rank 1's — rounding is
        // monotone, so the raw-cosine argmax also holds the max micros),
        // exact for arbitrarily wide tie groups.
        val top1Micros = Similarity.topKBruteForce(
            emb, col("embedding"), col("vec_id"), isQ, 1)
          .collect()
          .map(r => r.getLong(0) -> math.round(r.getDouble(3) * 1e6))
          .toMap
        import spark.implicits._
        val e = Dedup.withNorm(emb, col("embedding"), col("vec_id"))
        val pickMicros = got.toSeq.toDF("qid", "pid")
          .join(e.select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn")), Seq("qid"))
          .join(e.select(col("vid").as("pid"), col("v").as("pv"), col("nrm").as("pn")), Seq("pid"))
          .select(col("qid"), round(Dedup.dot(col("qv"), col("pv")) /
            (col("qn") * col("pn")) * 1e6, 0).cast("long").as("pm"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val agree = got.keys.count(q =>
          pickMicros.get(q).exists(pm => top1Micros.get(q).contains(pm)))
        emit(s""""op":"mmr_pick1_agreement","agree":$agree,"q":${got.size}""")
        require(agree == got.size,
          "MMR pick 1 must tie the relevance argmax at micros precision")
      }
    }
  }
}
