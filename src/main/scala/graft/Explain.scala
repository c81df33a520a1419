package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan auditor: prints a one-line physical-plan summary per registry
  * query (operator histogram + scale red flags) and exits non-zero if a
  * query plans a scale anti-pattern it shouldn't. Run:
  *
  *   sbt "runMain graft.Explain <sfDir> [outDir]"
  *
  * With `outDir`, each query's formatted executed plan is also written
  * to `<outDir>/<query>.txt` (the optimization-round plan evidence).
  *
  * Red flags:
  *  - CartesianProduct anywhere (only the declared cross/theta joins may
  *    nested-loop, and those must be BroadcastNestedLoop, never
  *    CartesianProduct);
  *  - parquet scans reading every column when the query projects few
  *    (pruning check is per-query best-effort: flags scans whose
  *    ReadSchema lists >8 fields).
  */
object Explain {

  // queries whose semantics genuinely require a nested-loop join:
  // declared cross/theta joins, and the exact all-pairs / brute-force
  // baselines whose sub-quadratic twins (SRP buckets, IVF probing) are
  // the documented scale path
  // text_unigram_logprob's BNLJ is the 1-row corpus-total broadcast
  // joined under the vocabulary table (scalar fan-out, not a pair scan);
  // feature_binning broadcasts its 1-row quantile boundaries the same
  // way. The same tiny-broadcast scalar fan-out accounts for:
  // text_bm25_topk + text_cooccurrence_pmi + text_source_drift (1-row
  // corpus stats under per-term/per-pair rows), q22_dormant_customers
  // (scalar-average gate subquery), and cdc_time_travel (the SMALL
  // as-of probe relation broadcast over the streamed history — interval
  // predicate, no equi key by design, map-only at scale).
  private val nestedLoopAllowed = Set(
    "join_cross", "join_theta_range",
    "ann_topk_bruteforce", "ann_ivf", "dedup_embedding",
    "text_unigram_logprob", "feature_binning",
    "text_bm25_topk", "text_cooccurrence_pmi", "text_source_drift",
    "q22_dormant_customers", "cdc_time_travel",
    // q11's importance gate crosses the 1-row global-value total under
    // the part-key-sized aggregate (scalar broadcast, like q22's
    // average gate)
    "q11_important_parts",
    // join_strategy_advice and join_size_estimate cross 1-row
    // statistics/sketch aggregates (scalar broadcast, not a pair scan);
    // join_multiway_advice crosses its 1-row fact-count and
    // admission-summary aggregates under the n-dim table (n = 3);
    // join_chain_advice crosses THREE 1-row count aggregates (fact/A/B)
    // into its single advice row — scalar broadcasts end to end
    "join_strategy_advice", "join_size_estimate", "join_multiway_advice",
    "join_chain_advice",
    // same scalar fan-out: chi-square's grand total, the histogram's
    // min/max bounds, and the basket lift's order count are 1-row
    // broadcast aggregates under bounded-size tables
    "stats_chi_square", "profile_histogram", "basket_part_pairs",
    // dedup_semantic_keep composes the declared exact-pairs baseline
    // (dedup_embedding's NLJ); the SRP-bucketed twin is the scale path
    "dedup_semantic_keep",
    // ann_ivf_rerank fans out the 1-row quantization-range arrays and
    // the tiny centroid table (same shape as ann_ivf); the DSIR queries
    // fan out 1-row vocabulary/total aggregates under the
    // vocabulary-sized ratio table (the unigramLogProb pattern);
    // ann_hard_negatives is a declared brute-force baseline like
    // ann_topk_bruteforce (scale path: the same filter inside IVF)
    "ann_ivf_rerank", "ann_ivf_stored", "pipeline_importance_weights",
    "pipeline_importance_resample", "pipeline_importance_hashed",
    "ann_hard_negatives",
    // ann_hamming_rerank's wide pass broadcasts the query CODES (8-byte
    // packed sign bits) over the corpus code table — a declared
    // compute-trivial linear scan (XOR+POPCNT per pair), with the
    // expensive cosine confined to the shortlist-bounded re-rank
    "ann_hamming_rerank",
    // join_tfidf_cosine fans out its 1-row corpus-count aggregate under
    // the vocabulary-sized df table; quality_ks_drift densifies the
    // BOUNDED (groups × distinct-values) grid and fans out its 1-row
    // total — scalar/bounded broadcasts, not pair scans
    "join_tfidf_cosine", "quality_ks_drift",
    // embedding_centroid_drift fans the 1-row global centroid out over
    // the label-cardinality centroid table — a scalar broadcast
    "embedding_centroid_drift",
    // sketch_kmv_jaccard theta-pairs the 5-row per-type sketch table
    // with itself — a bounded broadcast fan-out over pre-aggregated
    // sketches, never over raw events
    "sketch_kmv_jaccard",
    // pipeline_domain_reweight crosses two 1-row scalar aggregates
    // (corpus total, limiting-stratum cap) under the |strata|-sized
    // token table — scalar broadcasts, not pair scans; the repetition
    // schedule is the same shape with one scalar
    "pipeline_domain_reweight", "pipeline_repetition_schedule",
    // quality_perplexity_bucket fans the 1-row percentile-cutpoint
    // aggregate out over the doc-score table (the feature_binning
    // pattern), and the LM underneath fans out its 1-row corpus total
    "quality_perplexity_bucket",
    // round-14+ additions, adjudicated round 16 (the auditor had not
    // been re-run since round 5 and the allowlist drifted):
    // the stored/trained IVF family probes cross the CONFIG-bounded
    // centroid table (and IVFPQ its m·nCodes codebook/LUT) under the
    // query batch — the topKIvfStored shape already allowed for
    // ann_ivf_stored above
    "ann_ivf_append", "ann_ivf_kmeans", "ann_ivfpq_stored",
    // matryoshka recall scores per-prefix BRUTE-FORCE ground truth by
    // declaration (the recall denominator must be exact)
    "ann_matryoshka",
    // 1-row totals fanned under bounded tables (the unigramLogProb
    // scalar pattern): composition-shift ppm shares, KN continuation
    // totals, BM25/QL corpus stats in the RRF ensemble and the RM3
    // second pass
    "dedup_composition_shift", "text_kn_bigram", "search_hybrid_rrf",
    "search_rm3_expansion",
    // the eval side of semantic decontamination is a BOUNDED benchmark
    // broadcast by design (operator doc declares the SRP-bucketed twin
    // as the unbounded-eval path)
    "pipeline_decontaminate_semantic",
    // MMR's relevance scan broadcasts the query batch over the corpus —
    // the declared topKBruteForce shape; production swaps topKIvfStored
    // probing, the greedy tier is shortlist-bounded either way
    "search_mmr",
    // events_funnel_windowed crosses its three 1-row stage-count
    // aggregates into the single report row — scalar broadcasts; the
    // clustering coefficient crosses the 1-row wedge total under the
    // 1-row triangle count
    "events_funnel_windowed", "graph_clustering_coeff",
    // Kaplan–Meier crosses two 1-row scalar aggregates (the global
    // observation end for censoring, the subject total for at-risk
    // counts) under the duration-domain table
    "events_kaplan_meier",
    // graph_lpa_modularity crosses the 1-row |E| total under the
    // community-cardinality parts table — a scalar broadcast
    "graph_lpa_modularity",
    // round-10 filtered-serving tiers: the same CONFIG-bounded
    // centroid/codebook fan-out as their unfiltered twins
    // (ann_ivf_stored / ann_ivfpq_stored above) — the candidate
    // predicate composes after the probe, it does not change the
    // broadcast shape
    "ann_ivf_filtered", "ann_ivfpq_filtered")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.local()
    spark.sparkContext.setLogLevel("ERROR")
    val flagged = audit(spark, sfDir, Graft.selected, args.lift(1))
    spark.stop()
    if (flagged > 0) {
      System.err.println(s"[explain] $flagged queries flagged")
      sys.exit(1)
    }
  }

  /** Run each query, print its executed-plan summary line and return how
    * many were flagged. With `dumpDir`, also write each query's
    * `explain("formatted")` of the executed plan to
    * `<dumpDir>/<query>.txt` — the plan the query RETURNS; lifecycle
    * bundles that materialize internally surface as LogicalRDD leaves. */
  def audit(spark: SparkSession, sfDir: String, queries: Seq[QueryDef],
      dumpDir: Option[String] = None): Int = {
    dumpDir.foreach(new java.io.File(_).mkdirs())
    var flagged = 0
    queries.foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        df.count() // finalize AQE plan
        dumpDir.foreach { d =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"${q.name}.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val nodes = plan.collect { case p => p.nodeName }
        val hist = nodes.groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(-_._2).map { case (n, c) => if (c > 1) s"$n×$c" else n }
        val flags = scala.collection.mutable.Buffer.empty[String]
        if (nodes.contains("CartesianProduct")) flags += "CARTESIAN"
        if (!nestedLoopAllowed(q.name) && nodes.exists(_.startsWith("BroadcastNestedLoopJoin")))
          flags += "NESTED_LOOP"
        val scanWidths = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.requiredSchema.fields.length
        }
        // every testdata table is ≤11 columns; a scan that wide means
        // pruning failed (the plan's toString truncates ReadSchema, so
        // inspect the typed scan node, not the rendered text)
        if (scanWidths.exists(_ > 11)) flags += s"WIDE_SCAN(${scanWidths.max}cols)"
        val flagStr = if (flags.isEmpty) "" else flags.mkString("  !! ", ",", "")
        println(f"${q.name}%-28s ${hist.take(7).mkString(", ")}$flagStr")
        if (flags.nonEmpty) flagged += 1
      } catch {
        case e: Throwable =>
          println(f"${q.name}%-28s ERROR ${e.getMessage.take(80)}"); flagged += 1
      }
    }
    flagged
  }
}
