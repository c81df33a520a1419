package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators — the selection/mixing steps between
  * raw documents and a training set. All four are single-pass,
  * shuffle-minimal, and deterministic (reproducible corpus builds are a
  * hard requirement: a training run must be able to cite the exact
  * document set).
  */
object CorpusOps {

  /** (id · 2654435761) mod 2³² — Knuth multiplicative hashing on the
    * id, identical integer arithmetic in any engine, stable across
    * runs/partitionings (`sample()` is neither). Computed entirely in
    * LONG codegen arithmetic via a 16-bit split:
    *   id·C mod 2³² = (lo16·C + ((hi16·C) mod 2¹⁶)·2¹⁶) mod 2³²
    * with every intermediate < 2⁴⁸ — no overflow for ANY nonnegative
    * long id, where the naive long product throws under ANSI mode at
    * ids ≥ ~3.5e9 (multi-billion-row corpora are exactly this
    * operator's domain). An earlier DECIMAL(38,0) spelling was exact
    * too but ran every row through BigDecimal — ~10× the per-row cost
    * of this all-long form (measured at sf0.1). Oracles keep the plain
    * `(id * 2654435761) % 4294967296` text: DuckDB auto-widens to
    * 128-bit, and the two forms agree for all nonnegative ids. */
  def hash32(id: Column): Column = {
    val lo = id.cast("long").bitwiseAND(lit(65535L))
    val hi = shiftright(id.cast("long"), 16).bitwiseAND(lit(65535L))
    // NONNEGATIVE ids only — a negative id's low 32 bits hash to a
    // value the oracle's sign-following modulo would never produce, so
    // fail loudly instead of silently mis-bucketing (the DECIMAL form
    // this replaced matched the oracle over the full long domain; every
    // current caller feeds surrogate keys ≥ 0)
    when(id.cast("long") >= 0,
        (lo * 2654435761L + (hi * 2654435761L % 65536L) * 65536L) % 4294967296L)
      .otherwise(raise_error(
        concat(lit("graft hash32: negative id "), id.cast("string"))).cast("long"))
  }

  /** Deterministic per-row sample bucket in [0, 100) from [[hash32]]. */
  def sampleBucket(id: Column): Column = hash32(id) % 100L

  /** Stratified sampling: keep a row when its bucket falls under the
    * row's stratum rate (percent, a Column so strata rates can come
    * from a CASE, a join, or a literal map). One scan, no shuffle, no
    * state — rates can be retuned and the sample stays a superset/
    * subset relation of the previous one (nested samples). */
  def stratifiedSample(df: DataFrame, id: Column, pctForRow: Column): DataFrame =
    df.filter(sampleBucket(id) < pctForRow)

  /** Quota mixing: the top `quota` rows per stratum under an explicit
    * quality order (ties broken by id — total order, deterministic).
    * One shuffle by stratum; rank short-circuits via WindowGroupLimit
    * in Spark 4, so only ~quota rows per stratum survive the sort. */
  def quotaMix(df: DataFrame, stratum: Column, quota: Int, order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(stratum).orderBy(order: _*)))
      .filter(col("__rn") <= quota)
      .drop("__rn")

  /** Weighted deterministic interleave — the training-data mixing
    * primitive: each source's rows are spread along a virtual position
    * axis at a density proportional to its weight, so reading the
    * output in `pos` order yields sources mixed at their target ratios
    * from the very first row (the low-discrepancy schedule pos =
    * (2i−1)/(2w), here in exact ×10⁶ fixed-point so both engines
    * truncate identically). Scale shape: one window partitioned BY
    * SOURCE (bounded cardinality, no global ordering anywhere); a
    * prefix of the mix is selected by a plain `pos` filter, not a
    * global sort-limit. */
  def interleave(df: DataFrame, source: Column, order: Column, weight: Column): DataFrame =
    // __-prefixed internals (quotaMix convention) so a caller's own
    // w/rn columns survive; rn is widened to BIGINT BEFORE the
    // multiply — row_number() is IntegerType and (2·rn−1)·10⁶
    // overflows 32 bits at rn ≥ 1074 (ANSI mode would throw on any
    // source past ~1k rows)
    df.withColumn("__w", weight)
      .withColumn("__rn",
        row_number().over(Window.partitionBy(source).orderBy(order)))
      .withColumn("pos",
        expr("CAST(((2 * CAST(__rn AS BIGINT) - 1) * 1000000) div (2 * __w) AS BIGINT)"))
      .drop("__w", "__rn")

  /** Temperature-smoothed source mixing — the multilingual/multi-source
    * rebalancing rule (exponent-smoothed sampling, p_s ∝ n_s^(1/T), the
    * standard recipe since multilingual BERT): big sources are
    * down-weighted, small sources up-weighted, T=1 recovers natural
    * proportions and T→∞ approaches uniform. Weights become integer
    * densities in [1, 1000] (each source's smoothed mass relative to
    * the LARGEST source — max is order-free, so no float sum whose
    * accumulation order could differ between engines), then
    * [[interleave]] lays the corpus on the virtual position axis.
    *
    * Scale shape: one bounded per-source aggregate (broadcast back), one
    * per-source window for the interleave ranks — the corpus is never
    * globally sorted; reading in `pos` order streams the mix at the
    * target ratios from the first row. */
  def temperatureMix(df: DataFrame, source: Column, order: Column,
      temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val p = df.groupBy(source.as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__p", round(pow(col("__n"), 1.0 / temperature), 6))
    // the empty-frame window runs on the BOUNDED per-source table
    // (one row per source), never on corpus rows
    val w = p.withColumn("__w",
        greatest(lit(1L),
          floor(col("__p") * 1000 / max(col("__p")).over(Window.partitionBy()))
            .cast("long")))
      .select(col("__src"), col("__w"))
    val joined = df.join(broadcast(w), source === col("__src"))
    interleave(joined, source, order, col("__w")).drop("__src", "__w")
  }

  /** Context-window packing ("concatenate then chunk", the standard
    * packed-dataset construction): documents in id order are laid
    * end-to-end on a token tape cut every `capacity` tokens; a doc's
    * bin is the chunk its first token lands in, offset = position in
    * that chunk.
    *
    * The global running sum is computed as a DISTRIBUTED two-pass
    * prefix sum, not a global window (`Window.orderBy(id)` with no
    * partition key funnels the whole corpus through one task — the
    * plan Spark itself warns about): rows are grouped into equal-width
    * id-range buckets, each bucket is summed (a tiny nBuckets-row
    * aggregate collected to the driver), the per-bucket prefix offsets
    * come back as a literal CASE, then an ordinary per-bucket window
    * finishes. Every stage is parallel; the output is independent of
    * partition boundaries because prefix sums are associative (the
    * partitioning-invariance spec covers this query).
    *
    * The bucket key is an EXPLICIT function of the id (min/max from one
    * tiny agg job), never `spark_partition_id()` over a
    * `repartitionByRange`: range boundaries come from sampling, so a
    * physical-partition key is only reproducible across the offset job
    * and the window job when the input is deterministic — a silent
    * wrong-answer class this formulation removes (round-2 ADVICE).
    * `id` must be numeric and unique, `tokens` non-negative. */
  def packBins(df: DataFrame, id: Column, tokens: Column, capacity: Long): DataFrame = {
    val base = df.withColumn("__pbid", id.cast("long")).withColumn("__tok", tokens)
    val bounds = base.agg(min("__pbid"), max("__pbid")).head()
    if (bounds.isNullAt(0))
      return base.withColumn("bin_id", lit(0L)).withColumn("bin_offset", lit(0L))
        .drop("__pbid", "__tok")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // bucket arithmetic runs in DOUBLE space: (id - lo) * nBuckets in
    // longs overflows for 64-bit-wide id ranges (ANSI mode throws).
    // Double conversion is monotone non-decreasing, which is the only
    // property the prefix sum needs — precision loss past 2^53 merely
    // merges adjacent ids into one bucket; least() guards the hi edge.
    val span = hi.toDouble - lo.toDouble + 1
    val nBuckets = math.min(
      df.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      math.max(1L, math.min(Long.MaxValue.toDouble, span).toLong))
    val prepared = base.withColumn("__part",
      least(lit(nBuckets - 1),
        floor((col("__pbid").cast("double") - lo.toDouble) * nBuckets / span).cast("long")))
    val offsets = prepared.groupBy("__part")
      .agg(sum(col("__tok")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (p, t)) => (p, acc + t) }
      .sliding(2).collect { case Array((_, acc), (p, _)) => (p, acc) }.toMap
    val offsetExpr = offsets.foldLeft(lit(0L)) { case (e, (p, off)) =>
      when(col("__part") === p, lit(off)).otherwise(e)
    }
    val w = Window.partitionBy(col("__part")).orderBy(col("__pbid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prepared
      .withColumn("__cum", sum(col("__tok")).over(w) - col("__tok") + offsetExpr)
      .withColumn("bin_id", (col("__cum") / capacity).cast("long"))
      .withColumn("bin_offset", col("__cum") % capacity)
      .drop("__pbid", "__tok", "__part", "__cum")
  }

  /** Corpus-bigram conditional log-probability per document — the
    * second-order LM-quality proxy alongside [[unigramLogProb]]:
    * mean log10 P(w₂|w₁) over the doc's adjacent token pairs, with
    * P(w₂|w₁) = corpus count(w₁w₂) / count(w₁·). Head counts derive
    * from the distinct-pair table, never a second corpus scan. Unlike
    * the unigram vocabulary, the distinct-BIGRAM table grows with
    * corpus size, so it is NOT force-broadcast: the probability join
    * shuffles on (w1, w2) and AQE broadcasts only when the pair table
    * actually fits. Per-doc means accumulate integer log-MICROS and
    * divide half-away in BIGINT arithmetic, so the output is
    * order-independent and engine-reproducible. Docs with fewer than
    * two tokens have no bigrams and no row. */
  def bigramLogProb(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val bg = docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pairCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val headCounts = pairCounts.groupBy("w1").agg(sum(col("cb")).as("ch"))
    // integer micros + half-away integer mean — same portability
    // contract as [[unigramLogProb]] (see the boundary note there)
    val probs = pairCounts.join(headCounts, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log10(col("cb").cast("double") / col("ch")) * 1000000, 0).cast("long").as("lpm"))
    bg.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (meanMicrosHalfAway("__s", "n_bigrams").cast("double") / 1000000.0)
          .as("mean_logp"))
  }

  /** Top-k TF-IDF keywords per document — cheap keyword/topic features
    * for corpus curation. Deterministic end-to-end: scores are rounded
    * to 6 dp BEFORE ranking and ties break on the token, so the top-k
    * set is engine-reproducible. Dataflow: one tokenize → per-(doc,
    * token) counts (map-side combinable) → vocabulary-sized df table
    * broadcast back → per-doc WindowGroupLimit rank (Spark 4 keeps only
    * ~k rows per doc through the sort). The doc count N is a driver
    * scalar off a column-pruned count — one metadata-cheap scan, not a
    * second corpus pass. */
  def tfidfTopK(docs: DataFrame, text: Column, id: Column, k: Int): DataFrame = {
    val n = docs.count().toDouble
    val tf = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("t"))
    tf.join(broadcast(dfreq), Seq("t"))
      .withColumn("score",
        round(col("tf").cast("double") * log10(lit(n) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("t").as("keyword"), col("rank"), col("score"))
  }

  /** BM25 retrieval scoring (Robertson-Sparck Jones idf, Lucene's +1
    * form) for a fixed query term set — the ranking function a RAG
    * retrieval stage runs over [[Curation.chunkOverlap]] output. Token
    * stream is filtered to the query terms BEFORE the tf aggregation,
    * so the expensive (doc, term) shuffle carries query-matching tokens
    * only — at 100 TB the full-vocabulary tf table never exists; df and
    * the length stats are tiny and broadcast. Determinism: ln is the
    * single engine-sensitive step, rounded to 6 places (the corpus-LM
    * recipe); every other operand is integer-derived IEEE arithmetic,
    * and per-term scores go through a DECIMAL sum so doc score is
    * addition-order-free. Top-k is a TakeOrdered over (score desc, id). */
  def bm25TopK(docs: DataFrame, text: Column, id: Column, query: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = tok.filter(col("t").isin(query: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("s",
        round(
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6) *
            (col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))),
          6))
      .groupBy("doc_id")
      .agg(round(sum(col("s").cast("decimal(28,12)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty, SIGIR'01) — the language-modeling ranker that pairs
    * with [[bm25TopK]] in every classic hybrid: score(d) = Σ_{t∈q}
    * ln((tf_{t,d} + μ·p(t|C)) / (|d| + μ)). EVERY document scores
    * every present query term (a zero tf still contributes the
    * collection prior — that is the smoothing), so the grid is
    * |docs| × |query| rows — linear, query terms broadcast. Query
    * terms absent from the whole corpus drop out (p(t|C) = 0 would be
    * ln 0; the standard OOV convention). Same float recipe as BM25:
    * ln rounded to 6, decimal-summed per doc, one rounded double out. */
  def qlDirichletTopK(docs: DataFrame, text: Column, id: Column,
      query: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val ctot = tok.agg(count(lit(1)).as("ctot"))
    val cf = tok.filter(col("t").isin(query: _*))
      .groupBy("t").agg(count(lit(1)).as("cf"))
    val tf = tok.filter(col("t").isin(query: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    dl.crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "t"), "left_outer")
      .na.fill(0L, Seq("tf"))
      .crossJoin(broadcast(ctot))
      .withColumn("s", round(log(
        (col("tf") + lit(mu) * (col("cf").cast("double") / col("ctot"))) /
          (col("dl") + lit(mu))), 6))
      .groupBy("doc_id")
      .agg(round(sum(col("s").cast("decimal(28,12)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    * fuse any ranked lists by Σ 1/(k₀ + rank) — the standard hybrid-
    * retrieval combiner (lexical + dense, or any ranker ensemble)
    * because it needs NO score calibration across rankers, only
    * ranks. Per-list contributions round to integer micros before the
    * sum, so the fused score is an exact order-free BIGINT and ties
    * break totally on doc_id. Inputs carry (doc_id, rnk). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    rankings.map(_.select(col("doc_id"),
        round(lit(1000000.0) / (lit(k0) + col("rnk")), 0).cast("long").as("c")))
      .reduce(_.unionAll(_))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("rrf_micros"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** RM3-style pseudo-relevance-feedback query expansion (Lavrenko &
    * Croft '01 relevance models, the RM3 interpolation): retrieve a
    * feedback set with BM25, mine its term distribution for expansion
    * terms, re-retrieve with the α-interpolated weighted query. The
    * classic recall lever of a lexical retrieval stack — it finds the
    * documents that never mention the query's exact words.
    *
    * Deterministic, calibration-free variant (every step integer or
    * 6dp-pinned, so the oracle replays it exactly):
    *  - feedback = BM25 top-`fbDocs` (score DESC, doc_id);
    *  - relevance weight rm(w) = Σ_{d∈fb} (tf_{w,d}·10⁶ div |d|) div
    *    rank(d) — term mass rank-discounted instead of softmax'd over
    *    uncalibrated scores (the RRF posture), exact BIGINT;
    *  - expansion = top-`fbTerms` by (rm DESC, w ASC), original terms
    *    and rm = 0 excluded; collected driver-side (CONFIG-bounded,
    *    like centroids);
    *  - weights in micros: each original term α div |Q|; expansion
    *    term w gets (10⁶−α)·rm(w) div Σrm;
    *  - final score = Σ_t round(bm25_term_score₆dp(t, d) · weight_t)
    *    — BIGINT micros, ties on doc_id.
    *
    * Scale shape: two BM25 passes (each one tokenize + grouped agg
    * with broadcast term lists) plus one feedback-doc-bounded term
    * aggregate — no stage touches more than the corpus token relation,
    * nothing quadratic anywhere. */
  def rm3Bm25TopK(docs: DataFrame, text: Column, id: Column,
      query: Seq[String], k: Int, fbDocs: Int = 5, fbTerms: Int = 8,
      alphaPpm: Long = 600000L): DataFrame = {
    require(query.nonEmpty, "query must not be empty")
    // duplicate terms would land twice in the weights table and the
    // join on t would double-count their scores (ADVICE r7)
    require(query.distinct.length == query.length,
      s"query terms must be distinct: $query")
    require(fbDocs >= 1 && fbTerms >= 0, "fbDocs >= 1, fbTerms >= 0")
    require(0L <= alphaPpm && alphaPpm <= 1000000L, s"alphaPpm out of range: $alphaPpm")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val fb = bm25TopK(docs, text, id, query, fbDocs)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rnk"))
    val rm = tok.join(broadcast(fb), Seq("doc_id"))
      .groupBy("doc_id", "rnk", "t").agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .select(col("t"), expr("tf * 1000000 div dl div rnk").as("c"))
      .groupBy("t").agg(sum(col("c")).as("rm"))
      .filter(!col("t").isin(query: _*) && col("rm") > 0)
      .orderBy(col("rm").desc, col("t")).limit(fbTerms)
      .as[(String, Long)].collect()
    val rmTotal = rm.map(_._2).sum
    // a corpus with no expansion candidates degrades to plain weighted
    // BM25 on the original terms (rmTotal guard: no 0-division)
    val weights: Seq[(String, Long)] =
      query.map(_ -> alphaPpm / query.length) ++
        (if (rmTotal == 0L) Nil
         else rm.map { case (w, m) => w -> (1000000L - alphaPpm) * m / rmTotal })
    val allTerms = weights.map(_._1)
    val wdf = broadcast(weights.toDF("t", "wt"))
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = tok.filter(col("t").isin(allTerms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .join(wdf, Seq("t"))
      .withColumn("s", round(
        round(
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          6) * col("wt"), 0).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("s")).as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Document-level co-occurrence PMI over the `vocab` most frequent
    * tokens — phrase/collocation detection. The pair space is bounded
    * by construction: the vocabulary is cut to `vocab` terms FIRST
    * (deterministic df-desc/token order), broadcast, and only then do
    * per-doc token sets self-join — ≤ vocab²/2 pairs per doc no matter
    * how large the corpus, versus the unusable full-vocabulary pair
    * explosion. PMI's log is the one engine-sensitive op (round-6
    * recipe); its argument is exact integer arithmetic widened once. */
  def cooccurrencePmi(docs: DataFrame, text: Column, id: Column,
      vocab: Int): DataFrame = {
    val tok = docs
      .select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
      .distinct()
    val n = docs.select(id).agg(count(lit(1)).as("nd"))
    val top = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(vocab)
    val ft = tok.join(broadcast(top), Seq("t"))
    val a = ft.select(col("doc_id"), col("t").as("ta"), col("c").as("ca"))
    val b = ft.select(col("doc_id"), col("t").as("tb"), col("c").as("cb"))
    a.join(b, Seq("doc_id")).filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("c_ab"), first(col("ca")).as("ca"), first(col("cb")).as("cb"))
      .crossJoin(broadcast(n))
      .select(col("ta"), col("tb"), col("c_ab"),
        // counts widen to double BEFORE multiplying: c_ab·nd in long
        // overflows under ANSI mode at multi-billion-doc corpora (the
        // hash32/skewProfile overflow class); double products round
        // identically in both engines
        round(log(col("c_ab").cast("double") * col("nd") /
          (col("ca").cast("double") * col("cb"))), 6)
          .as("pmi"))
  }

  /** Deterministic corpus shuffle — a reproducible global permutation
    * for epoch shuffling: every row gets `shuffle_pos` = its rank under
    * (knuth_hash(id), id). Unlike `orderBy(rand())` this is stable
    * across runs, partitionings and engines (the multiplicative hash is
    * plain integer arithmetic), so a training run can cite the exact
    * example order.
    *
    * Distributed the same way as [[packBins]]: the hash key space
    * [0, 2³²) is cut into explicit equal-width buckets (multiplicative
    * hashing scatters ids uniformly, so buckets balance), per-bucket
    * counts (a tiny nBuckets-row collect) turn into prefix offsets, and
    * a per-bucket window finishes — no global single-task sort, no
    * sampled range boundaries. `id` must be numeric and unique. */
  def deterministicShuffle(df: DataFrame, id: Column): DataFrame = {
    val nBuckets = df.sparkSession.sessionState.conf.numShufflePartitions.toLong
    // overflow-free all-long [[hash32]]; __sk < 2^32 so the bucket
    // product stays in double-exact range
    val prepared = df
      .withColumn("__sid", id.cast("long"))
      .withColumn("__sk", hash32(col("__sid")))
      .withColumn("__part", (col("__sk") * nBuckets / 4294967296L).cast("long"))
    val offsets = prepared.groupBy("__part")
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (p, c)) => (p, acc + c) }
      .sliding(2).collect { case Array((_, acc), (p, _)) => (p, acc) }.toMap
    val offsetExpr = offsets.foldLeft(lit(0L)) { case (e, (p, off)) =>
      when(col("__part") === p, lit(off)).otherwise(e)
    }
    val w = Window.partitionBy(col("__part")).orderBy(col("__sk"), col("__sid"))
    prepared
      .withColumn("shuffle_pos", row_number().over(w).cast("long") - 1 + offsetExpr)
      .drop("__sid", "__sk", "__part")
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over token
    * unigram distributions — the standard "is this source unlike the
    * rest of the corpus" monitor in a data pipeline (spiking KL flags
    * format breaks, language shifts, spam injection).
    *
    * Every per-token log ratio is rounded to 6 dp and the weighted sum
    * accumulates DECIMAL (the [[unigramLogProb]] determinism contract),
    * so output is order-independent and engine-reproducible. Plan shape:
    * ONE corpus tokenize → (source, token) counts; source totals, corpus
    * token totals, and the grand total all re-aggregate that table (the
    * shuffled partial-agg Exchange is shared via ReuseExchange — the
    * corpus is scanned once); the scoring join is vocabulary-sized. KL
    * is well-defined because every source token occurs in the corpus
    * distribution by construction. */
  def sourceDrift(docs: DataFrame, text: Column, source: Column): DataFrame = {
    val tok = docs.select(source.as("source"), explode(TextAnalysis.tokens(text)).as("t"))
    val cs = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val ns = cs.groupBy("source").agg(sum(col("c")).as("n"))
    val ct = cs.groupBy("t").agg(sum(col("c")).as("c_all"))
    val nt = ct.agg(sum(col("c_all")).as("n_all"))
    // (c·N) and (c_all·n_s) stay < 2^53: exact in long AND after the
    // double cast, so both engines compute the identical ratio
    val term = round(log10((col("c") * col("n_all")).cast("double") /
      (col("c_all") * col("n")).cast("double")), 6).cast("decimal(18,6)")
    cs.join(ct, Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .join(broadcast(nt), lit(true))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c").cast("decimal(18,0)") * term).cast("double").as("__kl_num"))
      .select(col("source"), (col("__kl_num") / col("n")).as("kl"),
        col("n").cast("long").as("n_tokens"))
  }

  /** Weighted sampling WITHOUT replacement, deterministic: the
    * Efraimidis–Spirakis A-ES scheme (each row gets key = u^(1/w) for
    * uniform u; the k largest keys are an exact weight-proportional
    * sample) with the uniform drawn from md5(id) instead of an RNG —
    * reproducible across runs, partitionings, and engines, like every
    * sampler in this module. One scan + one TakeOrdered(k): no shuffle
    * of the corpus, the top-k heap merges per-partition (the 100 TB
    * shape — contrast `orderBy(key).limit(k)`, which would global-sort).
    * Ties (astronomically unlikely with 32-bit u) break by id.
    * `weight` must be a positive number. */
  def weightedTopKSample(df: DataFrame, id: Column, weight: Column, k: Int): DataFrame = {
    // first 8 md5 hex chars → uniform in [0,1) with 2^32 resolution;
    // the same expression is writable in any engine with md5() (the
    // oracle uses DuckDB's hex cast) — double pow is IEEE on both
    val u = conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    df.withColumn("__wkey", pow(u, lit(1.0) / weight.cast("double")))
      .withColumn("__wid", id)
      .orderBy(col("__wkey").desc, col("__wid"))
      .limit(k)
      .drop("__wkey", "__wid")
  }

  /** Hashed-feature linear classifier scoring — the fastText-shaped
    * quality-filter inference step: each token hashes into a bounded
    * bucket space, buckets look up their weight in a (bucket →
    * w_micros) table, and a document's score is the mean weight of its
    * token stream. This is how a trained quality/toxicity/language
    * classifier actually runs inside a corpus pipeline (the heuristic
    * scores in [[TextAnalysis]] are the zero-training stand-ins).
    *
    * Weights are INTEGER MICROS, so the whole computation is exact
    * BIGINT until the final [[meanMicrosHalfAway]] division — no float
    * anywhere, hence bit-portable across engines by construction. The
    * bucket hash is the md5-prefix integer (the engine-portable string
    * hash used by the A-ES sampler). Scale shape: weight table is
    * bucket-bounded → broadcast; one corpus tokenize, one partial-
    * aggregated per-doc rollup — no corpus shuffle beyond the doc_id
    * aggregate. */
  def classifierScore(docs: DataFrame, text: Column, id: Column,
      weights: DataFrame, nBuckets: Long): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
    val b = tok.select(col("doc_id"),
      pmod(conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"), lit(nBuckets)).as("bucket"))
    b.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_micros")).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        (meanMicrosHalfAway("__s", "n_tokens").cast("double") / 1000000.0).as("score"))
  }

  /** Deterministic pseudo-weight table for [[classifierScore]] demos
    * and tests: w_micros(b) = hash32(b) mod 1000001 − 500000, uniform
    * in [−0.5, 0.5] micros. A real deployment passes its trained
    * weights instead — the operator only requires (bucket, w_micros). */
  def hashWeights(spark: org.apache.spark.sql.SparkSession, nBuckets: Long): DataFrame =
    spark.range(nBuckets).select(col("id").as("bucket"),
      (hash32(col("id")) % 1000001L - 500000L).as("w_micros"))

  /** Interpolated Kneser–Ney bigram scoring — the standard smoothed
    * LM the raw-MLE [[bigramLogProb]] approximates: P(w₂|w₁) =
    * max(c(w₁w₂)−D, 0)/c(w₁·) + (D·N₁₊(w₁·)/c(w₁·))·(N₁₊(·w₂)/N₁₊(··)),
    * with absolute discount D and the continuation distribution
    * counting DISTINCT CONTEXTS (how many different words precede w₂),
    * not raw frequency — the KN insight that makes "Francisco" cheap
    * despite its high count (it follows only "San"). Discount is a
    * fraction in micros (750000 = 0.75, Chen–Goodman's robust default).
    *
    * Determinism: every count is integral off the distinct-bigram
    * table; each bigram's probability evaluates ONE fixed-shape double
    * expression over those integers (identical IEEE op sequence in
    * both engines), logs go to integer micros, and the per-doc mean is
    * the BIGINT half-away division ([[meanMicrosHalfAway]]). Scale
    * shape identical to [[bigramLogProb]]: one corpus tokenize →
    * bigram counts; N₁₊ tables re-aggregate the distinct-pair table
    * (vocabulary-sized); the scoring join shuffles on (w1, w2) with
    * AQE free to broadcast. */
  def knBigramLogProb(docs: DataFrame, text: Column, id: Column,
      discountMicros: Long = 750000L): DataFrame = {
    val bg = docBigrams(docs, text, id)
    bg.join(knProbsOf(bg, discountMicros), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (meanMicrosHalfAway("__s", "n_bigrams").cast("double") / 1000000.0)
          .as("mean_logp"))
  }

  /** Per-doc adjacent-bigram relation (doc_id, w1, w2). */
  private def docBigrams(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The (w1, w2, lpm) interpolated-KN table from a bigram relation —
    * head totals AND distinct-successor counts from the SAME pass over
    * the distinct-pair table; continuation counts likewise. */
  private def knProbsOf(bg: DataFrame, discountMicros: Long): DataFrame = {
    require(discountMicros > 0 && discountMicros < 1000000L,
      s"discount must be a fraction in micros, got $discountMicros")
    val d = discountMicros / 1e6
    val pairCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val headCounts = pairCounts.groupBy("w1")
      .agg(sum(col("cb")).as("ch"), count(lit(1)).as("n1w1"))
    val contCounts = pairCounts.groupBy("w2").agg(count(lit(1)).as("n1w2"))
    val n1Total = pairCounts.agg(count(lit(1)).as("n1tot"))
    pairCounts
      .join(headCounts, Seq("w1"))
      .join(contCounts, Seq("w2"))
      .join(broadcast(n1Total), lit(true))
      .select(col("w1"), col("w2"),
        round(log10(
          greatest(col("cb").cast("double") - d, lit(0.0)) / col("ch") +
            (lit(d) * col("n1w1") / col("ch")) * (col("n1w2").cast("double") / col("n1tot"))
        ) * 1000000, 0).cast("long").as("lpm"))
  }

  /** Train an interpolated-KN bigram LM on `docs` and persist the
    * (w1, w2, lpm) probability table as a SERVING artifact — the
    * frozen-LM posture of a production perplexity filter (CCNet scores
    * every crawl snapshot against a FIXED pretrained LM; retraining
    * per batch would make scores incomparable across batches). The
    * tokenizer twin is [[writeBpeModel]]; the index twins are the
    * dedup/IVF stores. */
  def writeKnModel(docs: DataFrame, text: Column, path: String,
      discountMicros: Long = 750000L): Unit =
    knProbsOf(docBigrams(docs, text, lit(0L)), discountMicros)
      .write.mode("overwrite").parquet(path)

  /** Score documents against a STORED [[writeKnModel]] artifact. A
    * bigram absent from the frozen model scores the `oovLpm` floor
    * (and is counted in `n_oov` — the drift signal a frozen-LM
    * pipeline must surface: rising OOV rate means the model no longer
    * matches the corpus and a retrain decision is due). Scale shape:
    * the model is distinct-bigram-sized (may exceed broadcast at
    * corpus scale), so the scoring join shuffles on (w1, w2) with AQE
    * free to broadcast small models; one tokenize of the scored batch,
    * one per-doc rollup. */
  def scoreWithKnModel(spark: SparkSession, path: String, docs: DataFrame,
      text: Column, id: Column, oovLpm: Long = -7000000L): DataFrame = {
    val probs = spark.read.parquet(path)
    docBigrams(docs, text, id)
      .join(probs, Seq("w1", "w2"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("lpm").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("lpm"), lit(oovLpm))).as("__s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        (meanMicrosHalfAway("__s", "n_bigrams").cast("double") / 1000000.0)
          .as("mean_logp"))
  }

  /** Corpus-unigram log-probability score per document (the cheap
    * LM-quality proxy): mean log10 of each token's corpus frequency.
    * Token logs are rounded to integer MICROS before the per-doc sum
    * and the mean divides half-away in BIGINT arithmetic
    * ([[meanMicrosHalfAway]]), so the result is order-independent and
    * engine-reproducible (raw double log-sums are neither, and a final
    * `round(double÷count, 6)` diverges across engines exactly at
    * decimal halves — see the boundary note in the body). Two
    * aggregations (corpus freqs, per-doc mean) + one broadcast-size
    * join on token — the frequency table is vocabulary-sized. */
  def unigramLogProb(docs: DataFrame, text: Column, id: Column): DataFrame =
    unigramSums(docs, text, id)
      .select(col("doc_id"), col("n_tokens"),
        (meanMicrosHalfAway("__s", "n_tokens").cast("double") / 1000000.0)
          .as("mean_logp"))

  /** Shared pre-division aggregation: (doc_id, n_tokens, __s) with __s
    * the exact BIGINT sum of per-token log-micros — both public views
    * derive from this select, so the micros value is computed once and
    * never round-tripped through a display double. */
  private def unigramSums(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
    // the corpus total joins in as a broadcast 1-row aggregate OVER THE
    // FREQUENCY TABLE, inside the same plan — both freqCounts instances
    // share one canonicalized Exchange (ReuseExchange), so the
    // corpus-sized tokenize+partial-agg runs ONCE (round 2 ran it twice:
    // an eager .head() for the scalar plus the broadcast subtree)
    val freqCounts = tok.groupBy("t").agg(count(lit(1)).as("f"))
    val total = freqCounts.agg(sum(col("f")).as("n"))
    // token logs live as INTEGER MICROS (round(log10·10⁶)) from here
    // on: the per-doc mean is then a pure-integer half-away division —
    // round(double÷count, 6) is NOT engine-portable exactly at decimal
    // halves (measured: a doc mean of -1.4781995 rounds -1.478199
    // under Spark's exact-binary HALF_UP but -1.4782 under DuckDB's
    // float `round`), and sums÷small-counts land on halves often
    val freqs = freqCounts.join(broadcast(total), lit(true))
      .select(col("t"),
        round(log10(col("f").cast("double") / col("n")) * 1000000, 0).cast("long").as("lpm"))
    tok.join(broadcast(freqs), Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lpm")).as("__s"))
  }

  /** [[unigramLogProb]] with the per-doc mean kept as the exact BIGINT
    * micro-units value (`s_micros`) instead of the display double —
    * for consumers that bucket or compare scores. Emitted straight from
    * the shared [[unigramSums]] BIGINT division (ADVICE r5: the old
    * double→micros round-trip was exact only while |micros| ≪ 2⁵²). */
  def unigramScoreMicros(docs: DataFrame, text: Column, id: Column): DataFrame =
    unigramSums(docs, text, id)
      .select(col("doc_id"), col("n_tokens"),
        meanMicrosHalfAway("__s", "n_tokens").cast("long").as("s_micros"))

  /** round-half-away-from-zero of `sumCol / countCol` on integer
    * micro-units, as pure BIGINT arithmetic — `(2|s| + c) div 2c` with
    * the sign put back. Truncating integer `div` on NON-NEGATIVE
    * operands is identical in every engine, so unlike `round(double,
    * n)` this has no half-boundary divergence (countCol > 0). Args are
    * column NAMES (the expression goes through SQL `div`). */
  private[operators] def meanMicrosHalfAway(sumCol: String, countCol: String): Column =
    expr(s"CASE WHEN $sumCol >= 0 THEN (2 * $sumCol + $countCol) div (2 * $countCol)" +
      s" ELSE -((2 * (-$sumCol) + $countCol) div (2 * $countCol)) END")

  /** Vocabulary coverage / OOV rate — the tokenizer-fit check run before
    * committing a vocab: per document, what fraction of token
    * OCCURRENCES falls outside the corpus's top-`vocabSize` tokens
    * (ties at the frequency boundary break by token text, so the vocab
    * is a deterministic set in any engine).
    *
    * Scale shape: one corpus tokenize feeds both sides; the vocabulary
    * is top-k over the token-frequency table (TakeOrdered over the
    * vocabulary-sized aggregate, never a global sort of tokens) and is
    * broadcast by construction — the corpus-sized token stream is
    * probed map-side and partially aggregated per doc. The only
    * corpus-sized exchange is the frequency count's. OOV is reported in
    * exact integer ppm (floor division) — no float ratios to disagree
    * on. */
  def vocabCoverage(docs: DataFrame, text: Column, id: Column,
      vocabSize: Int): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      graft.functions.ShingleGenerator.shingles(text, 1).as("s"))
    val vocab = toks.groupBy("s").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("s").asc).limit(vocabSize)
      .select(col("s"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("s"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), count(col("__in")).as("__inv"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(n_tokens - __inv) * 1000000 div n_tokens").as("oov_ppm"))
  }

  /** Zipf-exponent fit of the corpus token distribution — the measured
    * counterpart of the reference's G3 Zipf GENERATOR
    * (DataGenerator.java:125-163 synthesizes keys at a chosen exponent
    * s; this operator recovers s from real text): least-squares slope
    * of log10(freq) against log10(rank) over the top-`topK` tokens
    * (the head is where Zipf holds; the tail flattens and would bias
    * the fit). Output: one row, `(n_ranks, zipf_exponent)` — natural
    * text lands near s ≈ 1.
    *
    * Determinism: ranks break frequency ties by token text; log10
    * values are rounded to 6 dp and cast to DECIMAL so every product
    * and sum is EXACT (the [[graft.operators.Intervals.trendSlope]]
    * recipe) — the one double division happens on identical operands
    * in any engine. Scale shape: corpus tokenize → vocabulary-sized
    * frequency aggregate → TakeOrdered(topK); the global rank window
    * runs over topK ≤ 2000 rows (the profileColumns-class exception:
    * bounded by construction, not by data). */
  def zipfFit(docs: DataFrame, text: Column, topK: Int = 2000): DataFrame = {
    val freqs = docs
      .select(graft.functions.ShingleGenerator.shingles(text, 1).as("s"))
      .groupBy("s").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("s").asc).limit(topK)
    val ranked = freqs.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("s").asc)))
    val d = ranked.select(
      round(log10(col("r").cast("double")), 6).cast("decimal(12,6)").as("x"),
      round(log10(col("f").cast("double")), 6).cast("decimal(12,6)").as("y"))
    d.agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      .select(col("n").as("n_ranks"),
        round(-((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))), 6).as("zipf_exponent"))
  }

  /** BPE-style merge-candidate counting — the inner loop of tokenizer
    * training: over the word-frequency table, count every ADJACENT
    * character pair weighted by word frequency and report the top-`k`
    * merge candidates. (Real BPE iterates this with a growing symbol
    * vocabulary; the first iteration over characters is the
    * distributed-shape-defining step — later iterations run over the
    * same vocabulary-sized table with merged symbols.)
    *
    * Scale shape: the corpus-sized tokenize collapses to the
    * VOCABULARY-sized word-frequency table first (one shuffle over
    * tokens, partial-aggregated map-side); pair explosion happens on
    * that small table only — ~|word| pairs per DISTINCT word, never per
    * occurrence. Top-k via TakeOrdered (ties break by pair text). */
  def bpePairCounts(docs: DataFrame, text: Column, k: Int = 20): DataFrame = {
    val words = docs
      .select(graft.functions.ShingleGenerator.shingles(text, 1).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    words.filter(length(col("w")) >= 2)
      // sequence(1, len-1) would run DESCENDING for len<2 (Spark picks
      // step -1 when start > stop) — the length guard above keeps the
      // range honest as well as skipping pairless words
      .select(col("c"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Iterative BPE merge TRAINING — the loop [[bpePairCounts]] is one
    * step of: learn `nMerges` byte-pair merges from the corpus, each
    * round picking the most frequent adjacent symbol pair (ties by
    * (lhs, rhs) text) and fusing it everywhere before recounting, so
    * later rounds merge LEARNED symbols, not just characters. Output:
    * one row per merge, (step, lhs, rhs, n) — the merge table a
    * tokenizer ships (and what [[graft.functions.WordPiece]]-style
    * encoders consume as a vocabulary).
    *
    * Representation: each distinct word is a symbol string with
    * DOUBLED separators at every boundary (SS+a+SS+b+SS for "ab"), so
    * "fuse pair (l, r)" is one non-regex
    * `replace(w, SEP+l+SS+r+SEP, SEP+lr+SEP)`: the pattern consumes
    * ONE separator on each side and the replacement restores it, so
    * the boundary invariant (always exactly two) survives and --
    * critically -- back-to-back merges in a run still fire
    * ("a a a a" + merge(a,a) -> "aa aa", canonical BPE's
    * leftmost-first walk; a single-separator pattern would eat the
    * next match's leading boundary and leave "aa a a"). Both Spark
    * and DuckDB scan replace targets left-to-right non-overlapping,
    * so the oracle unrolls the identical training run step by step.
    *
    * Scale shape: the one corpus-sized pass is the word-frequency
    * aggregate (map-side combined); every training ROUND runs on that
    * VOCABULARY-sized table — pair explode (≈|word| rows per distinct
    * word), a partial-aggregated pair count, and a bounded top-list
    * collect (4·batch+8 rows, never the vocabulary).
    *
    * BATCHED rounds (VERDICT r5 — one Spark job per merge means 32 k
    * scheduler round-trips for a real tokenizer): each round fuses up
    * to `batch` merges from ONE pair count, selected so the batch is
    * provably identical to the sequential walk:
    *
    *  - scan the count table in (n desc, l, r) order, picking pairs
    *    until one INTERACTS (shares a symbol) with an earlier pick —
    *    disjoint picks leave each other's counts untouched;
    *  - every NEW pair minted by fusing pick (L,R) has the form
    *    (x, LR) or (LR, y) with count ≤ the OLD count of (x, L) /
    *    (R, y) — both interact with the pick, so both sort at/after
    *    the scan's stop row. Picks counted STRICTLY above the stop
    *    row therefore still out-rank every new pair at their
    *    sequential step; picks tied with it are dropped (p1, the true
    *    argmax, always survives — nothing new exists at its step);
    *  - a self-pair pick (a,a) closes the batch: its own fusion mints
    *    pairs like (aa, a) bounded only by its own count.
    *
    * Each round's state goes through [[Iterate.Rounds]] (the fixed-point
    * operators' Tungsten-level materialize-and-truncate): lineage stays
    * O(1) across rounds — a plain persist leaves every prior round's
    * cached plan NESTED in the logical tree, and per-round plan
    * processing grows superlinearly with learned merges (measured: a
    * 24-merge train spent minutes in plan-string generation alone).
    * The superseded round's blocks are freed as each round lands. The
    * realized batch factor at ≥ 1 k merges is in docs/EXPERIMENTS.md. */
  def bpeTrain(docs: DataFrame, text: Column, nMerges: Int,
      batch: Int = 16): DataFrame =
    bpeTrainWithRounds(docs, text, nMerges, batch)._1

  /** [[bpeTrain]] plus the realized ROUND count — the batching
    * effectiveness measure (merges/rounds = mean
    * batch factor; 1.0 means the corpus's hot pairs all chain). */
  private[graft] def bpeTrainWithRounds(docs: DataFrame, text: Column,
      nMerges: Int, batch: Int = 16): (DataFrame, Int) = {
    require(batch >= 1, s"batch must be >= 1: $batch")
    val spark = docs.sparkSession
    val SEP = "\u0001" // any char absent from the token alphabet
    val SS = SEP + SEP // the boundary: always exactly two separators
    val (words0, words0Rdd, _) = Iterate.ckpt(docs
      .select(graft.functions.ShingleGenerator.shingles(text, 1).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .select(concat(lit(SS), regexp_replace(col("t"), "(.)", "$1" + SS)).as("w"), col("c")))
    val state = new Iterate.Rounds(words0, words0Rdd)
    var words = state.input
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (merges.size < nMerges && !exhausted) {
      rounds += 1
      val want = math.min(batch, nMerges - merges.size)
      val topM = want * 4 + 8
      val top = words
        .select(col("c"), split(trim(col("w"), SEP), SS).as("a"))
        // size guard first: sequence(1, size-1) would count DOWN for
        // 1-symbol words (Spark picks step -1 when start > stop)
        .filter(size(col("a")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> struct(element_at(a, i) AS l, element_at(a, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(topM).collect()
      if (top.isEmpty) exhausted = true // every word fully fused
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picks = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        // stop bound: the first interacting pair's count; if the scan
        // instead ran off a TRUNCATED collected list, the last row's
        // count (every uncollected pair sorts at or below it)
        var stopN = -1L
        var open = true
        val it = top.iterator
        while (open && it.hasNext && picks.size < want) {
          val row = it.next()
          val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
          if (used(l) || used(r)) { stopN = n; open = false }
          else {
            picks += ((l, r, n))
            used += l; used += r
            if (l == r) open = false // self-pair closes the batch
          }
        }
        // stopN unset ⇔ the scan stopped for a reason other than an
        // interacting pair (want reached, or a self-pair closed the
        // batch). Unexamined rows can still interact with a pick and
        // mint new pairs tying a kept pick's count, so the bound must
        // come from the FIRST UNEXAMINED row when one exists; only a
        // fully-consumed truncated list falls back to its last row.
        if (stopN < 0L) {
          if (it.hasNext) stopN = it.next().getLong(2)
          else if (top.length == topM) stopN = top.last.getLong(2)
        }
        // strictness: drop picks tied with the stop bound (except the
        // true argmax p1)
        val safe = picks.head +: picks.tail.takeWhile(_._3 > stopN)
        safe.foreach { case (l, r, n) => merges += ((merges.size + 1, l, r, n)) }
        words = state.step(words
          .withColumn("w", safe.foldLeft(col("w")) { case (acc, (l, r, _)) =>
            call_function("replace",
              acc, lit(SEP + l + SS + r + SEP), lit(SEP + l + r + SEP))
          }))
      }
    }
    (state.free(spark.createDataFrame(merges.toSeq).toDF("step", "lhs", "rhs", "n")), rounds)
  }

  /** Persist a [[bpeTrain]] merge table as a SERVING artifact — the
    * tokenizer twin of [[Similarity.writeIvfIndex]] /
    * [[Dedup.writeIncrementalIndex]]: train once on the corpus, store
    * the model, apply it everywhere (every downstream pipeline stage,
    * every later corpus ingest). One parquet file: a tokenizer
    * vocabulary is a configuration-sized artifact (10k–100k ordered
    * merges), not data. */
  def writeBpeModel(merges: DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  /** The ordered merge list from a stored [[writeBpeModel]] artifact.
    * Driver-side collect is the right tool here: the model is bounded
    * by the trained vocabulary size (configuration, not corpus), and
    * the list is folded into the codegen'd encode expression —
    * effectively a broadcast of the model to every task. */
  def readBpeModel(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("step")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Canonical BPE encode of one word under an ordered merge list —
    * the APPLY stage, expressed as the doubled-separator replace chain
    * (each pattern consumes one boundary separator per side and the
    * replacement restores it, so merges never span a symbol boundary
    * and back-to-back runs fuse leftmost-first — exactly [[bpeTrain]]'s
    * word representation). Returns the space-joined display pieces. */
  def bpeEncodeWith(word: Column, merges: Seq[(String, String)]): Column = {
    val SEP = "\u0001"
    val SS = SEP + SEP
    val seed = concat(lit(SS), array_join(split(word, ""), SS), lit(SS))
    val chain = merges.foldLeft(seed) { case (acc, (l, r)) =>
      call_function("replace",
        acc, lit(SEP + l + SS + r + SEP), lit(SEP + l + r + SEP))
    }
    call_function("replace", trim(chain, SEP), lit(SS), lit(" "))
  }

  /** Unigram-LM tokenizer TRAINING — the Viterbi-EM variant of the
    * SentencePiece trainer (Kudo '18), closing the third tokenizer
    * family's train→store→apply loop the way [[bpeTrain]] /
    * [[writeBpeModel]] close BPE's:
    *
    *  - E-step: per distinct word (the corpus collapses to its
    *    VOCABULARY-SIZED word table first — one tokenize + groupBy,
    *    never per-occurrence work), the expected piece counts over the
    *    word's TIED-OPTIMAL segmentations under the current scores
    *    ([[graft.functions.UnigramEmCounts]] — forward×backward
    *    optimal-path counting, exact BIGINTs). Hard EM over the argmax
    *    set rather than Kudo's full-lattice posterior — the documented
    *    divergence that makes every expectation an integer a DuckDB
    *    oracle replays by path enumeration (the full-lattice posterior
    *    is a float surface no relational replay can pin). Per-word
    *    expectations normalize to ppm by integer division
    *    (`c · 10⁶ div n`), then weight by corpus word frequency.
    *  - M-step: keep-set renormalization — score(p) =
    *    round(log10(E_p / ΣE) · 10⁶) micros (the engine's 6-dp-portable
    *    log recipe); pieces with zero expectation take `floorMicros`.
    *  - PRUNE: the bottom `prunePpm` fraction (floor) of MULTI-char
    *    pieces by (E asc, piece asc) drop each round — single-char
    *    pieces never prune (character coverage is the invariant that
    *    keeps the lattice total), matching SentencePiece's required-
    *    character rule. [UNK] stays a fixed-score edge, never trained.
    *
    * Fixed `rounds` (the [[Similarity.kmeansCentroids]] posture), piece
    * table collected driver-side per round — bounded by the SEED vocab
    * size, configuration not data. Returns the final (p, score_micros)
    * vocabulary, sorted by piece. */
  def unigramEmTrain(docs: DataFrame, text: Column,
      seed: Seq[(String, Long)], unkMicros: Long, rounds: Int,
      prunePpm: Long = 200000L, floorMicros: Long = -20000000L)
      : Seq[(String, Long)] = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(0L <= prunePpm && prunePpm < 1000000L, s"prunePpm out of range: $prunePpm")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(trim(text), "\\s+")).as("wd"))
      .filter(length(col("wd")) > 0)
      .groupBy("wd").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var vocab = seed
      for (_ <- 1 to rounds) {
        val eMap = words
          .select(col("freq"),
            graft.functions.UnigramEmCounts.of(col("wd"), vocab, unkMicros).as("s"))
          .select(col("freq"), col("s.n").as("n"), explode(col("s.cnt")).as(Seq("p", "c")))
          .select(col("p"), (col("freq") * expr("c * 1000000 div n")).as("contrib"))
          .groupBy("p").agg(sum(col("contrib")).as("e"))
          .as[(String, Long)].collect().toMap // ≤ |vocab| rows — config-bounded
        val multis = vocab.map(_._1).filter(_.length > 1)
        val nPrune = (multis.size.toLong * prunePpm / 1000000L).toInt
        val pruned = multis.map(p => (eMap.getOrElse(p, 0L), p))
          .sortBy(identity).take(nPrune).map(_._2).toSet
        val kept = vocab.filterNot(v => pruned(v._1))
        val total = kept.map(v => eMap.getOrElse(v._1, 0L)).sum
        vocab = kept.map { case (p, _) =>
          val ev = eMap.getOrElse(p, 0L)
          val sc =
            if (ev > 0L && total > 0L)
              // exactly Spark/DuckDB round(x, 0): HALF_UP away from zero
              java.math.BigDecimal.valueOf(math.log10(ev.toDouble / total) * 1e6)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
            else floorMicros
          (p, sc)
        }
      }
      vocab.sortBy(_._1)
    } finally words.unpersist(): Unit
  }

  /** Persist a [[unigramEmTrain]] vocabulary — one parquet file of
    * (p, score_micros), configuration-sized like [[writeBpeModel]]. */
  def writeUnigramModel(spark: SparkSession, vocab: Seq[(String, Long)],
      path: String): Unit =
    spark.createDataFrame(vocab).toDF("p", "score_micros")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The scored piece table from a stored [[writeUnigramModel]]
    * artifact, piece-sorted — folded into the segmenting expression
    * like [[readBpeModel]]'s merge list. */
  def readUnigramModel(spark: SparkSession, path: String): Seq[(String, Long)] =
    spark.read.parquet(path).orderBy("p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** First-occurrence novelty — the crawl-order diversity signal: per
    * document, the ppm of its DISTINCT k-shingles never seen in any
    * lower-id document (id is ingestion order). A verbatim re-crawl
    * scores 0; fresh content scores 1e6. Complements [[Dedup]]: dedup
    * asks "is this a copy of one other doc", novelty asks "how much of
    * this doc is new against the whole earlier corpus" — sub-document
    * granularity, no pair enumeration.
    *
    * Scale shape: the inverted shingle index (the same exchange every
    * dedup query builds) aggregated twice — min(doc_id) per shingle,
    * then a per-doc rollup. Two shuffles over distinct (doc, shingle)
    * pairs; nothing quadratic. */
  def noveltyScore(docs: DataFrame, text: Column, id: Column,
      k: Int = 3): DataFrame = {
    val sh = Dedup.shingles(docs, text, id, k)
    val first = sh.groupBy("s").agg(min(col("doc_id")).as("__first"))
    sh.join(first, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("__first"), 1L).otherwise(0L)).as("__novel"))
      .select(col("doc_id"), col("n_shingles"),
        expr("__novel * 1000000 div n_shingles").as("novel_ppm"))
  }

  /** Poisson(λ=1) bootstrap resampling (Chamandy et al., Google tech
    * report 2012 "Estimating uncertainty for massive data streams"):
    * the streaming-friendly bootstrap — instead of drawing n docs with
    * replacement per replicate (a global shuffle per replicate), every
    * doc independently contributes k ~ Poisson(1) copies to each
    * replicate, k derived from a 48-bit md5 uniform of (id, replicate)
    * through the FIXED inverse-CDF thresholds below (integer compares,
    * no float RNG — bit-portable, reproducible corpus builds). Returns
    * per (replicate, stratum): resampled row count, docs sampled, and
    * the resampled measure total — the bootstrap distribution whose
    * spread IS the confidence interval on the per-stratum statistic.
    *
    * Scale shape: one scan fan-out ×R (generator, no shuffle), one
    * map-side-combinable aggregate to R·|strata| rows. Never
    * materializes a resampled corpus. */
  def poissonBootstrap(df: DataFrame, id: Column, stratum: Column,
      measure: Column, replicates: Int = 5): DataFrame = {
    // floor(CDF_Poisson(1)(k) · 2⁴⁸) for k = 0..6; u ≥ last ⇒ k = 7
    // (P(k ≥ 7 | λ=1) ≈ 8.3e-5 — the tail cap keeps the CASE finite)
    val ths = Seq(103548857136060L, 207097714272121L, 258872142840152L,
      276130285696162L, 280444821410164L, 281307728552965L, 281451546410098L)
    val rep = df.select(id.as("__id"), stratum.as("stratum"), measure.as("__m"))
      .withColumn("replicate",
        explode(expr(s"sequence(0L, ${replicates - 1}L)")))
    // 12 md5 hex chars → 48-bit uniform; same expression as the oracle
    val u = conv(substring(md5(concat(col("__id").cast("string"), lit(":"),
      col("replicate").cast("string"))), 1, 12), 16, 10).cast("long")
    val k = ths.zipWithIndex.foldRight(lit(ths.length.toLong): Column) {
      case ((t, i), acc) => when(u < t, i.toLong).otherwise(acc)
    }
    rep.withColumn("k", k)
      .groupBy("replicate", "stratum")
      .agg(sum(col("k")).as("n_rows"),
        count(when(col("k") > 0, 1)).as("n_docs"),
        sum(col("k") * col("__m")).as("sum_measure"))
  }

  /** Domain-mixture reweighting: per-stratum downsampling rates that
    * reshape the corpus to a TARGET mixture (the DoReMi/Pile-style
    * domain-weights step, solved for the proportional-scaling case):
    * the achievable total under target shares is capped by the
    * scarcest stratum — T* = min_s(tokens_s / target_s) — and every
    * stratum keeps rate_s = T*·target_s / tokens_s of its tokens
    * (clamped to 1 for the limiting stratum). All arithmetic is exact
    * BIGINT ppm: cross-multiplied floor-divs, no float anywhere, so
    * the rates are bit-portable and a corpus build applying them is
    * reproducible.
    *
    * `targetPpm` is a per-row Column (constant for a uniform target;
    * join a weights table for a learned one). Returns (stratum,
    * tokens, current_ppm, target_ppm, rate_ppm, kept_tokens).
    *
    * Scale shape: one token-count aggregate (map-side partial), then
    * two 1-row scalar aggregates broadcast over the |strata|-sized
    * table — nothing beyond the first aggregation touches corpus-sized
    * data. BIGINT headroom: tokens_s·10⁶ must fit 2⁶³ (tokens_s <
    * 9.2e12 per stratum — beyond that, pre-divide counts to a coarser
    * unit). */
  def domainReweight(docs: DataFrame, text: Column, stratum: Column,
      targetPpm: Column): DataFrame = {
    val tok = docs
      .select(stratum.as("stratum"), targetPpm.as("target_ppm"),
        size(TextAnalysis.tokens(text)).cast("long").as("__ntok"))
      .groupBy("stratum", "target_ppm").agg(sum(col("__ntok")).as("tokens"))
    val totals = tok.agg(sum(col("tokens")).as("total"))
    val t = tok.crossJoin(broadcast(totals))
      .withColumn("current_ppm", expr("tokens * 1000000 div total"))
    val lim = t.agg(min(expr("tokens * 1000000 div target_ppm")).as("tstar"))
    t.crossJoin(broadcast(lim))
      .select(col("stratum"), col("tokens"), col("current_ppm"),
        col("target_ppm"),
        least(lit(1000000L), expr("tstar * target_ppm div tokens")).as("rate_ppm"),
        expr("least(1000000, tstar * target_ppm div tokens) * tokens div 1000000")
          .as("kept_tokens"))
  }

  /** C4-style boilerplate removal at SUB-document granularity (Raffel
    * et al., JMLR'20 §2.2 drop repeated lines; here the unit is a
    * fixed tiling of `segTokens` consecutive tokens because the corpus
    * carries no line structure): a segment occurring in ≥ `maxDocs`
    * DISTINCT documents corpus-wide is boilerplate (licence headers,
    * navigation chrome, disclaimer paragraphs) and is cut from every
    * document; the survivors re-join in original order. Returns
    * (doc_id, n_segments, n_dropped, kept_text) for EVERY input doc —
    * a fully-boilerplate doc keeps an empty string, so downstream
    * length filters see it rather than losing the row.
    *
    * Document-level dedup ([[Dedup]]) keeps one copy of a repeated
    * DOC; this removes repeated CONTENT from all copies — the two
    * compose (C4 applies both).
    *
    * Scale shape: one segment exchange (corpus token count / segTokens
    * rows), a distinct-doc count per segment (map-side partial), join
    * back, per-doc rebuild — no pair enumeration anywhere; the segment
    * count aggregate is exactly the inverted-index exchange every
    * dedup query already pays. */
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): per document, hash every `k`-token shingle
    * of the NORMALIZED text (lowercase, [a-z0-9 ] — MOSS's own
    * normalization, and what keeps the polynomial hash in ASCII where
    * UTF-16 units ≡ codepoints cross-engine), then slide a window of
    * `w` consecutive hashes and select each window's minimum —
    * RIGHTMOST occurrence on ties, the paper's rule — deduplicating
    * selections shared by overlapping windows. The guarantee: any
    * shared run of ≥ w+k−1 tokens yields at least one shared
    * fingerprint, with ~2/(w+1) of positions selected — a fixed-rate
    * local sample of the shingle stream, the signature set MOSS-style
    * containment detection joins on. Documents shorter than w shingles
    * contribute their single partial window's minimum.
    *
    * Scale shape: everything is per-document expression work (one
    * projection, no self-join, no window function — the "windows" are
    * array slices of the doc's own hash list); the output is the
    * fingerprint index downstream containment joins bucket by `fp`,
    * exactly like the shingle inverted index but ~(w+1)/2× smaller. */
  def winnowingFingerprints(docs: DataFrame, text: Column, id: Column,
      k: Int = 3, w: Int = 4): DataFrame = {
    val base = docs.select(id.as("doc_id"),
        TextAnalysis.tokens(TextAnalysis.normalized(text)).as("toks"))
      .filter(size(col("toks")) >= k)
    val hs = base.select(col("doc_id"),
      transform(
        sequence(lit(0), size(col("toks")) - k),
        i => graft.functions.GraftFunctions.rolling_hash(
          array_join(slice(col("toks"), i + 1, lit(k)), " "))
      ).as("H"))
    hs.select(col("doc_id"), col("H"),
        explode(sequence(lit(0), greatest(size(col("H")) - w, lit(0)))).as("t"))
      .withColumn("sub", slice(col("H"), col("t") + 1, lit(w)))
      .withColumn("fp", array_min(col("sub")))
      .withColumn("pos",
        col("t") + size(col("sub")) - array_position(reverse(col("sub")), col("fp")))
      .select(col("doc_id"), col("pos"), col("fp"))
      .distinct()
  }

  def segmentDedup(docs: DataFrame, text: Column, id: Column,
      segTokens: Int = 5, maxDocs: Int = 3): DataFrame = {
    val base = docs.select(id.as("doc_id"),
      TextAnalysis.tokens(coalesce(text, lit(""))).as("toks"))
    // fixed tiling: segment i = tokens [i·k+1, i·k+k], last one ragged
    val segs = base.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(toks) + ${segTokens - 1}) div $segTokens - 1),
           |  i -> struct(cast(i as bigint) as seg_idx,
           |              array_join(slice(toks, i * $segTokens + 1, $segTokens), ' ') as seg))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))
    val counts = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("__nd"))
    segs.join(counts, Seq("seg"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("__nd") >= maxDocs, 1)).as("n_dropped"),
        // collect_list skips the nulls `when` leaves for dropped
        // segments; array_sort on (seg_idx, seg) structs restores
        // document order (seg_idx is unique per doc — deterministic)
        array_join(
          transform(
            array_sort(collect_list(when(col("__nd") < maxDocs,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")),
          " ").as("kept_text"))
  }

  /** Gopher-style document quality rules (Rae et al., arXiv:2112.11446
    * table A1, adapted to the corpus's whitespace-token grain): per-doc
    * pass/fail flags for token count, mean word length, stopword
    * fraction, distinct-token fraction, and top-token dominance, plus
    * the conjunction. Every rule is an EXACT integer comparison
    * (cross-multiplied thresholds — `50·n_stop ≥ 3·n_tokens` instead of
    * a float ratio ≥ 0.06), so the flags are bit-portable by
    * construction.
    *
    * Scale shape: one (doc, token) frequency aggregation (map-side
    * partial over the token exchange), one per-doc rollup — the same
    * two-level shape as the LM scorers; nothing holds more than a
    * doc's distinct-token rows. */
  def gopherRules(docs: DataFrame, text: Column, id: Column,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "is", "in"))
      : DataFrame = {
    val base = docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("toks"))
    val tf = base
      .select(col("doc_id"), explode(col("toks")).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
    // word chars accumulate EXACTLY as Σ occurrences·len(token) inside
    // the per-token aggregate (ADVICE r5: deriving them from raw
    // length(text) − n_tokens + 1 is exact only for trimmed
    // single-space text — tabs or space runs inflate the count and can
    // flip pass_wordlen)
    val agg = tf.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"),
      max(col("c")).as("max_tok"),
      count(lit(1)).as("n_distinct"),
      coalesce(sum(when(lower(col("tk")).isin(stopwords: _*), col("c"))), lit(0L))
        .as("n_stop"),
      sum(col("c") * length(col("tk")).cast("long")).as("__wc"))
    val wordChars = col("__wc")
    val passLen = col("n_tokens") >= 10L && col("n_tokens") <= 100000L
    val passWordLen =
      wordChars >= col("n_tokens") * 3L && wordChars <= col("n_tokens") * 10L
    val passStop = col("n_stop") * 50L >= col("n_tokens") * 3L
    val passDistinct = col("n_distinct") * 5L >= col("n_tokens")
    val passDominance = col("max_tok") * 5L <= col("n_tokens")
    agg.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      col("n_stop"), col("max_tok"),
      passLen.as("pass_len"),
      passWordLen.as("pass_wordlen"),
      passStop.as("pass_stop"),
      passDistinct.as("pass_distinct"),
      passDominance.as("pass_dominance"),
      (passLen && passWordLen && passStop && passDistinct && passDominance)
        .as("pass_all"))
  }
}
